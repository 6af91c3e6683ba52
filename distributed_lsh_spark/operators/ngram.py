"""Exact n-gram-Jaccard dedup via a document-frequency-capped inverted
shingle index (no MinHash): the 100%-recall path of the candidate/verify
pattern (SURVEY.md J2+P4), skew-hardened.

The naive inverted-index self-join (shd a JOIN shd b ON a.g = b.g) is a
scale-killer: ONE boilerplate shingle shared by 10^5 docs yields 10^10 join
rows.  The standard fix: drop shingles with document frequency > df_cap
from the INDEX before the self-join — candidate discovery only; Jaccard is
still computed exactly over the FULL shingle sets afterwards
(operators/verify.py), so surviving pairs carry their true score.

Recall argument: a pair (A, B) with J(A,B) >= tau is missed only if EVERY
shingle A and B share has df > df_cap.  A shingle with df > df_cap appears
in more than df_cap documents — at tau = 0.8 a pair shares >= 80% of its
union, so an all-capped intersection means both docs consist almost
entirely of corpus-wide boilerplate; byte-identical boilerplate is already
collapsed by the exact-first md5 pre-pass (pipeline.exact_collapse), and
the pytest plants a hot shingle to pin that results are unchanged while
the join size stays bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from distributed_lsh_spark.conf import DedupConfig
from distributed_lsh_spark.operators.verify import verify_pairs


def ngram_jaccard_pairs(docs: DataFrame, cfg: DedupConfig,
                        df_cap: int = 2000,
                        shingles_col: str = "shingles") -> DataFrame:
    """docs(doc_id, shingles) -> (id_a, id_b, jaccard >= cfg threshold).

    The df filter is a window count over the index's own (g) partitioning —
    one exchange, reused by the self-join under AQE; no second scan."""
    shd = docs.select("doc_id", F.explode(shingles_col).alias("g"))
    if df_cap is not None:
        w = Window.partitionBy("g")
        shd = (shd.withColumn("_df", F.count("*").over(w))
                  .where(F.col("_df") <= df_cap).drop("_df"))
    a, b = shd.alias("a"), shd.alias("b")
    pairs = (a.join(b, "g")
              .where(F.col("a.doc_id") < F.col("b.doc_id"))
              .select(F.col("a.doc_id").alias("id_a"),
                      F.col("b.doc_id").alias("id_b"))
              .dropDuplicates(["id_a", "id_b"]))
    return verify_pairs(pairs, docs, cfg, shingles_col=shingles_col)
