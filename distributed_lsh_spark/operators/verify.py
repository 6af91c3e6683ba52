"""Exact verification of candidate pairs — never trust signatures alone.

The reference verifies every LSH collision with an exact L2 distance and
keeps it iff dist < c*R (MapReduce-LSH/.../lsh/searcher/SearchMapper.java:
107-126, LSHTool.java:184-192).  The graft verifies with exact Jaccard over
the shingle-hash sets (and exact Hamming over SimHash fingerprints): two
payload-fetch joins (SURVEY.md J3) then a pure-JVM intersect/union size —
whole-stage codegen, no Python.

Scale note: the two joins against `docs` shuffle candidate pairs by doc id —
exactly the reference's NDLSH check phase, which routes candidates to dataset
splits by index (Naive-DLSH/.../lsh/searcher/CheckCandidateMapper.java:
113-145).  Bucketing the docs/signature checkpoint table by doc_id makes
these co-located on a real cluster (Iceberg bucket(N, doc_id)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distributed_lsh_spark.conf import DedupConfig


def verify_pairs(pairs: DataFrame, docs: DataFrame, cfg: DedupConfig,
                 shingles_col: str = "shingles",
                 keep_below_threshold: bool = False) -> DataFrame:
    """pairs(id_a, id_b) x docs(doc_id, shingles) ->
    (id_a, id_b, jaccard) filtered at cfg.jaccard_threshold.

    One plan: the pair list joins the payload on id_a, then on id_b.  AQE
    picks each join's strategy from runtime stats (a small pair list
    becomes a broadcast), and a docs checkpoint bucketed by doc_id
    (sources/checkpoint.py) removes the Exchanges on the payload scans.
    """
    payload = docs.select("doc_id", shingles_col)
    da = payload.select(F.col("doc_id").alias("id_a"),
                        F.col(shingles_col).alias("_sh_a"))
    db = payload.select(F.col("doc_id").alias("id_b"),
                        F.col(shingles_col).alias("_sh_b"))
    out = (
        pairs.join(da, "id_a").join(db, "id_b")
        .withColumn("_inter", F.size(F.array_intersect("_sh_a", "_sh_b")))
        .withColumn(
            "jaccard",
            F.when(F.size("_sh_a") + F.size("_sh_b") == 0, F.lit(1.0))
             .otherwise(F.col("_inter") /
                        (F.size("_sh_a") + F.size("_sh_b") - F.col("_inter"))))
    )
    if not keep_below_threshold:
        out = out.where(F.col("jaccard") >= cfg.jaccard_threshold)
    return out.select("id_a", "id_b", "jaccard")


def hamming_pairs(pairs: DataFrame, docs: DataFrame, cfg: DedupConfig,
                  simhash_col: str = "simhash") -> DataFrame:
    """SimHash path: keep pairs with Hamming distance <= cfg.hamming_threshold.

    Same two payload joins as `verify_pairs`."""
    da = docs.select(F.col("doc_id").alias("id_a"), F.col(simhash_col).alias("_sim_a"))
    db = docs.select(F.col("doc_id").alias("id_b"), F.col(simhash_col).alias("_sim_b"))
    return (
        pairs.join(da, "id_a").join(db, "id_b")
        .withColumn("hamming", F.bit_count(F.col("_sim_a").bitwiseXOR(F.col("_sim_b"))))
        .where(F.col("hamming") <= cfg.hamming_threshold)
        .select("id_a", "id_b", "hamming")
    )
