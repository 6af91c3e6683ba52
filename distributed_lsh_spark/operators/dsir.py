"""DSIR — Data Selection via Importance Resampling (Xie et al.,
NeurIPS'23) over hashed n-gram features.

The production pattern: given a small TARGET corpus (Wikipedia, curated
text) and the raw crawl, estimate per-document importance weights

    log w(x) = sum over n-gram occurrences g of x of
                   ln p_target(h(g)) - ln p_raw(h(g))

under hashed bag-of-n-grams (unigram + bigram) multinomials with add-one
smoothing, then resample docs with probability proportional to w via
Gumbel top-k (keys = log w + Gumbel noise; the top-k key set IS a
without-replacement sample ~ w).  Docs that look like the target get
positive log-weights; generic crawl soup scores ~0; anti-target junk
goes negative.

Spark-native shape (10^12-doc corpus):
* feature extraction is the bigram-LM scan (posexplode + lead(), no
  interpreted higher-order functions) with the classifier's md5-fold
  feature hash — per-doc (fid, m) multiplicities pre-aggregate with
  map-side combine BEFORE any join, so zipfian repeats collapse per map
  task and the join moves distinct-feature rows, not occurrences.
* the learned table is DIM rows (one per hash bucket) and BROADCASTS;
  scoring is one broadcast join + one map-side-combining groupBy(doc)
  — a single doc_id-keyed shuffle over the whole corpus.
* the target side is corpus-scale-independent: its gram counts reduce
  to <= DIM rows before they ever meet the raw side.

Cross-engine determinism (the gate hashes values): counts are exact
int64; p_t and p_r are IEEE double divisions of exact ints; the log
ratio is quantized to integer micro-nats per BUCKET (round((ln p_t -
ln p_r) * 1e6)) before any per-doc aggregation, so document scores are
exact integer sums with no float-summation order dependence (the
bigram-LM / corpus_drift micro-nat discipline).  The Gumbel key draws
u from the md5 fold of the doc id — deterministic, engine-identical —
and is itself micro-quantized before the integer addition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from distributed_lsh_spark.functions.text import normalized_tokens
from distributed_lsh_spark.operators.classifier import feature_hash

DSIR_DIM = 8192


def _doc_features(df: DataFrame, dim: int, id_col: str,
                  text_col: str) -> DataFrame:
    """(doc_id, fid, m): per-doc hashed unigram+bigram multiplicities,
    map-side combined (one row per distinct feature per doc).

    One token explode + one doc-partitioned lead() window + one fused
    gram explode: each token emits its unigram, and — when a successor
    exists — its bigram, from the SAME exploded row, so the corpus's
    token stream is materialized once per call (a union of separate
    unigram/bigram branches would re-run the explode per branch)."""
    base = df.select(F.col(id_col).alias("doc_id"),
                     normalized_tokens(text_col).alias("t"))
    ex = base.select("doc_id", F.posexplode("t").alias("pos", "w"))
    wspec = Window.partitionBy("doc_id").orderBy("pos")
    pair = ex.select("doc_id", "w", F.lead("w").over(wspec).alias("w2"))
    g = F.explode(F.when(F.col("w2").isNull(), F.array("w"))
                  .otherwise(F.array(F.col("w"),
                                     F.concat_ws(" ", "w", "w2"))))
    grams = pair.select("doc_id", g.alias("g"))
    return (grams.select("doc_id", feature_hash(F.col("g"), dim)
                         .alias("fid"))
            .groupBy("doc_id", "fid")
            .agg(F.count(F.lit(1)).alias("m")))


def log_ratios_from_counts(rawc: DataFrame, tgtc: DataFrame,
                           dim: int = DSIR_DIM) -> DataFrame:
    """(fid, lr_micro) over the full [0, dim) grid from two bucket-count
    tables (`rawc` = (fid, cr), `tgtc` = (fid, ct)) — the learning step
    factored over pre-reduced counts so incremental/streaming callers
    can feed running count tables."""
    spark = rawc.sparkSession
    grid = spark.range(dim).select(F.col("id").alias("fid"))
    full = (grid.join(rawc, "fid", "left").join(tgtc, "fid", "left")
            .select("fid",
                    F.coalesce("cr", F.lit(0)).alias("cr"),
                    F.coalesce("ct", F.lit(0)).alias("ct")))
    tot = full.agg(F.sum("cr").alias("nr"), F.sum("ct").alias("nt"))
    p_t = (F.col("ct") + 1).cast("double") / \
        (F.col("nt") + F.lit(dim)).cast("double")
    p_r = (F.col("cr") + 1).cast("double") / \
        (F.col("nr") + F.lit(dim)).cast("double")
    lr = F.round((F.log(p_t) - F.log(p_r)) * F.lit(1e6)).cast("bigint")
    return (full.crossJoin(F.broadcast(tot))
            .select("fid", lr.alias("lr_micro")))


def score_features(feats: DataFrame, lrs: DataFrame,
                   ids: DataFrame) -> DataFrame:
    """(doc_id, n_grams, logw_micro, avg_logw, key_micro) from per-doc
    feature multiplicities (`feats` = (doc_id, fid, m)) and a learned
    ratio table (`lrs` = (fid, lr_micro), broadcast); `ids` supplies the
    full doc_id frame so gram-free docs still score (weight 1)."""
    perdoc = (feats.join(F.broadcast(lrs), "fid")
              .groupBy("doc_id")
              .agg(F.sum("m").alias("n_grams"),
                   F.sum(F.col("m") * F.col("lr_micro"))
                    .alias("logw_micro")))
    out = (ids.join(perdoc, "doc_id", "left")
           .select("doc_id",
                   F.coalesce("n_grams", F.lit(0)).cast("bigint")
                    .alias("n_grams"),
                   F.coalesce("logw_micro", F.lit(0)).cast("bigint")
                    .alias("logw_micro")))
    return out.select(
        "doc_id", "n_grams", "logw_micro",
        F.round(F.col("logw_micro") /
                (F.greatest(F.col("n_grams"), F.lit(1)) * F.lit(1e6)),
                6).alias("avg_logw"),
        (F.col("logw_micro") + gumbel_key_micro("doc_id"))
        .alias("key_micro"))


def gumbel_key_micro(id_col) -> F.Column:
    """Deterministic micro-nat Gumbel draw per doc id: u from the md5
    fold of the id string (31-bit, never 0 or 1 thanks to the +0.5
    offset), g = -ln(-ln(u)), quantized to integer micro units."""
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8),
               16, 10).cast("bigint")
    u = (F.pmod(h, F.lit(2147483648)).cast("double") + F.lit(0.5)) / \
        F.lit(2147483648.0)
    return F.round(-F.log(-F.log(u)) * F.lit(1e6)).cast("bigint")


def top_n_by_key(df: DataFrame, key_col: str, n: int,
                 id_col: str = "doc_id",
                 quant: int = 1_000_000) -> DataFrame:
    """Global top-n rows by (key DESC, id ASC) without a corpus-scale
    sort — the selection step of importance resampling.

    A bare `row_number() OVER (ORDER BY key DESC)` sorts the WHOLE
    corpus on one task.  Here a bucket histogram (one map-side-combining
    groupBy on floor(key/quant); O(key-range/quant) rows, collected to
    the driver) locates the highest bucket `t` whose strictly-better
    buckets hold fewer than n rows; every top-n row provably lies in a
    bucket >= t, so the prefilter is LOSSLESS and the window sorts only
    the surviving rows (~n plus the threshold bucket's population —
    bounded in practice because the Gumbel noise spreads keys across
    buckets).  Semantics are therefore exactly "top-n by (key DESC,
    id)", which is what the SQL oracle replays."""
    bucket = F.floor(F.col(key_col) / F.lit(quant))
    hist = (df.groupBy(bucket.alias("_b"))
              .agg(F.count(F.lit(1)).alias("_c")))
    rows = sorted(hist.collect(), key=lambda r: -r["_b"])
    if not rows:
        return (df.withColumn("sel_rank", F.lit(1)).limit(0))
    cum, thresh = 0, rows[0]["_b"]
    for r in rows:
        thresh = r["_b"]
        cum += r["_c"]
        if cum >= n:
            break
    pre = df.where(F.floor(F.col(key_col) / F.lit(quant)) >= thresh)
    w = Window.orderBy(F.col(key_col).desc(), F.col(id_col))
    return (pre.withColumn("sel_rank", F.row_number().over(w))
               .where(F.col("sel_rank") <= n))


def dsir_select(raw: DataFrame | None = None,
                target: DataFrame | None = None, n: int = 0,
                dim: int = DSIR_DIM, id_col: str = "doc_id",
                text_col: str = "text",
                weights: DataFrame | None = None) -> DataFrame:
    """The DSIR resample itself: the n docs with the largest
    logw + Gumbel keys — a without-replacement sample of the raw corpus
    with inclusion probability proportional to the importance weight.

    top_n_by_key consumes its input twice (the histogram action and the
    threshold filter); a derived weights frame is therefore pinned with a
    persist so the scoring join runs ONCE (the histogram action
    materializes the cache, the threshold filter reads it — five narrow
    columns per doc, disk-spillable).  Production callers still pass
    `weights=` (a MATERIALIZED dsir_weights table, e.g. a checkpoint
    stage — the curate CLI stages it), which skips the cache entirely."""
    if weights is None:
        weights = dsir_weights(raw, target, dim, id_col, text_col).persist()
    return top_n_by_key(weights, "key_micro", n, id_col="doc_id")


def dsir_weights(raw: DataFrame, target: DataFrame, dim: int = DSIR_DIM,
                 id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """(doc_id, n_grams, logw_micro, avg_logw, key_micro) for every raw
    doc.  logw_micro is the exact-integer hashed-n-gram importance
    log-weight; key_micro = logw_micro + Gumbel noise — selecting the
    top-k docs by key_micro IS DSIR's importance resampling (without
    replacement, proportional to w).  Docs with no grams carry
    logw_micro = 0 (weight 1) and still draw a key.
    """
    # the raw feature frame feeds BOTH the count table and the scoring
    # join; the DISK_ONLY persist is the reuse barrier (without it each
    # consumer re-runs the token explode + bigram window — measured ~2x
    # the whole job's wall time at 800k docs).  DISK_ONLY, not
    # localCheckpoint: the frame is ~#distinct-grams-per-doc x corpus
    # rows, and holding it deserialized in executor heaps OOMs at 800k
    # docs on a 48 GB heap; serialized-to-disk it is a few GB and the
    # re-read still beats re-sorting the bigram window.  Stays cached
    # for the session (the pipeline persist precedent).
    from pyspark import StorageLevel
    feats = _doc_features(raw, dim, id_col, text_col) \
        .persist(StorageLevel.DISK_ONLY)
    rawc = feats.groupBy("fid").agg(F.sum("m").alias("cr"))
    tgtc = (_doc_features(target, dim, id_col, text_col)
            .groupBy("fid").agg(F.sum("m").alias("ct")))
    lrs = log_ratios_from_counts(rawc, tgtc, dim)
    return score_features(feats, lrs,
                          raw.select(F.col(id_col).alias("doc_id")))
