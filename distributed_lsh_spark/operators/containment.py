"""Asymmetric containment dedup: doc-in-doc near-duplicates that a
Jaccard-calibrated MinHash-LSH structurally misses.

Containment over k-shingle sets (Broder, "On the resemblance and
containment of documents", SEQUENCES'97):

    C(A, B) = |S(A) n S(B)| / min(|S(A)|, |S(B)|)

A short page A embedded verbatim in a long page B (syndicated article
inside a portal page, quote-wrapper pages, print views with navigation
chrome) has C ~ 1 while J(A, B) = |n| / |u| ~ |S(A)| / |S(B)| — far below
any useful Jaccard threshold, so the MinHash band family (collision
probability a function of J alone) never surfaces the pair and neither
the LSH path (operators/candidates.py) nor a Jaccard verify keeps it.
This operator is the curation pass that catches exactly those pairs.

Candidate generation reuses the df-capped inverted shingle index
(operators/ngram.py's shape).  Its recall argument is STRONGER for
containment than for Jaccard: if C(A, B) >= tau, the contained doc shares
>= tau of its own shingles with the partner, so a missed pair needs
*every one* of those shared shingles to carry document frequency >
df_cap — a doc made almost entirely of corpus-wide boilerplate, which the
exact md5 pre-pass (pipeline.exact_collapse) and a boilerplate line pass
(line_dedup) collapse first.  At index scale beyond this sandbox the
published candidate structure is size-partitioned LSH — IMPLEMENTED
below as `lsh_ensemble_candidates` (LSH Ensemble, Zhu et al., VLDB'16:
partition the corpus by set size, re-tune (b, r) per slice pair so band
collision tracks containment within each size spread); `candidates` is
injectable so either structure drops in without touching verification.

Verification is exact over the full shingle sets and follows
operators/verify.py's broadcast discipline: broadcast only the bare pair
list, semi-join-prune the wide payload side, lazy localCheckpoint so the
candidate plan executes once, not once per broadcast build.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _ensemble_r(j_min: float, num_perm: int, recall: float) -> int:
    """Largest rows-per-band r such that b = num_perm // r MinHash bands
    still collide with probability >= `recall` at Jaccard `j_min` —
    maximal pruning under a per-slice-pair recall floor.  Collision
    probability 1-(1-J^r)^b is decreasing in r at fixed num_perm, so the
    scan exits at the first failure."""
    best = 1
    for r in range(1, num_perm + 1):
        b = num_perm // r
        if b == 0:
            break
        if 1.0 - (1.0 - j_min ** r) ** b >= recall:
            best = r
        else:
            break
    return best


def lsh_ensemble_candidates(docs: DataFrame, *, tau: float = 0.8,
                            num_perm: int = 128, growth: int = 2,
                            max_gap: int = 3, recall: float = 0.98,
                            cap: int | None = 2000,
                            shingles_col: str = "shingles",
                            minhash_col: str = "minhash") -> DataFrame:
    """Size-partitioned LSH candidate generation for containment >= tau
    (LSH Ensemble, Zhu et al., VLDB'16, adapted to the self-join form) —
    the beyond-inverted-index scale path `containment_pairs(candidates=)`
    was designed to accept.

    Why size partitioning: band collision probability is a function of
    JACCARD, but a containment-tau pair's Jaccard depends on the size
    ratio — J = C·n_a / (n_a + n_b - C·n_a) for n_a <= n_b.  One global
    (b, r) therefore cannot track a containment threshold.  Zhu et al.
    partition the index by set size and re-tune (b, r) per partition so
    the band family's collision curve matches the WORST Jaccard a
    qualifying pair can have within that slice.  Self-join adaptation:
    docs land in geometric size slices p = floor(log_growth |S|); for
    every slice pair (p, q) with q - p <= max_gap, both sides emit band
    keys tagged (p, q) under

        r(p, q) = largest r with 1-(1-J_min^r)^(num_perm//r) >= recall,
        J_min(p, q) = tau·l_p / (l_p + u_q - tau·l_p)

    (l_p = growth^p the slice-p size floor, u_q the slice-q ceiling —
    the worst qualifying pair).  Same-slice pairs get deep bands (few,
    cheap); cross-slice pairs get shallower bands exactly as much as the
    size spread demands.

    `max_gap` bounds the detectable size ratio at growth^-(max_gap+1)
    (default: contained side >= ~1/16 of the container).  Below that
    ratio a qualifying pair's Jaccard is so small that NO minhash family
    prunes — and that regime is precisely where the df-capped inverted
    index stays cheap (a tiny contained doc posts only its own few
    shingles), so the two candidate structures are complements, not
    alternatives.

    Scale shape (10^12 docs): each doc emits <= (2·max_gap+1) tags ×
    (num_perm // r) 16-byte (doc_id, band_hash) rows — O(corpus), never
    O(corpus²); the tag is hashed INTO band_hash so the self-join key
    stays a single int64 (operators/candidates.py's shape), hot buckets
    are capped by the shared deterministic two-path cap, and exact
    verification downstream keeps false positives harmless.  Recall is
    probabilistic (>= `recall` per slice pair by construction) — pinned
    empirically against the exact index in tests/test_containment.py.

    Input needs `shingles_col` AND `minhash_col` (the standard signature
    frame from functions/signature.with_signatures with num_perm perms).
    Returns (id_a, id_b), id_a < id_b, distinct.
    """
    from distributed_lsh_spark.operators.candidates import cap_hot_buckets

    spark = docs.sparkSession
    sized = docs.select(
        "doc_id", minhash_col,
        F.floor(F.log2(F.greatest(F.size(shingles_col), F.lit(1)))
                / math.log2(growth)).cast("int").alias("_slice"))
    # occupied slice span: 2-int driver bookkeeping (ann.py's precedent)
    lo, hi = sized.agg(F.min("_slice"), F.max("_slice")).first()
    if lo is None:
        return spark.createDataFrame([], "id_a long, id_b long")
    plan_rows = []
    for p in range(lo, hi + 1):
        for q in range(p, min(p + max_gap, hi) + 1):
            l_p = float(growth ** p)
            u_q = float(growth ** (q + 1) - 1)
            j_min = tau * l_p / (l_p + u_q - tau * l_p)
            r = _ensemble_r(j_min, num_perm, recall)
            tag = p * 4096 + q
            plan_rows.append((p, tag, r))
            if q != p:
                plan_rows.append((q, tag, r))
    plan = spark.createDataFrame(plan_rows, "_slice int, _tag int, _r int")
    # variable-r banding: r is a per-row column, so one expression serves
    # every slice pair (slice()/sequence() accept column arguments)
    bands = F.expr(
        f"transform(sequence(0, CAST({num_perm} / _r AS INT) - 1), "
        f"i -> xxhash64(_tag, i, slice({minhash_col}, i * _r + 1, _r)))")
    keyed = (sized.join(F.broadcast(plan), "_slice")
             .select("doc_id", F.explode(bands).alias("band_hash")))
    if cap is not None:
        keyed = cap_hot_buckets(keyed, cap)
    keyed = keyed.persist()   # self-join consumes it twice; lazy pin
    a, b = keyed.alias("a"), keyed.alias("b")
    return (a.join(b, "band_hash")
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("id_a"),
                    F.col("b.doc_id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"]))


def containment_pairs(docs: DataFrame, *,
                      tau: float = 0.8, df_cap: int | None = 2000,
                      shingles_col: str = "shingles",
                      candidates: DataFrame | None = None) -> DataFrame:
    """docs(doc_id, shingles) -> (id_a, id_b, containment, jaccard,
    contained_id) for pairs with containment >= tau.

    `contained_id` is the smaller-shingle-set side (the doc the pair says
    is inside the other); equal sizes resolve to id_a (= the lower id —
    mutual containment, either label is true).  `jaccard` rides along so
    consumers can see which pairs a Jaccard threshold would have kept.

    The payload joins are plain joins: AQE picks their strategy from
    runtime stats (a small candidate list becomes a broadcast), and a docs
    checkpoint bucketed by doc_id removes the Exchanges on the payload
    scans.
    """
    if candidates is None:
        shd = docs.select("doc_id", F.explode(shingles_col).alias("g"))
        if df_cap is not None:
            # window over the index's own (g) partitioning — one exchange,
            # reused by the self-join under AQE (ngram.py's measured shape)
            w = Window.partitionBy("g")
            shd = (shd.withColumn("_df", F.count("*").over(w))
                      .where(F.col("_df") <= df_cap).drop("_df"))
        a, b = shd.alias("a"), shd.alias("b")
        candidates = (a.join(b, "g")
                       .where(F.col("a.doc_id") < F.col("b.doc_id"))
                       .select(F.col("a.doc_id").alias("id_a"),
                               F.col("b.doc_id").alias("id_b"))
                       .dropDuplicates(["id_a", "id_b"]))

    payload = docs.select("doc_id", shingles_col)
    da = payload.select(F.col("doc_id").alias("id_a"),
                        F.col(shingles_col).alias("_sh_a"))
    db = payload.select(F.col("doc_id").alias("id_b"),
                        F.col(shingles_col).alias("_sh_b"))
    joined = candidates.join(da, "id_a").join(db, "id_b")

    # sizes are >= 1 whenever a pair exists (a candidate shares >= 1
    # shingle; min_tokens=1 gives every doc >= 1 whole-doc shingle), so
    # neither division needs a zero guard — and the SQL oracle replays the
    # same bare arithmetic, keeping parity exact.
    na, nb = F.size("_sh_a"), F.size("_sh_b")
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    return (
        joined
        .withColumn("_inter", inter)
        .withColumn("containment", F.col("_inter") / F.least(na, nb))
        .withColumn("jaccard", F.col("_inter") / (na + nb - F.col("_inter")))
        .withColumn("contained_id",
                    F.when(na <= nb, F.col("id_a")).otherwise(F.col("id_b")))
        .where(F.col("containment") >= tau)
        .select("id_a", "id_b", "containment", "jaccard", "contained_id")
    )
