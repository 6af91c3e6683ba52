"""End-to-end dedup pipeline: docs -> signatures -> bands -> candidate
pairs -> verified pairs -> clusters.

Each stage is a DataFrame transformation; `run_dedup` chains them lazily
(one Catalyst plan end-to-end) while `CheckpointedPipeline` (sources/
checkpoint.py) materializes each stage to Parquet/Iceberg with a manifest
for idempotent resume — the generalization of the reference's persisted
intermediate state (Naive-DLSH/.../lsh/searcher/LSHSearcher.java:340-352).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distributed_lsh_spark.conf import DedupConfig, DEFAULT_CONFIG
from distributed_lsh_spark.functions.hashing import band_keys
from distributed_lsh_spark.functions.signature import with_signatures
from distributed_lsh_spark.operators.candidates import candidate_pairs
from distributed_lsh_spark.operators.verify import verify_pairs
from distributed_lsh_spark.operators.connected_components import connected_components


def _scan_bytes(df: DataFrame) -> int | None:
    """Total bytes of the files behind a scan-based frame, or None when
    the frame is not file-backed (derived/mid-pipeline inputs).  Pure
    driver-side file metadata — no job, no plan execution."""
    import os
    from urllib.parse import urlparse

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for uri in files:
        path = urlparse(uri).path or uri
        try:
            total += os.path.getsize(path)
        except OSError:
            return None
    return total


@dataclass
class DedupStages:
    docs: DataFrame          # doc_id, text, shingles
    signatures: DataFrame    # doc_id, minhash, simhash
    bands: DataFrame         # doc_id, band_id, band_hash
    pairs: DataFrame         # id_a, id_b
    verified: DataFrame      # id_a, id_b, jaccard


def build_stages(df: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG,
                 id_col: str = "doc_id", text_col: str = "text",
                 persist: bool = False, input_partitions: int | None = 0,
                 probe_partitions: bool = True) -> DedupStages:
    """`persist=True` caches the shingled docs (consumed by both verify-join
    sides) and the band keys (consumed by both self-join sides) so the
    signature chain is computed once, not ~4x.  On a cluster run the
    CheckpointedPipeline materializes these to Parquet/Iceberg instead.

    `input_partitions`: the signature stages are CPU-bound, so a compact
    input (one small parquet file = one scan partition) must be spread
    across cores BEFORE shingling, not after.  Default 0 = auto: 3x default
    parallelism; None disables.

    `probe_partitions`: when True, skip the spreading repartition if the
    input already has >= input_partitions partitions.  The probe converts
    the plan to an RDD, which under AQE EXECUTES every shuffle stage in the
    input's lineage — cheap for a bare parquet scan (no shuffles), but a
    full extra pass for a mid-pipeline frame.  Callers whose input went
    through a shuffle (whose partition count is the session shuffle width,
    i.e. always below 3x parallelism) pass False and repartition
    unconditionally — the same outcome the probe would have chosen,
    without executing the upstream once to learn it."""
    base = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    if input_partitions == 0:
        par = base.sparkSession.sparkContext.defaultParallelism
        input_partitions = 3 * par
        if probe_partitions:
            # scale-adaptive width (guide §2): derive the spread from the
            # INPUT SIZE when the input is a file scan, instead of a
            # constant tuned to either local mode or the cluster.  ~4 MB
            # of compressed text per signature task keeps each Arrow
            # batch worth its Python round-trip; tiny corpora stop
            # splitting into 3x-parallelism slivers (measured: the sf0.1
            # signature stage ran 1.5x faster at 32 tasks than at 96),
            # while anything over 12 MB/core keeps the full 3x spread.
            sized = _scan_bytes(base)
            if sized is not None:
                input_partitions = max(par, min(3 * par,
                                                sized // (4 << 20) + 1))
    if input_partitions and (not probe_partitions
                             or base.rdd.getNumPartitions() < input_partitions):
        base = base.repartition(input_partitions)
    # one Arrow-vectorized pass for shingles+minhash+simhash
    # (Spark HOFs are interpreted — see functions/signature.py)
    sigs = with_signatures(base, cfg)
    docs = sigs.select("doc_id", "text", "shingles")
    if persist:
        # ONE cache at the signatures level: the scan->shingle->minhash chain
        # stays fused in a single codegen stage and runs exactly once; the
        # band self-join (2 consumers) and the verify payload joins (2
        # consumers) all read this cache.  Persisting docs/bands separately
        # measured slower: each extra InMemoryRelation breaks fusion and
        # re-serializes the large array columns.
        sigs = sigs.persist()
        docs = sigs.select("doc_id", "text", "shingles")
    bands = band_keys(sigs, cfg)
    pairs = candidate_pairs(bands, cfg)
    # Over the persisted signatures, verify reads the pair list through a
    # lazy localCheckpoint LEAF, deliberately NOT a persist pin: the leaf
    # truncates the lineage every downstream consumer replans.  With a
    # persist here on top of the persisted band/signature caches,
    # funnel-style callers plan the whole nested InMemoryRelation tree once
    # per downstream action; a matched-load A/B measured the all-persist
    # variant +1.2-1.4 s on each funnel composition, and this ONE leaf
    # recovered it (either this leaf or the band leaf suffices; this is
    # the smaller frame).  Without the cache there is no nested tree, and
    # the leaf only costs a job boundary: under AQE the RDD conversion
    # runs the candidate stages at once, measured +0.6 s on the n-gram
    # verify at sf0.1.
    verified = verify_pairs(
        pairs.localCheckpoint(eager=False) if persist else pairs, docs, cfg)
    return DedupStages(docs=docs, signatures=sigs, bands=bands,
                       pairs=pairs, verified=verified)


def exact_collapse(base: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Byte-identical dedup pre-pass: (reps(doc_id, text),
    exact_edges(id_a=rep, id_b=member)).

    groupBy instead of a Window over md5(text): min/first are partially
    aggregable, so byte-identical copies collapse map-side BEFORE the
    shuffle (the window variant shuffled+sorted every text byte).
    first(text) is well-defined: equal md5 => equal bytes.  The member->rep
    edges come from the PROJECTED (md5, doc_id) frame only — those two
    shuffles move ~40 B/row, never text."""
    hashed = base.withColumn("_h", F.md5(F.col("text").cast("binary")))
    m = hashed.select("_h", "doc_id")
    reps_ids = m.groupBy("_h").agg(F.min("doc_id").alias("id_a"))
    exact_edges = (m.withColumnRenamed("doc_id", "id_b")
                   .join(reps_ids, "_h")
                   .where(F.col("id_a") != F.col("id_b"))
                   .select("id_a", "id_b"))
    reps = (hashed.groupBy("_h")
            .agg(F.min("doc_id").alias("doc_id"),
                 F.first("text").alias("text"))
            .select("doc_id", "text"))
    return reps, exact_edges


def run_dedup(df: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG,
              id_col: str = "doc_id", text_col: str = "text",
              exact_first: bool = True,
              probe_partitions: bool = True) -> DataFrame:
    """Full pipeline -> clusters(doc_id, cluster_id). Lazy until CC loop.

    `exact_first=True` removes byte-identical texts BEFORE the LSH stages:
    group by md5(text), run signatures/banding/verify over one
    representative (min doc_id) per group, and reconnect members with
    (member, rep) edges.  Identical-page families are the canonical hot
    key at web scale (SCALE.md): this collapses them ahead of the band
    self-join instead of capping them inside it, and skips signature CPU
    for every duplicate byte-copy.  Cluster output is identical either way
    (identical docs have identical signatures, so they pair through every
    band when not collapsed)."""
    base = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))

    exact_edges = None
    input_partitions = 0
    if exact_first:
        # the collapsed reps frame sits behind the md5 groupBy shuffle, so
        # its width is the session shuffle width — probing would execute
        # that shuffle once just to confirm it is below the target.  The
        # size-adaptive spread still applies: the reps are AT MOST the raw
        # scan, whose file size is known before the collapse.
        sized = _scan_bytes(base)
        if sized is not None:
            par = base.sparkSession.sparkContext.defaultParallelism
            input_partitions = max(par, min(3 * par, sized // (4 << 20) + 1))
        base, exact_edges = exact_collapse(base)
        probe_partitions = False

    st = build_stages(base, cfg, persist=True,
                      input_partitions=input_partitions,
                      probe_partitions=probe_partitions)
    # No barrier here: connected_components pins the distinct edge set
    # itself (persist + routing count) before iterating, so a
    # localCheckpoint at this level only added one extra eagerly-executed
    # pass over the verify joins (under AQE, RDD conversion runs the
    # upstream stages immediately).  The reference's persisted splitCand/
    # role (Naive-DLSH/.../lsh/searcher/LSHSearcher.java:327) is played by
    # that pin.
    edges = st.verified.select("id_a", "id_b")
    if exact_edges is not None:
        edges = edges.unionByName(exact_edges)
    return connected_components(edges)


def dup_pairs(df: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG,
              id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Pipeline up to verified pairs (id_a, id_b, jaccard)."""
    return build_stages(df, cfg, id_col=id_col, text_col=text_col,
                        persist=True).verified
