"""Structured Streaming: incremental near-dup detection for continuously
arriving pages.

The reference is strictly batch (SURVEY.md §2.8); this module is the
streaming extension a Common-Crawl-style ingest needs: new pages arrive as
files, each micro-batch is signed with the SAME stateless signature
functions as the batch pipeline (shingles/MinHash/bands are pure per-row
transforms, so batch/stream parity is exact), then `foreachBatch` joins the
batch's band keys against the accumulated band index and appends:

    band_index/   (doc_id, band_id, band_hash)   — grows per batch
    dup_pairs/    (id_a, id_b, jaccard)          — new-vs-old + new-vs-new

Incrementality contract: per-batch compute is O(batch + collisions), NOT
O(history) — the band index is PERSISTED and appended to, so a batch
joins its freshly-computed band keys against stored history keys (a
columnar scan of 3 longs/row) and never re-runs the signature UDF or
band_keys over old documents.  The only history touched besides the index
scan is the verify stage's payload fetch for docs that actually collided
(verify_pairs' payload joins; AQE picks their strategy per batch).

foreachBatch (not a streaming join) because the index side must be
unbounded and self-growing — Spark's stream-stream join would force
watermark-bounded state, but dedup must match against ALL history.
Exactly-once: the sink dirs are partitioned by batch_id; re-run of a batch
overwrites its own partition (idempotent).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_lsh_spark.conf import DedupConfig, DEFAULT_CONFIG
from distributed_lsh_spark.functions.hashing import band_keys
from distributed_lsh_spark.functions.signature import with_signatures
from distributed_lsh_spark.operators.verify import verify_pairs


def _sign(df: DataFrame, cfg: DedupConfig) -> DataFrame:
    return with_signatures(df.select("doc_id", "text"), cfg)


def has_band_history(spark: SparkSession, d: str) -> bool:
    """True iff `d` holds at least one batch_id=... partition of the band
    index.  Goes through the shared Hadoop FileSystem facade (works on
    file:, hdfs:, s3a:, ... — whatever the state dir actually lives on):
    an os.listdir probe silently answers "no history" for any non-local
    URI, which would degrade the stream to within-batch-only dedup — a
    wrong-results failure, not a perf one."""
    from distributed_lsh_spark.sources.checkpoint import HadoopFS

    return any(n.startswith("batch_id=")
               for n in HadoopFS(spark, d).list_names(d))


def _batch_partitions(spark: SparkSession, d: str):
    """(HadoopFS facade, [(batch_id, partition path str)]) for every
    batch_id= partition under d."""
    from distributed_lsh_spark.sources.checkpoint import HadoopFS

    fs = HadoopFS(spark, d)
    out = [(int(n.split("=", 1)[1]), d.rstrip("/") + "/" + n)
           for n in fs.list_names(d) if n.startswith("batch_id=")]
    return fs, out


def compact_batch_index(spark: SparkSession, d: str, current_batch_id: int,
                        dedup_cols: list[str] | None = None,
                        target_files: int = 8) -> bool:
    """Merge every committed batch_id partition (< current_batch_id) of a
    streaming state dir into ONE fresh partition (labeled
    -current_batch_id; see crash safety below).

    Without this, each foreachBatch leaves a new batch_id= partition and
    every later batch's history scan pays O(#batches) file-system metadata
    — at 10^4 batches the index is 10^4 file groups.  Compacting every N
    batches bounds the partition count at N+1 and amortizes one bounded
    O(history) rewrite per N batches.

    Crash safety: the merged partition is written under a FRESH partition
    id that cannot pre-exist (`batch_id = -current_batch_id`; real batch
    ids are >= 0 and current strictly increases across compactions), so
    the dynamic-partition-overwrite commit never deletes an existing
    committed partition — writing into an EXISTING partition id would open
    a window (between Spark's delete-old-dir and rename-staged steps, or
    between our write and the stale deletes) where committed, never-
    replayable index rows exist nowhere.  With a fresh id the only crash
    window (after the write, before/among the stale deletes) leaves
    DUPLICATE rows; the dropDuplicates(dedup_cols) here makes the NEXT
    compaction self-heal, and consumers are duplicate-tolerant meanwhile
    (candidate pairs are dropDuplicates'd in every stream; occurrence
    counts use distinct identity keys).  Negative merged ids stay inside
    every reader's `batch_id < current` history predicate.

    `dedup_cols=None` dedups on ALL columns except batch_id — the safe
    default: identity-key dedup (e.g. just doc_id) would NONdeterministically
    discard one of two DIFFERENT rows if a doc_id were ever re-ingested
    with changed content, silently changing downstream results.

    Only partitions STRICTLY below current_batch_id are touched: those
    batches have committed in the streaming checkpoint and can never be
    replayed, while a replayed current batch re-finds fewer than two
    mergeable partitions and no-ops."""
    fs, parts = _batch_partitions(spark, d)
    parts = [(b, p) for b, p in parts if b < current_batch_id]
    if len(parts) < 2:
        return False
    merged_id = -current_batch_id
    df = spark.read.parquet(d).where(F.col("batch_id") < current_batch_id)
    if dedup_cols is None:
        dedup_cols = [c for c in df.columns if c != "batch_id"]
    merged = (df.dropDuplicates(dedup_cols)
              .withColumn("batch_id", F.lit(merged_id))
              .repartition(target_files)
              # eager checkpoint: finish READING the partitions before the
              # write below starts touching the same directory
              .localCheckpoint(eager=True))
    (merged.write.mode("overwrite").partitionBy("batch_id")
           .option("partitionOverwriteMode", "dynamic").parquet(d))
    for b, p in parts:
        if b != merged_id:
            fs.delete(p)
    return True


def current_labels(spark: SparkSession, labels_dir: str) -> DataFrame:
    """Reconstruct the CURRENT cluster labeling from a labels delta dir
    (doc_id, cluster_id, batch_id): labels are MONOTONE under merge
    maintenance — a relabel always lowers cluster_id to the merged
    component's new minimum — so the latest label per doc is simply
    `min(cluster_id)`, one map-side-combinable groupBy, independent of
    delta order (which is what makes `compact_batch_index`'s
    order-destroying fold safe for this dir too)."""
    return (spark.read.parquet(labels_dir)
            .groupBy("doc_id")
            .agg(F.min("cluster_id").alias("cluster_id")))


def incremental_dedup_stream(spark: SparkSession, input_dir: str, state_dir: str,
                             cfg: DedupConfig = DEFAULT_CONFIG,
                             schema: str = "doc_id long, text string",
                             available_now: bool = True,
                             max_files_per_trigger: int = 16,
                             where: str | None = None,
                             compact_every: int | None = 64,
                             maintain_labels: bool = False):
    """Start (or run-to-completion with availableNow) the incremental dedup
    stream over parquet files appearing in `input_dir`.

    Returns the StreamingQuery. State layout under `state_dir`:
      checkpoint/   — Spark streaming checkpoint (offsets, commits)
      sigs/         — accumulated signatures (doc_id, shingles, minhash)
      band_index/   — accumulated band keys (doc_id, band_id, band_hash)
      pairs/        — verified dup pairs with batch_id lineage
      labels/       — (maintain_labels=True) cluster-label DELTAS with
                      batch_id lineage; read back via `current_labels`

    maintain_labels: additionally keep continuously-updated near-dup
    CLUSTER LABELS — each batch's verified pairs are folded into the
    standing labeling with `operators/snapshot.incremental_components`
    (the archive side never shuffles; CC runs on the batch's contracted
    edge graph).  Only CHANGED/new rows are written per batch, so the
    dir grows O(total merges), not O(batches x corpus); replayed batches
    overwrite their own partition idempotently, and reconstruction is a
    min() so duplicate deltas from the compaction crash window are
    harmless.  Invariant (pinned by tests/test_streaming_labels.py):
    current_labels == connected_components over ALL pairs seen so far.
    """
    sigs_dir = os.path.join(state_dir, "sigs")
    bands_dir = os.path.join(state_dir, "band_index")
    pairs_dir = os.path.join(state_dir, "pairs")
    labels_dir = os.path.join(state_dir, "labels")

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", str(max_files_per_trigger))
              .parquet(input_dir))
    if where is not None:
        # composition hook: e.g. `is_dup = false` to near-dup only the
        # uniques surviving the stateful exact pass (streaming/ingest.py)
        stream = stream.where(where)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_batch_index(spark, bands_dir, batch_id)
            compact_batch_index(spark, sigs_dir, batch_id)
        new_sigs = _sign(batch_df, cfg).withColumn("batch_id", F.lit(batch_id))
        new_sigs.persist()
        try:
            new_bands = band_keys(new_sigs, cfg) \
                .withColumn("batch_id", F.lit(batch_id))
            new_bands.persist()
            if has_band_history(spark, bands_dir):
                # incremental: READ the persisted band index (3 longs/row);
                # never recompute signatures or band keys over history
                old_bands = spark.read.parquet(bands_dir) \
                    .where(F.col("batch_id") < batch_id)
                old_sigs = spark.read.parquet(sigs_dir) \
                    .where(F.col("batch_id") < batch_id)
                all_sigs = old_sigs.unionByName(new_sigs)
                cross = (new_bands.alias("a")
                         .join(old_bands.alias("b"), ["band_id", "band_hash"])
                         .select(F.least("a.doc_id", "b.doc_id").alias("id_a"),
                                 F.greatest("a.doc_id", "b.doc_id").alias("id_b")))
            else:
                all_sigs = new_sigs
                cross = spark.createDataFrame([], "id_a long, id_b long")
            a, b = new_bands.alias("a"), new_bands.alias("b")
            within = (a.join(b, ["band_id", "band_hash"])
                      .where(F.col("a.doc_id") < F.col("b.doc_id"))
                      .select("a.doc_id", "b.doc_id")
                      .toDF("id_a", "id_b"))
            pairs = cross.unionByName(within) \
                         .where(F.col("id_a") != F.col("id_b")) \
                         .dropDuplicates(["id_a", "id_b"])
            # AQE picks the payload join strategy from the batch's
            # runtime pair count (a micro-batch's pair list is small and
            # becomes a broadcast)
            verified = verify_pairs(pairs, all_sigs, cfg) \
                .withColumn("batch_id", F.lit(batch_id))
            if maintain_labels:
                # two consumers below (pairs write + label fold): pin once
                verified = verified.localCheckpoint(eager=True)

            (verified.write.mode("overwrite")
             .partitionBy("batch_id")
             .option("partitionOverwriteMode", "dynamic")
             .parquet(pairs_dir))

            if maintain_labels:
                from distributed_lsh_spark.operators.snapshot import (
                    incremental_components,
                )

                if has_band_history(spark, labels_dir):
                    standing = (spark.read.parquet(labels_dir)
                                .where(F.col("batch_id") < batch_id)
                                .groupBy("doc_id")
                                .agg(F.min("cluster_id").alias("cluster_id")))
                else:
                    standing = spark.createDataFrame(
                        [], "doc_id long, cluster_id long")
                updated = incremental_components(
                    standing, verified.select("id_a", "id_b"))
                delta = (updated.join(
                            standing.withColumnRenamed("cluster_id", "old"),
                            "doc_id", "left")
                         .where(F.col("old").isNull()
                                | (F.col("old") != F.col("cluster_id")))
                         .select("doc_id", "cluster_id")
                         .withColumn("batch_id", F.lit(batch_id)))
                (delta.write.mode("overwrite")
                 .partitionBy("batch_id")
                 .option("partitionOverwriteMode", "dynamic")
                 .parquet(labels_dir))
                if compact_every and batch_id > 0 \
                        and batch_id % compact_every == 0:
                    compact_batch_index(spark, labels_dir, batch_id)
            (new_sigs.write.mode("overwrite")
             .partitionBy("batch_id")
             .option("partitionOverwriteMode", "dynamic")
             .parquet(sigs_dir))
            (new_bands.write.mode("overwrite")
             .partitionBy("batch_id")
             .option("partitionOverwriteMode", "dynamic")
             .parquet(bands_dir))
        finally:
            new_sigs.unpersist()
            new_bands.unpersist()

    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", os.path.join(state_dir, "checkpoint")))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def incremental_simhash_stream(spark: SparkSession, input_dir: str,
                               state_dir: str, k: int = 5,
                               hamming_threshold: int = 3, n_chunks: int = 6,
                               schema: str = "doc_id long, text string",
                               available_now: bool = True,
                               max_files_per_trigger: int = 16,
                               compact_every: int | None = 64):
    """SimHash twin of incremental_dedup_stream: EXACT Hamming <= h pairs
    over the accumulated corpus, incrementally.  Per batch: fused-Arrow
    fingerprints + multi-index composite keys (operators/simhash_exact);
    new keys join the PERSISTED key index (new-vs-old) and themselves
    (new-vs-new); candidates verify with exact bit_count.  Per-batch cost
    O(batch + collisions) — history fingerprints are read (16 B rows)
    only for docs that actually collided.

    State layout under `state_dir`:
      checkpoint/      Spark streaming checkpoint
      fps/             accumulated fingerprints (doc_id, simhash)
      simhash_index/   accumulated composite keys (doc_id, combo_id, key)
      pairs/           verified (id_a, id_b, hamming) with batch_id lineage

    Hot keys: like the MinHash stream, adversarial identical-page families
    are collapsed by composing with the stateful exact pass UPSTREAM
    (streaming/ingest.py) rather than capping buckets mid-stream — the
    batch pipeline's exact-before-LSH ordering, preserved incrementally.
    """
    from distributed_lsh_spark.operators.simhash_exact import (
        simhash_keys, simhash_md5,
    )

    fps_dir = os.path.join(state_dir, "fps")
    idx_dir = os.path.join(state_dir, "simhash_index")
    pairs_dir = os.path.join(state_dir, "pairs")

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", str(max_files_per_trigger))
              .parquet(input_dir))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_batch_index(spark, idx_dir, batch_id)
            compact_batch_index(spark, fps_dir, batch_id)
        fps = simhash_md5(batch_df.select("doc_id", "text"), k) \
            .withColumn("batch_id", F.lit(batch_id))
        fps.persist()
        try:
            new_keys = simhash_keys(fps, hamming_threshold, n_chunks) \
                .select("doc_id", "combo_id", "key") \
                .withColumn("batch_id", F.lit(batch_id))
            new_keys.persist()
            if has_band_history(spark, idx_dir):
                old_keys = spark.read.parquet(idx_dir) \
                    .where(F.col("batch_id") < batch_id)
                old_fps = spark.read.parquet(fps_dir) \
                    .where(F.col("batch_id") < batch_id)
                all_fps = old_fps.unionByName(fps)
                cross = (new_keys.alias("a")
                         .join(old_keys.alias("b"), ["combo_id", "key"])
                         .select(F.least("a.doc_id", "b.doc_id").alias("id_a"),
                                 F.greatest("a.doc_id", "b.doc_id").alias("id_b")))
            else:
                all_fps = fps
                cross = spark.createDataFrame([], "id_a long, id_b long")
            a, b = new_keys.alias("a"), new_keys.alias("b")
            within = (a.join(b, ["combo_id", "key"])
                      .where(F.col("a.doc_id") < F.col("b.doc_id"))
                      .select("a.doc_id", "b.doc_id").toDF("id_a", "id_b"))
            cands = (cross.unionByName(within)
                     .where(F.col("id_a") != F.col("id_b"))
                     .dropDuplicates(["id_a", "id_b"])
                     .localCheckpoint(eager=False))
            fa = all_fps.select(F.col("doc_id").alias("id_a"),
                                F.col("simhash").alias("_fa"))
            fb = all_fps.select(F.col("doc_id").alias("id_b"),
                                F.col("simhash").alias("_fb"))
            ham = F.expr("bit_count(_fa ^ _fb)")
            # no broadcast hint on cands: the candidate set is unbounded
            # (a dup-heavy batch can explode collisions past the broadcast
            # limit) — let AQE pick broadcast only when it measures small
            verified = (cands.join(fa, "id_a").join(fb, "id_b")
                        .where(ham <= hamming_threshold)
                        .select("id_a", "id_b",
                                ham.cast("long").alias("hamming"))
                        .withColumn("batch_id", F.lit(batch_id)))
            for df, d in ((verified, pairs_dir), (fps, fps_dir),
                          (new_keys, idx_dir)):
                (df.write.mode("overwrite").partitionBy("batch_id")
                   .option("partitionOverwriteMode", "dynamic").parquet(d))
        finally:
            fps.unpersist()
            new_keys.unpersist()

    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", os.path.join(state_dir, "checkpoint")))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def incremental_substring_stream(spark: SparkSession, input_dir: str,
                                 state_dir: str, window: int = 50,
                                 guarantee: int = 10, min_shared: int = 2,
                                 schema: str = "doc_id long, text string",
                                 available_now: bool = True,
                                 max_files_per_trigger: int = 16,
                                 compact_every: int | None = 64):
    """Exact-substring twin of incremental_dedup_stream: doc pairs sharing
    >= min_shared winnowed window fingerprints (verbatim spans), found
    incrementally.  A pair's later-arriving doc carries its COMPLETE
    fingerprint set in its own batch, so joining the batch's fingerprints
    against the persisted index (plus itself) yields the pair's full
    shared-fp count the moment both members exist — each pair is emitted
    exactly once, in max(batch_a, batch_b).

    State layout under `state_dir`:
      checkpoint/   Spark streaming checkpoint
      fp_index/     accumulated DISTINCT (doc_id, fp) rows
      pairs/        (id_a, id_b, n_shared_fps) with batch_id lineage

    Hot fingerprints (shared boilerplate spans): compose with the stateful
    exact pass upstream (streaming/ingest.py) to collapse identical pages
    first, mirroring the batch pipeline's ordering.
    """
    from distributed_lsh_spark.operators.substring import window_fingerprints

    idx_dir = os.path.join(state_dir, "fp_index")
    pairs_dir = os.path.join(state_dir, "pairs")

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", str(max_files_per_trigger))
              .parquet(input_dir))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_batch_index(spark, idx_dir, batch_id)
        new_fp = (window_fingerprints(batch_df.select("doc_id", "text"),
                                      window=window, guarantee=guarantee)
                  .select("doc_id", "fp").dropDuplicates()
                  .withColumn("batch_id", F.lit(batch_id)))
        new_fp.persist()
        try:
            if has_band_history(spark, idx_dir):
                old_fp = spark.read.parquet(idx_dir) \
                    .where(F.col("batch_id") < batch_id)
                cross = (new_fp.alias("a").join(old_fp.alias("b"), "fp")
                         .select(F.least("a.doc_id", "b.doc_id").alias("id_a"),
                                 F.greatest("a.doc_id", "b.doc_id").alias("id_b"),
                                 "fp"))
            else:
                cross = spark.createDataFrame([], "id_a long, id_b long, fp long")
            a, b = new_fp.alias("a"), new_fp.alias("b")
            within = (a.join(b, "fp")
                      .where(F.col("a.doc_id") < F.col("b.doc_id"))
                      .select(F.col("a.doc_id").alias("id_a"),
                              F.col("b.doc_id").alias("id_b"), "fp"))
            pairs = (cross.unionByName(within)
                     # guard re-ingested doc_ids: without it a doc_id seen
                     # again in a later batch self-pairs via least/greatest
                     .where(F.col("id_a") != F.col("id_b"))
                     # per-(pair, fp) dedup: the count stays exact even if
                     # the index briefly holds duplicate rows (the
                     # compaction crash window)
                     .dropDuplicates(["id_a", "id_b", "fp"])
                     .groupBy("id_a", "id_b")
                     .agg(F.count("*").alias("n_shared_fps"))
                     .where(F.col("n_shared_fps") >= min_shared)
                     .withColumn("batch_id", F.lit(batch_id)))
            for df, d in ((pairs, pairs_dir), (new_fp, idx_dir)):
                (df.write.mode("overwrite").partitionBy("batch_id")
                   .option("partitionOverwriteMode", "dynamic").parquet(d))
        finally:
            new_fp.unpersist()

    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", os.path.join(state_dir, "checkpoint")))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def incremental_line_dedup_stream(spark: SparkSession, input_dir: str,
                                  state_dir: str,
                                  schema: str = "doc_id long, text string",
                                  available_now: bool = True,
                                  max_files_per_trigger: int = 16,
                                  compact_every: int | None = 64):
    """Streaming twin of entry_queries.q_line_dedup (C4-style GLOBAL
    exact line dedup): 8-token lines come from functions.text.doc_lines —
    the SAME chunker as the batch query — keyed by xxhash64(line).  An
    occurrence (doc_id, pos) is emitted to `removed/` exactly once, in
    the batch where its line's GLOBAL occurrence count first reaches 2.
    That includes RETROACTIVE occurrences: a line seen once in batch 3
    becomes a duplicate when batch 7 repeats it, and batch 3's occurrence
    is emitted in batch 7 (global line dedup is inherently retroactive —
    the batch semantics remove ALL occurrences of a duplicated line).
    After any batch prefix, removed/ equals the batch removal set over
    the ingested corpus (parity + restart pinned in tests).

    State layout under `state_dir`:
      checkpoint/   Spark streaming checkpoint
      line_index/   accumulated (doc_id, pos, lk) occurrences
      removed/      removed occurrences, with batch_id lineage

    Per-batch cost: O(batch lines + index occurrences of lks present in
    the batch) — the history probe joins on the 8-byte lk only; boilerplate
    lks (the hot keys) leave the index via upstream exact dedup of the
    identical pages that carry them, the same composition seam as the
    other twins.  doc_ids are assumed unique across batches (upstream
    stateful exact pass / ingest dedup).  Index rows duplicated by a
    compaction crash window are tolerated: occurrence counts use distinct
    (doc_id, pos)."""
    from distributed_lsh_spark.functions.text import doc_lines

    idx_dir = os.path.join(state_dir, "line_index")
    rm_dir = os.path.join(state_dir, "removed")

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", str(max_files_per_trigger))
              .parquet(input_dir))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_batch_index(spark, idx_dir, batch_id)
        new = (doc_lines(batch_df.select("doc_id", "text"))
               .select("doc_id", "pos", "lk")
               .withColumn("batch_id", F.lit(batch_id)))
        new.persist()
        old = None
        try:
            bc = new.groupBy("lk").agg(F.count("*").alias("bc"))
            if has_band_history(spark, idx_dir):
                old = (spark.read.parquet(idx_dir)
                       .where(F.col("batch_id") < batch_id)
                       .join(bc.select("lk"), "lk")
                       .dropDuplicates(["doc_id", "pos"]))
                old.persist()
                oc = old.groupBy("lk").agg(F.count("*").alias("oc"))
            else:
                oc = spark.createDataFrame([], "lk long, oc long")
            tot = (bc.join(oc, "lk", "left")
                   .fillna(0, subset=["oc"])
                   .where(F.col("bc") + F.col("oc") >= 2))
            removed = (new.drop("batch_id")
                       .join(tot.select("lk"), "lk"))
            if old is not None:
                # a lk with 0 < oc < 2 crossed the duplicate threshold in
                # THIS batch: its single pre-existing occurrence emits now;
                # oc >= 2 lks emitted their old occurrences in past batches
                retro = (old.select("doc_id", "pos", "lk")
                         .join(tot.where((F.col("oc") > 0) & (F.col("oc") < 2))
                                  .select("lk"), "lk"))
                removed = removed.unionByName(retro)
            removed = removed.withColumn("batch_id", F.lit(batch_id))
            for df, d in ((removed, rm_dir), (new, idx_dir)):
                (df.write.mode("overwrite").partitionBy("batch_id")
                   .option("partitionOverwriteMode", "dynamic").parquet(d))
        finally:
            new.unpersist()
            if old is not None:
                old.unpersist()

    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", os.path.join(state_dir, "checkpoint")))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def incremental_line_dedup_keep_first_stream(
        spark: SparkSession, input_dir: str, state_dir: str,
        schema: str = "doc_id long, text string",
        available_now: bool = True,
        max_files_per_trigger: int = 16,
        compact_every: int | None = 64):
    """Streaming twin of entry_queries.q_line_dedup_keep_first (Dolma
    keep-first line dedup).  Unlike the C4 twin above, keep-first is
    MONOTONE in the ingested prefix — the first occurrence of a line is
    final the moment it arrives — so every removal is emitted exactly
    once in the occurrence's OWN arrival batch and no retroactive rows
    exist: a verdict never changes later.

    Semantics: an occurrence (doc_id, pos) is removed iff its line was
    seen in an EARLIER batch, or earlier within the same batch (ties by
    min (doc_id, pos) — the batch query's order).  Under monotone ingest
    (doc_ids non-decreasing across batches — the natural crawl-log
    order) the cumulative removal set equals the batch query's global
    min-(doc_id, pos) rule exactly; under arbitrary interleaving it is
    the first-ARRIVAL rule (both pinned in tests).

    State layout under `state_dir`:
      checkpoint/   Spark streaming checkpoint
      line_index/   ONE row per distinct line key ever seen (lk) —
                    strictly smaller than the C4 twin's occurrence index
      removed/      removed occurrences, with batch_id lineage

    Per-batch cost: O(batch lines) + one probe join on 8-byte lks,
    semi-restricted to the batch's keys.  Index rows duplicated by a
    compaction crash window are tolerated: the presence probe
    dropDuplicates, and the index append anti-joins against history so
    duplicates never grow."""
    from distributed_lsh_spark.functions.text import doc_lines

    idx_dir = os.path.join(state_dir, "line_index")
    rm_dir = os.path.join(state_dir, "removed")

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", str(max_files_per_trigger))
              .parquet(input_dir))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_batch_index(spark, idx_dir, batch_id)
        new = (doc_lines(batch_df.select("doc_id", "text"))
               .select("doc_id", "pos", "lk"))
        new.persist()
        seen = None
        try:
            if has_band_history(spark, idx_dir):
                seen = (spark.read.parquet(idx_dir)
                        .where(F.col("batch_id") < batch_id)
                        .join(new.select("lk").dropDuplicates(),
                              "lk", "left_semi")
                        .select("lk").dropDuplicates())
            else:
                seen = spark.createDataFrame([], "lk long")
            seen.persist()
            firsts = (new.groupBy("lk")
                      .agg(F.min(F.struct("doc_id", "pos"))
                           .alias("first_occ")))
            removed = (new.join(firsts, "lk")
                       .join(seen.withColumn("_seen", F.lit(1)), "lk", "left")
                       .where(F.col("_seen").isNotNull() |
                              (F.struct("doc_id", "pos") !=
                               F.col("first_occ")))
                       .select("doc_id", "pos", "lk")
                       .withColumn("batch_id", F.lit(batch_id)))
            new_lks = (new.select("lk").dropDuplicates()
                       .join(seen, "lk", "left_anti")
                       .withColumn("batch_id", F.lit(batch_id)))
            for df, d in ((removed, rm_dir), (new_lks, idx_dir)):
                (df.write.mode("overwrite").partitionBy("batch_id")
                   .option("partitionOverwriteMode", "dynamic").parquet(d))
        finally:
            new.unpersist()
            if seen is not None:
                seen.unpersist()

    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation",
                      os.path.join(state_dir, "checkpoint")))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def incremental_bloom_line_stream(spark: SparkSession, input_dir: str,
                                  state_dir: str, m: int | None = None,
                                  k: int | None = None,
                                  schema: str = "doc_id long, text string",
                                  available_now: bool = True,
                                  max_files_per_trigger: int = 16,
                                  compact_every: int | None = 64):
    """Streaming twin of entry_queries.q_bloom_line_dedup (Dolma-style
    Bloom line dedup): each arriving occurrence is flagged iff all k of
    its bit positions were set by an earlier occurrence — earlier batch,
    or smaller (doc_id, pos) within the same batch.  Bloom membership is
    MONOTONE (bits only accumulate), so a verdict is final on arrival:
    every occurrence emits exactly once in its own batch, no
    retractions, no retroactive rows.  Under monotone ingest (doc_ids
    non-decreasing across batches) the cumulative flag set equals
    q_bloom_line_dedup's global (doc_id, pos)-ordered replay exactly;
    under arbitrary interleaving it is the first-ARRIVAL Bloom (both
    pinned in tests).

    This twin is WHY pipelines dedup streams with Bloom filters: state
    is the set of set bit positions — AT MOST m rows (8-byte bpos keys)
    no matter how many documents ever arrive, strictly smaller than
    every exact twin's unbounded line index (the bound is pinned in
    tests).  Per-batch cost: O(batch lines x k) explode + one probe
    join against the <= m-row history.

    State layout under `state_dir`:
      checkpoint/   Spark streaming checkpoint
      positions/    distinct set bit positions (bpos), <= m rows total
      flags/        per-occurrence verdicts, with batch_id lineage

    Compaction crash windows leave duplicate bpos rows — harmless (set
    semantics: the probe is a left join on distinct history, and the
    next compaction's dropDuplicates self-heals)."""
    from distributed_lsh_spark.functions.text import doc_lines
    from distributed_lsh_spark.operators.bloom_dedup import (
        BLOOM_K, BLOOM_M, RANK_POS_SPACE, occurrence_positions,
    )

    if m is None:
        m = BLOOM_M
    if k is None:
        k = BLOOM_K
    pos_dir = os.path.join(state_dir, "positions")
    fl_dir = os.path.join(state_dir, "flags")

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", str(max_files_per_trigger))
              .parquet(input_dir))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_batch_index(spark, pos_dir, batch_id)
        lines = (doc_lines(batch_df.select("doc_id", "text"))
                 .withColumn("rk", F.col("doc_id") * F.lit(RANK_POS_SPACE)
                             + F.col("pos")))
        lines.persist()
        posn = occurrence_positions(lines, m, k, key_col="line",
                                    rank_col="rk")
        posn.persist()
        try:
            if has_band_history(spark, pos_dir):
                hist = (spark.read.parquet(pos_dir)
                        .where(F.col("batch_id") < batch_id)
                        .select("bpos").dropDuplicates())
            else:
                hist = spark.createDataFrame([], "bpos long")
            setters = posn.groupBy("bpos").agg(F.min("rk").alias("first_set"))
            early = (posn.join(hist.withColumn("_h", F.lit(1)), "bpos", "left")
                     .join(setters, "bpos")
                     .select("rk", (F.col("_h").isNotNull() |
                                    (F.col("first_set") < F.col("rk")))
                             .cast("int").alias("_e")))
            flags = (early.groupBy("rk")
                     .agg((F.min("_e") == 1).alias("flagged")))
            out = (lines.join(flags, "rk")
                   .select("doc_id", "pos", "flagged")
                   .withColumn("batch_id", F.lit(batch_id)))
            new_pos = (posn.select("bpos").dropDuplicates()
                       .join(hist, "bpos", "left_anti")
                       .withColumn("batch_id", F.lit(batch_id)))
            for df, d in ((out, fl_dir), (new_pos, pos_dir)):
                (df.write.mode("overwrite").partitionBy("batch_id")
                   .option("partitionOverwriteMode", "dynamic").parquet(d))
        finally:
            lines.unpersist()
            posn.unpersist()

    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation",
                      os.path.join(state_dir, "checkpoint")))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def incremental_novelty_stream(spark: SparkSession, input_dir: str,
                               state_dir: str, n: int = 5,
                               schema: str = "doc_id long, text string",
                               available_now: bool = True,
                               max_files_per_trigger: int = 16,
                               compact_every: int | None = 64):
    """Streaming twin of entry_queries.q_ngram_novelty (per-doc n-gram
    novelty).  Novelty is MONOTONE in the ingested prefix — a gram's
    first claimant is final the moment it arrives — so every doc's score
    is emitted exactly once in its OWN arrival batch and never revised:
    a doc's novelty counts the grams seen neither in any earlier batch
    nor claimed by a lower-doc_id doc in the same batch.

    Under monotone ingest (doc_ids non-decreasing across batches — the
    crawl-log order) the cumulative output equals the batch query's
    global min-doc_id rule exactly; under arbitrary interleaving it is
    the first-ARRIVAL rule (the keep-first line twin's contract).

    State layout under `state_dir`:
      checkpoint/   Spark streaming checkpoint
      gram_index/   ONE row per distinct gram hash ever seen (g)
      novelty/      per-doc (n_grams, n_novel, novelty), batch lineage

    Per-batch cost: O(batch tokens) for the fused Arrow gram scan + one
    probe join on 8-byte keys semi-restricted to the batch's grams —
    never O(corpus).  Compaction crash windows tolerated as in the line
    twin (probe dropDuplicates; index append anti-joins history)."""
    from distributed_lsh_spark.operators.decontam import doc_ngram_hashes

    idx_dir = os.path.join(state_dir, "gram_index")
    out_dir = os.path.join(state_dir, "novelty")

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", str(max_files_per_trigger))
              .parquet(input_dir))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_batch_index(spark, idx_dir, batch_id)
        g = doc_ngram_hashes(batch_df.select("doc_id", "text"), n)
        g.persist()
        seen = None
        try:
            if has_band_history(spark, idx_dir):
                seen = (spark.read.parquet(idx_dir)
                        .where(F.col("batch_id") < batch_id)
                        .join(g.select("g").dropDuplicates(),
                              "g", "left_semi")
                        .select("g").dropDuplicates())
            else:
                seen = spark.createDataFrame([], "g long")
            seen.persist()
            firsts = g.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
            novel = (F.col("_seen").isNull() &
                     (F.col("first_doc") == F.col("doc_id"))).cast("int")
            per = (g.join(firsts, "g")
                    .join(seen.withColumn("_seen", F.lit(1)), "g", "left")
                    .groupBy("doc_id")
                    .agg(F.count(F.lit(1)).alias("n_grams"),
                         F.sum(novel).cast("bigint").alias("n_novel"))
                    .select("doc_id", "n_grams", "n_novel",
                            F.round(F.col("n_novel") / F.col("n_grams"), 6)
                             .alias("novelty"))
                    .withColumn("batch_id", F.lit(batch_id)))
            new_gs = (g.select("g").dropDuplicates()
                       .join(seen, "g", "left_anti")
                       .withColumn("batch_id", F.lit(batch_id)))
            for df, d in ((per, out_dir), (new_gs, idx_dir)):
                (df.write.mode("overwrite").partitionBy("batch_id")
                   .option("partitionOverwriteMode", "dynamic").parquet(d))
        finally:
            g.unpersist()
            if seen is not None:
                seen.unpersist()

    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation",
                      os.path.join(state_dir, "checkpoint")))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def incremental_decontam_stream(spark: SparkSession, input_dir: str,
                                state_dir: str, eval_texts: DataFrame,
                                n: int | None = None,
                                threshold: float = 0.0,
                                schema: str = "doc_id long, text string",
                                available_now: bool = True,
                                max_files_per_trigger: int = 16):
    """Streaming twin of operators/decontam.decontaminate: drop incoming
    docs whose n-gram hashes overlap a FIXED eval suite.

    Unlike the dedup twins, the verdict is DOC-LOCAL — it depends only
    on the doc itself and the (fixed) eval inventory, never on history —
    so the stream keeps NO growing index: the eval inventory is computed
    ONCE at stream construction, persisted, and broadcast into every
    batch's probe join.  Every verdict is final in the doc's own arrival
    batch (trivially monotone, exactly-once by batch_id partitioning),
    and the cumulative removed set equals the batch operator's verdicts
    on the union of all batches — for ANY threshold, because the
    threshold rule is a per-doc ratio.

    State layout under `state_dir`:
      checkpoint/   Spark streaming checkpoint
      removed/      contaminated doc_ids, with batch_id lineage

    Per-batch cost: one fused Arrow n-gram pass over the batch + a
    broadcast semi/anti probe — O(batch), never O(history)."""
    from distributed_lsh_spark.operators.decontam import (
        DEFAULT_NGRAM, contaminated_ids, eval_ngram_inventory)

    if n is None:
        n = DEFAULT_NGRAM
    rm_dir = os.path.join(state_dir, "removed")
    inv = eval_ngram_inventory(eval_texts, n).persist()
    inv.count()  # materialize once, before the first batch

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", str(max_files_per_trigger))
              .parquet(input_dir))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        bad = (contaminated_ids(batch_df.select("doc_id", "text"), inv,
                                n, threshold)
               .withColumn("batch_id", F.lit(batch_id)))
        (bad.write.mode("overwrite").partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic").parquet(rm_dir))

    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation",
                      os.path.join(state_dir, "checkpoint")))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def incremental_containment_stream(spark: SparkSession, input_dir: str,
                                   state_dir: str, tau: float = 0.8,
                                   schema: str = "doc_id long, text string",
                                   available_now: bool = True,
                                   max_files_per_trigger: int = 16,
                                   compact_every: int | None = 64):
    """Streaming twin of operators/containment.containment_pairs
    (asymmetric doc-in-doc near-dups, |n| / min(|A|, |B|) >= tau): the
    sixth dedup family's incremental counterpart (minhash / simhash /
    substring / exact / line / containment).

    A doc's shingle set is COMPLETE in its arrival batch, so joining the
    batch's distinct (doc_id, g) rows against the persisted index (plus
    the batch itself) yields each pair's full intersection the moment
    both members exist — a pair is emitted exactly once, in
    max(batch_a, batch_b), with its exact containment/jaccard scores
    (the substring twin's emission argument).  Index rows carry the
    owning doc's set size, so no separate sizes table or join is needed.

    State layout under `state_dir`:
      checkpoint/      Spark streaming checkpoint
      shingle_index/   accumulated DISTINCT (doc_id, g, n_sh) rows
      pairs/           (id_a, id_b, containment, jaccard, contained_id)
                       with batch_id lineage

    The batch operator's df_cap guards the one-shot self-join; here the
    per-batch probe joins only the BATCH's shingles against history, and
    corpus-wide boilerplate shingles (the hot keys) leave the stream via
    the upstream stateful exact pass + line dedup — the same composition
    seam as the other twins.  doc_ids are assumed unique across batches;
    compaction-crash duplicate index rows are tolerated (intersections
    count DISTINCT g per pair).  The signature UDF runs with a 1-perm
    OPH config: shingles are scheme-independent and the minhash column
    is discarded, so the Arrow pass costs tokenize+shingle only."""
    import dataclasses

    from distributed_lsh_spark.conf import DEFAULT_CONFIG
    from distributed_lsh_spark.functions.signature import with_signatures

    shingle_cfg = dataclasses.replace(DEFAULT_CONFIG, minhash_scheme="oph",
                                      num_perm=1, num_bands=1,
                                      rows_per_band=1)
    idx_dir = os.path.join(state_dir, "shingle_index")
    pairs_dir = os.path.join(state_dir, "pairs")

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", str(max_files_per_trigger))
              .parquet(input_dir))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_batch_index(spark, idx_dir, batch_id)
        new = (with_signatures(batch_df.select("doc_id", "text"), shingle_cfg)
               .select("doc_id", F.size("shingles").alias("n_sh"),
                       F.explode("shingles").alias("g"))
               .withColumn("batch_id", F.lit(batch_id)))
        new.persist()
        try:
            occ = new.select("doc_id", "n_sh", "g")
            lo = F.col("a.doc_id") < F.col("b.doc_id")

            def _pair_rows(joined: DataFrame) -> DataFrame:
                return (joined
                        .where(F.col("a.doc_id") != F.col("b.doc_id"))
                        .select(F.least("a.doc_id", "b.doc_id").alias("id_a"),
                                F.greatest("a.doc_id", "b.doc_id").alias("id_b"),
                                F.when(lo, F.col("a.n_sh"))
                                 .otherwise(F.col("b.n_sh")).alias("n_a"),
                                F.when(lo, F.col("b.n_sh"))
                                 .otherwise(F.col("a.n_sh")).alias("n_b"),
                                F.col("g")))

            a = occ.alias("a")
            within = _pair_rows(a.join(occ.alias("b"), "g")
                                .where(F.col("a.doc_id") < F.col("b.doc_id")))
            if has_band_history(spark, idx_dir):
                b = (spark.read.parquet(idx_dir)
                     .where(F.col("batch_id") < batch_id)
                     .select("doc_id", "n_sh", "g")).alias("b")
                sides = _pair_rows(a.join(b, "g")).unionByName(within)
            else:
                sides = within
            # no broadcast hint: a dup-heavy batch makes this unbounded —
            # AQE broadcasts only when it measures small (simhash-twin rule)
            pairs = (sides.groupBy("id_a", "id_b", "n_a", "n_b")
                     .agg(F.count_distinct("g").alias("_c"))
                     .withColumn("containment",
                                 F.col("_c") / F.least("n_a", "n_b"))
                     .withColumn("jaccard",
                                 F.col("_c") / (F.col("n_a") + F.col("n_b")
                                                - F.col("_c")))
                     .withColumn("contained_id",
                                 F.when(F.col("n_a") <= F.col("n_b"),
                                        F.col("id_a")).otherwise(F.col("id_b")))
                     .where(F.col("containment") >= tau)
                     .select("id_a", "id_b", "containment", "jaccard",
                             "contained_id")
                     .withColumn("batch_id", F.lit(batch_id)))
            for df, d in ((pairs, pairs_dir), (new, idx_dir)):
                (df.write.mode("overwrite").partitionBy("batch_id")
                   .option("partitionOverwriteMode", "dynamic").parquet(d))
        finally:
            new.unpersist()

    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", os.path.join(state_dir, "checkpoint")))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def incremental_host_boilerplate_stream(spark: SparkSession, input_dir: str,
                                        state_dir: str,
                                        tau_permille: int = 300,
                                        min_docs: int = 2,
                                        host_col: str = "host",
                                        schema: str = ("doc_id long, host long, "
                                                       "text string"),
                                        available_now: bool = True,
                                        max_files_per_trigger: int = 16,
                                        compact_every: int | None = 64):
    """Streaming counterpart of the host-boilerplate rule
    (entry_queries.q_host_boilerplate): a line is boilerplate for a host
    while it occurs in >= min_docs and >= tau_permille/1000 of that
    host's ingested documents.

    Unlike every other twin, this predicate is NON-MONOTONE in the
    ingested prefix — a host's doc count grows faster than a line's, so
    a verdict can flip OFF again — which makes exactly-once occurrence
    emission impossible without retractions.  The stream therefore
    maintains the VERDICT state and emits a verdict CHANGELOG instead:

      line_index/   (doc_id, host, pos, lk) occurrences, batch_id lineage
      host_docs/    (doc_id, host) one row per ingested doc (counts
                    zero-line docs, exactly like the batch rule)
      verdicts/     CURRENT boilerplate set (host, lk), partitioned by
                    host — each batch atomically rewrites ONLY the host
                    partitions present in that batch (every affected
                    host writes at least a sentinel row so emptied
                    verdict sets still overwrite; read via
                    read_host_verdicts)
      changelog/    (host, lk, became boolean, batch_id): became=true
                    when a line crosses the threshold, false when growth
                    dilutes it back under — consumers fold this, or join
                    verdicts x line_index for the current removal set

    After any batch, verdicts/ equals the batch rule over the ingested
    prefix (parity pinned in tests, including a became=false flip).
    Per-batch cost: O(batch + index rows OF THE BATCH'S HOSTS) — only
    hosts whose doc count changed can change a verdict, so untouched
    hosts are never re-evaluated.  Crash/replay safe: everything is
    recomputed from the idempotently-written index, verdict partitions
    commit atomically per host, and the changelog is batch-partitioned.

    doc_ids are assumed unique across batches (upstream stateful exact
    pass), matching the other twins."""
    from distributed_lsh_spark.functions.text import doc_lines

    idx_dir = os.path.join(state_dir, "line_index")
    hd_dir = os.path.join(state_dir, "host_docs")
    v_dir = os.path.join(state_dir, "verdicts")
    cl_dir = os.path.join(state_dir, "changelog")

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", str(max_files_per_trigger))
              .parquet(input_dir))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_batch_index(spark, idx_dir, batch_id)
            compact_batch_index(spark, hd_dir, batch_id)
        batch_df = batch_df.withColumnRenamed(host_col, "host")
        new_docs = (batch_df.select("doc_id", "host")
                    .withColumn("batch_id", F.lit(batch_id)))
        new_lines = (doc_lines(batch_df.select("doc_id", "text"))
                     .join(batch_df.select("doc_id", "host"), "doc_id")
                     .select("doc_id", "host", "pos", "lk")
                     .withColumn("batch_id", F.lit(batch_id)))
        hosts = batch_df.select("host").distinct()
        hosts.persist()
        all_lines = all_docs = None

        def _verdicts(lines: DataFrame, docs: DataFrame) -> DataFrame:
            hn = (docs.dropDuplicates(["doc_id"])
                  .groupBy("host").agg(F.count("*").alias("_hn")))
            return (lines.dropDuplicates(["doc_id", "pos"])
                    .groupBy("host", "lk")
                    .agg(F.count_distinct("doc_id").alias("_ln"))
                    .join(hn, "host")
                    .where((F.col("_ln") >= min_docs)
                           & (F.col("_ln") * 1000
                              >= tau_permille * F.col("_hn")))
                    .select("host", "lk"))

        try:
            # index writes FIRST: a replayed batch recomputes everything
            # below from the (idempotently overwritten) index, so no
            # crash order can lose or corrupt state
            for df, d in ((new_lines, idx_dir), (new_docs, hd_dir)):
                (df.write.mode("overwrite").partitionBy("batch_id")
                   .option("partitionOverwriteMode", "dynamic").parquet(d))
            all_lines = (spark.read.parquet(idx_dir)
                         .join(F.broadcast(hosts), "host"))
            all_docs = (spark.read.parquet(hd_dir)
                        .join(F.broadcast(hosts), "host"))
            all_lines.persist()
            all_docs.persist()
            new_v = _verdicts(all_lines, all_docs)
            # the pre-batch verdicts are RECOMPUTED from the index
            # (batch_id != current excludes exactly this batch's rows; a
            # replay sees the same split) instead of read from verdicts/
            # — a crash between the changelog and verdict writes would
            # otherwise make the replayed diff depend on how many host
            # partitions the first attempt got through
            old_v = _verdicts(
                all_lines.where(F.col("batch_id") != batch_id),
                all_docs.where(F.col("batch_id") != batch_id))
            changes = (new_v.join(old_v, ["host", "lk"], "left_anti")
                       .withColumn("became", F.lit(True))
                       .unionByName(
                           old_v.join(new_v, ["host", "lk"], "left_anti")
                                .withColumn("became", F.lit(False)))
                       .withColumn("batch_id", F.lit(batch_id)))
            (changes.write.mode("overwrite").partitionBy("batch_id")
             .option("partitionOverwriteMode", "dynamic").parquet(cl_dir))
            # replace the affected hosts' verdict partitions atomically.
            # Dynamic overwrite only touches partitions PRESENT in the
            # written frame, so every affected host writes at least a
            # sentinel (lk NULL) row — otherwise a host whose verdict set
            # became EMPTY would keep its stale partition forever.
            # Readers filter lk IS NOT NULL (see read_host_verdicts).
            (hosts.join(new_v, "host", "left")
             .repartition("host")
             .write.mode("overwrite").partitionBy("host")
             .option("partitionOverwriteMode", "dynamic").parquet(v_dir))
        finally:
            hosts.unpersist()
            for f in (all_lines, all_docs):
                if f is not None:
                    f.unpersist()

    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", os.path.join(state_dir, "checkpoint")))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_host_verdicts(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current (host, lk) boilerplate set maintained by
    incremental_host_boilerplate_stream — drops the per-host sentinel
    rows that keep emptied hosts' partitions overwritten."""
    return (spark.read.parquet(os.path.join(state_dir, "verdicts"))
            .where(F.col("lk").isNotNull())
            .select("host", "lk"))


def streaming_hourly_counts(spark: SparkSession, input_dir: str,
                            schema: str = ("event_id long, ts timestamp, user_id long, "
                                           "event_type string, value double"),
                            watermark: str = "2 hours"):
    """Watermarked tumbling-window aggregation (late data dropped after
    `watermark`): the streaming twin of entry_queries.q_events_hourly.
    Returns the unstarted writer so callers pick sink + trigger."""
    ev = (spark.readStream.schema(schema).parquet(input_dir)
          .withWatermark("ts", watermark))
    return (ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
              .agg(F.count("*").alias("n"),
                   F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_cents"))
              .select(F.col("win.start").alias("hour_ts"), "event_type", "n",
                      "sum_value_cents"))


def incremental_vocab_stream(spark: SparkSession, input_dir: str,
                             state_dir: str, keys: tuple = ("source",),
                             schema: str = ("doc_id long, text string, "
                                            "source string"),
                             available_now: bool = True,
                             max_files_per_trigger: int = 16,
                             compact_every: int | None = 64):
    """Streaming twin of entry_queries.q_vocab_hll: a running per-slice
    vocabulary-size HLL sketch maintained by register MERGE — the
    mergeable-summary accumulation (`functions/sketch.py`: sketch union
    == sketch of union) that lets a long-running ingest keep a
    distinct-token census without ever re-reading history or shuffling
    a growing token set.

    Per batch: the batch's OWN register table (at most #slices x 256
    rows, one map-side-combining groupBy over batch tokens) is written
    as a `batch_id=` partition of `registers/`; the running summary is
    re-derived by max-merging ALL standing register partitions — an
    O(#slices x 256 x #partitions) metadata-bounded read, never
    O(corpus) — and written as the batch's `vocab/` partition.

    Determinism/replay: register rows are a pure function of the
    batch's rows, the per-batch dynamic partition overwrite is
    idempotent, and max-merge is idempotent AND duplicate-tolerant, so
    a replayed batch (or the compaction crash window's duplicate rows
    — see compact_batch_index) reproduces the identical summary.  The
    summary after the final batch equals the batch query's estimate
    over the union of ingested data EXACTLY (register algebra has no
    order dependence), pinned by tests/test_streaming_vocab.py.

    State layout under `state_dir`:
      checkpoint/   Spark streaming checkpoint
      registers/    per-batch HLL register tables (mergeable)
      vocab/        per-batch running (keys..., hll_estimate, v_zero)
    """
    from distributed_lsh_spark.functions.sketch import (
        hll_registers, hll_summary,
    )

    reg_dir = os.path.join(state_dir, "registers")
    out_dir = os.path.join(state_dir, "vocab")
    key_cols = list(keys)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", str(max_files_per_trigger))
              .parquet(input_dir))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_batch_index(spark, reg_dir, batch_id)
        toks = (batch_df.select(*key_cols,
                                F.explode(F.split(F.regexp_replace(
                                    F.lower("text"), "[^a-z0-9]+", " "),
                                    " ")).alias("token"))
                .where(F.col("token") != ""))
        bregs = hll_registers(toks, key_cols, "token") \
            .withColumn("batch_id", F.lit(batch_id))
        (bregs.write.mode("overwrite").partitionBy("batch_id")
         .option("partitionOverwriteMode", "dynamic").parquet(reg_dir))
        merged = (spark.read.parquet(reg_dir)
                  .groupBy(*key_cols, "reg")
                  .agg(F.max("max_rho").alias("max_rho")))
        summ = hll_summary(merged, key_cols) \
            .withColumn("batch_id", F.lit(batch_id))
        (summ.write.mode("overwrite").partitionBy("batch_id")
         .option("partitionOverwriteMode", "dynamic").parquet(out_dir))

    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation",
                      os.path.join(state_dir, "checkpoint")))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def additive_consistent_view(spark: SparkSession, d: str,
                             exclude_batch: int | None = None):
    """Crash-consistent read of an ADDITIVE streaming state dir.

    Additive sketches (log-histograms, Count-Min cells) merge by SUM,
    which is neither idempotent nor duplicate-tolerant — the
    `compact_batch_index` crash window (merged partition written, stale
    deletes unfinished) would double-count, and its full-row dedup
    would WRONGLY collapse two batches that legitimately carry the same
    (keys, bin, cnt) row.  So additive dirs use a coverage rule on the
    partition ids instead: the merged partition's id `-b` asserts "this
    covers every batch < b"; a reader takes the NEWEST merged partition
    (largest covered b*) plus all non-negative partitions >= b*, and
    ignores everything else — stale positives (< b*) and older merged
    partitions are invisible even if their deletes never ran, so any
    crash point yields the same totals.

    Returns (df, stale) where df is the consistent view (None when the
    dir is empty/absent) and stale the [(batch_id, path)] partitions
    outside it (for the compactor to delete).  `exclude_batch` drops
    that batch id from the view — the compactor folds only batches
    committed BEFORE the current one."""
    fs, parts = _batch_partitions(spark, d)
    if exclude_batch is not None:
        parts = [(b, p) for b, p in parts if b != exclude_batch]
    if not parts:
        return None, []
    b_star = max((-b for b, _ in parts if b < 0), default=None)
    if b_star is None:
        sel = {b for b, _ in parts}
    else:
        sel = {-b_star} | {b for b, _ in parts if b >= b_star}
    df = (spark.read.parquet(d)
          .where(F.col("batch_id").isin([int(b) for b in sel])))
    stale = [(b, p) for b, p in parts if b not in sel]
    return df, stale


def compact_additive_index(spark: SparkSession, d: str,
                           current_batch_id: int, cnt_col: str = "cnt",
                           target_files: int = 8) -> bool:
    """Compaction for ADDITIVE state dirs: SUM the consistent view of
    every batch committed before `current_batch_id` into one fresh
    merged partition (id = -current_batch_id), then delete the folded
    and stale partitions.  Crash anywhere leaves a readable consistent
    view (see additive_consistent_view); a replayed compaction
    recomputes the identical merged partition (integer sums are
    order-free) and the overwrite is idempotent."""
    df, stale = additive_consistent_view(spark, d,
                                         exclude_batch=current_batch_id)
    if df is None:
        return False
    fs, parts = _batch_partitions(spark, d)
    # the view's own partitions, except a pre-existing merged partition
    # for THIS compaction (replay: it is being overwritten, not deleted)
    folded = [(b, p) for b, p in parts
              if b != -current_batch_id and b < current_batch_id
              and (b, p) not in stale]
    if len(folded) < 2 and not stale:
        return False   # nothing to merge and nothing stale to clean
    group_cols = [c for c in df.columns if c not in ("batch_id", cnt_col)]
    merged = (df.groupBy(*group_cols)
              .agg(F.sum(cnt_col).alias(cnt_col))
              .withColumn("batch_id", F.lit(-current_batch_id))
              .repartition(target_files)
              .localCheckpoint(eager=True))   # read fully before writing
    (merged.write.mode("overwrite").partitionBy("batch_id")
           .option("partitionOverwriteMode", "dynamic").parquet(d))
    for b, p in folded + stale:
        if b != -current_batch_id:
            fs.delete(p)
    return True


def incremental_length_stream(spark: SparkSession, input_dir: str,
                              state_dir: str, keys: tuple = ("source",),
                              schema: str = ("doc_id long, text string, "
                                             "source string"),
                              qs_pm: tuple = (500, 900, 990),
                              available_now: bool = True,
                              max_files_per_trigger: int = 16,
                              compact_every: int | None = 64):
    """Streaming twin of entry_queries.q_length_quantiles: a running
    per-slice doc-length quantile summary maintained by ADDING per-batch
    log-histograms (`functions/sketch.py`) — the additive counterpart of
    the vocab twin's max-merged registers, with the crash-window story
    handled by additive_consistent_view's coverage rule instead of
    merge idempotence.

    Per batch: the batch's OWN histogram (at most #slices x #bins rows,
    one map-side-combining groupBy) is written as a `batch_id=`
    partition of `hist/`; the running quantiles are re-derived by
    summing the consistent view — O(#slices x #bins x #partitions)
    metadata-bounded rows, never O(corpus) — and written as the batch's
    `quantiles/` partition.  Integer sums and the integer rank rule are
    order-free, so the summary after the final batch equals the batch
    query's histogram quantiles over the union of ingested data
    EXACTLY; replay overwrites the same partitions with identical
    bytes.  Pinned by tests/test_streaming_hist.py.

    State layout under `state_dir`:
      checkpoint/   Spark streaming checkpoint
      hist/         per-batch log-histograms (additive)
      quantiles/    per-batch running (keys..., q_pm, value)
    """
    from distributed_lsh_spark.functions.sketch import (
        histogram_quantiles, log_histogram,
    )
    from distributed_lsh_spark.functions.text import normalized_tokens

    hist_dir = os.path.join(state_dir, "hist")
    out_dir = os.path.join(state_dir, "quantiles")
    key_cols = list(keys)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", str(max_files_per_trigger))
              .parquet(input_dir))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_additive_index(spark, hist_dir, batch_id)
        lens = batch_df.select(
            *key_cols,
            F.size(normalized_tokens("text")).cast("long").alias("n_tok"))
        bhist = log_histogram(lens, key_cols, "n_tok") \
            .withColumn("batch_id", F.lit(batch_id))
        (bhist.write.mode("overwrite").partitionBy("batch_id")
         .option("partitionOverwriteMode", "dynamic").parquet(hist_dir))
        view, _ = additive_consistent_view(spark, hist_dir)
        merged = (view.groupBy(*key_cols, "bin_id")
                  .agg(F.sum("cnt").alias("cnt")))
        summ = histogram_quantiles(merged, key_cols, qs_pm) \
            .withColumn("batch_id", F.lit(batch_id))
        (summ.write.mode("overwrite").partitionBy("batch_id")
         .option("partitionOverwriteMode", "dynamic").parquet(out_dir))

    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation",
                      os.path.join(state_dir, "checkpoint")))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def incremental_cms_stream(spark: SparkSession, input_dir: str,
                           state_dir: str, probes: list[str],
                           schema: str = "doc_id long, text string",
                           available_now: bool = True,
                           max_files_per_trigger: int = 16,
                           compact_every: int | None = 64):
    """Streaming twin of entry_queries.q_cms_term_counts: a running
    Count-Min term census maintained by ADDING per-batch cell tables —
    the third sketch twin (HLL registers max-merge, histograms and CMS
    cells sum under additive_consistent_view's coverage rule).

    Per batch: the batch's OWN D x W cell table (one map-side-combining
    groupBy over batch tokens, at most 4096 rows) is written as a
    `batch_id=` partition of `cells/`; the running probe answers are
    re-derived by summing the consistent view and min-ing across the D
    rows — O(4096 x #partitions) metadata-bounded rows, never
    O(corpus) — and written as the batch's `counts/` partition.
    Integer sums are order-free, so the summary after the final batch
    equals the batch sketch over the union EXACTLY, and lookups never
    undercount the true running term frequency.  Pinned by
    tests/test_streaming_hist.py.

    State layout under `state_dir`:
      checkpoint/   Spark streaming checkpoint
      cells/        per-batch Count-Min cell tables (additive)
      counts/       per-batch running (term, cms_count)
    """
    from distributed_lsh_spark.functions.sketch import cms_cells, cms_lookup

    cell_dir = os.path.join(state_dir, "cells")
    out_dir = os.path.join(state_dir, "counts")
    probe_df = spark.createDataFrame([(t,) for t in probes],
                                     "token string").localCheckpoint()

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", str(max_files_per_trigger))
              .parquet(input_dir))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_additive_index(spark, cell_dir, batch_id)
        toks = (batch_df.select(F.explode(F.split(F.regexp_replace(
                    F.lower("text"), "[^a-z0-9]+", " "), " "))
                .alias("token"))
                .where(F.col("token") != ""))
        bcells = cms_cells(toks, [], "token") \
            .withColumn("batch_id", F.lit(batch_id))
        (bcells.write.mode("overwrite").partitionBy("batch_id")
         .option("partitionOverwriteMode", "dynamic").parquet(cell_dir))
        view, _ = additive_consistent_view(spark, cell_dir)
        merged = (view.groupBy("row", "cell")
                  .agg(F.sum("cnt").alias("cnt")))
        counts = (cms_lookup(merged, probe_df, "token")
                  .withColumnRenamed("token", "term")
                  .withColumn("batch_id", F.lit(batch_id)))
        (counts.write.mode("overwrite").partitionBy("batch_id")
         .option("partitionOverwriteMode", "dynamic").parquet(out_dir))

    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation",
                      os.path.join(state_dir, "checkpoint")))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def incremental_drift_stream(spark: SparkSession, input_dir: str,
                             state_dir: str,
                             schema: str = "doc_id long, text string",
                             available_now: bool = True,
                             max_files_per_trigger: int = 16,
                             compact_every: int | None = 64):
    """Streaming twin of entry_queries.q_corpus_drift: per-batch
    distribution-drift alarm — each arriving batch's unigram
    distribution is scored by Jensen-Shannon divergence against the
    ARCHIVE distribution (everything ingested before it), so a batch
    whose content mix shifts (new spam family, encoding regression,
    source change) spikes immediately.

    State is the archive's token count table under the additive
    coverage-rule machinery (`additive_consistent_view` /
    `compact_additive_index`): per batch one O(batch-vocab) partition
    write and one summed read of metadata-bounded partitions, never
    O(corpus) rows beyond the vocabulary.  The score row is emitted
    exactly once per batch (batch_id partition overwrite) and is
    replay-deterministic: the archive side always EXCLUDES the current
    batch id, so a replayed batch scores against the identical
    history whether or not its own partition already landed.
    Determinism follows q_corpus_drift's micro-nat discipline (ln
    inputs are exact int64 ratios; per-token pico-unit quantization
    before the exact integer sum).

    State layout under `state_dir`:
      checkpoint/   Spark streaming checkpoint
      counts/       per-batch (token, cnt) tables (additive)
      drift/        per-batch (jsd_micro, top_token, ...) score rows
    """
    cnt_dir = os.path.join(state_dir, "counts")
    out_dir = os.path.join(state_dir, "drift")

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", str(max_files_per_trigger))
              .parquet(input_dir))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_additive_index(spark, cnt_dir, batch_id)
        toks = (batch_df.select(F.explode(F.split(F.regexp_replace(
                    F.lower("text"), "[^a-z0-9]+", " "), " "))
                .alias("token"))
                .where(F.col("token") != ""))
        bc = (toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
              .withColumn("batch_id", F.lit(batch_id)))
        (bc.write.mode("overwrite").partitionBy("batch_id")
           .option("partitionOverwriteMode", "dynamic").parquet(cnt_dir))
        view, _ = additive_consistent_view(spark, cnt_dir,
                                           exclude_batch=batch_id)
        archive = (view.groupBy("token").agg(F.sum("cnt").alias("c_arc"))
                   if view is not None else None)
        if archive is None or archive.limit(1).count() == 0:
            row = spark.createDataFrame(
                [(None, None, None)],
                "jsd_micro long, top_token string, top_contrib_micro long")
        else:
            batch_counts = (spark.read.parquet(cnt_dir)
                            .where(F.col("batch_id") == batch_id)
                            .groupBy("token")
                            .agg(F.sum("cnt").alias("c_bat")))
            joined = (batch_counts.join(archive, "token", "full")
                      .select("token",
                              F.coalesce("c_bat", F.lit(0)).alias("c_bat"),
                              F.coalesce("c_arc", F.lit(0)).alias("c_arc"))
                      .localCheckpoint(eager=False))
            tot = joined.agg(F.sum("c_bat").alias("nb"),
                             F.sum("c_arc").alias("na"),
                             F.count(F.lit(1)).alias("v"))
            pb_ = (F.col("c_bat") + 1) / (F.col("nb") + F.col("v"))
            pa_ = (F.col("c_arc") + 1) / (F.col("na") + F.col("v"))
            m_ = (pa_ + pb_) / 2
            contrib = F.round((pa_ * F.log(pa_ / m_) +
                               pb_ * F.log(pb_ / m_))
                              * F.lit(0.5e12)).cast("bigint")
            scored = (joined.crossJoin(F.broadcast(tot))
                      .select("token", contrib.alias("c")))
            # ties on contribution break to the lexicographically LAST
            # token (struct max) — deterministic across partitionings
            row = (scored.agg(
                       F.sum("c").alias("jsd_micro"),
                       F.max(F.struct(F.col("c"), F.col("token")))
                        .alias("_m"))
                   .select("jsd_micro",
                           F.col("_m.token").alias("top_token"),
                           F.col("_m.c").alias("top_contrib_micro")))
        (row.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite").partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic").parquet(out_dir))

    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation",
                      os.path.join(state_dir, "checkpoint")))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def incremental_dsir_stream(spark: SparkSession, input_dir: str,
                            state_dir: str, target: DataFrame,
                            dim: int | None = None,
                            schema: str = "doc_id long, text string",
                            available_now: bool = True,
                            max_files_per_trigger: int = 16,
                            compact_every: int | None = 64):
    """Streaming twin of operators/dsir.dsir_weights: PREFIX-scored DSIR
    importance weights — each arriving doc is scored the moment it
    lands, against the fixed target multinomial and the raw multinomial
    of everything ingested UP TO AND INCLUDING its own batch.

    A batch job sees the whole raw corpus before scoring; a stream
    cannot, so (like the drift twin, and unlike the doc-local decontam
    twin) the emitted scores are prefix scores, not a replay of the
    batch query: they converge to the batch scores as the ingested
    prefix approaches the corpus, and the FINAL batch's docs score
    bit-identically to the batch operator run on the full union (its
    prefix IS the corpus) — pinned in tests/test_streaming_dsir.py.

    State: the raw side is the per-bucket gram-count table — at most
    `dim` rows per batch partition under the additive coverage-rule
    machinery (additive_consistent_view / compact_additive_index), so
    per-batch cost is one fused gram scan of the batch plus
    O(dim x #partitions) metadata-bounded count rows, never O(corpus).
    The target inventory is computed once and persisted.  Replay
    determinism: the batch's count partition is written (idempotent
    overwrite) BEFORE the view is read, so a replayed batch reads the
    identical prefix whether or not its first attempt's partition
    landed; score rows are exactly-once by batch_id partition.

    State layout under `state_dir`:
      checkpoint/   Spark streaming checkpoint
      counts/       per-batch (fid, cnt) raw bucket counts (additive)
      scores/       per-batch (doc_id, n_grams, logw_micro, avg_logw,
                    key_micro) rows
    """
    from distributed_lsh_spark.operators.dsir import (
        DSIR_DIM, _doc_features, log_ratios_from_counts, score_features,
    )

    if dim is None:
        dim = DSIR_DIM
    cnt_dir = os.path.join(state_dir, "counts")
    out_dir = os.path.join(state_dir, "scores")
    tgtc = (_doc_features(target, dim, "doc_id", "text")
            .groupBy("fid").agg(F.sum("m").alias("ct")).persist())
    tgtc.count()  # materialize once, before the first batch

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", str(max_files_per_trigger))
              .parquet(input_dir))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_additive_index(spark, cnt_dir, batch_id)
        feats = (_doc_features(batch_df.select("doc_id", "text"), dim,
                               "doc_id", "text")
                 .localCheckpoint(eager=True))  # reused by count + score
        bc = (feats.groupBy("fid").agg(F.sum("m").alias("cnt"))
              .withColumn("batch_id", F.lit(batch_id)))
        (bc.write.mode("overwrite").partitionBy("batch_id")
           .option("partitionOverwriteMode", "dynamic").parquet(cnt_dir))
        view, _ = additive_consistent_view(spark, cnt_dir)
        rawc = view.groupBy("fid").agg(F.sum("cnt").alias("cr"))
        lrs = log_ratios_from_counts(rawc, tgtc, dim)
        scores = (score_features(
                      feats, lrs,
                      batch_df.select("doc_id").distinct())
                  .withColumn("batch_id", F.lit(batch_id)))
        (scores.write.mode("overwrite").partitionBy("batch_id")
         .option("partitionOverwriteMode", "dynamic").parquet(out_dir))

    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation",
                      os.path.join(state_dir, "checkpoint")))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def current_sample(spark: SparkSession, state_dir: str):
    """Read the running per-stratum sample maintained by
    incremental_reservoir_stream: the NEWEST snapshot partition (older
    retained/stale partitions are replay fuel, not data)."""
    d = os.path.join(state_dir, "sample")
    _, parts = _batch_partitions(spark, d)
    if not parts:
        return None
    newest = max(b for b, _ in parts)
    return (spark.read.parquet(d)
            .where(F.col("batch_id") == newest).drop("batch_id"))


def incremental_reservoir_stream(spark: SparkSession, input_dir: str,
                                 state_dir: str, n: int,
                                 stratum_col: str = "lang",
                                 id_col: str = "doc_id",
                                 schema: str = ("doc_id long, text string, "
                                                "lang string"),
                                 available_now: bool = True,
                                 max_files_per_trigger: int = 16):
    """Streaming twin of operators/sampling.reservoir_sample: maintain,
    per stratum, the n rows with the smallest md5 ranks seen so far —
    true reservoir semantics over an unbounded stream, reproducible
    because rank is a pure function of the row id.

    The selection is a semilattice fold (top-n(A ∪ B) ==
    top-n(top-n(A) ∪ B)), so the running state IS the exact sample of
    the ingested union: per batch, the previous snapshot (<= n rows per
    stratum) unions with the batch's ranked rows and one bounded window
    re-selects — O(#strata x n + batch) rows, never O(history).  No
    hash-threshold prefilter is needed (the union frame is already
    bounded), so the stream tracks the TRUE per-stratum top-n, i.e. the
    batch operator's semantics minus its astronomically-unlikely
    prefilter-undershoot corner.

    Snapshot/replay protocol: each batch writes a full snapshot
    partition (batch_id = b) and then deletes every partition OLDER
    than its immediate predecessor — so at most two snapshots (plus
    crash leftovers) ever exist, a replayed batch b still finds its
    predecessor to fold over, and readers (current_sample) take the
    newest partition regardless of crash point.

    State layout under `state_dir`:
      checkpoint/   Spark streaming checkpoint
      sample/       snapshot partitions (stratum, id, _rk, sample_rank)
    """
    from pyspark.sql import Window

    from distributed_lsh_spark.operators.sampling import md5_rank

    smp_dir = os.path.join(state_dir, "sample")

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", str(max_files_per_trigger))
              .parquet(input_dir))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        fs, parts = _batch_partitions(spark, smp_dir)
        older = [b for b, _ in parts if b < batch_id]
        cand = batch_df.select(F.col(stratum_col).alias("stratum"),
                               F.col(id_col).alias("id"),
                               md5_rank(F.col(id_col)).alias("_rk"))
        if older:
            prev_id = max(older)
            prev = (spark.read.parquet(smp_dir)
                    .where(F.col("batch_id") == prev_id)
                    .select("stratum", "id", "_rk"))
            cand = prev.unionByName(cand)
        # a re-ingested id must not occupy two sample slots; the dedup
        # runs on the bounded union frame, never on history
        cand = cand.dropDuplicates(["stratum", "id"])
        w = Window.partitionBy("stratum").orderBy("_rk", "id")
        win = (cand.withColumn("sample_rank", F.row_number().over(w))
               .where(F.col("sample_rank") <= n)
               .withColumn("batch_id", F.lit(batch_id)))
        (win.write.mode("overwrite").partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic").parquet(smp_dir))
        # retain only the immediate predecessor (replay fuel); anything
        # older is unreachable by any replay of batch_id or later
        keep = {batch_id} | ({max(older)} if older else set())
        for b, p in parts:
            if b not in keep:
                fs.delete(p)

    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation",
                      os.path.join(state_dir, "checkpoint")))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
