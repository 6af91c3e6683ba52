"""Checkpoint/resume: every pipeline stage materializes to a table with a
manifest row; a rerun detects completed stages and skips them.

This generalizes the reference's persisted-intermediate-state machinery
(SURVEY.md C2/C3): NDLSH saves per-radius candidate and intermediate result
files and resumes the driver loop from them
(Naive-DLSH/.../lsh/searcher/LSHSearcher.java:212-252,340-352;
CheckCandidateReducer.java:55-59).  Here the unit is a stage DataFrame:

    manifest.json per stage: {run_id, stage, rows, n_partitions, status,
                              config_echo, fingerprint}

Backend: Iceberg when a catalog is configured (`df.writeTo(...)`), Parquet
directories otherwise (this sandbox has no Iceberg jars — the write path is
gated behind a capability probe, same API either way).  Atomicity: Parquet
stage dirs are written to `_tmp` then renamed; a stage is complete iff its
manifest exists AND status == "complete".

ALL filesystem I/O (manifest read/write, `_tmp`->`data` rename, existence
probes, recursive deletes) goes through `org.apache.hadoop.fs.FileSystem`,
resolved from the checkpoint root's own URI — so the resume contract holds
verbatim on file:, hdfs:, s3a:, ... .  An os.*-based manifest probe on a
cluster would silently look at the DRIVER'S local disk: `is_complete`
would answer "no" for a finished stage (wasteful rebuild) or read a stale
local manifest (wrong results).  For local paths Hadoop resolves to
RawLocalFileSystem, so there is one code path, not a local fast path plus
a remote one; manifest I/O is a handful of py4j calls per *stage*, never
per row.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


def _join(*parts: str) -> str:
    """URI-safe path join (os.path.join would mangle nothing on POSIX but
    this keeps intent explicit for `file:/...` / `s3a://...` roots)."""
    return "/".join(p.rstrip("/") for p in parts)


class _HadoopFS:
    """Minimal Hadoop FileSystem facade for small-file checkpoint metadata.

    Same layer `streaming/dedup_stream.has_band_history` uses; factored
    here so every CheckpointManager operation shares one resolved FS
    handle (scheme taken from the checkpoint root)."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self._jvm = spark._jvm
        self._Path = spark._jvm.org.apache.hadoop.fs.Path
        self._fs = self._Path(root).getFileSystem(
            spark._jsc.hadoopConfiguration())

    def exists(self, p: str) -> bool:
        return bool(self._fs.exists(self._Path(p)))

    def list_names(self, p: str) -> list[str]:
        """Child entry names of a directory ([] if it doesn't exist)."""
        if not self.exists(p):
            return []
        return [st.getPath().getName()
                for st in self._fs.listStatus(self._Path(p))]

    def mkdirs(self, p: str) -> None:
        self._fs.mkdirs(self._Path(p))

    def delete(self, p: str) -> None:
        self._fs.delete(self._Path(p), True)

    def rename(self, src: str, dst: str) -> None:
        """Atomic on HDFS / local FS; Hadoop signals failure by returning
        false (e.g. missing parent), which we surface instead of letting a
        half-written stage masquerade as complete."""
        if not self._fs.rename(self._Path(src), self._Path(dst)):
            raise IOError(f"rename failed: {src} -> {dst}")

    def read_text(self, p: str) -> str:
        stream = self._fs.open(self._Path(p))
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8")
        finally:
            stream.close()

    def write_text_atomic(self, p: str, text: str) -> None:
        """Write via `p + ".tmp"` then rename, so a reader never sees a
        torn manifest (the commit point of a stage).

        HDFS rename does NOT overwrite an existing destination (it returns
        false), so a pre-existing manifest — an Iceberg-backed stage being
        REBUILT under a new config keeps its old manifest.json in place,
        unlike the Parquet path which deletes the whole stage dir — is
        deleted first.  A crash inside the delete->rename window leaves NO
        manifest, which `is_complete` reads as incomplete -> rebuild: the
        fail-safe direction."""
        tmp = p + ".tmp"
        out = self._fs.create(self._Path(tmp), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        if self._fs.exists(self._Path(p)):
            self._fs.delete(self._Path(p), False)
        self.rename(tmp, p)


# public name for use outside this module (streaming state maintenance
# shares the same facade instead of re-resolving Path/FileSystem by hand)
HadoopFS = _HadoopFS


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        return "org.apache.iceberg.spark.SparkCatalog" in spark.conf.get(
            "spark.sql.catalog.spark_catalog", "")
    except Exception:  # noqa: BLE001
        return False


@dataclass
class StageManifest:
    run_id: str
    stage: str
    rows: int
    n_partitions: int
    status: str
    config_echo: dict
    fingerprint: str
    # per-partition lineage counters (north_rule: "per-partition lineage +
    # metrics"): {partition_id: row_count}, from the same single post-write
    # scan that computes rows + fingerprint
    partition_rows: dict | None = None


class CheckpointManager:
    """Parquet/Iceberg stage checkpointing with idempotent resume.

    >>> ckpt = CheckpointManager(spark, root, run_id="r1", config_echo={...})
    >>> sigs = ckpt.stage("signatures", lambda: build_signatures(df))
    second run: `stage` sees the complete manifest and just reads the table.
    """

    def __init__(self, spark: SparkSession, root: str, run_id: str,
                 config_echo: dict | None = None,
                 iceberg_namespace: str = "dedup_ckpt") -> None:
        self.spark = spark
        self.root = root
        self.run_id = run_id
        self.config_echo = config_echo or {}
        self.use_iceberg = _iceberg_available(spark)
        self.iceberg_namespace = iceberg_namespace
        self.fs = _HadoopFS(spark, root)
        self.fs.mkdirs(root)

    # ---- paths -----------------------------------------------------------
    def _dir(self, stage: str) -> str:
        return _join(self.root, self.run_id, stage)

    def _manifest_path(self, stage: str) -> str:
        return _join(self._dir(stage), "manifest.json")

    def _table(self, stage: str) -> str:
        return f"{self.iceberg_namespace}.{self.run_id}_{stage}"

    def _bucket_table(self, stage: str) -> str:
        """Session-catalog name for the Parquet backend's native bucketed
        table (no namespace: the default in-memory/Hive catalog)."""
        return f"{self.iceberg_namespace}_{self.run_id}_{stage}" \
            .replace(".", "_").replace("-", "_")

    # ---- public API ------------------------------------------------------
    def is_complete(self, stage: str) -> bool:
        """Complete AND built under the SAME config: rerunning with the same
        --run-id but a different DedupConfig (threshold, num_perm, ...) must
        rebuild, not silently reuse results computed for the old config."""
        mp = self._manifest_path(stage)
        if not self.fs.exists(mp):
            return False
        m = json.loads(self.fs.read_text(mp))
        if m.get("status") != "complete" or m.get("run_id") != self.run_id:
            return False
        return m.get("config_echo") == _json_normalize(self.config_echo)

    def manifest(self, stage: str) -> dict:
        return json.loads(self.fs.read_text(self._manifest_path(stage)))

    def rows(self, stage: str) -> int:
        """Row count of a completed stage from its manifest — no scan."""
        return int(self.manifest(stage)["rows"])

    def read(self, stage: str) -> DataFrame:
        if self.use_iceberg:
            return self.spark.read.table(self._table(stage))
        # Parquet backend: prefer the session catalog's bucketed table when
        # this stage was written with bucket_by — the table read carries the
        # bucket metadata that lets downstream doc_id joins skip their
        # Exchange; the bare-directory read (fresh session: the in-memory
        # catalog is gone) returns identical DATA, just without co-location.
        # The catalog entry is only trusted when its LOCATION is this
        # stage's data dir: two managers sharing a run_id but different
        # base dirs collide on the table name, and preferring the other
        # manager's table would silently return another directory's data.
        tbl = self._bucket_table(stage)
        data_dir = _join(self._dir(stage), "data")
        if self.spark.catalog.tableExists(tbl) \
                and self._table_location(tbl) == _strip_scheme(data_dir):
            return self.spark.read.table(tbl)
        return self.spark.read.parquet(data_dir)

    def _table_location(self, tbl: str) -> str | None:
        """Filesystem location of a session-catalog table (scheme
        stripped), or None when it cannot be determined."""
        try:
            for r in self.spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}") \
                               .collect():
                if r["col_name"] == "Location":
                    return _strip_scheme(r["data_type"])
        except Exception:
            pass
        return None

    def stage(self, name: str, build: Callable[[], DataFrame],
              partition_by: list[str] | None = None,
              bucket_by: tuple[int, str] | None = None) -> DataFrame:
        """Run `build` and checkpoint its result — or, if this (run_id,
        stage) already completed under the same config, skip the build and
        read the checkpoint."""
        if self.is_complete(name):
            return self.read(name)
        df = build()
        return self.write(name, df, partition_by=partition_by,
                          bucket_by=bucket_by)

    def write(self, name: str, df: DataFrame,
              partition_by: list[str] | None = None,
              bucket_by: tuple[int, str] | None = None) -> DataFrame:
        """`bucket_by=(N, col)`: bucketed layout so downstream joins on
        `col` are storage-partitioned/co-located: AQE picks the verify
        stage's payload joins, and the bucketed layout removes their
        Exchanges on this table's scans.  Iceberg backend:
        hidden-partition bucket(N, col) transform.  Parquet backend: a
        native Spark bucketed table (same co-location contract, session
        catalog carries the metadata)."""
        if self.use_iceberg:
            out = self._write_iceberg(name, df, partition_by, bucket_by)
        else:
            out = self._write_parquet(name, df, partition_by, bucket_by)
        rows, fingerprint, part_rows = _df_stats(out)   # ONE post-write scan
        manifest = StageManifest(
            run_id=self.run_id, stage=name, rows=rows,
            n_partitions=len(part_rows), status="complete",
            config_echo=_json_normalize(self.config_echo),
            fingerprint=fingerprint,
            partition_rows={str(k): v for k, v in sorted(part_rows.items())},
        )
        self.fs.mkdirs(self._dir(name))
        self.fs.write_text_atomic(
            self._manifest_path(name),
            json.dumps(asdict(manifest), indent=2, default=str))
        return out

    # ---- backends ---------------------------------------------------------
    def _write_parquet(self, name: str, df: DataFrame,
                       partition_by: list[str] | None,
                       bucket_by: tuple[int, str] | None = None) -> DataFrame:
        stage_dir = self._dir(name)
        data_dir = _join(stage_dir, "data")
        tmp_dir = _join(stage_dir, "_tmp")
        self.fs.delete(stage_dir)
        self.fs.mkdirs(stage_dir)
        # drop any stale catalog entry for this stage in EVERY rewrite
        # path, not just the bucketed branch: a stage rewritten without
        # bucket_by (or with partition_by, which disables the bucketed
        # branch) must not leave an old bucketed table behind for read()
        # to prefer over the fresh directory
        self.spark.sql(f"DROP TABLE IF EXISTS {self._bucket_table(name)}")
        if bucket_by and not partition_by:
            # Native Spark bucketed table (Hive bucketing spec): the same
            # join-co-location contract as the Iceberg bucket(N, col)
            # transform, available on the plain-Parquet backend — the
            # verify stage's payload joins on doc_id read the bucket
            # metadata and skip their Exchange (pinned by
            # tests/test_extract_checkpoint_misc.py).  saveAsTable writes
            # the external table at data_dir directly; a crash before the
            # manifest commit leaves no manifest, which is_complete reads
            # as incomplete -> rebuild (same fail-safe direction as the
            # tmp-rename protocol).  Cross-session resume reads the bare
            # directory (identical data, no co-location) — read().
            n, col = bucket_by
            tbl = self._bucket_table(name)
            (df.write.mode("overwrite")
               .bucketBy(n, col).sortBy(col)
               .option("path", data_dir).saveAsTable(tbl))
            return self.spark.read.table(tbl)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp_dir)
        self.fs.rename(tmp_dir, data_dir)
        return self.spark.read.parquet(data_dir)

    def _write_iceberg(self, name: str, df: DataFrame,
                       partition_by: list[str] | None,
                       bucket_by: tuple[int, str] | None) -> DataFrame:
        """df.writeTo with hidden-partition transforms: bucket(N, col) for
        join co-location (north_rule's bucketed Iceberg writes) plus any
        identity partition columns.  createOrReplace is atomic (Iceberg
        swaps table metadata pointers), replacing the Parquet path's
        rename-based atomicity."""
        from pyspark.sql import functions as F

        writer = df.writeTo(self._table(name)).using("iceberg")
        transforms = []
        if bucket_by:
            n, col = bucket_by
            transforms.append(F.bucket(n, col))
        if partition_by:
            transforms.extend(F.col(c) for c in partition_by)
        if transforms:
            writer = writer.partitionedBy(*transforms)
        writer.createOrReplace()
        return self.spark.read.table(self._table(name))

    def partition_counters(self, name: str) -> DataFrame:
        """Per-partition lineage/row counters for a completed stage (the
        north_rule's 'per-partition lineage + metrics')."""
        from pyspark.sql import functions as F

        return (self.read(name)
                .withColumn("partition_id", F.spark_partition_id())
                .groupBy("partition_id").agg(F.count("*").alias("rows")))


def _strip_scheme(path: str) -> str:
    """file:/a/b, file:///a/b and /a/b all compare equal (the catalog
    reports locations with a scheme; _join builds bare paths)."""
    from urllib.parse import urlparse

    p = urlparse(path)
    return (p.path or path).rstrip("/")


def _json_normalize(d: dict) -> dict:
    """Round-trip through the same JSON encoding the manifest uses so the
    is_complete comparison is representation-stable (tuples -> lists,
    non-JSON values -> str)."""
    return json.loads(json.dumps(d, default=str, sort_keys=True))


def _df_stats(df: DataFrame) -> tuple[int, str, dict[int, int]]:
    """(row count, order-insensitive content hash, per-partition row
    counts) in ONE scan — the manifest used to cost a count() scan plus a
    fingerprint scan per stage (2 extra full reads of every checkpoint at
    scale); the per-partition counters ride the same groupBy."""
    from pyspark.sql import functions as F

    cols = [F.col(c).cast("string") for c in df.columns]
    rows = (df.groupBy(F.spark_partition_id().alias("pid"))
            .agg(F.count(F.lit(1)).alias("rows"),
                 F.coalesce(F.sum(F.pmod(F.xxhash64(*cols),
                                         F.lit(1_000_000_007))),
                            F.lit(0)).alias("fp")).collect())
    part_rows = {int(r["pid"]): int(r["rows"]) for r in rows}
    total = sum(part_rows.values())
    fp = sum(int(r["fp"]) for r in rows)
    return total, str(fp), part_rows
