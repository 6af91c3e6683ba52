"""The benchmark's workloads: seeded inputs, one pass, its traced twin and
the correctness checks.

Every input is generated from the seed; the program under test only sees the
generated frames or files.  A pass is one complete user operation: in-memory
`pipeline.run_dedup`, the production `dedup` CLI verb, or
`operators.ann.ann_search_spark`.  The traced twin of a pass calls the same
layers' public functions one at a time, in the order the untraced pass runs
them, and forces each layer's output inside its span.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import math
import os
import random
import shutil
from dataclasses import dataclass

from pyspark.sql import functions as F

from distributed_lsh_spark import fixtures
from distributed_lsh_spark.conf import DEFAULT_CONFIG

# Full and toy sizes.  Toy sizes only serve perfbench/smoke.py.
SIZES = {
    "dedup-small": {"full": dict(docs=2000), "toy": dict(docs=300)},
    "dedup-large": {"full": dict(docs=1000), "toy": dict(docs=400)},
    # family > cap so the cap's window path runs; family^2/2 verified
    # edges > DRIVER_CC_MAX_EDGES (50k) so CC takes its distributed loop
    "dedup-skew": {"full": dict(docs=1000, family=350, cap=150),
                   "toy": dict(docs=300, family=60, cap=40)},
    "ann-batch": {"full": dict(points=600, queries=50, k=10),
                  "toy": dict(points=200, queries=10, k=5)},
}


def _fingerprint(items) -> str:
    h = hashlib.sha256()
    for item in sorted(items):
        h.update(repr(item).encode())
    return h.hexdigest()[:16]


@dataclass
class PassResult:
    """The checked output of one pass."""

    fingerprint: str
    ok: bool
    why: str            # the failed checks, "" when ok
    quality: dict


# ---------------------------------------------------------------- dedup
class DedupWorkload:
    """Pages corpus with planted duplicates -> clusters(doc_id, cluster_id).

    `n_items` is the page count; checks: planted-pair recall >= 0.99, no
    planted borderline pair co-clustered, the templated family (dedup-skew)
    in one cluster."""

    def __init__(self, spark, workdir: str, seed: int, docs: int,
                 family: int = 0, cap: int | None = None) -> None:
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.n_docs = docs
        self.family_size = family
        self.cfg = DEFAULT_CONFIG if cap is None else DEFAULT_CONFIG.with_(hot_band_cap=cap)

    # ---- inputs
    def generate(self) -> None:
        corpus = fixtures.make_pages_corpus(self.n_docs, seed=self.seed)
        self.rows = corpus.rows
        self.truth = set(corpus.truth_pairs)
        self.border = [(r["base_id"], i) for i, r in enumerate(self.rows)
                       if r["kind"] == "border"]
        self.family = self._add_family()
        self.n_items = len(self.rows)

    def _add_family(self) -> list[int]:
        """One templated near-duplicate family: a 200-token page, each copy
        with one token changed and a page marker appended, so no two copies
        are byte-identical and the family survives exact collapse."""
        if not self.family_size:
            return []
        rng = random.Random(f"family:{self.seed}")
        vocab = [f"tok{i:04d}" for i in range(fixtures.VOCab_SIZE)]
        template = [rng.choice(vocab) for _ in range(200)]
        ids = []
        for j in range(self.family_size):
            toks = list(template)
            toks[rng.randrange(len(toks))] = rng.choice(vocab)
            toks.append(f"pagemark{j:05d}")
            ids.append(len(self.rows))
            text = " ".join(toks)
            self.rows.append({**self.rows[-1], "url": f"https://family.example/p/{j}",
                              "html": f"<html><body><p>{text}</p></body></html>".encode(),
                              "text": text, "kind": "family", "base_id": None})
        self.truth.update((a, b) for i, a in enumerate(ids) for b in ids[i + 1:])
        return ids

    def load(self) -> None:
        self.df = self.spark.createDataFrame(
            [(i, r["text"]) for i, r in enumerate(self.rows)],
            "doc_id long, text string")
        self.pin()

    def pin(self) -> None:
        """(Re-)cache the in-memory input after the benchmark clears the cache."""
        self.df.persist()
        self.df.count()

    def compute_oracle(self) -> None:
        """The planted truth comes with the corpus; nothing to compute."""

    def cleanup(self) -> None:
        pass

    # ---- passes
    def run_pass(self, i: int) -> PassResult:
        from distributed_lsh_spark.pipeline import run_dedup

        return self.check(self._labels(run_dedup(self.df, self.cfg).collect()))

    def traced_pass(self, tr, i: int) -> PassResult:
        from distributed_lsh_spark.functions.signature import with_signatures
        from distributed_lsh_spark.pipeline import exact_collapse

        with tr.span("pass", i):
            base = self.df.select("doc_id", "text")
            with tr.span("exact_collapse", i) as sp:
                reps, exact_edges = exact_collapse(base)
                reps, exact_edges = reps.persist(), exact_edges.persist()
                sp["counts"].update(rows_in=self.n_items, reps=reps.count(),
                                    edges=exact_edges.count())
            with tr.span("signature", i) as sp:
                # run_dedup spreads the collapsed reps over 3x parallelism
                par = self.spark.sparkContext.defaultParallelism
                sigs = with_signatures(reps.repartition(3 * par), self.cfg).persist()
                self._count_signatures(sigs, sp)
            rows = self._traced_tail(tr, i, sigs, exact_edges, ckpt=None)
        return self.check(rows)

    def _count_signatures(self, sigs, sp) -> None:
        n, shingles = sigs.agg(F.count("*"), F.sum(F.size("shingles"))).first()
        sp["counts"].update(docs=n, shingles=shingles or 0)

    def _traced_tail(self, tr, i, sigs, exact_edges, ckpt) -> dict:
        """band keys + candidates -> verify -> CC, one span each; with a
        CheckpointManager the verify and CC outputs are checkpoint stages,
        as in the CLI."""
        import importlib

        from distributed_lsh_spark.functions.hashing import band_keys
        from distributed_lsh_spark.operators.candidates import candidate_pairs
        from distributed_lsh_spark.operators.verify import verify_pairs

        cc_mod = importlib.import_module(
            "distributed_lsh_spark.operators.connected_components")
        cfg = self.cfg
        docs = sigs if ckpt else sigs.select("doc_id", "text", "shingles")
        with tr.span("candidates", i) as cand:
            bands = band_keys(sigs, cfg)
            pairs = candidate_pairs(bands, cfg).persist()
            n_pairs = pairs.count()
        with tr.untimed("candidates"):
            hot = (bands.groupBy("band_hash").count()
                   .where(F.col("count") > cfg.hot_band_cap).count())
            cand["counts"].update(pairs=n_pairs, band_rows=bands.count(),
                                  hot_buckets=hot)
        with tr.span("verify", i) as sp:
            if ckpt:
                verified = ckpt.stage("verified_pairs",
                                      lambda: verify_pairs(pairs, docs, cfg))
            else:
                verified = verify_pairs(pairs, docs, cfg).persist()
            n_out = verified.count()
            route = getattr(verify_pairs, "last_route", None)
            sp["counts"].update(pairs_in=n_pairs, pairs_out=n_out,
                                shuffle_route=int(route == "shuffle"))
        edges = verified.select("id_a", "id_b").unionByName(exact_edges)
        with tr.span("cc", i) as sp:
            if ckpt:
                clusters = ckpt.stage("clusters",
                                      lambda: cc_mod.connected_components(edges))
            else:
                clusters = cc_mod.connected_components(edges)
            rows = clusters.collect()
        with tr.untimed("cc"):
            n_edges = edges.where(F.col("id_a") != F.col("id_b")).distinct().count()
        labels = self._labels(rows)
        sizes: dict[int, int] = {}
        for c in labels.values():
            sizes[c] = sizes.get(c, 0) + 1
        sp["counts"].update(
            edges_in=n_edges, docs_out=len(rows), clusters=len(sizes),
            max_cluster=max(sizes.values(), default=0),
            distributed_route=int(n_edges > getattr(cc_mod, "DRIVER_CC_MAX_EDGES", math.inf)))
        return labels

    def _labels(self, rows) -> dict[int, int]:
        return {r["doc_id"]: r["cluster_id"] for r in rows}

    # ---- checks
    def check(self, labels: dict[int, int]) -> PassResult:
        fp = _fingerprint(labels.items())
        hit = sum(1 for a, b in self.truth
                  if a in labels and labels[a] == labels.get(b))
        recall = hit / len(self.truth)
        bad_border = sum(1 for a, b in self.border
                         if a in labels and labels[a] == labels.get(b))
        family_clusters = {labels.get(d) for d in self.family}
        why = []
        if recall < 0.99:
            why.append(f"pair_recall {recall:.4f} < 0.99")
        if bad_border:
            why.append(f"{bad_border} borderline pairs co-clustered")
        if self.family and (len(family_clusters) != 1 or None in family_clusters):
            why.append(f"family split over {len(family_clusters)} clusters")
        return PassResult(fp, not why, "; ".join(why), {"pair_recall": recall})


class CliDedupWorkload(DedupWorkload):
    """The production `dedup` verb over a pages parquet file in the
    BASELINE.json input_hint schema; every pass writes every checkpoint
    stage into a fresh output directory under a fresh run id."""


    def load(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from distributed_lsh_spark.oracle.xxh64 import spark_xxhash64_string

        cols = ("url", "warc_ts", "html", "text", "lang")
        table = pa.table({c: [r[c] for r in self.rows] for c in cols})
        self.input_dir = os.path.join(self.workdir, "pages")
        os.makedirs(self.input_dir, exist_ok=True)
        self.input_path = os.path.join(self.input_dir, "part-0.parquet")
        pq.write_table(table, self.input_path)
        self.input_bytes = os.path.getsize(self.input_path)
        # the CLI ids pages by xxhash64(url); map them back to row indexes
        self.row_of = {spark_xxhash64_string(r["url"]): i
                       for i, r in enumerate(self.rows)}
        self._runs = 0

    def pin(self) -> None:
        pass

    def _fresh_output(self) -> tuple[str, str]:
        self._runs += 1
        out = os.path.join(self.workdir, f"out{self._runs}")
        shutil.rmtree(out, ignore_errors=True)
        return out, f"run{self._runs}"

    def _clusters(self, out: str, rid: str) -> dict[int, int]:
        rows = self.spark.read.parquet(f"{out}/{rid}/clusters/data").collect()
        shutil.rmtree(out, ignore_errors=True)
        return self._labels(rows)

    def _labels(self, rows) -> dict[int, int]:
        return {self.row_of[r["doc_id"]]: self.row_of[r["cluster_id"]] for r in rows}

    def run_pass(self, i: int) -> PassResult:
        from distributed_lsh_spark import cli

        out, rid = self._fresh_output()
        cores = self.spark.sparkContext.defaultParallelism
        with contextlib.redirect_stdout(io.StringIO()):
            cli.main(["dedup", "--input", self.input_dir, "--output", out,
                      "--run-id", rid, "--cores", str(cores)])
        return self.check(self._clusters(out, rid))

    def traced_pass(self, tr, i: int) -> PassResult:
        """The CheckpointManager.stage sequence cmd_dedup runs, one span per
        layer (the candidate pairs are forced in their own span before the
        verified_pairs stage consumes them)."""
        from distributed_lsh_spark.pipeline import build_stages, exact_collapse
        from distributed_lsh_spark.sources.checkpoint import CheckpointManager

        cfg = self.cfg
        out, rid = self._fresh_output()
        with tr.span("pass", i) as whole:
            ckpt = CheckpointManager(self.spark, out, run_id=rid,
                                     config_echo={**cfg.__dict__, "against": ""})
            pages = self.spark.read.parquet(self.input_dir)
            pages = pages.withColumn("doc_id", F.xxhash64("url"))
            base = pages.select("doc_id", "text")
            with tr.span("exact_collapse", i) as sp:
                reps = ckpt.stage("exact_reps", lambda: exact_collapse(base)[0])

                def _edges():   # cmd_dedup's member -> rep edges, from the reps stage
                    m = (base.withColumn("_h", F.md5(F.col("text").cast("binary")))
                             .select("_h", F.col("doc_id").alias("id_b")))
                    rid_ = reps.select(F.md5(F.col("text").cast("binary")).alias("_h"),
                                       F.col("doc_id").alias("id_a"))
                    return (m.join(rid_, "_h")
                             .where(F.col("id_a") != F.col("id_b"))
                             .select("id_a", "id_b"))

                exact_edges = ckpt.stage("exact_edges", _edges)
                sp["counts"].update(rows_in=self.n_items, reps=ckpt.rows("exact_reps"),
                                    edges=ckpt.rows("exact_edges"))
            with tr.span("signature", i) as sp:
                sigs = ckpt.stage("signatures",
                                  lambda: build_stages(reps, cfg).signatures,
                                  bucket_by=(64, "doc_id"))
            with tr.untimed("signature"):
                self._count_signatures(sigs, sp)
            labels = self._traced_tail(tr, i, sigs, exact_edges, ckpt)
            pages.count()       # cmd_dedup's closing n_docs count
        files, nbytes = 0, 0
        for d, _, names in os.walk(out):
            for n in names:
                files += 1
                nbytes += os.path.getsize(os.path.join(d, n))
        whole["counts"].update(
            ckpt_mb_written=nbytes / (1 << 20), ckpt_files=files,
            ckpt_write_amp=nbytes / self.input_bytes)
        shutil.rmtree(out, ignore_errors=True)
        return self.check(labels)

    def cleanup(self) -> None:
        shutil.rmtree(self.input_dir, ignore_errors=True)


# ---------------------------------------------------------------- ANN
class AnnWorkload:
    """c-k-ANN over seeded integer vectors (d=8, t=255): the reference's
    native query.  Every pass must return exactly the NumPy oracle's rows."""

    def __init__(self, spark, workdir: str, seed: int, points: int,
                 queries: int, k: int) -> None:
        self.spark = spark
        self.seed = seed
        self.n_points = points
        self.n_queries = queries
        self.k = k

    def generate(self) -> None:
        from distributed_lsh_spark.oracle.reference_lsh import ReferenceLSHModel

        self.fx = fixtures.make_vectors_fixture(
            n=self.n_points, d=8, t=255, n_queries=self.n_queries,
            max_k=self.k, seed=self.seed)
        self.model = ReferenceLSHModel(dim=8, max_coordinate=255,
                                       cardinality=self.n_points, seed=self.seed)
        self.n_items = self.n_points

    def compute_oracle(self) -> None:
        """The NumPy reference search every pass must reproduce exactly."""
        from distributed_lsh_spark.oracle.reference_lsh import ann_search

        self.expect = {(r.query_id, rank): (idx, dist)
                       for r in ann_search(self.model, self.fx.points,
                                           self.fx.queries, k=self.k)
                       if len(r.neighbors) == self.k
                       for rank, (dist, idx) in enumerate(r.neighbors, start=1)}

    def load(self) -> None:
        fx = self.fx
        self.points = self.spark.createDataFrame(
            [(i, fx.points[i].tolist()) for i in range(len(fx.points))],
            "id long, vec array<int>")
        self.queries = self.spark.createDataFrame(
            [(i, fx.queries[i].tolist()) for i in range(len(fx.queries))],
            "query_id long, vec array<int>")
        self.pin()

    def pin(self) -> None:
        for df in (self.points, self.queries):
            df.persist()
            df.count()

    def cleanup(self) -> None:
        pass

    def run_pass(self, i: int) -> PassResult:
        from distributed_lsh_spark.operators.ann import ann_search_spark

        rows = ann_search_spark(self.spark, self.points, self.queries,
                                self.model, k=self.k).collect()
        return self.check(rows)

    def traced_pass(self, tr, i: int) -> PassResult:
        from distributed_lsh_spark.operators.ann import build_hash_tables, ann_search_spark

        with tr.span("pass", i):
            with tr.span("ann.tables", i) as sp:
                tables = build_hash_tables(self.points, self.model).persist()
                sp["counts"]["rows"] = tables.count()
            with tr.span("ann.search", i) as sp:
                rows = ann_search_spark(self.spark, self.points, self.queries,
                                        self.model, k=self.k, tables=tables).collect()
                sp["counts"]["rows"] = len(rows)
        return self.check(rows)

    def accuracy(self, rows) -> tuple[float, int]:
        """The reference's A5 metric via operators.ann.ann_accuracy."""
        from distributed_lsh_spark.operators.ann import ann_accuracy

        res = self.spark.createDataFrame(
            [(r["query_id"], r["point_id"], r["dist"], r["rank"]) for r in rows],
            "query_id long, point_id long, dist double, rank int")
        gt = self.spark.createDataFrame(
            [(q, [float(x) for x in self.fx.ground_truth[q]])
             for q in range(self.n_queries)],
            "query_id long, true_dists array<double>")
        row = ann_accuracy(res, gt, self.k, self.n_queries).first()
        return float(row["avg_ratio"]), int(row["n_missing"])

    def check(self, rows) -> PassResult:
        got = {(r["query_id"], r["rank"]): (r["point_id"], r["dist"]) for r in rows}
        why = []
        if set(got) != set(self.expect):
            n = len(set(got) ^ set(self.expect))
            why.append(f"{n} (query, rank) rows differ from the oracle")
        else:
            bad = sum(1 for key, (idx, dist) in self.expect.items()
                      if got[key][0] != idx
                      or not math.isclose(got[key][1], dist, rel_tol=1e-9))
            if bad:
                why.append(f"{bad} rows differ from the oracle")
        # share of true (query, neighbour) pairs returned: a neighbour counts
        # when it is no farther than the query's exact k-th distance
        found = sum(1 for (q, _), (_, dist) in got.items()
                    if dist <= self.fx.ground_truth[q][self.k - 1] + 1e-9)
        recall = found / (self.k * self.n_queries)
        fp = _fingerprint((q, rank, idx, round(d, 9)) for (q, rank), (idx, d) in got.items())
        self.last_rows = rows
        return PassResult(fp, not why, "; ".join(why), {"pair_recall": recall})


def make(name: str, spark, workdir: str, seed: int, size: str):
    """The workload `name` at `size` ("full" or "toy")."""
    size = SIZES[name][size]
    if name == "ann-batch":
        return AnnWorkload(spark, workdir, seed, **size)
    if name == "dedup-large":
        return CliDedupWorkload(spark, workdir, seed, **size)
    return DedupWorkload(spark, workdir, seed, **size)
