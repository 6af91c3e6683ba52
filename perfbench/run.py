"""perfbench: seeded end-to-end and per-layer benchmark of the dedup engine.

    python3 perfbench/run.py --workload dedup-skew --seed 1 --seconds 10 --trace 0

Run from the repository root.  One process starts Spark on local[nproc],
generates the workload's inputs from --seed, runs a warm-up pass, then runs
closed-loop passes (one client, each pass one complete user operation, the
next starting when the previous returns) for --seconds and checks every
pass's output.  Between passes it reads the storage Spark still holds and
clears the cache, so no pass reuses another's work.

--trace 0 reports the end-to-end metrics.  --trace 1 alternates untraced
passes (only wrapped in a job group, for the whole-pass Spark counters) with
traced passes that call each layer separately inside a span, and reports the
per-layer metrics; spans are written to .perfbench/ when the run ends.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics ({name: {value, unit}}).  Lines before it print the pinned run
environment and a summary with every end-to-end figure, including those that
only apply to some workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("dedup-small", "dedup-large", "dedup-skew", "ann-batch")
SETUP_ROUNDS = 3            # input preparation repeats; setup_s counts the median

END_TO_END = {"setup_s": "s", "pass_s_p50": "s", "docs_per_s": "docs/s"}
LAYERS = {
    "pass": {"jobs": "count", "stages": "count", "tasks": "count",
             "task_s": "s", "gc_s": "s", "shuffle_mb": "MB",
             "failed_tasks": "count", "cpu_util": "ratio",
             "retained_cache_mb": "MB", "peak_rss_mb": "MB",
             "pair_recall": "ratio"},
    "session": {"start_s": "s"},
    "trace": {"overhead_s": "s"},
    "signature": {"s": "s", "jobs": "count", "docs": "count",
                  "shingles": "count", "task_s": "s", "idle_core_s": "s"},
    "exact_collapse": {"s": "s", "jobs": "count", "rows_in": "count",
                       "reps": "count", "edges": "count", "shuffle_mb": "MB"},
    "candidates": {"s": "s", "jobs": "count", "band_rows": "count",
                   "hot_buckets": "count", "pairs": "count",
                   "shuffle_mb": "MB", "idle_core_s": "s"},
    "verify": {"s": "s", "jobs": "count", "pairs_in": "count",
               "pairs_out": "count", "precision": "ratio", "shuffle_mb": "MB",
               "idle_core_s": "s", "shuffle_route": "count"},
    "cc": {"s": "s", "jobs": "count", "edges_in": "count", "docs_out": "count",
           "clusters": "count", "max_cluster": "count", "shuffle_mb": "MB",
           "distributed_route": "count"},
    "checkpoint": {"mb_written": "MB", "files": "count", "write_amp": "ratio"},
    "ann": {"tables_s": "s", "tables_rows": "count", "search_s": "s",
            "jobs": "count", "result_rows": "count", "shuffle_mb": "MB",
            "avg_ratio": "ratio", "missing_queries": "count",
            "queries_per_s": "queries/s"},
}
PER_LAYER = {f"{layer}.{m}": unit
             for layer, ms in LAYERS.items() for m, unit in ms.items()}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true",
                    help="toy input sizes (smoke test only)")
    return ap.parse_args(argv)


def pin_environment(workdir: str) -> dict:
    """Cores, driver memory, PYTHONPATH and scratch dirs, all set before the
    JVM starts so the session and its Python workers inherit them."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kib = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1])
    # get_spark defaults to 16g; a quarter of host RAM, 1..4 GiB, leaves the
    # rest to the Python workers and the page cache
    driver_gib = max(1, min(4, mem_kib // (4 << 20)))
    local = os.path.join(workdir, "spark-local")
    os.makedirs(local, exist_ok=True)
    pythonpath = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ.update({
        "SPARK_DRIVER_MEMORY": f"{driver_gib}g",
        "PYTHONPATH": pythonpath,          # the Python workers import the package
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": local,
        # the launcher JVM: no perf-data file and no temp files outside `local`
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={local}",
    })
    return {"cores": cores, "host_mem_gib": round(mem_kib / (1 << 20), 1),
            "SPARK_DRIVER_MEMORY": f"{driver_gib}g", "PYTHONPATH": pythonpath,
            "SPARK_LOCAL_DIRS": local,
            "OMP_NUM_THREADS": os.environ.get("OMP_NUM_THREADS"),
            "python": sys.version.split()[0]}


def start_session(cores: int, workdir: str):
    from distributed_lsh_spark.session import get_spark

    local = os.environ["SPARK_LOCAL_DIRS"]
    return get_spark("perfbench", cores=cores, extra_conf={
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={local}",
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()      # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def tail_percentile(samples: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, or None when the run has too few passes."""
    n = len(samples)
    if n < 11:
        return None
    return 100.0 * (n - 10) / n, sorted(samples)[n - 11]


class Fingerprints:
    """Output fingerprints of earlier runs in this checkout, per workload,
    seed and size, so a run also checks it matches the runs before it."""

    def __init__(self, path: str) -> None:
        self.path = path
        try:
            with open(path) as fh:
                self.known = json.load(fh)
        except (OSError, ValueError):
            self.known = {}

    def reference(self, key: str, warm) -> str:
        """The fingerprint every pass must match: the recorded one, else the
        warm-up's, which is recorded when the warm-up passed its checks."""
        if key not in self.known and warm.ok:
            self.known[key] = warm.fingerprint
            with open(self.path, "w") as fh:
                json.dump(self.known, fh, indent=1, sort_keys=True)
        return self.known.get(key, warm.fingerprint)


def layer_metrics(tr, cores: int) -> dict:
    """Per-layer figures of each traced pass, reduced to the median."""
    per_pass: dict[int, dict] = {}
    for rec in tr.spans:
        if rec["name"] == "untraced":
            continue
        wall = rec["end"] - rec["start"]
        sp = rec["spark"]
        st = {"s": tr.self_time(rec), "wall": wall, "jobs": sp["jobs"],
              "task_s": sp["task_s"], "shuffle_mb": sp["shuffle_mb"],
              "idle_core_s": wall * cores - sp["task_s"], **rec["counts"]}
        per_pass.setdefault(rec["pass"], {})[rec["name"]] = st
    out: dict[str, list] = {}

    def put(name, value):
        out.setdefault(name, []).append(value)

    for layers in per_pass.values():
        v = layers.get("verify")
        if v:
            v["precision"] = v["pairs_out"] / v["pairs_in"] if v["pairs_in"] else 0
        for layer in ("signature", "exact_collapse", "candidates", "verify", "cc"):
            st = layers.get(layer, {})
            for m in LAYERS[layer]:
                put(f"{layer}.{m}", st.get(m, 0))
        whole = layers["pass"]
        for m in LAYERS["checkpoint"]:
            put(f"checkpoint.{m}", whole.get(f"ckpt_{m}", 0))
        tables, search = layers.get("ann.tables", {}), layers.get("ann.search", {})
        put("ann.tables_s", tables.get("s", 0))
        put("ann.tables_rows", tables.get("rows", 0))
        put("ann.search_s", search.get("s", 0))
        put("ann.jobs", tables.get("jobs", 0) + search.get("jobs", 0))
        put("ann.result_rows", search.get("rows", 0))
        put("ann.shuffle_mb", tables.get("shuffle_mb", 0) + search.get("shuffle_mb", 0))
        put("trace.traced_pass_s", whole["wall"])
    return {k: statistics.median(v) for k, v in out.items()}


def measure(wl, spark, tr, seconds: float, ref: str) -> dict:
    """Closed-loop passes until `seconds` have passed (at least one pass;
    with a tracer, at least one untraced and one traced pass, alternating).
    Every pass is checked; a pass that raises or fails a check is failed."""
    from spans import RssSampler, storage_mb

    sc = spark.sparkContext
    loop = {"untraced": [], "traced": [], "failed": 0, "retained_mb": [],
            "recall": []}
    deadline = time.perf_counter() + seconds
    i = 0
    with RssSampler() as rss:
        while (not loop["untraced"] or (tr and not loop["traced"])
               or time.perf_counter() < deadline):
            traced = tr is not None and i % 2 == 1
            if i:
                wl.pin()
            held = storage_mb(sc)
            t = time.perf_counter()
            try:
                if traced:
                    res = wl.traced_pass(tr, i)
                elif tr is not None:
                    with tr.span("untraced", i):     # job group only: whole-pass counters
                        res = wl.run_pass(i)
                else:
                    res = wl.run_pass(i)
                ok = res.ok and res.fingerprint == ref
                if not ok:
                    print(f"perfbench: pass {i} failed its check: "
                          f"{res.why or 'fingerprint changed'}", file=sys.stderr)
                loop["recall"].append(res.quality["pair_recall"])
            except Exception:
                traceback.print_exc()
                ok = False
            loop["traced" if traced else "untraced"].append(time.perf_counter() - t)
            loop["failed"] += not ok
            if not traced:
                loop["retained_mb"].append(storage_mb(sc) - held)
            spark.catalog.clearCache()
            i += 1
    loop["peak_rss_mb"] = rss.peak_mb
    return loop


def per_layer_values(tr, loop: dict, summary: dict, session_s: float,
                     cores: int) -> dict:
    untraced = [s for s in tr.spans if s["name"] == "untraced"]
    values = {f"pass.{f}": statistics.median(s["spark"][f] for s in untraced)
              for f in ("jobs", "stages", "tasks", "task_s", "gc_s",
                        "shuffle_mb", "failed_tasks")}
    values["pass.cpu_util"] = statistics.median(
        s["spark"]["task_s"] / ((s["end"] - s["start"]) * cores) for s in untraced)
    for name in ("retained_cache_mb", "peak_rss_mb", "pair_recall"):
        values[f"pass.{name}"] = summary[name][0]
    values["session.start_s"] = session_s
    layers = layer_metrics(tr, cores)
    values["trace.overhead_s"] = (layers.pop("trace.traced_pass_s")
                                  - statistics.median(loop["untraced"]))
    values.update(layers)
    for name, key in (("avg_ratio", "ann_avg_ratio"),
                      ("missing_queries", "ann_missing_queries"),
                      ("queries_per_s", "queries_per_s")):
        values[f"ann.{name}"] = summary.get(key, (0,))[0]
    return values


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "distributed_lsh_spark", "__init__.py")):
        print(f"perfbench: no distributed_lsh_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    workdir = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    env = pin_environment(workdir)

    import workloads
    from spans import Tracer

    t = time.perf_counter()
    spark = start_session(env["cores"], workdir)
    session_s = time.perf_counter() - t
    try:
        sc = spark.sparkContext
        env.update(spark=spark.version, master=sc.master,
                   shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
                   default_parallelism=sc.defaultParallelism)
        print("perfbench env " + json.dumps(env, sort_keys=True), flush=True)

        # set-up: inputs prepared SETUP_ROUNDS times (counted at the median),
        # the oracle once, then one warm-up pass that must pass its checks
        size = "toy" if args.toy else "full"
        wl = workloads.make(args.workload, spark, workdir, args.seed, size)
        prep = []
        for _ in range(SETUP_ROUNDS):
            spark.catalog.clearCache()
            t = time.perf_counter()
            wl.generate()
            wl.load()
            prep.append(time.perf_counter() - t)
        wl.compute_oracle()
        t = time.perf_counter()
        warm = wl.run_pass(-1)
        warm_s = time.perf_counter() - t
        known = Fingerprints(os.path.join(ROOT, ".perfbench", "fingerprints.json"))
        key = f"{args.workload}/{args.seed}/" + json.dumps(
            workloads.SIZES[args.workload][size], sort_keys=True)
        ref = known.reference(key, warm)
        warm_ok = warm.ok and warm.fingerprint == ref
        if not warm_ok:
            print("perfbench: warm-up pass failed its check: "
                  f"{warm.why or 'fingerprint changed'}", file=sys.stderr)
        spark.catalog.clearCache()
        wl.pin()
        setup_s = time.perf_counter() - T0 - (sum(prep) - statistics.median(prep))

        tr = Tracer(spark) if args.trace else None
        loop = measure(wl, spark, tr, args.seconds, ref)
        untraced = loop["untraced"]
        attempted = len(untraced) + len(loop["traced"])

        summary = {
            "workload": args.workload, "seed": args.seed, "passes": len(untraced),
            "setup_s": (setup_s, "s"),
            "setup_parts_s": {"session": session_s, "prepare": prep, "warm_up": warm_s},
            "pass_s": untraced,
            "pass_s_p50": (statistics.median(untraced), "s"),
            "docs_per_s": (wl.n_items * len(untraced) / sum(untraced), "docs/s"),
            "pair_recall": (statistics.median(loop["recall"]) if loop["recall"] else 0.0,
                            "ratio"),
        }
        if args.workload == "ann-batch":
            avg_ratio, missing = wl.accuracy(wl.last_rows)
            summary.update(
                ann_avg_ratio=(avg_ratio, "ratio"),
                ann_missing_queries=(missing, "count"),
                queries_per_s=(wl.n_queries * len(untraced) / sum(untraced), "queries/s"))
        summary.update(
            ops_failed_frac=(loop["failed"] / attempted, "ratio"),
            retained_cache_mb=(statistics.median(loop["retained_mb"]), "MB"),
            peak_rss_mb=(loop["peak_rss_mb"], "MB"))
        tail = tail_percentile(untraced)
        if tail:
            summary["pass_s_tail"] = (tail[1], "s")
            summary["pass_s_tail_percentile"] = tail[0]
        print("perfbench summary " + json.dumps(summary), flush=True)

        if tr is not None:
            values = per_layer_values(tr, loop, summary, session_s, env["cores"])
            tr.write(os.path.join(ROOT, ".perfbench",
                                  f"spans-{args.workload}-{args.seed}.jsonl"))
            metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
        else:
            metrics = {k: {"value": summary[k][0], "unit": u}
                       for k, u in END_TO_END.items()}
        wl.cleanup()
    finally:
        stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps({"correct": warm_ok and loop["failed"] == 0,
                      "attempted": attempted, "failed": loop["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
