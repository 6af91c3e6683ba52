"""Min-of-N cold-cache timing of selected headline queries, with bench.py's
session setup (warm-up at sf0.001, shuffle width sized to the corpus).

Usage: python bench_out/query_ab.py CHECKOUT SF_DIR QUERY[,QUERY...] REPS

Run it once per checkout, alternating, to A/B two trees on a few queries
without the whole frozen bench.  Prints one JSON line: query -> seconds
of every repetition.  Cores: $SPARK_GRAFT_CPUS.
"""
import json
import os
import sys
import time

root, sf_dir, names, reps = sys.argv[1], sys.argv[2], sys.argv[3].split(","), int(sys.argv[4])
sys.path.insert(0, root)
os.chdir(root)
from distributed_lsh_spark.entry_queries import QUERIES  # noqa: E402
from distributed_lsh_spark.session import get_spark  # noqa: E402

cores = int(os.environ["SPARK_GRAFT_CPUS"])
spark = get_spark(app_name="query_ab", cores=cores, shuffle_partitions=cores)
for warm in ("minhash_lsh_dup_pairs", "simhash_hamming_pairs", "substring_dup_pairs"):
    QUERIES[warm](spark, os.path.join(os.path.dirname(sf_dir), "sf0.001")).count()
n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
spark.conf.set("spark.sql.shuffle.partitions", str(max(8, min(cores, n_docs // 400))))
out = {}
for name in names:
    ts = []
    for _ in range(reps):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).count()
        ts.append(round(time.perf_counter() - t0, 3))
    out[name] = ts
print(json.dumps(out))
spark.stop()
