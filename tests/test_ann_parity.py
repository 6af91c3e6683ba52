"""ANN parity: Spark engine == bit-faithful reference-LSH oracle on the
vectors fixture (SURVEY.md §5 item 3, reference ANN-query test cases)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from distributed_lsh_spark.fixtures import make_vectors_fixture
from distributed_lsh_spark.oracle.reference_lsh import (
    ReferenceLSHModel, ann_search, avg_ratio, build_hash_tables,
)
from distributed_lsh_spark.plans.planner import reference_parameters


@pytest.fixture(scope="module")
def fx():
    return make_vectors_fixture(n=400, d=16, t=255, n_queries=12, max_k=20)


@pytest.fixture(scope="module")
def model(fx):
    return ReferenceLSHModel(dim=16, max_coordinate=255,
                             cardinality=len(fx.points), ratio=2, seed=42)


def test_reference_parameter_derivation():
    """Pin m/L/nRadii against hand-computed values of the reference's
    formulas (LSH.java:84-104, Statistician.java:132-134)."""
    p = reference_parameters(n=1000, d=16, t=255, c=2.0)
    assert abs(p.p1 - 0.8005) < 1e-3
    assert abs(p.p2 - 0.6095) < 1e-3
    assert p.m == math.ceil(math.log(1000) / math.log(1 / p.p2))
    assert p.L == math.ceil(1 / p.p1 ** p.m)
    assert p.n_radii == 1 + int(math.floor(math.log2(math.sqrt(16) * 255)))


def test_bucket_fold_matches_java_semantics(model, fx):
    """The 64->32 fold (x & MASK) + 5*(x>>32) mod PRIME stays in int32 range
    and is deterministic (LSH.java:260-269)."""
    b1 = model.bucket_ids(0, 1, fx.points[:50])
    b2 = model.bucket_ids(0, 1, fx.points[:50])
    assert (b1 == b2).all()
    assert (b1 >= 0).all() and (b1 < (1 << 31) - 1).all()
    # different tables hash differently
    b3 = model.bucket_ids(1, 1, fx.points[:50])
    assert (b1 != b3).any()


def test_hash_table_construction(model, fx):
    tables = build_hash_tables(model, fx.points)
    assert len(tables) == model.n_radii * model.L
    # every point appears exactly once per (radius, table)
    for (rid, tid) in [(0, 0), (model.n_radii - 1, model.L - 1)]:
        total = sum(len(v) for v in tables[(rid, tid)].values())
        assert total == len(fx.points)


def test_oracle_accuracy_vs_ground_truth(model, fx):
    """The reference's own evaluation: avgRatio >= 1 (found dists can't beat
    exact), small; finished queries return exactly k ascending dists."""
    k = 5
    res = ann_search(model, fx.points, fx.queries, k=k)
    ratio, missing = avg_ratio(res, fx.ground_truth, k=k)
    finished = [r for r in res if len(r.neighbors) == k]
    assert finished, "no query finished — family too weak for fixture"
    assert ratio >= 1.0 - 1e-9
    assert ratio < 1.6
    for r in finished:
        dists = [d for d, _ in r.neighbors]
        assert dists == sorted(dists)


def _assert_spark_ann_matches_oracle(spark, model, fx):
    from distributed_lsh_spark.operators.ann import ann_search_spark

    k = 5
    pts = spark.createDataFrame(
        [(i, fx.points[i].tolist()) for i in range(len(fx.points))],
        "id long, vec array<int>")
    qs = spark.createDataFrame(
        [(i, fx.queries[i].tolist()) for i in range(len(fx.queries))],
        "query_id long, vec array<int>")
    got = ann_search_spark(spark, pts, qs, model, k=k).collect()

    oracle = ann_search(model, fx.points, fx.queries, k=k)
    expect = {}
    for r in oracle:
        if len(r.neighbors) == k:
            for rank, (dist, idx) in enumerate(r.neighbors, start=1):
                expect[(r.query_id, rank)] = (idx, dist)

    got_map = {(r["query_id"], r["rank"]): (r["point_id"], r["dist"]) for r in got}
    assert expect, "no query finished — fixture too weak"
    assert set(got_map) == set(expect)
    for key, (idx, dist) in expect.items():
        gi, gd = got_map[key]
        assert gi == idx
        assert math.isclose(gd, dist, rel_tol=1e-9)


def test_spark_ann_matches_oracle(spark, model, fx):
    _assert_spark_ann_matches_oracle(spark, model, fx)


def test_spark_ann_distributed_state_matches_oracle(spark, model, fx,
                                                    monkeypatch):
    """With ANN_DRIVER_STATE_MAX_ROWS at 0 every search keeps its
    per-radius state distributed (checkpointed DataFrames, AQE off for
    the loop).  That mode must return the oracle's rows exactly and leave
    spark.sql.adaptive.enabled as it found it."""
    import distributed_lsh_spark.operators.ann as A

    monkeypatch.setattr(A, "ANN_DRIVER_STATE_MAX_ROWS", 0)
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled")
    _assert_spark_ann_matches_oracle(spark, model, fx)
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe_before


def test_bucket_ids_reproducible_without_numpy():
    """P1/P2 independence pin for the SQL gate oracle: pure sequential
    left-to-right Python float arithmetic (no NumPy, no BLAS) reproduces
    every bucket id of the gate fixture bit-for-bit, and the nearest
    floor() argument to an integer boundary sits far outside double
    rounding error — so any IEEE-754 engine evaluating the same explicit
    expression (e.g. DuckDB in oracle/ann_gate_sql._bucket_ctes) computes
    identical buckets."""
    import math

    import duckdb

    from distributed_lsh_spark.fixtures import make_ann_gate_fixture
    from distributed_lsh_spark.oracle.ann_gate_sql import _bucket_ctes
    from distributed_lsh_spark.oracle.reference_lsh import MASK32, PRIME_31, WIDTH

    fx = make_ann_gate_fixture()
    m = fx.model
    min_gap = 1.0
    for vecs in (fx.points, fx.queries):
        for radius in m.radii():
            for tid in range(m.L):
                ref = m.bucket_ids(tid, radius, vecs)
                for vi, v in enumerate(vecs):
                    out = 0
                    for i in range(m.m):
                        hv = 0.0
                        for j in range(m.dim):        # left-to-right
                            hv += float(v[j]) * float(m.proj[tid][i][j])
                        hv += float(m.shift[tid][i])
                        x = (hv + m.U / 2.0) / (WIDTH * radius)
                        gap = abs(x - round(x))
                        if gap > 0:
                            min_gap = min(min_gap, gap)
                        out += math.floor(x) * int(m.standard_hash[i])
                        out = (out & MASK32) + 5 * (out >> 32)
                        out %= PRIME_31
                    assert out == ref[vi]
    # double rounding error is ~1e-16 relative; require >= 1e9x slack
    assert min_gap > 1e-7, min_gap

    # and DuckDB, evaluating the generated expression, agrees exactly
    def vec_vals(arr):
        return ",".join("(%d,[%s])" % (i, ",".join(str(int(x)) for x in row))
                        for i, row in enumerate(arr))
    sql = f"""WITH pts(point_id, vec) AS (VALUES {vec_vals(fx.points)}),
qrs(query_id, vec) AS (VALUES {vec_vals(fx.queries)}),
{_bucket_ctes(fx)}
SELECT 'p' AS side, point_id, radius_id, table_id, bucket FROM pb
UNION ALL SELECT 'q', query_id, radius_id, table_id, bucket FROM qb"""
    con = duckdb.connect()
    rows = con.sql(sql).fetchall()
    got_p = {(i, r, t): b for s, i, r, t, b in rows if s == "p"}
    got_q = {(i, r, t): b for s, i, r, t, b in rows if s == "q"}
    assert got_p == {(i, r, t): b for i, r, t, b in fx.point_buckets}
    assert got_q == {(i, r, t): b for i, r, t, b in fx.query_buckets}


def test_fused_ann_matches_driver_loop_and_oracle(spark, model, fx):
    """C1 (MRLSH, radius loop inside the job — ann_search_spark_fused
    builds the whole unrolled search as ONE Spark plan with zero
    per-radius driver actions) must return exactly what the C2 driver
    loop and the NumPy reference oracle return."""
    from distributed_lsh_spark.operators.ann import (
        ann_search_spark, ann_search_spark_fused,
    )

    k = 5
    pts = spark.createDataFrame(
        [(i, fx.points[i].tolist()) for i in range(len(fx.points))],
        "id long, vec array<int>")
    qs = spark.createDataFrame(
        [(i, fx.queries[i].tolist()) for i in range(len(fx.queries))],
        "query_id long, vec array<int>")
    fused = {(r["query_id"], r["rank"]): (r["point_id"], r["dist"])
             for r in ann_search_spark_fused(spark, pts, qs, model, k=k).collect()}
    loop = {(r["query_id"], r["rank"]): (r["point_id"], r["dist"])
            for r in ann_search_spark(spark, pts, qs, model, k=k).collect()}
    assert set(fused) == set(loop)
    for key, (idx, dist) in loop.items():
        fi, fd = fused[key]
        assert fi == idx and math.isclose(fd, dist, rel_tol=1e-9)

    oracle = ann_search(model, fx.points, fx.queries, k=k)
    expect = {(r.query_id, rank): idx
              for r in oracle if len(r.neighbors) == k
              for rank, (_, idx) in enumerate(r.neighbors, start=1)}
    assert {key: v[0] for key, v in fused.items()} == expect


def test_ann_gate_sql_oracle_three_way(spark):
    """The driver-gate ann_topk row: NumPy reference oracle == unrolled
    DuckDB SQL oracle == Spark engine, on the gate fixture.  This is the
    query CORRECTNESS_r{N} checks; the SQL replays the radius loop /
    searchThreshold cap / checked-set / finish semantics independently."""
    import duckdb

    from distributed_lsh_spark.entry_queries import q_ann_topk
    from distributed_lsh_spark.fixtures import make_ann_gate_fixture
    from distributed_lsh_spark.oracle.ann_gate_sql import sql_ann_topk

    fx = make_ann_gate_fixture()
    duck = duckdb.connect().execute(sql_ann_topk(fx)).fetchall()

    res = ann_search(fx.model, fx.points, fx.queries, fx.k)
    numpy_rows = sorted(
        (r.query_id, idx, round(dist, 6), rank)
        for r in res if r.finished_radius is not None
        for rank, (dist, idx) in enumerate(r.neighbors, start=1))
    assert sorted(duck) == numpy_rows
    assert len(numpy_rows) > 0

    got = sorted(tuple(r) for r in q_ann_topk(spark, "unused").collect())
    assert [(a, b, rk) for a, b, _, rk in got] == \
           [(a, b, rk) for a, b, _, rk in numpy_rows]
    for g, n in zip(got, numpy_rows):
        assert math.isclose(g[2], n[2], rel_tol=1e-9, abs_tol=1e-9)


def test_ann_accuracy_dataframe_matches_oracle(spark, model, fx):
    """A5 engine-side: the DataFrame avg_ratio/missing metric equals the
    NumPy oracle's avg_ratio on the same search results."""
    from distributed_lsh_spark.operators.ann import ann_accuracy, ann_search_spark

    k = 5
    pts = spark.createDataFrame(
        [(i, fx.points[i].tolist()) for i in range(len(fx.points))],
        "id long, vec array<int>")
    qs = spark.createDataFrame(
        [(i, fx.queries[i].tolist()) for i in range(len(fx.queries))],
        "query_id long, vec array<int>")
    res = ann_search_spark(spark, pts, qs, model, k=k)
    gt = spark.createDataFrame(
        [(q, fx.ground_truth[q][:k].tolist()) for q in range(len(fx.queries))],
        "query_id long, true_dists array<double>")
    row = ann_accuracy(res, gt, k=k, n_queries=len(fx.queries)).collect()[0]

    oracle_res = ann_search(model, fx.points, fx.queries, k=k)
    want_ratio, want_missing = avg_ratio(oracle_res, fx.ground_truth, k=k)
    assert row["n_missing"] == want_missing
    assert math.isclose(row["avg_ratio"], want_ratio, rel_tol=1e-9)


def test_values_df_matches_createdataframe(spark):
    """_values_df (the VALUES-LocalRelation fast path for bounded
    driver-state frames) is schema- and value-identical to the
    createDataFrame frame it replaces, for every column shape the search
    loop feeds it; oversized and empty inputs fall back to
    createDataFrame."""
    from distributed_lsh_spark.operators.ann import _VALUES_MAX_ROWS, _values_df

    rows = [(1, 3, 42), (2, 0, -7)]
    cols = [("query_id", "BIGINT"), ("table_id", "INT"), ("bucket", "BIGINT")]
    schema = "query_id long, table_id int, bucket long"
    a = _values_df(spark, rows, cols, schema)
    b = spark.createDataFrame(rows, schema)

    def nt(df):     # names+types; VALUES literals are non-nullable, which
        return [(f.name, f.dataType) for f in df.schema.fields]

    assert nt(a) == nt(b)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # LocalRelation, not an RDD scan
    assert "LocalRelation" in a._jdf.queryExecution().logical().toString()

    # typed array column + exact double round-trip (dist bookkeeping)
    rows2 = [(5, [1, 2, 3], 0.1 + 0.2), (6, [0, -4, 9], 1e-17)]
    cols2 = [("query_id", "BIGINT"), ("q_vec", "ARRAY<INT>"),
             ("dist", "DOUBLE")]
    schema2 = "query_id long, q_vec array<int>, dist double"
    a2 = _values_df(spark, rows2, cols2, schema2)
    b2 = spark.createDataFrame(rows2, schema2)
    assert nt(a2) == nt(b2)
    ra, rb = (sorted(x.collect(), key=lambda r: r["query_id"])
              for x in (a2, b2))
    for x, y in zip(ra, rb):
        assert x["q_vec"] == y["q_vec"]
        assert x["dist"] == y["dist"]          # bit-exact, not isclose

    # empty and overflow inputs take the createDataFrame path unchanged
    e = _values_df(spark, [], cols, schema)
    assert nt(e) == nt(b) and e.count() == 0
    big = [(i, 0, i) for i in range(_VALUES_MAX_ROWS + 1)]
    o = _values_df(spark, big, cols, schema)
    assert o.count() == _VALUES_MAX_ROWS + 1
