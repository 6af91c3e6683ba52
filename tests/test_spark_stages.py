"""Spark-stage vs oracle parity on deterministic micro-tables
(SURVEY.md §5 item 2)."""

from __future__ import annotations

import math

import pytest

from distributed_lsh_spark.conf import DEFAULT_CONFIG as CFG
from distributed_lsh_spark.oracle.dedup import DedupOracle
from distributed_lsh_spark.pipeline import build_stages


@pytest.fixture(scope="module")
def micro(spark):
    docs = {
        1: "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        2: "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        3: "alpha beta gamma delta epsilon zeta eta theta iota lambda",
        4: "totally different words entirely here nothing shared at all ok",
        5: "",
        6: "short doc",
        7: "Punct!!! only,,, tokens??? here... alpha BETA gamma DELTA epsilon zeta eta theta iota kappa",
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    st = build_stages(df, CFG)
    oc = DedupOracle(CFG, docs)
    return st, oc


def test_shingles_match_oracle(micro):
    st, oc = micro
    got = {r["doc_id"]: list(r["shingles"]) for r in st.docs.collect()}
    assert got == oc.shingles


def test_minhash_expr_matches_oracle(micro):
    st, oc = micro
    got = {r["doc_id"]: list(r["minhash"])
           for r in st.signatures.select("doc_id", "minhash").collect()}
    assert got == oc.sigs


def test_minhash_pandas_udf_matches_expr(spark, micro):
    st, oc = micro
    from distributed_lsh_spark.functions.hashing import with_minhash

    got = {r["doc_id"]: list(r["minhash"])
           for r in with_minhash(st.docs, CFG, impl="pandas").collect()}
    assert got == oc.sigs


def test_jvm_shingle_path_matches_fused(spark, micro):
    """The slow JVM HOF path (with_shingle_hashes + minhash_expr) and the
    fused Arrow stage implement ONE contract — cross-validate bit-for-bit
    (Java long wraparound == numpy uint64 wraparound)."""
    st, oc = micro
    from distributed_lsh_spark.functions.hashing import with_minhash
    from distributed_lsh_spark.functions.text import with_shingle_hashes

    base = st.docs.select("doc_id", "text")
    jvm = with_minhash(with_shingle_hashes(base, k=CFG.shingle_k), CFG, impl="expr")
    got = {r["doc_id"]: (list(r["shingles"]), list(r["minhash"]))
           for r in jvm.collect()}
    assert got == {d: (oc.shingles[d], oc.sigs[d]) for d in oc.docs}


def test_oph_engine_matches_oracle(spark, micro, tiny_corpus):
    """OPH (one-permutation hashing + rotation densification) in the fused
    UDF must match oracle.dedup.oph_sig bit-for-bit — micro docs (edge
    cases) plus the 200-doc fixture corpus (dup clusters, hot keys)."""
    st, oc = micro
    cfg = CFG.with_(minhash_scheme="oph")
    docs = dict(oc.docs)
    docs.update({1000 + i: t for i, t in tiny_corpus.texts_by_id().items()})
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {r["doc_id"]: list(r["minhash"])
           for r in build_stages(df, cfg).signatures
                    .select("doc_id", "minhash").collect()}
    assert got == DedupOracle(cfg, docs).sigs


def test_oph_pipeline_verified_matches_oracle(spark, tiny_corpus):
    """Full band->verify pipeline under OPH agrees with the oracle's
    band-slice candidate generation + exact verification."""
    cfg = CFG.with_(minhash_scheme="oph")
    docs = tiny_corpus.texts_by_id()
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {(r["id_a"], r["id_b"])
           for r in build_stages(df, cfg).verified.collect()}
    assert got == set(DedupOracle(cfg, docs).verified_pairs())


def test_kxl_only_paths_reject_oph():
    import pytest as _pytest
    from distributed_lsh_spark.functions.hashing import minhash_expr
    cfg = CFG.with_(minhash_scheme="oph")
    with _pytest.raises(ValueError, match="kxl"):
        minhash_expr("shingles", cfg)
    with _pytest.raises(ValueError, match="kxl|oph"):
        from distributed_lsh_spark.functions.signature import signature_pandas_udf
        signature_pandas_udf(CFG.with_(minhash_scheme="bogus"))


def test_simhash_matches_oracle(micro):
    st, oc = micro
    got = {r["doc_id"]: r["simhash"]
           for r in st.signatures.select("doc_id", "simhash").collect()}
    assert got == oc.simhashes


def test_candidates_and_verified_match_oracle(micro):
    st, oc = micro
    got_pairs = {(r["id_a"], r["id_b"]) for r in st.pairs.collect()}
    assert got_pairs == oc.candidate_pairs()
    got_ver = {(r["id_a"], r["id_b"]): r["jaccard"] for r in st.verified.collect()}
    expect = oc.verified_pairs()
    assert set(got_ver) == set(expect)
    for k, v in expect.items():
        assert math.isclose(got_ver[k], v, rel_tol=1e-12)


def test_hamming_pairs_match_oracle(spark, micro):
    st, oc = micro
    from distributed_lsh_spark.operators.verify import hamming_pairs

    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in hamming_pairs(st.pairs, st.signatures, CFG).collect()}
    # engine checks only LSH candidates; oracle simhash_pairs is brute-force
    brute = oc.simhash_pairs()
    for k, h in got.items():
        assert brute[k] == h


@pytest.mark.parametrize("bc_threshold", [None, "-1"],
                         ids=["session-default", "no-broadcast"])
def test_verify_join_matches_oracle_under_aqe(spark, micro, bc_threshold):
    """verify_pairs builds one plan and leaves the join strategy to AQE:
    with the session's auto-broadcast threshold the tiny pair list may
    broadcast; with auto-broadcast off AQE keeps the sort-merge join.
    Either way the verified set equals the oracle's."""
    st, oc = micro
    from distributed_lsh_spark.operators.verify import verify_pairs

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        if bc_threshold is not None:
            spark.conf.set(key, bc_threshold)
        verified = verify_pairs(st.pairs, st.signatures, CFG)
        got = {(r["id_a"], r["id_b"]): r["jaccard"]
               for r in verified.collect()}
        if bc_threshold == "-1":
            plan = verified._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "BroadcastHashJoin" not in plan
    finally:
        spark.conf.set(key, old)
    expect = oc.verified_pairs()
    assert set(got) == set(expect)
    for k, v in expect.items():
        assert math.isclose(got[k], v, rel_tol=1e-12)
