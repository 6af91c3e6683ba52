"""Dump formatted physical plans for the headline queries into PLANS.md and
grep them for the scale-critical properties:

  * parquet scans show PushedFilters / pruned ReadSchema
  * small dims join as BroadcastHashJoin
  * AQE nodes present (AdaptiveSparkPlan)
  * no CartesianProduct except the intentional broadcast cross join in
    embedding_topk

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")

AUDITED = [
    "minhash_lsh_dup_pairs", "minhash_oph_dup_pairs",
    "ngram_jaccard_dup_pairs", "exact_dup_groups",
    "simhash_hamming_pairs", "substring_dup_pairs", "substring_span_pairs",
    "embedding_cosine_pairs", "doc_quality", "dedup_stats", "curated_docs",
    "pricing_summary", "top_unshipped_orders", "events_hourly",
    "user_sessions", "embedding_topk", "balance_rollup", "part_semi_anti",
    "html_extract", "lang_id", "token_stats", "pii_scrub", "contamination_check",
    "decontam_filter", "word_blocklist_filter",
    "line_dedup", "line_dedup_keep_first", "bloom_line_dedup",
    "fuzzy_exact_dup_groups",
    "gopher_repetition", "url_latest_dedup", "dedup_funnel",
    "token_rarity", "domain_stats", "semantic_dedup", "warc_extract",
    "url_canonical_dedup", "canonical_link_dedup", "pub_date_extract", "hreflang_pairs", "redirect_chains", "registrable_domains", "jsonld_types", "soft404_filter", "cdx_index", "sitemap_urls", "web_doc_records",
    "stratified_sample", "link_pagerank",
    "unicode_nfc_dedup", "cluster_representatives", "dedup_against_corpus",
    "pack_sequences", "blocklist_filter", "soft_dedup_weights",
    "cluster_safe_split", "temperature_mixture", "bigram_lm_quality",
    "quality_classifier", "dsir_weights", "dsir_select",
    "substring_removal", "mirror_hosts",
    "reservoir_sample", "containment_dup_pairs", "dedup_funnel_contained",
    "dedup_funnel_dsir",
    "host_boilerplate", "gopher_quality",
    "c4_line_filter", "bpe_merge_learn", "bpe_encode", "doc_chunking",
    "corpus_profile", "pair_similarity_histogram", "export_shards",
    "anchor_texts", "kmeans_topics", "incremental_clusters",
    "ngram_novelty", "perplexity_buckets", "host_token_budget",
    "events_asof_join", "cluster_retraction",
    "vocab_hll", "source_overlap_hll", "cms_term_counts",
    "length_quantiles", "encoding_quality", "noindex_filter",
    "robots_filter", "main_content_extract", "url_change_stats",
    "tfidf_terms", "line_lang_segments",
    "corpus_drift", "cluster_audit",
]


def _bucketed_verify_audit(spark, out, findings) -> None:
    """The verify payload joins' co-location contract, asserted on the
    plan: a signatures checkpoint written with bucket_by=(N, doc_id)
    (Iceberg bucket transform on a cluster; native Spark bucketed table
    on the Parquet backend) feeds verify_pairs with NO Exchange on either
    payload scan — only the bare 16-byte pair list shuffles.  AQE and
    auto-broadcast are off here so the static sort-merge plan shows.
    Mirrors tests/test_extract_checkpoint_misc.py::
    test_parquet_bucketed_stage_colocates_verify_joins."""
    import tempfile

    from pyspark.sql import functions as F

    from distributed_lsh_spark.conf import DEFAULT_CONFIG as CFG
    from distributed_lsh_spark.operators.verify import verify_pairs
    from distributed_lsh_spark.sources.checkpoint import CheckpointManager

    ckpt = CheckpointManager(spark, tempfile.mkdtemp(prefix="plan_audit_"),
                             run_id="audit")
    sigs = ckpt.stage(
        "signatures",
        lambda: spark.range(2000).select(
            F.col("id").alias("doc_id"),
            F.array(F.col("id"), F.col("id") + 1).alias("shingles")),
        bucket_by=(16, "doc_id"))
    pairs = spark.range(500).select(F.col("id").alias("id_a"),
                                    (F.col("id") + 1).alias("id_b"))
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        v = verify_pairs(pairs, sigs, CFG, keep_below_threshold=True)
        plan = v._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
    n_ex = plan.count("Exchange")
    ok = "Bucketed: true" in plan and n_ex == 2
    out.write("\n## verify payload joins over a bucketed signatures "
              "checkpoint\n\nAQE picks the join at runtime; with it off, "
              "bucket_by=(16, doc_id) -> verify_pairs: "
              f"{n_ex} Exchanges (both on the bare pair list), "
              f"payload scans bucketed={'Bucketed: true' in plan}.\n\n"
              f"```\n{plan}\n```\n")
    findings.append(("bucketed_verify",
                     ["no-exchange-payload-scans" if ok
                      else "!!EXCHANGE-ON-BUCKETED-SCAN!!"]))
    print("bucketed_verify ->",
          "no-exchange-payload-scans" if ok else "!!EXCHANGE!!")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from distributed_lsh_spark.entry_queries import QUERIES
    from distributed_lsh_spark.session import get_spark

    spark = get_spark(cores=4)
    findings = []
    with open("PLANS.md", "w") as out:
        out.write("# Physical plans (explain formatted) — scale audit\n\n"
                  f"Input: {sf_dir}. Generated by tools/explain_audit.py.\n")
        for name in AUDITED:
            df = QUERIES[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
            out.write(f"\n## {name}\n\n```\n{plan}\n```\n")
            checks = []
            if "BroadcastHashJoin" in plan:
                checks.append("broadcast-join")
            if "PushedFilters: [" in plan and "PushedFilters: []" not in plan:
                checks.append("pushed-filters")
            if "AdaptiveSparkPlan" in plan:
                checks.append("AQE")
            if "CartesianProduct" in plan and name != "embedding_topk":
                checks.append("!!CARTESIAN!!")
            if "InMemoryTableScan" in plan:
                checks.append("cached")
            findings.append((name, checks))
            print(name, "->", ", ".join(checks) or "-")
        _bucketed_verify_audit(spark, out, findings)
    spark.stop()
    bad = [n for n, c in findings if "!!CARTESIAN!!" in c]
    if bad:
        print("UNINTENTIONAL CARTESIAN:", bad)
        sys.exit(1)


if __name__ == "__main__":
    main()
