"""CLI — the spark-submit entry point.

Preserves the reference's verb structure (DistributedLSH.java:32-37:
-b build, -s search, -bs both) re-targeted at the dedup graft:

    spark-submit --py-files dist/distributed_lsh_spark.zip \\
        -m distributed_lsh_spark.cli dedup \\
        --input /data/pages --output /runs/r7 --run-id r7

verbs:
  dedup   pages table -> signatures -> dup pairs -> clusters, checkpointed
          per stage (resumable: rerun with the same --run-id skips
          completed stages)
  curate  tiered dedup funnel (url-latest -> exact -> quality -> near-dup),
          every tier checkpointed, per-tier metrics JSON
  query   c-k-ANN over an integer-vector table (reference parity mode)

(the two-parallelism scaling protocol lives in bench_scaling.py at the
repo root; the headline-query benchmark in bench.py)
"""

from __future__ import annotations

import argparse
import json
import time


def _read_pages(spark, args: argparse.Namespace):
    """--input under --input-format: parquet (internal format) or JSONL
    (interchange; corrupt lines dropped after the PERMISSIVE load)."""
    if getattr(args, "input_format", "parquet") == "jsonl":
        from pyspark.sql import functions as F

        from distributed_lsh_spark.sources.jsonl import read_jsonl

        # corrupt lines parse to all-null data fields; filtering on the
        # data columns (not _corrupt_record) keeps every downstream
        # column-pruned plan clear of Spark's
        # QUERY_ONLY_CORRUPT_RECORD_COLUMN restriction
        return (read_jsonl(spark, args.input)
                .where(F.col("url").isNotNull() & F.col("text").isNotNull())
                .drop("_corrupt_record"))
    return spark.read.parquet(args.input)


def _add_spark_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--cores", type=int, default=None,
                   help="local[N] cores (ignored under spark-submit on a cluster)")
    p.add_argument("--shuffle-partitions", type=int, default=None)


def cmd_dedup(args: argparse.Namespace) -> None:
    from distributed_lsh_spark.conf import DedupConfig
    from distributed_lsh_spark.functions.extract import with_extracted_text
    from distributed_lsh_spark.pipeline import build_stages, exact_collapse
    from distributed_lsh_spark.operators.connected_components import connected_components
    from distributed_lsh_spark.session import get_spark
    from distributed_lsh_spark.sources.checkpoint import CheckpointManager
    from pyspark.sql import functions as F

    cfg = DedupConfig(shingle_k=args.shingle_k, num_perm=args.num_perm,
                      num_bands=args.bands, rows_per_band=args.num_perm // args.bands,
                      jaccard_threshold=args.threshold, seed=args.seed)
    spark = get_spark("dedup", cores=args.cores,
                      shuffle_partitions=args.shuffle_partitions)
    ckpt = CheckpointManager(spark, args.output, run_id=args.run_id,
                             config_echo={**cfg.__dict__,
                                          "against": args.against or ""})

    pages = _read_pages(spark, args)
    if "text" not in pages.columns:
        pages = with_extracted_text(pages)
    if "doc_id" not in pages.columns:
        pages = pages.withColumn("doc_id", F.xxhash64("url"))

    if args.against:
        # incremental mode (operators/snapshot.py): the archive is never
        # re-clustered — its side comes either from its persisted
        # signature checkpoint (--against-sigs, the whole point of the
        # incremental shape) or one signature pass over the archive text
        from distributed_lsh_spark.operators.snapshot import (
            dedup_against_corpus,
        )

        t0 = time.time()
        corpus = spark.read.parquet(args.against)
        corpus_sigs = (spark.read.parquet(args.against_sigs)
                       if args.against_sigs else None)
        new = pages.select("doc_id", "text")
        dups = ckpt.stage(
            "against_dups",
            lambda: dedup_against_corpus(corpus, new, cfg,
                                         corpus_sigs=corpus_sigs,
                                         prefilter=args.prefilter))
        n_new = new.count()
        n_dup = int(ckpt.rows("against_dups"))
        n_labels = None
        if args.merge_labels:
            # cluster maintenance: archive labels never re-cluster; the
            # batch's (new doc, best archive match) edges fold in
            from distributed_lsh_spark.operators.snapshot import (
                incremental_components,
            )

            standing = spark.read.parquet(args.merge_labels) \
                .select("doc_id", "cluster_id")
            edges = dups.select(F.col("doc_id").alias("id_a"),
                                F.col("dup_of").alias("id_b"))
            ckpt.stage("updated_labels",
                       lambda: incremental_components(standing, edges))
            n_labels = int(ckpt.rows("updated_labels"))
        dt = time.time() - t0
        print(json.dumps({
            "run_id": args.run_id, "n_new_docs": n_new,
            "n_dup_of_archive": n_dup, "n_novel": n_new - n_dup,
            "n_labels": n_labels,
            "wall_sec": round(dt, 2),
            "docs_per_sec": round(n_new / dt, 1) if dt else None,
            "dups_stage": "against_dups",
        }))
        return

    t0 = time.time()
    # byte-identical collapse FIRST (pipeline.exact_collapse): identical-page
    # families are the canonical hot key; without this a >hot_band_cap
    # identical family would lose members from every capped band bucket
    base = pages.select("doc_id", "text")
    reps = ckpt.stage("exact_reps", lambda: exact_collapse(base)[0])

    def _edges():
        # derive member->rep edges from the CHECKPOINTED reps instead of a
        # second exact_collapse: reps are distinct per md5 already, so
        # re-hashing them (a collapsed, small frame) replaces the groupBy
        # over the full corpus the old double-build paid
        m = (base.withColumn("_h", F.md5(F.col("text").cast("binary")))
                 .select("_h", F.col("doc_id").alias("id_b")))
        rid = reps.select(F.md5(F.col("text").cast("binary")).alias("_h"),
                          F.col("doc_id").alias("id_a"))
        return (m.join(rid, "_h")
                 .where(F.col("id_a") != F.col("id_b"))
                 .select("id_a", "id_b"))

    exact_edges = ckpt.stage("exact_edges", _edges)
    # bucket(64, doc_id): the verify stage's payload joins read this
    # co-located — Iceberg bucket transform on a cluster, native Spark
    # bucketed table on the Parquet backend.  AQE picks the join; the
    # bucketed layout removes the Exchanges on the signature scans
    # (PLANS.md `bucketed_verify` audit)
    sigs = ckpt.stage("signatures",
                      lambda: build_stages(reps, cfg).signatures,
                      bucket_by=(64, "doc_id"))

    def _pairs():
        from distributed_lsh_spark.functions.hashing import band_keys
        from distributed_lsh_spark.operators.candidates import candidate_pairs
        from distributed_lsh_spark.operators.verify import verify_pairs
        bands = band_keys(sigs, cfg)
        return verify_pairs(candidate_pairs(bands, cfg), sigs, cfg)

    verified = ckpt.stage("verified_pairs", _pairs)
    clusters = ckpt.stage(
        "clusters", lambda: connected_components(
            verified.select("id_a", "id_b").unionByName(exact_edges)))
    extra = {}
    if args.emit_weights or args.emit_split:
        # post-dedup curation tables (operators/weighting.py) as extra
        # checkpointed stages: a rerun that adds one of these flags
        # resumes every dedup stage and only builds the new table
        from distributed_lsh_spark.operators.weighting import (
            cluster_safe_split, soft_dedup_weights,
        )

        docs = pages.select("doc_id")
        if args.emit_weights:
            ckpt.stage("weights",
                       lambda: soft_dedup_weights(docs, clusters))
            extra["n_weighted_docs"] = ckpt.rows("weights")
        if args.emit_split:
            ckpt.stage("split", lambda: cluster_safe_split(docs, clusters))
            extra["n_split_docs"] = ckpt.rows("split")
    # stage row counts come from the manifests — no re-scan of checkpoints
    n_docs = pages.count()
    n_pairs, n_clustered = ckpt.rows("verified_pairs"), ckpt.rows("clusters")
    dt = time.time() - t0
    print(json.dumps({
        "run_id": args.run_id, "n_docs": n_docs, "n_dup_pairs": n_pairs,
        "n_clustered_docs": n_clustered, "wall_sec": round(dt, 2),
        "docs_per_sec": round(n_docs / dt, 1), **extra,
    }))
    # NOTE: no spark.stop() — the session may be shared (tests, notebooks);
    # process exit tears it down for CLI runs


def cmd_ingest(args: argparse.Namespace) -> None:
    """WARC files -> the north-star pages table (url, warc_ts, html, text,
    lang) as parquet: sources/warc.read_warc (one file per task, no
    shuffle), optional RFC 3986 url canonicalization, the gate-pinned
    html->text extractor, stopword-vote lang id.  The output is exactly
    the table `dedup` / `curate` consume, so the full Common-Crawl flow is
    `ingest` -> `curate` end to end."""
    from pyspark.sql import functions as F

    from distributed_lsh_spark.entry_queries import pred_lang_expr
    from distributed_lsh_spark.functions.extract import with_extracted_text
    from distributed_lsh_spark.session import get_spark
    from distributed_lsh_spark.sources.warc import read_warc

    spark = get_spark("ingest", cores=args.cores,
                      shuffle_partitions=args.shuffle_partitions)
    t0 = time.time()
    pages = read_warc(spark, args.input)
    if not args.raw_urls:
        from distributed_lsh_spark.functions.url import canonicalize_url_udf
        pages = pages.withColumn("url", canonicalize_url_udf(F.col("url")))
    pages = with_extracted_text(pages).withColumn("lang", pred_lang_expr())
    out = pages.select("url", "warc_ts", "html", "text", "lang")
    if args.partitions:
        # re-shard away from one-row-group-per-warc-file before writing
        out = out.repartition(args.partitions)
    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    dt = time.time() - t0
    print(json.dumps({"n_pages": n, "wall_sec": round(dt, 2),
                      "pages_per_sec": round(n / dt, 1) if dt else None,
                      "canonical_urls": not args.raw_urls,
                      "output": args.output}))


def cmd_curate(args: argparse.Namespace) -> None:
    """Tiered dedup funnel over a pages table (operators/funnel.py):
    url-latest -> exact -> quality -> near-dup, each tier checkpointed
    under --output/--run-id (resume mid-funnel), per-tier metrics JSON on
    stdout.  The survivors table is the committed `funnel_near_dup` stage
    — no second copy is written."""
    from pyspark.sql import functions as F

    from distributed_lsh_spark.conf import DedupConfig
    from distributed_lsh_spark.entry_queries import quality_keep_expr
    from distributed_lsh_spark.functions.extract import with_extracted_text
    from distributed_lsh_spark.operators.funnel import curation_funnel
    from distributed_lsh_spark.session import get_spark
    from distributed_lsh_spark.sources.checkpoint import CheckpointManager

    cfg = DedupConfig(shingle_k=args.shingle_k, num_perm=args.num_perm,
                      num_bands=args.bands, rows_per_band=args.num_perm // args.bands,
                      jaccard_threshold=args.threshold, seed=args.seed)
    spark = get_spark("curate", cores=args.cores,
                      shuffle_partitions=args.shuffle_partitions)
    pages = _read_pages(spark, args)
    if "text" not in pages.columns:
        pages = with_extracted_text(pages)
    if "doc_id" not in pages.columns:
        pages = pages.withColumn("doc_id", F.xxhash64("url"))
    # url tier needs a crawl timestamp; accept either north_star warc_ts
    # or a precomputed epoch — without one the funnel starts at exact
    ts_col = next((c for c in ("warc_ts", "warc_epoch")
                   if c in pages.columns), None)
    url_col = "url" if ("url" in pages.columns and ts_col) else "__no_url__"
    n_noindex_removed = None
    if args.respect_noindex:
        # robots-meta compliance pass FIRST (cheapest map-only scan;
        # a page asking not to be indexed never enters any tier)
        if "html" not in pages.columns:
            raise SystemExit("--respect-noindex needs an html column "
                             "on the input pages table")
        from distributed_lsh_spark.functions.extract import robots_noindex

        n_before_ni = pages.count()
        pages = pages.where(~robots_noindex("html"))
        n_noindex_removed = n_before_ni - pages.count()
    n_robots_removed = None
    if args.robots_table:
        # RFC 9309 robots.txt compliance — the other crawl-legality
        # pass: rules are O(#hosts) rows parsed host-side (never per
        # page), the page side is one host join + one rlike + one
        # map-side-combinable argmax, then a left_anti on the (small)
        # disallowed id set
        if "url" not in pages.columns:
            raise SystemExit("--robots-table needs a url column "
                             "on the input pages table")
        from distributed_lsh_spark.operators.blocklist import url_host
        from distributed_lsh_spark.operators.robots import (
            robots_rules, robots_verdicts)

        robots = spark.read.parquet(args.robots_table)
        rules = robots_rules(robots, user_agent=args.robots_agent)
        # RFC matching runs against path + query (the Google matcher's
        # convention); no path at all matches as "/"
        tail = F.regexp_extract(
            F.col("url"),
            r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([/?].*)?$", 1)
        probe = pages.select(
            "doc_id", url_host(F.col("url")).alias("host"),
            F.when(tail == "", F.lit("/")).otherwise(tail).alias("path"))
        blocked = (robots_verdicts(probe, rules)
                   .where(~F.col("allowed")).select("doc_id"))
        n_before_rb = pages.count()
        pages = pages.join(blocked, "doc_id", "left_anti")
        n_robots_removed = n_before_rb - pages.count()
    n_encoding_fixed = None
    if args.fix_encoding:
        # ftfy-style mojibake repair BEFORE any byte-keyed tier: wrong-
        # charset decodes corrupt exact-dedup md5s, shingles, and lang
        # ID alike.  Detection is codegen; the Arrow repair UDF runs
        # only on flagged rows (>= 2 artifact sequences — the gated
        # encoding_quality threshold); FFFD damage is irreversible and
        # passes through via the UDF's failure path.
        from distributed_lsh_spark.functions.encoding import (
            fix_mojibake_udf, mojibake_artifacts)

        flagged = mojibake_artifacts("text") >= 2
        n_encoding_fixed = pages.where(flagged).count()
        pages = pages.withColumn(
            "text", F.when(flagged, fix_mojibake_udf(F.col("text")))
                     .otherwise(F.col("text")))
    bl_entries: list[str] = []
    if args.blocked_hosts:
        if "url" not in pages.columns:
            raise SystemExit("--blocked-hosts needs a url column "
                             "on the input pages table")
        with open(args.blocked_hosts) as fh:
            bl_entries = sorted({ln.strip().lower() for ln in fh
                                 if ln.strip() and not ln.startswith("#")})
    n_raw = None
    if bl_entries or args.blocked_url_regex:
        # map-only UT1-style safety pass BEFORE any funnel tier: broadcast
        # suffix joins + one codegen rlike (operators/blocklist.py)
        from distributed_lsh_spark.operators.blocklist import blocklist_filter

        n_raw = pages.count()
        bl = spark.createDataFrame([(h,) for h in bl_entries] or
                                   [("",)], "blocked_host string")
        if not bl_entries:
            bl = bl.limit(0)
        pages = blocklist_filter(pages, bl, "url",
                                 args.blocked_url_regex or None)
    wd_words: list[str] = []
    n_after_host = None
    if args.blocked_words:
        # C4-style bad-WORDS content filter (the host/url blocklist's
        # content counterpart): one codegen regexp scan, map-only
        import re as _re

        with open(args.blocked_words) as fh:
            wd_words = sorted({w.strip().lower() for w in fh
                               if w.strip() and not w.startswith("#")})
        bad_entries = [w for w in wd_words
                       if not _re.fullmatch("[a-z0-9]+", w)]
        if bad_entries:
            raise SystemExit("--blocked-words entries must be single "
                             "[a-z0-9]+ tokens (the tokenizer alphabet); "
                             f"offending: {bad_entries[:5]}")
        if not wd_words:
            raise SystemExit("--blocked-words file has no entries")
        from distributed_lsh_spark.entry_queries import word_blocklist_expr

        if n_raw is None:
            n_raw = pages.count()
        else:
            # both blocklists active: one intermediate count splits the
            # removal attribution between them
            n_after_host = pages.count()
        pages = pages.where(word_blocklist_expr(wd_words) == 0)
    eval_texts: list[str] = []
    eval_md5 = None
    if args.decontaminate:
        # read the benchmark suite driver-side (one eval text per line —
        # fixed MBs at any corpus scale); its CONTENT hashes into the
        # config echo so a changed suite rebuilds, never resumes
        import hashlib

        with open(args.decontaminate, "rb") as fh:
            raw = fh.read()
        eval_md5 = hashlib.md5(raw).hexdigest()
        eval_texts = [ln for ln in raw.decode("utf-8").splitlines()
                      if ln.strip()]
        if not eval_texts:
            raise SystemExit("--decontaminate file has no eval texts")
    dsir_texts: list[str] = []
    dsir_md5 = None
    if args.dsir_keep and not args.dsir_target:
        raise SystemExit("--dsir-keep needs --dsir-target TARGET_FILE")
    if args.dsir_target:
        # target corpus read driver-side (one text per line, fixed MBs
        # at any corpus scale); content hashes into the config echo
        import hashlib

        if not args.dsir_keep:
            raise SystemExit("--dsir-target needs --dsir-keep N")
        with open(args.dsir_target, "rb") as fh:
            raw = fh.read()
        dsir_md5 = hashlib.md5(raw).hexdigest()
        dsir_texts = [ln for ln in raw.decode("utf-8").splitlines()
                      if ln.strip()]
        if not dsir_texts:
            raise SystemExit("--dsir-target file has no target texts")
    if args.canonical_urls and url_col == "url":
        # fold url spellings together BEFORE keep-latest-per-url, so
        # HTTP://Ex.COM:80/a#f and http://ex.com/a dedup as one page
        from distributed_lsh_spark.functions.url import canonicalize_url_udf
        pages = pages.withColumn("url", canonicalize_url_udf(F.col("url")))

    # the tier SET is part of the config: rerunning a run-id with a
    # different --no-quality / --canonical-urls (or a url/ts column
    # appearing) must invalidate the staged tiers, not resume them under
    # old semantics
    ckpt = CheckpointManager(spark, args.output, run_id=args.run_id,
                             config_echo={**cfg.__dict__,
                                          "no_quality": args.no_quality,
                                          "canonical_urls":
                                              bool(args.canonical_urls),
                                          "url_col": url_col,
                                          "ts_col": ts_col,
                                          # blocklist semantics are part
                                          # of the run config: a changed
                                          # list must rebuild, not resume
                                          "respect_noindex":
                                              bool(args.respect_noindex),
                                          # robots semantics: the table
                                          # is input DATA (not hashed,
                                          # like the pages input); the
                                          # agent + table path are config
                                          "robots_table": args.robots_table,
                                          "robots_agent": args.robots_agent
                                          if args.robots_table else None,
                                          "fix_encoding":
                                              bool(args.fix_encoding),
                                          "blocked_hosts": bl_entries,
                                          "blocked_url_regex":
                                              sorted(args.blocked_url_regex
                                                     or []),
                                          "remove_spans": args.remove_spans,
                                          "span_window": args.span_window,
                                          "drop_contained":
                                              bool(args.drop_contained),
                                          "fuzzy_exact":
                                              bool(args.fuzzy_exact),
                                          "strip_boilerplate":
                                              bool(args.strip_boilerplate),
                                          # dedup-decision semantics are
                                          # run config: a mode change
                                          # must rebuild, not resume
                                          "line_dedup": args.line_dedup,
                                          "bloom_bits": args.bloom_bits,
                                          "blocked_words": wd_words,
                                          "max_docs_per_host":
                                              args.max_docs_per_host,
                                          "decontaminate": eval_md5,
                                          "contam_ngram": args.contam_ngram,
                                          "contam_threshold":
                                              args.contam_threshold,
                                          "dsir_target": dsir_md5,
                                          "dsir_keep": args.dsir_keep})
    t0 = time.time()
    res = curation_funnel(
        pages, cfg, url_col=url_col, ts_col=ts_col or "warc_epoch",
        quality_keep=None if args.no_quality else quality_keep_expr(),
        drop_contained=cfg.jaccard_threshold if args.drop_contained
        else None,
        fuzzy_exact=bool(args.fuzzy_exact),
        ckpt=ckpt)
    survivors = res.survivors
    n_after_decontam = None
    if args.decontaminate:
        # benchmark decontamination (GPT-3 13-gram rule by default):
        # drop survivors sharing n-grams with the eval suite.  Runs
        # FIRST among the post-funnel tiers so the rewrite passes below
        # never spend work on docs that are about to be dropped.
        from distributed_lsh_spark.operators.decontam import decontaminate

        pre_surv = survivors
        ev_df = spark.createDataFrame([(t,) for t in eval_texts],
                                      "text string")

        def _decontam():
            return decontaminate(pre_surv, ev_df, n=args.contam_ngram,
                                 threshold=args.contam_threshold)

        survivors = ckpt.stage("decontam", _decontam)
        # one count on the committed stage; the rewrite tiers below are
        # 1:1 on doc_id, so this is also the final survivor count
        n_after_decontam = survivors.count()
    n_after_hostcap = None
    if args.max_docs_per_host:
        # anti-domination cap: keep at most N docs per host, chosen by
        # deterministic md5 rank (operators/sampling.reservoir_sample),
        # so the kept set is reproducible across runs AND physical
        # layouts; the sampler's hash-threshold prefilter bounds the
        # per-host window at ~2N rows even for a mega-host.
        from distributed_lsh_spark.operators.blocklist import url_host
        from distributed_lsh_spark.operators.sampling import reservoir_sample

        if "url" not in pages.columns:
            raise SystemExit("--max-docs-per-host needs a url column "
                             "(hosts scope the cap)")
        cap_surv = survivors

        def _cap():
            withhost = cap_surv.withColumn("_host", url_host(F.col("url")))
            return (reservoir_sample(withhost, "_host",
                                     args.max_docs_per_host)
                    .drop("_host", "sample_rank"))

        survivors = ckpt.stage("host_cap", _cap)
        n_after_hostcap = survivors.count()
    n_after_dsir = None
    if args.dsir_keep:
        # DSIR selection tier (operators/dsir.py): keep the N survivors
        # whose hashed-n-gram importance keys against the target corpus
        # are largest — a without-replacement resample ~ w.  Runs after
        # the cap tiers and BEFORE the rewrite tiers, so rewrites never
        # touch docs the resample drops.
        from distributed_lsh_spark.operators.dsir import (dsir_select,
                                                          dsir_weights)

        dsir_surv = survivors
        tgt_df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(dsir_texts)],
            "doc_id long, text string")

        def _weights():
            return dsir_weights(dsir_surv.select("doc_id", "text"), tgt_df)

        # stage the weights table (five narrow columns) so the selection's
        # two passes (histogram + threshold filter) scan a materialized
        # frame instead of re-running the scoring lineage twice
        wdf = ckpt.stage("dsir_weights", _weights)

        def _dsir():
            sel = dsir_select(weights=wdf, n=args.dsir_keep)
            return dsir_surv.join(
                sel.select("doc_id", "logw_micro", "key_micro"), "doc_id")

        survivors = ckpt.stage("dsir_select", _dsir)
        n_after_dsir = survivors.count()
    n_boiler_lines = None
    if args.strip_boilerplate:
        # post-funnel rewrite tier: cut host-scoped chrome lines (the
        # gated host_boilerplate rule) from the survivors — the
        # within-site pass the doc-level tiers cannot express.  Output
        # text is the cleaned NORMALIZED stream (the whole line-dedup
        # family's contract).  Runs BEFORE span removal so verbatim-span
        # detection sees chrome-free text.
        from distributed_lsh_spark.operators.blocklist import url_host
        from distributed_lsh_spark.operators.boilerplate import \
            strip_host_boilerplate

        # needs only the url COLUMN (hosts scope the rule) — unlike the
        # url tier, no crawl timestamp required
        if "url" not in pages.columns:
            raise SystemExit("--strip-boilerplate needs a url column "
                             "(hosts scope the rule)")
        prev_surv = survivors

        def _strip():
            cleaned = strip_host_boilerplate(
                prev_surv.select("doc_id", "text",
                                 url_host(F.col("url")).alias("host")))
            return (prev_surv.drop("text")
                    .join(cleaned.select(
                        "doc_id", F.col("n_removed").alias("_n_chrome"),
                        F.col("clean_text").alias("text")), "doc_id"))

        survivors = ckpt.stage("boiler_clean", _strip)
        n_boiler_lines = (survivors.agg(F.sum("_n_chrome")).collect()[0][0]
                          or 0)
        survivors = survivors.drop("_n_chrome")
    n_dup_lines = None
    if args.line_dedup:
        # post-funnel rewrite tier: GLOBAL line dedup (the gated
        # line_dedup / line_dedup_keep_first / bloom_line_dedup
        # semantics, operators/line_dedup.py).  Runs AFTER the
        # host-scoped chrome pass (targeted within-site removal first,
        # the global rule then handles cross-site repeats) and BEFORE
        # span removal, so verbatim-span detection sees line-deduped
        # text.  Output text is the cleaned NORMALIZED stream (the
        # family's contract).
        from distributed_lsh_spark.operators.line_dedup import \
            remove_duplicate_lines

        ld_surv = survivors

        def _line_clean():
            kw = {"bloom_m": args.bloom_bits} if args.bloom_bits else {}
            cleaned = remove_duplicate_lines(
                ld_surv.select("doc_id", "text"),
                mode=args.line_dedup.replace("-", "_"), **kw)
            return (ld_surv.drop("text")
                    .join(cleaned.select(
                        "doc_id", F.col("n_removed").alias("_n_dup"),
                        F.col("clean_text").alias("text")), "doc_id"))

        survivors = ckpt.stage("line_clean", _line_clean)
        n_dup_lines = (survivors.agg(F.sum("_n_dup")).collect()[0][0]
                       or 0)
        survivors = survivors.drop("_n_dup")
    n_span_tokens = None
    if args.remove_spans:
        # post-funnel rewrite tier (Lee et al. remediation): the funnel
        # drops whole near-dup docs; this cuts the >=W-token spans that
        # survive BELOW the doc-level Jaccard threshold.  Checkpointed —
        # a rerun adding the flag resumes every funnel tier.
        from distributed_lsh_spark.operators.substring import \
            remove_shared_spans

        def _clean():
            cleaned = remove_shared_spans(
                survivors.select("doc_id", "text"),
                window=args.span_window, guarantee=5)
            return (survivors.drop("text")
                    .join(cleaned.select(
                        "doc_id", "n_removed",
                        F.col("clean_text").alias("text")), "doc_id"))

        survivors = ckpt.stage("span_clean", _clean)
        n_span_tokens = (survivors.agg(F.sum("n_removed")).collect()[0][0]
                         or 0)
        survivors = survivors.drop("n_removed")
    metrics = [r.asDict() for r in res.metrics.orderBy("tier_no").collect()]
    n_wet = None
    if args.wet_output:
        # survivors -> WET-style conversion-record WARC files, the Common
        # Crawl handback format; needs the north-star url/ts columns
        from distributed_lsh_spark.sources.warc import write_warc

        if url_col == "url" and ts_col == "warc_ts":
            n_wet = write_warc(survivors, args.wet_output)
        else:
            raise SystemExit("--wet-output needs url + warc_ts columns "
                             "on the input pages table")
    n_jsonl = None
    if args.jsonl_output:
        # survivors -> gzipped JSONL shards, the tokenizer-pipeline
        # hand-off format (binary columns dropped; sources/jsonl.py)
        from distributed_lsh_spark.sources.jsonl import write_jsonl

        n_jsonl = write_jsonl(survivors, args.jsonl_output,
                              shards=args.jsonl_shards)
    dt = time.time() - t0
    n_in = metrics[0]["docs_out"]
    n_survivors = next(
        (n for n in (n_after_dsir, n_after_hostcap, n_after_decontam)
         if n is not None),
        metrics[-1]["docs_out"])
    # pre-funnel removal attribution: n_raw -> [host/url blocklist] ->
    # n_after_host -> [word blocklist] -> n_in (the funnel input count)
    host_word_removed: dict[str, int] = {}
    if n_raw is not None:
        host_active = bool(bl_entries or args.blocked_url_regex)
        if host_active and wd_words:
            host_word_removed = {
                "blocklist_removed": n_raw - n_after_host,
                "word_blocklist_removed": n_after_host - n_in}
        elif wd_words:
            host_word_removed = {"word_blocklist_removed": n_raw - n_in}
        else:
            host_word_removed = {"blocklist_removed": n_raw - n_in}
    print(json.dumps({
        "run_id": args.run_id, "tiers": metrics,
        "n_docs": n_in, "n_survivors": n_survivors,
        "wall_sec": round(dt, 2),
        "docs_per_sec": round(n_in / dt, 1) if dt else None,
        "survivors_stage": ("span_clean" if args.remove_spans
                            else "line_clean" if args.line_dedup
                            else "boiler_clean" if args.strip_boilerplate
                            else "dsir_select" if args.dsir_keep
                            else "host_cap" if args.max_docs_per_host
                            else "decontam" if args.decontaminate
                            else f"funnel_{metrics[-1]['tier']}"),
        **({"decontam_removed": metrics[-1]["docs_out"] - n_after_decontam}
           if n_after_decontam is not None else {}),
        **({"dsir_removed":
            next(n for n in (n_after_hostcap, n_after_decontam,
                             metrics[-1]["docs_out"])
                 if n is not None) - n_after_dsir}
           if n_after_dsir is not None else {}),
        **({"host_cap_removed":
            (n_after_decontam if n_after_decontam is not None
             else metrics[-1]["docs_out"]) - n_after_hostcap}
           if n_after_hostcap is not None else {}),
        **(host_word_removed),
        **({"wet_records": n_wet, "wet_output": args.wet_output}
           if n_wet is not None else {}),
        **({"jsonl_records": n_jsonl, "jsonl_output": args.jsonl_output}
           if n_jsonl is not None else {}),
        **({"span_tokens_removed": int(n_span_tokens)}
           if n_span_tokens is not None else {}),
        **({"boilerplate_lines_removed": int(n_boiler_lines)}
           if n_boiler_lines is not None else {}),
        **({"dup_lines_removed": int(n_dup_lines)}
           if n_dup_lines is not None else {}),
        **({"noindex_removed": int(n_noindex_removed)}
           if n_noindex_removed is not None else {}),
        **({"robots_removed": int(n_robots_removed)}
           if n_robots_removed is not None else {}),
        **({"encoding_fixed": int(n_encoding_fixed)}
           if n_encoding_fixed is not None else {}),
    }))


def cmd_topics(args: argparse.Namespace) -> None:
    """Deterministic k-means topic clustering (operators/kmeans.py): one
    checkpointed assignment table (vec_id, cluster_id, d2_num, d2_den) —
    bit-reproducible across runs/partitionings, so a resumed or repeated
    run writes the identical table."""
    from pyspark.sql import functions as F

    from distributed_lsh_spark.operators.kmeans import kmeans_topics
    from distributed_lsh_spark.session import get_spark
    from distributed_lsh_spark.sources.checkpoint import CheckpointManager

    spark = get_spark("topics", cores=args.cores,
                      shuffle_partitions=args.shuffle_partitions)
    t0 = time.time()
    emb = spark.read.parquet(args.input)
    ckpt = CheckpointManager(spark, args.output, run_id=args.run_id,
                             config_echo={"k": args.k, "iters": args.iters,
                                          "scale": args.scale})
    assigned = ckpt.stage(
        "topic_assignments",
        lambda: kmeans_topics(emb, k=args.k, iters=args.iters,
                              scale=args.scale, vec_col=args.vec_col,
                              id_col=args.id_col))
    sizes = sorted(r["n"] for r in assigned.groupBy("cluster_id")
                   .agg(F.count(F.lit(1)).alias("n")).collect())
    dt = time.time() - t0
    print(json.dumps({
        "run_id": args.run_id, "n_vectors": int(sum(sizes)),
        "k": args.k, "iters": args.iters,
        "smallest_cluster": int(sizes[0]), "largest_cluster": int(sizes[-1]),
        "wall_sec": round(dt, 2),
        "assignments_stage": "topic_assignments",
    }))


def cmd_audit(args: argparse.Namespace) -> None:
    """Corpus data card in ONE spark-submit: the mergeable-sketch family
    (HLL vocabulary, log-histogram length quantiles) plus exact one-agg
    signals (doc/token mass, byte-dup rate, per-slice and per-host
    rollups), emitted as one JSON object.  Every number comes from a
    map-side-combining aggregate or a sketch whose shuffle is
    O(#slices x #bins/#registers) — nothing here sorts or re-shuffles
    the corpus, so the audit costs roughly one scan at any scale."""
    from pyspark.sql import functions as F

    from distributed_lsh_spark.functions.sketch import (
        histogram_quantiles, hll_registers, hll_summary, log_histogram,
    )
    from distributed_lsh_spark.functions.text import normalized_tokens
    from distributed_lsh_spark.session import get_spark

    spark = get_spark("audit", cores=args.cores,
                      shuffle_partitions=args.shuffle_partitions)
    t0 = time.time()
    pages = _read_pages(spark, args)
    slice_col = args.slice_col if args.slice_col in pages.columns else None
    d = pages.select(
        F.lit("all").alias("_slice") if slice_col is None
        else F.col(slice_col).cast("string").alias("_slice"),
        F.size(normalized_tokens("text")).cast("long").alias("n_tok"),
        F.md5(F.col("text").cast("binary")).alias("_h"))
    d = d.persist()                      # feeds 3 consumers, 1 scan

    base = d.groupBy("_slice").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.countDistinct("_h").alias("n_distinct_texts"))
    quants = histogram_quantiles(
        log_histogram(d, ["_slice"], "n_tok"), ["_slice"])
    # vocabulary sketch needs tokens, not hashes — one more pages scan
    toks = pages.select(
        F.lit("all").alias("_slice") if slice_col is None
        else F.col(slice_col).cast("string").alias("_slice"),
        F.explode(normalized_tokens("text")).alias("token"))
    vocab = hll_summary(hll_registers(toks, ["_slice"], "token"),
                        ["_slice"]).select("_slice", "hll_estimate")

    rows = {r["_slice"]: dict(n_docs=int(r["n_docs"]),
                              n_tokens=int(r["n_tokens"]),
                              byte_dup_frac=round(
                                  1 - r["n_distinct_texts"] / r["n_docs"], 6))
            for r in base.collect()}
    for r in quants.collect():
        rows[r["_slice"]][f"p{r['q_pm'] // 10}_tokens"] = int(r["value"])
    for r in vocab.collect():
        rows[r["_slice"]]["vocab_est"] = float(r["hll_estimate"])
    out = {
        "n_docs": sum(v["n_docs"] for v in rows.values()),
        "n_tokens": sum(v["n_tokens"] for v in rows.values()),
        "slice_col": slice_col or "(none)",
        "slices": dict(sorted(rows.items())),
        "wall_sec": round(time.time() - t0, 2),
    }
    if "url" in pages.columns:
        from distributed_lsh_spark.operators.blocklist import url_host

        hosts = (pages.select(url_host("url").alias("h"))
                 .groupBy("h").agg(F.count(F.lit(1)).alias("n"))
                 .orderBy(F.desc("n"), "h").limit(args.top_hosts).collect())
        out["top_hosts"] = [(r["h"], int(r["n"])) for r in hosts]
    print(json.dumps(out))


def cmd_retract(args: argparse.Namespace) -> None:
    """Takedown/GDPR cluster maintenance (operators/snapshot.py:
    retract_components): remove a deletion batch from a prior dedup run's
    labels and exactly re-split the affected components from the run's
    checkpointed edge stages.  Point --labels/--edges at the prior run's
    stage data dirs (OUT/<run>/clusters/data, OUT/<run>/verified_pairs/data
    [+ exact_edges/data]); the updated labeling is itself a checkpointed
    stage, so a re-invocation resumes from the manifest."""
    from pyspark.sql import functions as F

    from distributed_lsh_spark.operators.snapshot import retract_components
    from distributed_lsh_spark.session import get_spark
    from distributed_lsh_spark.sources.checkpoint import CheckpointManager

    spark = get_spark("retract", cores=args.cores,
                      shuffle_partitions=args.shuffle_partitions)
    t0 = time.time()
    labels = spark.read.parquet(args.labels).select("doc_id", "cluster_id")
    edges = None
    for p in args.edges:
        e = spark.read.parquet(p).select("id_a", "id_b")
        edges = e if edges is None else edges.unionByName(e)
    deleted = spark.read.parquet(args.deleted).select("doc_id") \
        .persist()
    ckpt = CheckpointManager(spark, args.output, run_id=args.run_id,
                             config_echo={"labels": args.labels,
                                          "edges": ",".join(args.edges),
                                          "deleted": args.deleted})
    out = ckpt.stage("retracted_labels",
                     lambda: retract_components(labels, edges, deleted))
    # one agg job for the report: per-doc old-vs-new label comparison
    chg = (out.join(labels.select("doc_id",
                                  F.col("cluster_id").alias("_old")),
                    "doc_id")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.when(F.col("cluster_id") != F.col("_old"), 1)
                      .otherwise(0)).alias("n_relabeled")).collect()[0])
    dt = time.time() - t0
    print(json.dumps({
        "run_id": args.run_id,
        "n_deleted": deleted.distinct().count(),
        "n_labels_before": labels.count(),
        "n_labels_after": int(chg["n"]),
        "n_relabeled": int(chg["n_relabeled"]),
        "wall_sec": round(dt, 2),
        "labels_stage": "retracted_labels",
    }))


def cmd_query(args: argparse.Namespace) -> None:
    from distributed_lsh_spark.oracle.reference_lsh import ReferenceLSHModel
    from distributed_lsh_spark.operators.ann import ann_search_spark, build_hash_tables
    from distributed_lsh_spark.session import get_spark
    from distributed_lsh_spark.sources.checkpoint import CheckpointManager
    from pyspark.sql import functions as F

    spark = get_spark("ann_query", cores=args.cores,
                      shuffle_partitions=args.shuffle_partitions)
    pts = spark.read.parquet(args.input)
    qs = spark.read.parquet(args.queries)
    stats = pts.agg(
        F.count("*").alias("n"),
        F.max(F.expr("array_max(transform(vec, x -> abs(x)))")).alias("t"),
        F.max(F.size("vec")).alias("d")).collect()[0]
    model = ReferenceLSHModel(dim=stats["d"], max_coordinate=stats["t"],
                              cardinality=stats["n"], ratio=args.ratio,
                              seed=args.seed)
    # reference -b/-s split: hash tables are BUILT once per (input, model)
    # and checkpointed; later `query` invocations (new query sets, same
    # run-id) hit the manifest and skip straight to the search
    ckpt = CheckpointManager(spark, args.output + "_state", run_id=args.run_id,
                             config_echo={"input": args.input, "ratio": args.ratio,
                                          "seed": args.seed, "m": model.m,
                                          "L": model.L, "n_radii": model.n_radii})
    tables_built = ckpt.is_complete("ann_tables")
    tables = ckpt.stage("ann_tables", lambda: build_hash_tables(pts, model),
                        partition_by=["radius_id"], bucket_by=(64, "point_id"))
    out = ann_search_spark(spark, pts, qs, model, k=args.k, tables=tables)
    out.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"queries": qs.count(), "results": out.count(),
                      "m": model.m, "L": model.L, "n_radii": model.n_radii,
                      "tables_reused": tables_built}))


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(prog="distributed_lsh_spark")
    sub = ap.add_subparsers(dest="verb", required=True)

    d = sub.add_parser("dedup", help="near-duplicate detection + clustering")
    d.add_argument("--input", required=True)
    d.add_argument("--output", required=True)
    d.add_argument("--run-id", default="run0")
    d.add_argument("--shingle-k", type=int, default=5)
    d.add_argument("--num-perm", type=int, default=128)
    d.add_argument("--bands", type=int, default=32)
    d.add_argument("--threshold", type=float, default=0.8)
    d.add_argument("--seed", type=int, default=42)
    d.add_argument("--input-format", choices=("parquet", "jsonl"),
                   default="parquet",
                   help="jsonl: gzipped JSONL pages (interchange format; "
                        "explicit schema, corrupt lines dropped)")
    d.add_argument("--against", default=None, metavar="ARCHIVE_PARQUET",
                   help="incremental mode: probe --input (a NEW crawl "
                        "batch) against this existing corpus WITHOUT "
                        "re-clustering it; emits the dup map "
                        "(doc_id, dup_of, jaccard)")
    d.add_argument("--prefilter", default=None,
                   choices=["semi", "bloom"],
                   help="with --against: prune the archive's band index "
                        "against the batch's band hashes before the "
                        "shuffle (semi = broadcast semi-join; bloom = "
                        "~10-bit/key bitmap for batches whose exact key "
                        "set is too big to broadcast); output identical")
    d.add_argument("--against-sigs", default=None, metavar="SIG_PARQUET",
                   help="with --against: the archive's persisted "
                        "signature checkpoint (a prior dedup run's "
                        "signatures/data dir) — skips recomputing the "
                        "archive side")
    d.add_argument("--merge-labels", default=None, metavar="LABELS_PARQUET",
                   help="with --against: fold the found duplicate edges "
                        "into this existing (doc_id, cluster_id) min-id "
                        "labeling via incremental_components (archive "
                        "never re-clusters) and checkpoint the updated "
                        "labels as stage 'updated_labels'")
    d.add_argument("--emit-weights", action="store_true",
                   help="also checkpoint a soft-dedup weights table "
                        "(doc_id, cluster_id, cluster_size, weight)")
    d.add_argument("--emit-split", action="store_true",
                   help="also checkpoint a leakage-safe train/valid/test "
                        "split table (one md5 draw per cluster)")
    _add_spark_args(d)
    d.set_defaults(fn=cmd_dedup)

    c = sub.add_parser("curate",
                       help="tiered dedup funnel (url/exact/quality/near-dup)")
    c.add_argument("--input", required=True)
    c.add_argument("--output", required=True)
    c.add_argument("--run-id", default="run0")
    c.add_argument("--shingle-k", type=int, default=5)
    c.add_argument("--num-perm", type=int, default=128)
    c.add_argument("--bands", type=int, default=32)
    c.add_argument("--threshold", type=float, default=0.8)
    c.add_argument("--seed", type=int, default=42)
    c.add_argument("--no-quality", action="store_true",
                   help="skip the quality tier (e.g. non-English corpora)")
    c.add_argument("--canonical-urls", action="store_true",
                   help="canonicalize urls (RFC 3986 + tracking-param "
                        "strip) before the keep-latest-per-url tier")
    c.add_argument("--line-dedup", default=None,
                   choices=("c4", "keep-first", "bloom"),
                   help="post-funnel GLOBAL line-dedup rewrite tier: "
                        "c4 removes every occurrence of a repeated "
                        "8-token line, keep-first keeps the earliest "
                        "occurrence, bloom is keep-first decided by a "
                        "sequential Bloom filter (fixed-memory state; "
                        "false positives are a tunable loss)")
    c.add_argument("--bloom-bits", type=int, default=None,
                   help="Bloom filter size in bits for --line-dedup "
                        "bloom (default 2^30; size via "
                        "functions/bloom.bloom_parameters)")
    c.add_argument("--strip-boilerplate", action="store_true",
                   help="post-funnel rewrite: cut host-scoped chrome "
                        "lines (>= 30% of a host's docs) from survivor "
                        "texts; output is the cleaned normalized stream")
    c.add_argument("--drop-contained", action="store_true",
                   help="add a fifth tier dropping docs contained in a "
                        "partner at --threshold containment (doc-in-doc "
                        "pairs the near-dup tier's Jaccard-LSH misses)")
    c.add_argument("--fix-encoding", action="store_true",
                   help="repair UTF-8-as-Latin-1 mojibake in page text "
                        "(ftfy-style reversible class only) before any "
                        "byte-keyed tier; repaired-doc count in metrics")
    c.add_argument("--respect-noindex", action="store_true",
                   help="drop pages whose <meta name=robots> carries "
                        "noindex/none (needs an html column); map-only "
                        "pass before every tier; rides the config echo")
    c.add_argument("--robots-table", default=None,
                   help="parquet table of (host, robots_txt) bodies; "
                        "drop pages the host's robots.txt disallows for "
                        "--robots-agent under RFC 9309 longest-match "
                        "precedence (operators/robots.py); needs a url "
                        "column; runs with the crawl-legality passes "
                        "before every tier")
    c.add_argument("--robots-agent", default="*",
                   help="user-agent token evaluated against --robots-"
                        "table group selection (default: *)")
    c.add_argument("--blocked-hosts", default=None,
                   help="file of blocked registrable domains (one per "
                        "line, # comments) applied as a map-only "
                        "suffix-match pass before the funnel")
    c.add_argument("--blocked-url-regex", action="append", default=None,
                   help="url regex to block (repeatable)")
    c.add_argument("--fuzzy-exact", action="store_true",
                   help="key the funnel's exact tier by the NORMALIZED "
                        "token stream (Dolma exact-after-normalization) "
                        "instead of raw bytes")
    c.add_argument("--max-docs-per-host", type=int, default=None,
                   help="anti-domination cap: keep at most N survivors "
                        "per url host, chosen by deterministic md5 rank "
                        "(reproducible across runs and layouts)")
    c.add_argument("--blocked-words", default=None, metavar="WORDS_FILE",
                   help="C4-style bad-words content filter: drop pages "
                        "whose token stream contains any listed word (one "
                        "[a-z0-9]+ token per line, # comments); rides the "
                        "checkpoint config echo")
    c.add_argument("--decontaminate", default=None, metavar="EVAL_FILE",
                   help="benchmark decontamination: drop survivors sharing "
                        "word n-grams with the eval texts in EVAL_FILE (one "
                        "per line); file content rides the checkpoint "
                        "config echo")
    c.add_argument("--contam-ngram", type=int, default=13,
                   help="n-gram size for --decontaminate (default 13, the "
                        "GPT-3 convention)")
    c.add_argument("--contam-threshold", type=float, default=0.0,
                   help="drop when shared-ngram fraction EXCEEDS this "
                        "(default 0.0 = any overlap drops the doc)")
    c.add_argument("--dsir-target", default=None, metavar="TARGET_FILE",
                   help="DSIR importance resampling: target corpus (one "
                        "text per line) the kept survivors should "
                        "resemble; file content rides the checkpoint "
                        "config echo; needs --dsir-keep")
    c.add_argument("--dsir-keep", type=int, default=None, metavar="N",
                   help="keep the N survivors with the largest DSIR "
                        "importance keys (without-replacement resample "
                        "proportional to the importance weight)")
    c.add_argument("--wet-output", default=None,
                   help="also export survivors as WET-style .warc.gz "
                        "conversion records under this dir")
    c.add_argument("--input-format", choices=("parquet", "jsonl"),
                   default="parquet",
                   help="jsonl: gzipped JSONL pages (interchange format; "
                        "explicit schema, corrupt lines dropped)")
    c.add_argument("--jsonl-output", default=None,
                   help="also export survivors as gzipped JSONL shards "
                        "(binary columns dropped) under this dir")
    c.add_argument("--jsonl-shards", type=int, default=None,
                   help="output file count for --jsonl-output (gzip is "
                        "not splittable: this IS downstream parallelism)")
    c.add_argument("--remove-spans", action="store_true",
                   help="post-funnel rewrite tier: cut every >=W-token "
                        "span a survivor shares verbatim with a lower-id "
                        "survivor (lowest-id copy survives)")
    c.add_argument("--span-window", type=int, default=50,
                   help="W for --remove-spans (tokens; default 50)")
    _add_spark_args(c)
    c.set_defaults(fn=cmd_curate)

    i = sub.add_parser("ingest",
                       help="WARC files -> pages parquet "
                            "(url, warc_ts, html, text, lang)")
    i.add_argument("--input", required=True,
                   help="dir/glob of .warc / .warc.gz files")
    i.add_argument("--output", required=True)
    i.add_argument("--raw-urls", action="store_true",
                   help="keep urls as crawled (skip canonicalization)")
    i.add_argument("--partitions", type=int, default=None,
                   help="repartition before the parquet write")
    _add_spark_args(i)
    i.set_defaults(fn=cmd_ingest)

    q = sub.add_parser("query", help="c-k-ANN over integer vectors")
    q.add_argument("--input", required=True, help="parquet with (id, vec)")
    q.add_argument("--queries", required=True, help="parquet with (query_id, vec)")
    q.add_argument("--output", required=True)
    q.add_argument("--run-id", default="run0")
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--ratio", type=int, default=2)
    q.add_argument("--seed", type=int, default=42)
    _add_spark_args(q)
    q.set_defaults(fn=cmd_query)

    t = sub.add_parser("topics",
                       help="deterministic k-means topic clustering over "
                            "an embedding table")
    t.add_argument("--input", required=True,
                   help="parquet with (vec_id, embedding)")
    t.add_argument("--output", required=True)
    t.add_argument("--run-id", default="run0")
    t.add_argument("--k", type=int, default=8)
    t.add_argument("--iters", type=int, default=3)
    t.add_argument("--scale", type=int, default=1000,
                   help="quantization grid (round(v*scale) int64)")
    t.add_argument("--id-col", default="vec_id")
    t.add_argument("--vec-col", default="embedding")
    _add_spark_args(t)
    t.set_defaults(fn=cmd_topics)

    r = sub.add_parser("retract",
                       help="takedown: delete docs from a dedup run's "
                            "labels, exactly re-splitting clusters")
    r.add_argument("--labels", required=True,
                   help="parquet with (doc_id, cluster_id) — e.g. the "
                        "dedup run's clusters/data stage")
    r.add_argument("--edges", required=True, action="append",
                   help="parquet with (id_a, id_b); repeatable — e.g. "
                        "verified_pairs/data and exact_edges/data")
    r.add_argument("--deleted", required=True,
                   help="parquet with (doc_id) to retract")
    r.add_argument("--output", required=True)
    r.add_argument("--run-id", default="run0")
    _add_spark_args(r)
    r.set_defaults(fn=cmd_retract)

    a = sub.add_parser("audit",
                       help="corpus data card: sketch-family summary "
                            "(one scan at any scale)")
    a.add_argument("--input", required=True)
    a.add_argument("--slice-col", default="lang",
                   help="slice column for per-slice stats (default lang; "
                        "absent column -> one 'all' slice)")
    a.add_argument("--top-hosts", type=int, default=10,
                   help="report the N most frequent url hosts (needs a "
                        "url column)")
    a.add_argument("--input-format", choices=("parquet", "jsonl"),
                   default="parquet")
    _add_spark_args(a)
    a.set_defaults(fn=cmd_audit)

    args = ap.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
