#!/usr/bin/env python
"""Physical-plan evidence for the scale-critical operators -> PLANS.md.

Checks (and records) the plan properties the design claims:
- dispatcher: ONE Exchange hashpartitioning(dom) reused by the
  latest-row window, both rank windows, the stats aggregate and the
  applyInPandas selection;
- fetch join: BroadcastHashJoin with the (bounded) work side built and
  broadcast — the pages scan has NO Exchange;
- robots source: StringEndsWith pushed to the parquet scan
  (PushedFilters), column pruning to (url, html);
- fetch superstep (plans captured from run_fetch itself): claimed,
  processed and finished domains join by broadcast in the initial plan,
  no Python node runs between the parse and URL-seen checkpoints, and
  the domain_info commit does not re-run the claim ranking.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))


def main():
    from pyspark.sql import SparkSession, functions as F

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from crawlfix import NOW_MS, build_store, domain_row, link_row
    from walker_spark.config import WalkerConfig
    from walker_spark.operators import dispatch as D
    from walker_spark.sources import synthetic

    cfg = WalkerConfig()
    root = tempfile.mkdtemp(prefix="plans-")
    store = build_store(
        spark,
        root,
        [domain_row("a.com"), domain_row("b.com")],
        [link_row(f"http://a.com/p{i}.html") for i in range(30)]
        + [link_row(f"http://b.com/q{i}.html") for i in range(30)],
    )
    store.overwrite("pages", synthetic.generate_pages(spark, 4, 6, seed=5))

    sections = []

    def grab(title, df, checks):
        # df may also be a plan string captured earlier; literal control
        # chars (e.g. the \x00 set-key separator) would make PLANS.md a
        # "binary" file for grep/diff tooling
        plan = df if isinstance(df, str) else df._jdf.queryExecution().executedPlan().toString()
        plan = plan.replace("\x00", "\\x00")
        lines = []
        for label, pattern, expect in checks:
            found = len(re.findall(pattern, plan))
            ok = found == expect if isinstance(expect, int) else found >= expect[0]
            lines.append(f"- {'PASS' if ok else 'FAIL'}: {label} (found {found})")
        head = "\n".join(plan.splitlines()[:40])
        sections.append(f"## {title}\n\n{chr(10).join(lines)}\n\n```\n{head}\n```\n")
        return all(l.startswith("- PASS") for l in lines)

    ok = True

    # 1. dispatcher chain
    di = store.read("domain_info")
    eligible = D.eligible_domains(di, NOW_MS, cfg).select("dom")
    links = store.read("links").join(eligible, "dom", "left_semi")
    latest = D.latest_links(links).select(
        "dom", "subdom", "path", "proto",
        F.unix_millis(F.col("time")).alias("time_ms"),
        F.coalesce(F.col("getnow"), F.lit(False)).alias("getnow"),
        F.col("fnv_txt"),
    )
    from pyspark.sql import Window

    w_dom = Window.partitionBy("dom").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    latest = latest.withColumn(
        "_tot", F.count(F.lit(1)).over(w_dom).cast("int")
    ).withColumn(
        "_unc", F.sum((F.col("time_ms") == 0).cast("int")).over(w_dom).cast("int")
    )
    sel = latest.groupBy("dom").applyInPandas(
        D._make_select_fn(cfg, NOW_MS), D._SELECT_OUT
    )
    ok &= grab(
        "Dispatcher: latest-row window + exact stats + rank caps + applyInPandas "
        "(ONE pass — the pre-cap tot/uncrawled stats are window columns in the "
        "same dom distribution, not a second aggregate branch + join)",
        sel,
        [
            ("exactly one Exchange hashpartitioning(dom) on the links path",
             r"Exchange hashpartitioning\(dom", 1),
            ("FlatMapGroupsInPandas present", r"FlatMapGroupsInPandas", 1),
            ("no aggregate branch for the stats (they ride the window pass)",
             r"HashAggregate", 0),
            ("the only join is the eligible-domain semi-join (no stats stitch)",
             r"SortMergeJoin|BroadcastHashJoin", 1),
        ],
    )

    # 2. robots source: one-time materialization scan has the endswith
    # pushdown + column pruning; the per-superstep rules source then
    # reads only the tiny robots_pages cache (no pages scan at all)
    from walker_spark.operators.fetch import robots_rules_for_hosts

    build_plan = (
        store.read("pages")
        .filter(F.col("url").endswith("/robots.txt"))
        .select("url", "html")
    )
    ok &= grab(
        "Robots cache build (once per pages snapshot): pushdown + pruning",
        build_plan,
        [
            ("StringEndsWith pushed to scan", r"StringEndsWith", (1,)),
            ("scan reads only url+html", r"ReadSchema: struct<url:string,html:binary>", (1,)),
        ],
    )
    hosts = spark.createDataFrame([("site00000.com",)], "host string")
    rules = robots_rules_for_hosts(store, hosts, cfg)
    ok &= grab(
        "Robots rules per superstep: joins the materialized PARSED rules only",
        rules,
        [
            ("no suffix filter left in the per-superstep plan",
             r"StringEndsWith", 0),
            ("no robots parse (MapInPandas) inside the superstep",
             r"MapInPandas", 0),
            ("reads the parsed rules table",
             r"ReadSchema: struct<host:string,rules_json:string,crawl_delay:bigint>", (1,)),
            ("bounded host set broadcast into the rules scan",
             r"BroadcastHashJoin \[host", (1, 2)),
        ],
    )

    # 3. fetch join: broadcast work side, pages un-shuffled
    pages = store.read("pages").select("url", "warc_ts", "html")
    work = store.read("links").select(
        "dom", "subdom", "path", "proto",
        F.concat(F.col("proto"), F.lit("://"), F.col("dom"), F.col("path")).alias("url"),
    ).limit(500)
    joined = pages.join(F.broadcast(work), "url", "inner")
    ok &= grab(
        "Fetch join: broadcast bounded work side",
        joined,
        [
            ("BroadcastHashJoin", r"BroadcastHashJoin", (1,)),
            ("no shuffle of the pages side", r"Exchange hashpartitioning\(url", 0),
        ],
    )

    # 3b. missing-side complement: after the (checkpointed) found set is
    # computed, the not-found rows come from an anti-join against the
    # BOUNDED found-url set broadcast executor-side — the per-superstep
    # plan touches pages exactly once (the fetch join above); the
    # missing plan must contain NO pages scan and NO exchange of a
    # corpus url column.
    parsed_ck = joined.select("dom", "subdom", "path", "proto").localCheckpoint()
    missing_plan = work.join(
        F.broadcast(parsed_ck), ["dom", "subdom", "path", "proto"], "left_anti"
    )
    ok &= grab(
        "Fetch missing set: anti-join against the broadcast parsed-key set "
        "(no pages access — the html bytes are never materialized either; the "
        "only checkpoint on the fetch path holds the SLIM parse output)",
        missing_plan,
        [
            ("broadcast anti-join on the bounded parsed keys",
             r"BroadcastHashJoin \[dom[^\]]*\], \[dom[^\]]*\], LeftAnti", (1,)),
            ("no pages scan in the missing plan: the only parquet scan is the "
             "work/links side; parsed keys come from the checkpointed RDD",
             r"Scan parquet", 1),
            ("no parquet read of html (pages columns only appear in the "
             "checkpointed RDD schema)", r"ReadSchema:[^\n]*html", 0),
            ("no exchange of a url or key column", r"Exchange hashpartitioning", 0),
        ],
    )

    # 5. kernel fetch join against url-bucketed pages: storage-
    # partitioned sort-merge join — pages scanned in place (bucketed
    # scan, no Exchange, no driver-built broadcast), only the bounded
    # work side is exchanged. This is the Iceberg bucket(N, url) plan
    # the 100 TB kernel runs (bench.run_fetch_kernel join_mode=bucketed).
    bpath = os.path.join(root, "pages_bucketed")
    pg = store.read("pages").select("url", "warc_ts", "html")
    (pg.repartition(8, F.col("url")).write.mode("overwrite")
       .bucketBy(8, "url").sortBy("url")
       .option("path", bpath).saveAsTable("plans_pages_b"))
    bp = spark.table("plans_pages_b")
    bjoined = bp.join(work.hint("merge"), "url", "inner")
    ok &= grab(
        "Kernel fetch join: url-bucketed storage-partitioned merge join",
        bjoined,
        [
            ("SortMergeJoin on url", r"SortMergeJoin", (1,)),
            ("bucketed pages scan (all buckets selected, scanned in place)",
             r"SelectedBucketsCount", (1,)),
            ("exactly one Exchange (work side only; html bytes never move)",
             r"Exchange hashpartitioning\(url", 1),
        ],
    )

    # 5b. ENGINE fetch join on the same bucketed copy (run_fetch's SPJ
    # branch, active when a registered bucketed copy clears the size
    # gate): ONE left-outer merge join — found and missing rows come out
    # of the same join (missing takes the parse fn's fetch-error path),
    # so there is no anti-join, no broadcast build, and pages html is
    # scanned in place.
    from walker_spark.operators import fetch as FETCH

    FETCH.register_bucketed_pages(store, bpath, buckets=8)
    store.put_meta(
        "pages_bucketed",
        {**store.get_meta("pages_bucketed"), "bytes": FETCH._SPJ_MIN_BYTES + 1},
    )
    bp_engine = FETCH._bucketed_pages_table(store)
    assert bp_engine is not None
    engine_joined = work.join(
        bp_engine.select("url", "warc_ts", "html")
        .withColumn("found", F.lit(True))
        .hint("merge"),
        "url",
        "left",
    )
    ok &= grab(
        "Engine fetch join (SPJ branch): ONE left-outer merge join, pages in "
        "place, missing rows from the same join (no anti-join, no broadcast "
        "build)",
        engine_joined,
        [
            ("left-outer SortMergeJoin on url", r"SortMergeJoin[^\n]*LeftOuter", (1,)),
            ("bucketed pages scan in place", r"SelectedBucketsCount", (1,)),
            ("exactly one Exchange (work side only)",
             r"Exchange hashpartitioning\(url", 1),
            ("no broadcast relation anywhere", r"BroadcastExchange", 0),
        ],
    )

    # 6. the fetch superstep's own plans, captured as run_fetch builds
    # them (the initial plan, before AQE re-plans anything): every
    # superstep-bounded side is an explicit broadcast, no Python runs
    # after the parse kernel, and the domain_info commit does not re-run
    # the claim ranking.
    from walker_spark.operators.dispatch import run_dispatch
    from walker_spark.sources.store import FrontierStore
    from walker_spark.streaming.loop import CrawlEngine

    engine = CrawlEngine(spark, os.path.join(root, "superstep"), cfg)
    engine.store.overwrite("pages", synthetic.generate_pages(spark, 4, 6, seed=5))
    engine.seed(engine.store.read("pages").select("url"))
    run_dispatch(engine.store, cfg, NOW_MS, iteration=0)
    captured = []

    def initial_plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    def capture_checkpoint(self, *a, **k):
        captured.append(("checkpoint", initial_plan(self)))
        return orig_checkpoint(self, *a, **k)

    def capture_overwrite(self, table, df):
        captured.append((table, initial_plan(df)))
        return orig_overwrite(self, table, df)

    DataFrame = type(engine.store.read("pages"))  # the classic implementation
    orig_checkpoint, orig_overwrite = DataFrame.localCheckpoint, FrontierStore.overwrite
    DataFrame.localCheckpoint, FrontierStore.overwrite = capture_checkpoint, capture_overwrite
    try:
        FETCH.run_fetch(engine.store, cfg, NOW_MS, iteration=0)
    finally:
        DataFrame.localCheckpoint, FrontierStore.overwrite = orig_checkpoint, orig_overwrite
    checkpoints = [p for kind, p in captured if kind == "checkpoint"]
    written = dict(captured)
    parse_at = next(i for i, p in enumerate(checkpoints) if "MapInPandas" in p)
    python_nodes = r"ArrowEvalPython|BatchEvalPython|MapInPandas|InPandas"

    ok &= grab(
        "Superstep robots/budget checkpoint: the claimed domains are "
        "broadcast into the segments scan (no sort-merge join, no exchange "
        "below the join; the only hash exchange is the budget window's)",
        next(p for p in checkpoints if "Window" in p),
        [
            ("claimed domains broadcast into the segments and robots-rules scans",
             r"BroadcastHashJoin \[dom[^\]]*\], \[dom[^\]]*\], LeftSemi", 2),
            ("no sort-merge join", r"SortMergeJoin", 0),
            ("one hash exchange: the budget window's dom partitioning",
             r"Exchange hashpartitioning", 1),
        ],
    )
    ok &= grab(
        "Superstep URL-seen checkpoint: outlink keys come from the parse "
        "checkpoint's link_keys — no Python node between the parse and "
        "unseen checkpoints",
        checkpoints[parse_at + 1],
        [
            ("no Python node", python_nodes, 0),
            ("explodes the kernel's link_keys", r"Generate explode\(link_keys", 1),
            ("reads the parse checkpoint", r"Scan ExistingRDD", (1,)),
        ],
    )
    ok &= grab(
        "Superstep segments commit: processed keys broadcast into the "
        "segments anti-join, nothing exchanged",
        written["segments"],
        [
            ("processed keys broadcast", r"BroadcastHashJoin[^\n]*LeftAnti", 1),
            ("no sort-merge join", r"SortMergeJoin", 0),
            ("no exchange of the segments scan", r"Exchange hashpartitioning", 0),
        ],
    )
    ok &= grab(
        "Superstep domain_info commit: post-claim state derived from the "
        "claim checkpoint (claimed and finished domains broadcast), the "
        "ranking not re-run",
        written["domain_info"],
        [
            ("no claim ranking (ordered limit)", r"TakeOrderedAndProject", 0),
            ("no max-priority cross join", r"BroadcastNestedLoopJoin", 0),
            ("claim + unclaim joins are broadcast left-outer joins",
             r"BroadcastHashJoin[^\n]*LeftOuter", 2),
            ("finished = claimed minus broadcast leftover domains",
             r"BroadcastHashJoin[^\n]*LeftAnti", (1,)),
            ("no sort-merge join", r"SortMergeJoin", 0),
        ],
    )

    # 7. dup_ngram_spans: the substring-dedup stand-in must shuffle
    # 32-byte md5 keys (never document text) and stay JVM-side
    from walker_spark.operators.dedup import dup_ngram_spans

    docs = spark.createDataFrame(
        [(i, "tok%d a b c d e f g h i j" % (i % 3)) for i in range(12)],
        "doc_id long, text string",
    )
    ok &= grab(
        "dup_ngram_spans: positional n-gram dup spans (ONE gram scan, "
        "ONE gram exchange keyed on md5, windowed distinct-doc count — "
        "no self-join back — window island merge, zero Python)",
        dup_ngram_spans(docs, n=3),
        [
            ("exactly ONE gram projection (r4 recomputed it on two branches)",
             r"Generate explode", 1),
            ("exactly ONE exchange keyed on the 32-byte gram_key (never text)",
             r"Exchange hashpartitioning\(gram_key", 1),
            ("distinct-doc count is a window (dense_rank), not a groupBy+join",
             r"dense_rank", (1,)),
            ("no join anywhere (the r4 probe join is gone)",
             r"SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin", 0),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
            ("island merge windows on the doc id", r"hashpartitioning\(_id", (1,)),
        ],
    )

    # 7b. line_dedup: the boilerplate pass shuffles line text exactly
    # twice (line-key window, doc reconstruction) and stays JVM-side
    from walker_spark.operators.dedup import line_dedup

    ldocs = spark.createDataFrame(
        [(i, "banner line\nunique %d" % i) for i in range(6)],
        "doc_id long, text string",
    )
    ok &= grab(
        "line_dedup: cross-doc duplicated-line removal (ONE line-key "
        "exchange with windowed distinct-doc count — no dup-key join "
        "back — one doc-id reconstruction exchange, zero Python)",
        line_dedup(ldocs, min_docs=2),
        [
            ("exactly ONE line explode", r"Generate posexplode", 1),
            ("exactly ONE exchange keyed on the 32-byte line_key",
             r"Exchange hashpartitioning\(line_key", 1),
            ("distinct-doc count is a window (dense_rank), not groupBy+join",
             r"dense_rank", (1,)),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
            ("reconstruction groups on the doc id", r"hashpartitioning\(_id", (1,)),
        ],
    )

    # 8. incremental near-dup: batch vs persisted index — verify must be
    # index-only (no shingle-row join), everything JVM-side
    from walker_spark.operators.dedup import incremental_near_dups, minhash_index

    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    idx = minhash_index(corpus, num_perm=8, bands=4, shingle_n=1)
    ok &= grab(
        "incremental_near_dups: batch vs persisted corpus LSH index "
        "(band join + size-compat prune inside the join, array_intersect "
        "verify over index-carried sets, zero Python)",
        incremental_near_dups(batch, idx, threshold=0.5, num_perm=8, bands=4,
                              shingle_n=1),
        [
            ("size-compatibility prune INSIDE the band join (join condition, "
             "not post-filter)", r"greatest|GREATEST", (1,)),
            ("exact verify via array_intersect on carried sets (no shingle-row "
             "join)", r"array_intersect", (1,)),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    # 9. curation/quality/PQ narrow passes: the cleaning-pipeline ops
    # that must fuse into the corpus scan at 100 TB
    from walker_spark.operators.curation import temperature_mix
    from walker_spark.operators.similarity import pq_codebooks, pq_encode
    from walker_spark.operators.textstats import gopher_rules

    ok &= grab(
        "gopher_rules: composite quality gate (zero-shuffle narrow "
        "projection — fuses into the corpus scan)",
        gopher_rules(docs),
        [
            ("zero exchanges", r"Exchange", 0),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    ok &= grab(
        "temperature_mix: n^alpha source reweighting (per-source count "
        "agg is tiny and broadcasts back — the corpus scan filters "
        "map-side, no corpus-wide exchange)",
        temperature_mix(
            docs.withColumn(
                "source", F.concat(F.lit("s"), (F.col("doc_id") % 5).cast("string"))
            ),
            budget_docs=100,
            alpha=0.5,
        ),
        [
            ("corpus side joins the probability table by broadcast",
             r"BroadcastHashJoin", (1,)),
            ("hash exchanges are ONLY the #sources-sized count agg (the "
             "subtree appears twice — probability numerator + normalizer — "
             "both tiny; the corpus itself never exchanges)",
             r"Exchange hashpartitioning\(source", 2),
            ("no exchange keyed on anything but source (corpus stays in "
             "place)", r"Exchange hashpartitioning\((?!source)", 0),
            ("count agg is map-side partial (two-phase HashAggregate)",
             r"HashAggregate", (2,)),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ok &= grab(
        "pq_encode: product-quantization encoding (zero-shuffle narrow "
        "map — 64 float32 dims become 4 int codes before anything "
        "downstream touches the table)",
        pq_encode(emb, pq_codebooks(emb, m_subvectors=4, n_codes=16)),
        [
            ("zero exchanges", r"Exchange", 0),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    # 9c. embedding_clusters: after the KB-sized codebook is trained,
    # the corpus-wide assignment must fuse into the scan
    from walker_spark.operators.similarity import embedding_clusters

    ok &= grab(
        "embedding_clusters: k-means assignment (the returned plan — "
        "post-Lloyd — is a zero-shuffle projection against centroid "
        "literals; the Lloyd step itself is a bounded "
        "n_clusters x dim aggregation measured separately)",
        embedding_clusters(emb, n_clusters=4, refine_iters=1),
        [
            ("zero exchanges", r"Exchange", 0),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    # 9b. perplexity_buckets: the CCNet tercile split must be a
    # DISTRIBUTED global rank — never a one-partition corpus window
    from walker_spark.operators.textstats import perplexity_buckets

    ok &= grab(
        "perplexity_buckets: CCNet head/middle/tail split (distributed "
        "global rank: the range-exchanged table materializes ONCE "
        "(localCheckpoint — offsets and rank branches must see the "
        "same partition assignment), then per-partition row_number + "
        "broadcast offset table — the only unpartitioned window is "
        "the <=P-row offsets table, never the corpus)",
        perplexity_buckets(
            docs.select(F.col("doc_id").alias("id"),
                        (F.col("doc_id") % 7).cast("double").alias("avg_logprob")),
            partitions=4,
        ),
        [
            ("the range exchange never re-runs in the scoring plan "
             "(materialized at checkpoint)", r"Exchange rangepartitioning", 0),
            ("both branches read the checkpointed ranged table",
             r"Scan ExistingRDD", (2,)),
            ("pid-keyed exchanges are exactly the rank window (corpus) + "
             "the offsets count agg (map-side partial -> <=P rows/task "
             "before it moves)", r"Exchange hashpartitioning\(_pid", 2),
            ("offsets join back by broadcast", r"BroadcastHashJoin", (1,)),
            ("the single-partition windows sit only on the tiny offsets "
             "branch (inside the broadcast exchange subtree)",
             r"Exchange SinglePartition", (1,)),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    # 9d. assign_shards: the weighted twin of the perplexity_buckets
    # rank machinery — same checkpoint-once / no-corpus-single-
    # partition contract
    from walker_spark.operators.curation import assign_shards

    ok &= grab(
        "assign_shards: global training-shard ids by distributed "
        "weighted prefix sum (range-exchanged token table materializes "
        "ONCE; per-partition totals broadcast back; the only "
        "unpartitioned window is the <=P-row offsets table)",
        assign_shards(docs, shard_tokens=64, partitions=4),
        [
            ("the range exchange never re-runs in the scoring plan",
             r"Exchange rangepartitioning", 0),
            ("both branches read the checkpointed ranged table",
             r"Scan ExistingRDD", (2,)),
            ("pid-keyed exchanges are exactly the cumulative window "
             "(corpus) + the totals agg (map-side partial)",
             r"Exchange hashpartitioning\(_pid", 2),
            ("offsets join back by broadcast", r"BroadcastHashJoin", (1,)),
            ("the single-partition window sits only on the tiny offsets "
             "branch", r"Exchange SinglePartition", (1,)),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    # 10. dsir_select: the gram explode must run exactly once per
    # stream — the scoring plan derives from the materialized
    # (localCheckpointed) bucket-count tables, never re-hashing text
    from walker_spark.operators.curation import dsir_select

    ok &= grab(
        "dsir_select: DSIR importance resampling (each gram stream "
        "exploded+hashed ONCE into checkpointed count tables; the "
        "scoring plan joins the broadcast log-ratio table onto the "
        "bounded per-(doc,bucket) counts — no gram re-compute)",
        dsir_select(
            docs.filter(F.col("doc_id") % 2 == 0),
            docs.filter(F.col("doc_id") % 2 == 1),
            k=3,
            buckets=64,
        ),
        [
            ("scoring plan never re-runs the gram explode (grams live in "
             "the checkpointed tables)", r"Generate explode", 0),
            ("inputs are the materialized aggregates (checkpointed RDD "
             "scans)", r"Scan ExistingRDD", (2,)),
            ("log-ratio table broadcasts onto the per-doc counts",
             r"BroadcastHashJoin", (1,)),
            ("every exchange is keyed on the doc id (bounded by docs x "
             "buckets) or on bucket (<=buckets rows) — the gram stream "
             "itself never exchanges",
             r"Exchange hashpartitioning\((?!_id|bucket)", 0),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    # 11. retrieval + the remaining zero-shuffle cleaning passes
    from walker_spark.operators.curation import chunk_documents
    from walker_spark.operators.retrieval import bm25_topk
    from walker_spark.operators.textstats import c4_rules, hash_classifier_scores

    ok &= grab(
        "c4_rules: C4 cleaning pass (zero-shuffle narrow projection — "
        "line filter + page verdict fuse into the corpus scan)",
        c4_rules(docs),
        [
            ("zero exchanges", r"Exchange", 0),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    ok &= grab(
        "hash_classifier_scores: hashed linear quality classifier "
        "(default weights — hash, weight lookup and exact int64 fold "
        "all inside one higher-order expression, zero shuffle)",
        hash_classifier_scores(docs),
        [
            ("zero exchanges", r"Exchange", 0),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    ok &= grab(
        "chunk_documents: sliding-window chunk fan-out (posexplode in "
        "the scan task — document text never moves before chunking)",
        chunk_documents(docs),
        [
            ("zero exchanges", r"Exchange", 0),
            ("chunk fan-out is a Generate in the scan stage", r"Generate posexplode", (1,)),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    qdf = spark.createDataFrame(
        [(0, "alpha beta"), (1, "gamma")], "query_id int, query string"
    )
    ok &= grab(
        "bm25_topk: BM25 retrieval (corpus exchanged ONCE on the "
        "(doc,term) postings agg; query terms / per-term stats / corpus "
        "stats all broadcast; final top-k windows only matched "
        "candidates)",
        bm25_topk(docs, qdf, k=5),
        [
            ("the corpus-wide exchanges are the postings agg and the final "
             "per-query candidate agg (both keyed on the doc id) — nothing "
             "else moves corpus-sized data",
             r"Exchange hashpartitioning\((?!id|term|query_id|dl)", 0),
            ("query terms and stats broadcast into the scan",
             r"BroadcastHashJoin", (3,)),
            ("postings agg is map-side partial (two-phase HashAggregate)",
             r"HashAggregate", (2,)),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    # 12. phrase search / vocab curve / pagerank iteration
    from walker_spark.operators.graph import _pagerank_step
    from walker_spark.operators.retrieval import phrase_search
    from walker_spark.operators.textstats import vocab_coverage

    pdf = spark.createDataFrame(
        [(0, "alpha beta"), (1, "gamma delta eps")], "phrase_id int, phrase string"
    )
    ok &= grab(
        "phrase_search: exact-phrase retrieval (ONE corpus projection "
        "emits positional grams for every needed phrase length; phrase "
        "keys broadcast; the only corpus-sized exchange is the final "
        "(phrase,doc) agg)",
        phrase_search(docs, pdf),
        [
            ("single gram fan-out (one Generate explode — lengths fused "
             "into one projection)", r"Generate explode", 1),
            ("phrase keys broadcast into the gram stream",
             r"BroadcastHashJoin", (1,)),
            ("every exchange keyed on the bounded (phrase,doc) agg key",
             r"Exchange hashpartitioning\((?!phrase_id)", 0),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    ok &= grab(
        "vocab_coverage: tokenizer-prep vocabulary curve (term counts "
        "map-side partial; top-V via sort-limit TakeOrderedAndProject "
        "— the full vocabulary never sorts globally; cumulative window "
        "over only V rows; total-token count broadcast)",
        vocab_coverage(docs, top_v=50),
        [
            ("term agg is two-phase (map-side partial)", r"HashAggregate", (2,)),
            ("top-V is a sort-limit, not a global sort",
             r"TakeOrderedAndProject", (1,)),
            ("total-token scalar rides as a broadcast one-row join",
             r"BroadcastNestedLoopJoin", (1,)),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    from walker_spark.operators.textstats import quality_pipeline

    ok &= grab(
        "quality_pipeline: fused C4 -> Gopher -> classifier verdict "
        "(the chain runs through passthrough columns, so the whole "
        "three-gate pipeline is ONE zero-exchange whole-stage-codegen "
        "scan of the corpus)",
        quality_pipeline(docs),
        [
            ("zero exchanges", r"Exchange", 0),
            ("the chain is a pure Project stack — no join anywhere "
             "(higher-order array exprs keep it a single narrow stage)",
             r"Join", 0),
            ("all three gates stack as projections over one scan",
             r"Project", (3,)),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    from walker_spark.operators.textstats import tokenize_ids, vocab_coverage as _vc

    ok &= grab(
        "tokenize_ids: corpus -> token-id sequences (vocab broadcast "
        "onto the posexploded token stream; the ONE corpus exchange is "
        "the doc-keyed reassembly agg; sequence rebuilt partition-"
        "independently via sort_array over (pos,id))",
        tokenize_ids(docs, _vc(docs, top_v=50)),
        [
            ("vocab joins broadcast", r"BroadcastHashJoin", (1,)),
            ("the only corpus-sized exchange is keyed on the doc id "
             "(vocab-build exchanges key on the term)",
             r"Exchange hashpartitioning\((?!id#|term#)", 0),
            ("token fan-out is a posexplode in the scan task",
             r"Generate posexplode", (1,)),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    from walker_spark.operators.graph import MICRO as _PR_MICRO

    pr_edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (2, 4)], "src long, dst long"
    ).localCheckpoint()
    pr_nodes = (
        pr_edges.select(F.col("src").alias("node"))
        .union(pr_edges.select(F.col("dst").alias("node")))
        .distinct()
        .join(
            pr_edges.groupBy(F.col("src").alias("node")).agg(
                F.count(F.lit(1)).cast("long").alias("outdeg")
            ),
            "node",
            "left",
        )
        .select("node", F.coalesce("outdeg", F.lit(0).cast("long")).alias("outdeg"))
        .localCheckpoint()
    )
    pr_ranks = pr_nodes.select(
        "node", "outdeg", F.lit(_PR_MICRO).cast("long").alias("rank_micro")
    )
    ok &= grab(
        "pagerank iteration (_pagerank_step — the exact plan each "
        "localCheckpointed round materializes): contributions shuffle "
        "on the edge keys only, the dangling-mass scalar rides as a "
        "broadcast one-row aggregate (no driver collect in the loop), "
        "ranks are pure int64 arithmetic",
        _pagerank_step(pr_nodes, pr_edges, pr_ranks, 4, 17, 20),
        [
            ("every exchange is keyed on node/src/dst",
             r"Exchange hashpartitioning\((?!node|src|dst)", 0),
            ("dangling scalar is a broadcast one-row cross join",
             r"BroadcastNestedLoopJoin", (1,)),
            ("contribution agg is two-phase (map-side partial)",
             r"HashAggregate", (2,)),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    # 12l. crawl-depth BFS round + k-core peel round: frontier-only
    # expansion / degree-gated semi-joins, zero Python
    from walker_spark.operators.graph import _bfs_round, _kcore_round

    _hd_state = pr_nodes.select(
        "node", F.lit(0).cast("long").alias("hops")
    ).localCheckpoint()
    ok &= grab(
        "hop_distances round (_bfs_round — the exact plan each "
        "localCheckpointed BFS round materializes): ONLY the frontier "
        "joins the edge table, the settled set enters through one "
        "left-anti join, hops are literal int64",
        _bfs_round(_hd_state, pr_edges, _hd_state, 1),
        [
            ("settled set enters via ONE anti-join",
             r"LeftAnti", (1,)),
            ("every exchange keyed on node/src/dst",
             r"Exchange hashpartitioning\((?!node|src|dst)", 0),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    _kc_edges = pr_edges.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).filter(F.col("u") < F.col("v")).distinct().localCheckpoint()
    ok &= grab(
        "kcore peel round (_kcore_round): one two-phase degree agg over "
        "the surviving edge set, survivors gate re-entry through two "
        "hash semi-joins — no node table materializes, no Python",
        _kcore_round(_kc_edges, 3),
        [
            ("both endpoint gates are semi-joins",
             r"LeftSemi", (2,)),
            ("degree agg is two-phase (map-side partial)",
             r"HashAggregate", (2,)),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    # 12m. tfidf keywords / mutual-kNN graph / weighted sample: the
    # new per-doc-window, blocked-pairwise, and salted-top-k shapes
    from walker_spark.operators.textstats import tfidf_keywords

    ok &= grab(
        "tfidf_keywords: postings agg + term-keyed dfreq join, corpus N "
        "a broadcast one-row scalar, top-k a window over per-DOC "
        "partitions (never a global sort), zero Python",
        tfidf_keywords(docs, top_k=5, min_df=2),
        [
            ("corpus stats ride as a broadcast one-row cross join",
             r"BroadcastNestedLoopJoin", (1,)),
            ("per-doc top-k is a window, not a global TakeOrdered",
             r"TakeOrderedAndProject", 0),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    from walker_spark.operators.curation import weighted_sample

    ok &= grab(
        "weighted_sample (A-ES): two-level salted top-k — the first "
        "window partitions on (group, salt) so no task ranks a whole "
        "mega-group; keys are md5-deterministic, zero Python",
        weighted_sample(
            docs.select("doc_id", "text", F.length("text").alias("w"),
                        (F.col("doc_id") % 3).alias("g")),
            k=5, weight_col="w", group_cols=["g"],
        ),
        [
            ("two window passes (salted then global)",
             r"RunningWindowFunction|Window", (2,)),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    from walker_spark.operators.similarity import knn_graph as _knn_graph

    _kg_emb = spark.createDataFrame(
        [(i, [float((i * 7 + d) % 13) - 6.0 for d in range(8)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    ).localCheckpoint()
    ok &= grab(
        "knn_graph: within-CELL pairwise join (never corpus-all-pairs: "
        "the join key is the ivf cell id), per-vector window top-k, "
        "mutual filter = ONE left-semi self-join; cosine is a JVM "
        "aggregate fold — zero Python",
        _knn_graph(_kg_emb, k=3, n_cells=4),
        [
            ("pairwise join is cell-keyed (no cross join)",
             r"CartesianProduct", 0),
            ("mutual filter is a semi-join",
             r"LeftSemi", (1,)),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    # 12n. session-10 ops: file blooms / hard negatives / url
    # templates / change rates — broadcast-probe, cell-blocked,
    # template-bounded, and url-keyed shapes
    from walker_spark.operators.layout import bloom_prune, file_blooms

    _fb_rows = spark.createDataFrame(
        [(i % 9, f"v{i % 40}") for i in range(400)], "file long, v string"
    )
    _fb = file_blooms(_fb_rows, "file", "v", m_bits=128, k=3)
    _fb_probes = spark.createDataFrame([("v1",), ("zz",)], "key string")
    ok &= grab(
        "bloom_prune: probe fan-out and base-key frame both BROADCAST "
        "(the bloom table is the only distributed side), no cartesian, "
        "zero Python",
        bloom_prune(_fb, _fb_probes, value_col="key", m_bits=128, k=3),
        [
            ("probe/base sides broadcast", r"BroadcastExchange", (2,)),
            ("no cartesian product", r"CartesianProduct", 0),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    from walker_spark.operators.similarity import hard_negatives

    _hn_emb = spark.createDataFrame(
        [(i, [float((i * 11 + d) % 17) - 8.0 for d in range(8)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    ).localCheckpoint()
    ok &= grab(
        "hard_negatives: pairwise join is ivf-CELL-keyed (never "
        "corpus-all-pairs), threshold filters before the per-anchor "
        "window, zero Python",
        hard_negatives(_hn_emb, k=3, dup_threshold=0.5, n_cells=4),
        [
            ("no cartesian product", r"CartesianProduct", 0),
            ("per-anchor rank is a window, not a global sort",
             r"TakeOrderedAndProject", 0),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    from walker_spark.operators.urlstats import url_templates

    _ut = spark.createDataFrame(
        [(f"http://h{i % 5}.com/p/{i}",) for i in range(200)], "url string"
    )
    ok &= grab(
        "url_templates: template derivation is in-scan (try_parse_url "
        "+ regexp in the projection), rollup two-phase with map-side "
        "partials, per-host top-k a window — no global sort, zero "
        "Python",
        url_templates(_ut, top_k=3),
        [
            ("partial aggregation before any exchange",
             r"HashAggregate", (2,)),
            ("no global TakeOrdered", r"TakeOrderedAndProject", 0),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    from walker_spark.operators.recrawl import change_rate_estimates

    _cr = spark.createDataFrame(
        [(f"u{i % 13}", 1_700_000_000 + i * 60, f"k{i % 3}") for i in range(300)],
        "url string, t long, content_key string",
    ).select("url", F.col("t").cast("timestamp").alias("ts"), "content_key")
    ok &= grab(
        "change_rate_estimates: ONE url-keyed exchange feeds both the "
        "lag window and the rollup (history rows are (url, ms, key) — "
        "page bytes never move), zero Python",
        change_rate_estimates(_cr),
        [
            ("exactly one url exchange",
             r"Exchange hashpartitioning\(url", 1),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    from walker_spark.operators.dedup import cdc_chunks

    _cdc_docs = spark.createDataFrame(
        [(i, ("word%d " % (i % 7)) * 40) for i in range(50)],
        "doc_id long, text string",
    )
    ok &= grab(
        "cdc_chunks: the WHOLE derivation (positions, boundary filter, "
        "cut array, chunk fan-out, keys) is array expressions in one "
        "projection stack — ZERO exchanges, text never leaves the "
        "scan, zero Python",
        cdc_chunks(_cdc_docs, window=8, divisor=16),
        [
            ("zero exchanges", r"Exchange", 0),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    from walker_spark.operators.curation import corpus_report

    _cr_docs = spark.createDataFrame(
        [(i, f"some text {i % 5}", f"s{i % 3}") for i in range(60)],
        "doc_id long, text string, source string",
    )
    _cr_verd = spark.createDataFrame(
        [(i, i % 2 == 0) for i in range(60)], "id long, quality_pass boolean"
    )
    ok &= grab(
        "corpus_report: text never shuffles — every exchange carries "
        "only 32-byte keys / ids / counters (no exchange keyed on a "
        "text column), zero Python",
        corpus_report(_cr_docs, _cr_verd),
        [
            ("no exchange keyed on the text column",
             r"Exchange hashpartitioning\(text", 0),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    from walker_spark.operators.retrieval import (
        PostingsIndex,
        bm25_topk_indexed,
        build_postings_index,
    )

    _raw_idx = build_postings_index(docs)
    # serve-time shape: the index tables come from storage, not from a
    # live corpus scan — checkpoints stand in for the parquet read
    idx = PostingsIndex(
        _raw_idx.postings.localCheckpoint(),
        _raw_idx.dfreq.localCheckpoint(),
        _raw_idx.stats.localCheckpoint(),
    )
    ok &= grab(
        "bm25_topk_indexed: BM25 served from the persisted postings "
        "index (corpus text never read at query time; query terms and "
        "per-term stats broadcast; the only exchange is the bounded "
        "per-(query,doc) candidate agg)",
        bm25_topk_indexed(idx, qdf, k=5),
        [
            ("no corpus-text tokenize/explode at serve time (the only "
             "explodes are query-term tokenization)",
             r"Generate explode\([^\n]*lower\(text#", 0),
            ("every exchange is the bounded (query,doc) candidate agg "
             "or a query-term-sized distinct",
             r"Exchange hashpartitioning\((?!query_id|term)", 0),
            ("query terms + dfreq + stats broadcast",
             r"BroadcastHashJoin|BroadcastNestedLoopJoin", (3,)),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    from walker_spark.operators.retrieval import hybrid_topk
    from walker_spark.operators.similarity import dense_topk

    _emb = docs.select(
        F.col("doc_id").alias("vec_id"),
        F.array(
            (F.crc32(F.col("text").cast("binary")) % 100).cast("double"),
            (F.crc32(F.concat(F.col("text"), F.lit("x")).cast("binary")) % 100).cast("double"),
        ).alias("embedding"),
    )
    _qvec = _emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    ok &= grab(
        "dense_topk: multi-query exact cosine (queries broadcast into "
        "the ONE embeddings scan; two-stage top-k — the only exchange "
        "of score rows is keyed on (query_id, scan-partition id), so a "
        "hot query never lands on one task; the global window ranks "
        "the tiny surviving set)",
        dense_topk(_emb, _qvec, k=5),
        [
            ("queries broadcast (no shuffle of the corpus for the join)",
             r"BroadcastNestedLoopJoin", (1,)),
            ("score exchanges keyed on query_id/_pid only",
             r"Exchange hashpartitioning\((?!query_id|_pid)", 0),
            ("partial top-k window is partition-id keyed",
             r"Window.*_pid", (1,)),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    ok &= grab(
        "hybrid_topk: query-by-example BM25 + dense RRF fusion (each "
        "leg touches the corpus once; the fusion groupBy/window operate "
        "on |queries| x 2 x k_leg rows only; RRF contributions are "
        "exact integer div — no doubles in the fused score)",
        hybrid_topk(docs, _emb, [0], k=5, k_leg=3),
        [
            ("every exchange is doc-keyed (corpus join/postings/candidates)"
             " or bounded fusion keys",
             r"Exchange hashpartitioning\((?!id|term|query_id|dl|doc_id|_pid)", 0),
            ("query terms/stats/queries broadcast",
             r"BroadcastHashJoin|BroadcastNestedLoopJoin", (4,)),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    from walker_spark.operators.textstats import winnow_fingerprints

    ok &= grab(
        "winnow_fingerprints: MOSS winnowing (gram hashes + packed "
        "tie-break key materialize in the scan task; the ONLY exchange "
        "is the per-doc window; the distinct selections reuse the same "
        "doc-keyed distribution — no second shuffle)",
        winnow_fingerprints(docs, k=3, w=2),
        [
            ("exactly one exchange, keyed on the doc id",
             r"Exchange hashpartitioning\(_id", 1),
            ("no other exchange", r"Exchange hashpartitioning\((?!_id)", 0),
            ("gram fan-out is a Generate in the scan stage",
             r"Generate explode", (1,)),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    from walker_spark.operators.textstats import (
        _bpe_pair_counts,
        _bpe_word_table,
        bpe_merges,
    )

    _words = _bpe_word_table(docs, "text").localCheckpoint()
    ok &= grab(
        "bpe word table (the ONE corpus scan BPE ever does: word-keyed "
        "count then char split — everything after iterates on this "
        "vocabulary-sized table)",
        _bpe_word_table(docs, "text"),
        [
            ("one exchange, keyed on the word",
             r"Exchange hashpartitioning\(w#", 1),
            ("no other exchange", r"Exchange hashpartitioning\((?!w#)", 0),
            ("map-side partial count (two-phase HashAggregate)",
             r"HashAggregate", 2),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )
    ok &= grab(
        "bpe pair-count round (reads the checkpointed word table; pair "
        "fan-out in the scan task; ONE pair-keyed exchange; the round "
        "winner is the sorted head — the corpus is never re-read)",
        _bpe_pair_counts(_words).limit(1),
        [
            ("reads the checkpointed word table, not the corpus",
             r"Scan ExistingRDD", 1),
            ("pair agg is the only exchange (Catalyst names the struct-"
             "field keys _groupingexpression)",
             r"Exchange hashpartitioning\((?!l#|r#|_groupingexpression)", 0),
            ("pair fan-out is a Generate in the scan stage",
             r"Generate explode", (1,)),
            ("winner via TakeOrdered, no global sort materialization",
             r"TakeOrderedAndProject", 1),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    from walker_spark.operators.textstats import bpe_encode

    ok &= grab(
        "bpe encode (merge table rides the UDF closure as a rank dict "
        "— the corpus is never joined by word; tokens posexplode in "
        "the scan task, the per-word merge application is ONE Arrow "
        "batch stage with a per-worker word cache, and the ONLY "
        "exchange is the doc-keyed reassembly with a map-side partial "
        "collect)",
        bpe_encode(docs, bpe_merges(docs, n_merges=3)),
        [
            ("exactly one exchange, keyed on the doc id",
             r"Exchange hashpartitioning\(id#", 1),
            ("no other exchange", r"Exchange hashpartitioning\((?!id#)", 0),
            ("no join anywhere (the merge table is closure state)",
             r"Join", 0),
            ("token fan-out is posexplode in the scan stage",
             r"Generate posexplode", 1),
            ("ONE Arrow stage, below the exchange",
             r"ArrowEvalPython", 1),
            ("map-side partial collect (two-phase ObjectHashAggregate)",
             r"ObjectHashAggregate", 2),
        ],
    )

    from walker_spark.operators.graph import anchor_text_agg

    _aedges = docs.select(
        (F.col("doc_id") % 7).alias("src"),
        (F.col("doc_id") % 5).alias("dst"),
        F.substring("text", 1, 4).alias("anchor"),
    )
    ok &= grab(
        "anchor_text_agg: inbound anchor aggregation (edge stream "
        "reduced by ONE (dst, anchor)-keyed agg — a 10^8-inlink hub is "
        "a hot reduce key with map-side partials, never a hot window "
        "partition; top-k + totals window the aggregated table only)",
        anchor_text_agg(_aedges, k=3),
        [
            ("edge-stream exchange is the (dst, anchor) agg; windows "
             "re-key the aggregated table on dst",
             r"Exchange hashpartitioning\((?!dst|anchor)", 0),
            ("distinct-src is the two-phase partial-agg plan",
             r"HashAggregate", (3,)),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    from walker_spark.operators.graph import HITS_SCALE, _hits_step
    from walker_spark.operators.textstats import exact_percentiles

    pr_state = pr_nodes.select(
        "node",
        F.lit(HITS_SCALE).cast("long").alias("hub_score"),
        F.lit(0).cast("long").alias("auth_score"),
    )
    ok &= grab(
        "hits iteration (_hits_step — the exact plan each "
        "localCheckpointed round materializes): two edge-keyed "
        "join+agg passes, both L1-normalization totals ride as "
        "broadcast one-row aggregates, pure int64 arithmetic",
        _hits_step(pr_nodes.select("node"), pr_edges, pr_state),
        [
            ("every exchange is keyed on node/src/dst",
             r"Exchange hashpartitioning\((?!node|src|dst)", 0),
            ("both normalization scalars are broadcast one-row cross joins",
             r"BroadcastNestedLoopJoin", (2,)),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    ok &= grab(
        "exact_percentiles: exact type-1 quantiles via the distributed "
        "global rank (repartitionByRange + per-partition row_number + "
        "broadcast P-row offsets; targets broadcast against the ranked "
        "stream — no global sort, no one-partition corpus window)",
        exact_percentiles(docs.select(F.length("text").alias("len")), "len",
                          qs=(0.25, 0.5, 0.9)),
        [
            ("ranked stream reads the checkpointed range-partitioned "
             "table (the ONE corpus exchange happened inside the "
             "checkpoint job; offsets and rank branches share it)",
             r"Scan ExistingRDD", (1,)),
            ("no corpus-wide hash exchange (offsets/targets are broadcast; "
             "the only hashpartitioning is the P-row offset window)",
             r"Exchange hashpartitioning\((?!_pid)", 0),
            ("target-rank probe is a broadcast join",
             r"BroadcastHashJoin", (1,)),
            ("per-partition rank is a partition-id-keyed window, not a "
             "global one", r"Window.*_pid", (1,)),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    from walker_spark.operators.curation import stratified_split
    from walker_spark.operators.textstats import grouped_percentiles, text_normalize

    ok &= grab(
        "text_normalize: unicode hygiene (NFC via ONE Arrow batch with "
        "an isascii fast path; strip/collapse regexes JVM-side) — a "
        "zero-exchange projection",
        text_normalize(docs),
        [
            ("no exchange of any kind", r"Exchange", 0),
            ("exactly one Arrow pass (the NFC UDF)", r"ArrowEvalPython", (1,)),
            ("no row-at-a-time Python", r"BatchEvalPython", 0),
        ],
    )

    ok &= grab(
        "grouped_percentiles: per-group exact type-1 quantiles via the "
        "per-(group, value) HISTOGRAM — window partitions are bounded "
        "by a group's distinct values, never its row count",
        grouped_percentiles(
            docs.select((F.col("doc_id") % 3).alias("g"), F.length("text").alias("v")),
            "g",
            "v",
            qs=(0.25, 0.5, 0.75),
        ),
        [
            ("the corpus exchange is the (group, value) histogram agg; "
             "the only other hash exchange re-keys the histogram on the group",
             r"Exchange hashpartitioning\((?!_g)", 0),
            ("map-side partial aggregation before the histogram exchange",
             r"HashAggregate", (2,)),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    ok &= grab(
        "stratified_split: exact-quota per-stratum carve via the "
        "GROUPED distributed rank (range-partitioned checkpoint shared "
        "by the offsets and rank branches; broadcast PxS offset table; "
        "per-partition windows only)",
        stratified_split(
            docs.select("doc_id", (F.col("doc_id") % 3).cast("string").alias("s")),
            "s",
            "doc_id",
        ),
        [
            ("rank branch reads the checkpointed range-partitioned table",
             r"Scan ExistingRDD", (1,)),
            ("no corpus-wide hash exchange (offsets are broadcast; the "
             "only hashpartitioning is the PxS offset window's)",
             r"Exchange hashpartitioning\((?!_pid|_g)", 0),
            ("offset table joins back as a broadcast",
             r"BroadcastHashJoin", (1,)),
            ("per-partition rank window is (pid, stratum)-keyed, never global",
             r"Window.*_pid", (1,)),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    from walker_spark.operators.multimodal import hamming_near_dups

    _ph = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long").alias("phash"),
    )
    ok &= grab(
        "hamming_near_dups: perceptual-hash near-dup pairs — the banded "
        "stream is ONE posexplode in the scan task (no per-band re-scan), "
        "one self-join on (band_idx, band_value), popcount verify in the "
        "join projection",
        hamming_near_dups(_ph, max_hamming=2),
        [
            ("exchanges only on the band key or the pair-dedup key",
             r"Exchange hashpartitioning\((?!_bidx|id_a)", 0),
            ("single band self-join (no unioned per-band joins)",
             r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", (1,)),
            ("band fan-out is a Generate (posexplode), not a Union",
             r"Generate posexplode", (2,)),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )


    from walker_spark.operators.curation import unimax_mix

    ok &= grab(
        "unimax_mix: UniMax epoch-capped mixture — per-source counts "
        "are ONE map-side-combined agg (rows = #sources), the "
        "waterfilling windows run on that tiny table, and the "
        "probability/threshold table broadcasts back so the corpus is "
        "filtered map-side with no corpus shuffle",
        unimax_mix(
            docs.select(
                "doc_id", (F.col("doc_id") % 5).cast("string").alias("source")
            ),
            budget=100,
        ),
        [
            ("the only hash exchange is the per-source count agg "
             "(tiny payload; waterfilling windows use single-partition "
             "exchanges on the #sources-row table)",
             r"Exchange hashpartitioning\((?!source)", 0),
            ("threshold table joins back as a broadcast",
             r"BroadcastHashJoin", (1,)),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    from walker_spark.operators.textstats import novelty_scores

    ok &= grab(
        "novelty_scores: n-gram novelty audit — both corpora collapse "
        "to DISTINCT md5 gram keys in their scan tasks, ONE gram-keyed "
        "membership join, ONE doc-keyed roll-up; the reference is "
        "never broadcast or collected",
        novelty_scores(
            docs.filter(F.col("doc_id") % 2 == 1),
            docs.filter(F.col("doc_id") % 2 == 0),
            n=3,
        ),
        [
            ("exchanges only on the gram key or the doc id",
             r"Exchange hashpartitioning\((?!gram_key|_id|id)", 0),
            ("gram text never shuffles (keys are md5 in the scan "
             "projection before any exchange)", r"Exchange.*text#", 0),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    from walker_spark.operators.textstats import source_overlap

    ok &= grab(
        "source_overlap: cross-source n-gram overlap matrix — corpus "
        "collapses to DISTINCT (source, md5-gram) rows, per-gram "
        "self-join fan-out bounded by #sources, totals broadcast onto "
        "the S^2/2-row matrix",
        source_overlap(
            docs.select("doc_id", "text", (F.col("doc_id") % 4).cast("string").alias("source"))
        ),
        [
            ("exchanges only on the gram key or the source pair",
             r"Exchange hashpartitioning\((?!gram_key|source|_id)", 0),
            ("gram text never shuffles", r"Exchange.*text#", 0),
            ("both per-source totals join back as broadcasts",
             r"BroadcastHashJoin", (2,)),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    from walker_spark.operators.textstats import quantile_filter

    ok &= grab(
        "quantile_filter: per-group quantile trim — the cutoff table "
        "(2 rows/group, from the grouped_percentiles histogram) "
        "broadcasts back; the corpus filter is map-side",
        quantile_filter(
            docs.select((F.col("doc_id") % 3).alias("g"), F.length("text").alias("v")),
            "g",
            "v",
        ),
        [
            ("cutoffs join back as a broadcast", r"BroadcastHashJoin", (1,)),
            ("the only corpus-side hash exchanges are the histogram's "
             "(group, value) agg and its group re-key",
             r"Exchange hashpartitioning\((?!_g|g#)", 0),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    from walker_spark.operators.curation import prepare_training_data

    ok &= grab(
        "prepare_training_data: the END-TO-END curation chain as one "
        "composed plan — zero-Python verdict, content-key dedup "
        "exchange, broadcast benchmark grams + mixture thresholds, "
        "checkpoint-once shard prefix sum",
        prepare_training_data(
            docs.select("doc_id", "text", (F.col("doc_id") % 4).cast("string").alias("source")),
            docs.limit(5).select("doc_id", "text", F.lit("z").alias("source")),
            budget_docs=100,
            shard_tokens=256,
            quality=dict(min_stop_hits=0, gopher_min_words=5, min_prob=0.0),
        ),
        [
            ("benchmark grams and mixture thresholds join as broadcasts",
             r"BroadcastHashJoin", (3,)),
            ("shard prefix sum reads the checkpointed range partition",
             r"Scan ExistingRDD", (1,)),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    from walker_spark.operators.graph import _ppr_step

    _ppr_nodes = pr_nodes.select(
        "node", "outdeg", (F.col("node") % 5 == 0).alias("is_seed")
    )
    _ppr_state = _ppr_nodes.withColumn(
        "rank_micro",
        F.when(F.col("is_seed"), F.lit(1_000_000)).otherwise(F.lit(0)).cast("long"),
    )
    ok &= grab(
        "personalized_pagerank iteration (_ppr_step): same shape as the "
        "pagerank step — edge-keyed join + dst-keyed agg, dangling mass "
        "a broadcast one-row aggregate, seed deposit a flag column on "
        "the checkpointed node table, pure int64",
        _ppr_step(_ppr_nodes, pr_edges, _ppr_state, 3, 17, 20, 150000),
        [
            ("exchanges keyed on node/src/dst only",
             r"Exchange hashpartitioning\((?!node|src|dst)", 0),
            ("dangling scalar is a broadcast one-row cross join",
             r"BroadcastNestedLoopJoin", (1,)),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    # 12b. HLL distinct sketch: the map-side partial max must collapse
    # each task's items to <= m register rows per group BEFORE the
    # exchange — the shuffle is O(groups x m), never O(distinct items).
    from walker_spark.operators.sketches import hll_distinct

    _hits = docs.select(
        (F.col("doc_id") % 3).alias("g"),
        F.explode(F.split(F.col("text"), " ")).alias("item"),
    )
    ok &= grab(
        "hll_distinct (deterministic-md5 HyperLogLog: register build is "
        "a two-phase hash agg on (group, bucket) — partial max map-side "
        "— then a tiny per-group rollup; sketch state is plain rows, "
        "mergeable by max)",
        hll_distinct(_hits, ["g"], "item"),
        [
            ("two exchanges: (group, bucket) then group",
             r"Exchange hashpartitioning", 2),
            ("both aggs two-phase (map-side partials)",
             r"HashAggregate", 4),
            ("token fan-out is a Generate in the scan stage",
             r"Generate explode", 1),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    # 12c. Count-Min sketch: the depth fan-out happens in the scan
    # task (Generate), the two-phase agg collapses map-side to
    # <= depth x width rows per group — shuffle O(groups x d x w).
    from walker_spark.operators.sketches import cms_counts, cms_lookup

    _cms = cms_counts(_hits, ["g"], "item", depth=4, width=64)
    _cands = _hits.limit(5)
    ok &= grab(
        "cms_counts + cms_lookup (mergeable Count-Min frequency sketch: "
        "depth fan-out in the scan task, two-phase (group,d,bucket) agg, "
        "point query = equi-join on (group,d,bucket) + min-over-depth)",
        cms_lookup(_cms, _cands, ["g"], "item", depth=4, width=64),
        [
            ("hash fan-out is a Generate (explode), not a join",
             r"Generate explode", (2,)),
            ("sketch build and lookup aggs are two-phase",
             r"HashAggregate", (4,)),
            ("no nested-loop anywhere",
             r"NestedLoop|CartesianProduct", 0),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    # 12d. triangle counting: wedges come from the ORIENTED edge
    # self-join (degree-ordered, hub fan-out bounded) and close via an
    # equi semi-join — never a nested loop, never Python.
    from walker_spark.operators.graph import triangle_counts

    _tri_edges = spark.createDataFrame(
        [(i, (i * 7 + j) % 40) for i in range(40) for j in (1, 2, 3)],
        "src long, dst long",
    )
    ok &= grab(
        "triangle_counts (degree-ordered node-iterator: orient by "
        "(degree, node), wedge self-join on the low endpoint, close "
        "with ONE equi semi-join on the oriented (b, c) key)",
        triangle_counts(_tri_edges),
        [
            ("wedge close is a semi-join",
             r"LeftSemi", (1,)),
            ("all joins are hash equi-joins, no nested loop",
             r"NestedLoop|CartesianProduct", 0),
            ("degree/triangle aggs are two-phase",
             r"HashAggregate", (4,)),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    # 12e. PMI collocations: two two-phase count aggs, broadcast
    # scalar totals, hash equi-joins for c_a/c_b, TakeOrdered top-k —
    # never a global sort, never Python.
    from walker_spark.operators.textstats import pmi_collocations

    ok &= grab(
        "pmi_collocations (exact-integer lift ranking: unigram/bigram "
        "two-phase aggs, totals as broadcast one-row scalars, top-k is "
        "TakeOrdered per-partition heaps)",
        pmi_collocations(docs, min_count=1, top_k=10),
        [
            ("top-k is TakeOrdered, not a global Sort+Limit",
             r"TakeOrderedAndProject", (1,)),
            ("scalar totals are broadcast one-row joins",
             r"BroadcastNestedLoopJoin", (2,)),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    # 12f. Z-order layout: bounds are ONE broadcast one-row agg, the
    # key is pure codegen arithmetic, and the layout op is exactly one
    # range Exchange + within-partition sort (never a global sort).
    from walker_spark.operators.layout import zorder_layout

    _zdf = spark.createDataFrame(
        [(i, (i * 37) % 101, (i * 53) % 997) for i in range(200)],
        "id long, x long, y long",
    )
    ok &= grab(
        "zorder_layout (Morton-interleaved file layout: broadcast "
        "scalar bounds, codegen key, ONE rangepartitioning exchange, "
        "sort within partitions only)",
        zorder_layout(_zdf, ["x", "y"], bits=8, num_partitions=8),
        [
            ("exactly one range-partition exchange",
             r"Exchange rangepartitioning", 1),
            ("no hash-partition exchange anywhere",
             r"Exchange hashpartitioning", 0),
            ("bounds ride as a broadcast one-row agg",
             r"BroadcastNestedLoopJoin", 1),
            ("sort is within partitions (global flag false)",
             r"Sort \[zkey[^\]]*\], false", (1,)),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    # 12g. log-bucket histogram: the sketch build is a two-phase agg
    # on (group, bucket) — the shuffle carries at most ~64*s rows per
    # group; the quantile walk windows over those bounded rows only.
    from walker_spark.operators.sketches import (
        log_histogram,
        log_histogram_quantiles,
    )

    _lh = log_histogram(
        docs.select((F.col("doc_id") % 3).alias("g"),
                    F.length("text").cast("long").alias("v")),
        ["g"], "v",
    )
    ok &= grab(
        "log_histogram + quantiles (mergeable DDSketch-style buckets: "
        "two-phase (group,bucket) agg, quantile walk windows over the "
        "bounded bucket rows, q grid broadcast)",
        log_histogram_quantiles(_lh, ["g"], (0.5, 0.9)),
        [
            ("histogram agg is two-phase", r"HashAggregate", (2,)),
            ("q grid rides as a broadcast one-row-ish join",
             r"BroadcastNestedLoopJoin", 1),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    # 12h. KMV sketch: top-k selection must be the TWO-LEVEL window
    # (salt shard first, then group) so no task ranks a whole group's
    # distinct set; distinct is a two-phase agg.
    from walker_spark.operators.sketches import kmv_sketch

    ok &= grab(
        "kmv_sketch (theta sketch build: two-phase distinct on "
        "(group, h), then salted window + group window top-k — hub "
        "groups never rank their full distinct set in one task)",
        kmv_sketch(_hits, ["g"], "item", k=16),
        [
            ("two window passes (salt shard, then group)",
             r"Window \[row_number", 2),
            ("distinct agg is two-phase", r"HashAggregate", (2,)),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    # 12i. compaction planner: metadata-scale window query — exchanges
    # keyed on the table partition (+ group), zero Python.
    from walker_spark.operators.layout import compaction_plan

    _inv = spark.createDataFrame(
        [("p%d" % (i % 3), "f%03d" % i, 50 + i) for i in range(60)],
        "part string, path string, bytes long",
    )
    ok &= grab(
        "compaction_plan (small-file maintenance: prefix-sum group ids "
        "+ per-group rollup, all windows keyed on the table partition)",
        compaction_plan(_inv, ["part"], target_bytes=300),
        [
            ("exchanges keyed on part/group only",
             r"Exchange hashpartitioning\((?!part)", 0),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    # 12j. CDC table diff: ONE full-outer hash equi-join on the key,
    # codegen null-safe comparisons, zero Python.
    from walker_spark.operators.layout import table_diff

    _old = spark.createDataFrame(
        [(i, "s%d" % i, i * 2) for i in range(50)], "k long, s string, v long"
    )
    _new = spark.createDataFrame(
        [(i, "s%d" % i, i * 2 + (i % 3 == 0)) for i in range(5, 55)],
        "k long, s string, v long",
    )
    ok &= grab(
        "table_diff (snapshot CDC: one key-keyed full-outer SMJ/hash "
        "join, null-safe codegen comparisons, sparse change rows)",
        table_diff(_old, _new, ["k"]),
        [
            ("one full-outer join", r"FullOuter", 1),
            ("exchanges keyed on the key only",
             r"Exchange hashpartitioning\((?!k#)", 0),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    # 12k. edit-distance pairs: candidates come from ONE hash equi-join
    # on the PassJoin (chunk_idx, source_len, substring) key — never a
    # nested-loop/cartesian — and both fan-outs are scan-task Generates.
    from walker_spark.operators.dedup import edit_dup_pairs as _edp

    _titles = docs.select(
        "doc_id", F.substring("text", 1, 20).alias("text")
    )
    ok &= grab(
        "edit_dup_pairs (PassJoin: pigeonhole chunk keys, constant "
        "probe fan-out in the scan task, one equi-join + levenshtein "
        "verify)",
        _edp(_titles, max_edit=2),
        [
            ("chunk/probe fan-outs are Generates", r"Generate explode", 2),
            ("no nested loop / cartesian anywhere",
             r"NestedLoop|CartesianProduct", 0),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    # 13. temporal joins: as-of must be ONE key-keyed window (never a
    # self-join / broadcast of the right history); range join must be a
    # hash equi-join on the time bucket (never a nested loop).
    from walker_spark.operators.joins import asof_join, range_join

    _aleft = spark.createDataFrame(
        [(1, 10_000, "a")], "uid long, tms long, pid string"
    ).select("uid", F.timestamp_millis("tms").alias("ts"), "pid")
    _aright = spark.createDataFrame(
        [(1, 5_000, 7)], "uid long, tms long, rid long"
    ).select("uid", F.timestamp_millis("tms").alias("rts"), "rid")
    ok &= grab(
        "asof_join (union+window rewrite: both sides tagged and "
        "unioned, ONE exchange on the equality keys, the match is "
        "last(payload, ignorenulls) over (time, side, tiebreak) — the "
        "right history is never self-joined or broadcast)",
        asof_join(_aleft, _aright, "uid", "ts", "rts", tiebreak="rid"),
        [
            ("exactly one exchange, keyed on the join key",
             r"Exchange hashpartitioning\(uid", 1),
            ("no other exchange", r"Exchange hashpartitioning\((?!uid)", 0),
            ("one window does the matching", r"\bWindow\b", 1),
            ("union of the two tagged sides", r"\bUnion\b", 1),
            ("no join node anywhere", r"Join", 0),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )
    _ivs = spark.createDataFrame(
        [(1, 0, 7_200_000)], "wid long, sms long, ems long"
    ).select(
        "wid",
        F.timestamp_millis("sms").alias("ws"),
        F.timestamp_millis("ems").alias("we"),
    )
    ok &= grab(
        "range_join, broadcast mode (intervals explode to overlapped "
        "buckets in the scan task; the join is a BroadcastHashJoin on "
        "the bucket with the interval predicate as residual — never "
        "the O(P x I) BroadcastNestedLoopJoin Spark gives a raw "
        "inequality join)",
        range_join(
            _aleft.select("pid", "ts"), _ivs, "ts", "ws", "we",
            bucket_ms=3_600_000, broadcast_intervals=True,
        ),
        [
            ("hash equi-join on the bucket",
             r"BroadcastHashJoin \[.*_bucket", 1),
            ("never a nested loop", r"BroadcastNestedLoopJoin", 0),
            ("interval bucket fan-out is a Generate in the scan stage",
             r"Generate explode", 1),
            ("zero exchange in broadcast mode",
             r"Exchange hashpartitioning", 0),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )
    ok &= grab(
        "range_join, shuffle mode (both sides exchange ONCE on the "
        "bucket — the plan for interval tables too big to broadcast)",
        range_join(
            _aleft.select("pid", "ts"), _ivs, "ts", "ws", "we",
            bucket_ms=3_600_000,
        ),
        [
            ("shuffled equi-join on the bucket",
             r"SortMergeJoin \[.*_bucket|ShuffledHashJoin \[.*_bucket", 1),
            ("never a nested loop", r"BroadcastNestedLoopJoin", 0),
            ("one exchange per side", r"Exchange hashpartitioning", 2),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    from walker_spark.operators.graph import _double_round, resolve_redirects

    _redir = spark.createDataFrame(
        [(i, i - 1) for i in range(1, 40) if i % 8 != 0], "src long, dst long"
    )
    _rstate = _redir.selectExpr(
        "src as url", "dst as cur", "CAST(1 AS LONG) as n"
    ).localCheckpoint()
    ok &= grab(
        "resolve_redirects round: pointer DOUBLING — one equi self-join "
        "per round (log2(max_hops) rounds replace max_hops sequential "
        "joins; each round is the cluster barrier at 10^9 redirect rows), "
        "zero Python",
        _double_round(_rstate),
        [
            ("exactly one join (the state composing with itself)",
             r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", 1),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )
    ok &= grab(
        "resolve_redirects end-to-end (terminality = ONE join against "
        "the deduped source keys; no pages/text column anywhere near "
        "the loop)",
        resolve_redirects(_redir, max_hops=5),
        [
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
            ("never a nested loop", r"BroadcastNestedLoopJoin", 0),
        ],
    )

    from walker_spark.operators.curation import grouped_split

    ok &= grab(
        "grouped_split: leakage-safe split assignment is a pure "
        "ZERO-exchange projection over the corpus scan (the md5-u32 "
        "CASE chain is whole-stage-codegen'd; no aggregation, no join, "
        "no Python)",
        grouped_split(_cr_docs),
        [
            ("zero exchanges", r"Exchange", 0),
            ("no join", r"Join", 0),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
            ("whole-stage codegen covers the projection (the *(n) marker)",
             r"\*\(\d+\) Project", (1,)),
        ],
    )

    from walker_spark.operators.textstats import host_boilerplate

    ok &= grab(
        "host_boilerplate: text collapses to distinct (doc, gram-md5) "
        "keys in the scan tasks — no exchange is keyed on the text "
        "column, the per-host doc count broadcasts, and every shuffle "
        "moves 32-byte keys",
        host_boilerplate(_cr_docs, n=2, min_docs=2),
        [
            ("no exchange keyed on the text column",
             r"Exchange hashpartitioning\(text", 0),
            ("the tiny per-host doc count broadcasts", r"BroadcastExchange", (1,)),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    from walker_spark.operators.dedup import quality_keeper

    _qk_comps = spark.createDataFrame(
        [(i, i % 7) for i in range(60)], "doc_id long, cluster_id long"
    )
    _qk_scores = spark.createDataFrame(
        [(i, i * 3 % 11) for i in range(60)], "doc_id long, score long"
    )
    ok &= grab(
        "quality_keeper: argmax-by-quality survivor — two CLUSTER-keyed "
        "aggregations (map-side partials; a mega-cluster is a hot reduce "
        "key, never a hot window partition), no window function, no "
        "Python",
        quality_keeper(_qk_comps, _qk_scores),
        [
            ("no window function", r"Window", 0),
            ("cluster-keyed hash aggregates with partials",
             r"HashAggregate", (2,)),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    # 14. bloom_filtered_join: the probe side must be reduced by k
    # BROADCAST LeftSemi joins (map-side, zero probe exchange before
    # the equi-join) — at scale this is the shuffle-bytes reduction.
    from walker_spark.operators.joins import bloom_filtered_join

    _bf_probe = spark.range(0, 5000).selectExpr("id AS k", "id * 3 AS v")
    _bf_build = spark.range(0, 5000, 17).selectExpr("id AS k", "'d' AS tag")
    ok &= grab(
        "bloom_filtered_join: k=4 broadcast LEFT-SEMI pre-filters on the "
        "probe side (never shuffled semis) — only surviving probe rows "
        "reach the equi-join",
        bloom_filtered_join(_bf_probe, _bf_build, "k", k=4),
        [
            ("four LeftSemi pre-filters", r"LeftSemi", 4),
            ("every semi is broadcast",
             r"(ShuffledHashJoin|SortMergeJoin) LeftSemi", 0),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    from walker_spark.operators.textstats import entropy_scores

    ok &= grab(
        "entropy_scores: zero-exchange projection stack — per-doc "
        "char/token entropy from IN-ROW sorted-array run-length "
        "histograms; each array_sort is materialized exactly once per "
        "column (CollapseProject must NOT inline it into the boundary "
        "lambda — that re-sorts per element_at, measured 75x slower)",
        entropy_scores(_cr_docs),
        [
            ("no exchange anywhere (pure projection)", r"Exchange", 0),
            ("each sorted array built exactly once (2 columns)",
             r"array_sort", 2),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    from walker_spark.operators.funnel import funnel_users

    _fn_ev = spark.createDataFrame(
        [(i % 9, 100 + i, i, ["view", "click", "buy"][i % 3])
         for i in range(60)],
        "user_id long, ms long, event_id long, event_type string",
    ).select(
        "user_id", F.timestamp_millis(F.col("ms")).alias("ts"),
        "event_id", "event_type",
    )
    ok &= grab(
        "funnel_users: events filter to step types at the scan, ONE "
        "user-keyed exchange (collect_list + array_sort), the chain "
        "evaluates as a zero-exchange fold — no self-joins, no window",
        funnel_users(_fn_ev, ("view", "click", "buy"), span_ms=1000),
        [
            ("exactly one exchange (the user groupBy)",
             r"Exchange hashpartitioning", 1),
            ("no join anywhere", r"SortMergeJoin|BroadcastHashJoin", 0),
            ("no window operator", r"\bWindow\b", 0),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    from walker_spark.operators.curation import semantic_decontaminate

    _sd_corpus = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5 - 2) for j in range(8)])
         for i in range(100, 160)],
        "vec_id long, embedding array<double>",
    )
    _sd_bench = spark.createDataFrame(
        [(i, [float((i * 3 + j) % 5 - 2) for j in range(8)])
         for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    ok &= grab(
        "semantic_decontaminate: the corpus path is ZERO-exchange — "
        "cell assignment is a projection, the bench side groups per "
        "cell and BROADCASTS as arrays, the max-cosine fold runs in "
        "place (no corpus groupBy, no corpus-keyed exchange)",
        semantic_decontaminate(_sd_corpus, _sd_bench, n_centroids=4),
        [
            ("the only hash exchange is the (tiny) bench cell groupBy",
             r"Exchange hashpartitioning", 1),
            ("the join is broadcast", r"BroadcastHashJoin", 1),
            ("no sort-merge join", r"SortMergeJoin", 0),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    from walker_spark.operators.funnel import retention_cohorts, transition_model

    _tm_ev = spark.createDataFrame(
        [(i % 5, f"t{i % 3}", i, i) for i in range(50)],
        "user_id long, event_type string, ms long, event_id long",
    ).select(
        "user_id", "event_type",
        F.timestamp_millis(F.col("ms")).alias("ts"), "event_id",
    )
    ok &= grab(
        "transition_model: ONE user-keyed exchange for the lead() pass, "
        "one (src,dst) hash agg, src totals as a window over the "
        "alphabet-bounded pair table — no join-back, no recompute of "
        "the lead pipeline",
        transition_model(_tm_ev),
        [
            ("exactly three exchanges (lead window, pair agg, src window)",
             r"Exchange hashpartitioning", 3),
            ("no join anywhere", r"SortMergeJoin|BroadcastHashJoin", 0),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )
    ok &= grab(
        "retention_cohorts: distinct (user, period) activity, first-touch "
        "cohort + cohort_size both as WINDOWS (single lineage — the "
        "groupBy+join-back forms would recompute the activity distinct per "
        "branch); matrix bounded by periods^2",
        retention_cohorts(_tm_ev, period_days=7),
        [
            ("four exchanges (distinct, user window, matrix agg, cohort window)",
             r"Exchange hashpartitioning", 4),
            ("no join anywhere", r"SortMergeJoin|BroadcastHashJoin", 0),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    from walker_spark.operators.dedup import mirror_candidates, within_doc_dedup

    _wd_docs = spark.createDataFrame(
        [(1, "a\nb\na"), (2, "c")], "doc_id long, text string"
    )
    ok &= grab(
        "within_doc_dedup: the whole operator is ONE zero-exchange array "
        "projection (split -> key transform -> first-occurrence filter -> "
        "re-join) — composes into any scan without adding a stage",
        within_doc_dedup(_wd_docs),
        [
            ("zero exchanges", r"Exchange ", 0),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )
    _mr_docs = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("b", "y")], "source string, text string"
    )
    ok &= grab(
        "mirror_candidates: pair generation is a key-keyed collect_set + "
        "in-place pair explode — NO self-join (a self-join would re-derive "
        "the distinct key table and shuffle it twice); group sizes join as "
        "broadcasts; text never reaches an exchange (content keys only)",
        mirror_candidates(_mr_docs),
        [
            ("no sort-merge join (the only joins are the broadcast sizes)",
             r"SortMergeJoin", 0),
            ("both size joins broadcast", r"BroadcastHashJoin", 2),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    from walker_spark.operators.sketches import space_saving_summaries

    _ss_toks = spark.createDataFrame(
        [(i % 3, f"w{i % 7}") for i in range(60)], "shard int, item string"
    )
    ok &= grab(
        "space_saving_summaries: two-phase hash agg on (slice, bucket, "
        "item, salt) then the kmv two-level salted top-(k+1) — three "
        "exchanges total, no joins, the bucket_err rides the final "
        "bounded window; the sketch build never touches Python",
        space_saving_summaries(_ss_toks, ["shard"], "item", k=3, buckets=2),
        [
            ("exactly three exchanges (agg + two window levels)",
             r"Exchange hashpartitioning", 3),
            ("no join anywhere", r"SortMergeJoin|BroadcastHashJoin", 0),
            ("no Python stage anywhere",
             r"FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|BatchEvalPython", 0),
        ],
    )

    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write(
            "# PLANS.md — physical-plan evidence for scale-critical operators\n\n"
            "Generated by scripts/explain_plans.py (local[4], tiny fixtures —\n"
            "plan SHAPE is what matters; AQE may further coalesce at scale).\n\n"
            + "\n".join(sections)
            + "\n## domain_info at 10^8 domains: row-touch MERGE, not rewrite\n\n"
            "The sandbox store overwrites domain_info once per superstep (the\n"
            "fused claim+unclaim+new-domain commit). That full rewrite is a\n"
            "sandbox artifact: the fetch superstep computes the post-claim state\n"
            "as one in-memory plan (apply_claims/unclaim_plan/new_domain_rows),\n"
            "which on the Iceberg DDL path (plans/schemas.py iceberg_ddl +\n"
            "DOMAIN_INFO_MERGE_SQL) commits as MERGE INTO with merge-on-read —\n"
            "only the claimed rows' delete/data files are written, so the\n"
            "per-superstep commit cost is O(claimed domains), not O(all\n"
            "domains). The updates side is exactly the claimed/unclaimed/new\n"
            "rows the superstep already has.\n"
        )
    print("ALL PLAN CHECKS PASS" if ok else "PLAN CHECK FAILURES — see PLANS.md")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
