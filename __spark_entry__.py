"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operator inventory (SURVEY.md §2 +
the training-data operators) as (spark, sf_dir) -> DataFrame callables
over the driver's TPC-H-ish tables; ``oracle_sql()`` carries the exact
DuckDB-runnable equivalent for every SQL-expressible operator. The
crawl-specific parity surfaces (URL kernel, dispatcher quotas, robots,
politeness) are additionally gated by the pytest suite against the
reference's own golden fixtures (tests/).

Naming contract: every computed column is aliased identically in the
Spark plan and the oracle SQL (the driver hashes values under sorted
column names).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

SF001 = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# deterministic 64-dim query vector for similarity search
_QUERY_VEC = [((i * 37 + 11) % 13 - 6) / 6.0 for i in range(64)]
_QUERY_VEC_SQL = "[" + ", ".join(f"{x!r}" for x in _QUERY_VEC) + "]::DOUBLE[]"

_NORM_TEXT_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS_SQL = f"string_split_regex({_NORM_TEXT_SQL}, ' ')"


# ---------------------------------------------------------------------------
# crawl-operator shapes over the driver tables
# ---------------------------------------------------------------------------


def q_latest_event_per_user(spark, sf_dir):
    """F9/W1 — latest-row-per-key window (the dispatcher's load-bearing
    op, dispatcher.go:553-577)."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_type"),
            F.col("event_id").alias("last_event_id"),
        )
    )


def q_frontier_antijoin(spark, sf_dir):
    """J1/U2 — URL-seen anti-join shape (datastore.go:461-463):
    candidates minus the filtered seen-set (customers with no
    high-value order; the 450k threshold gives a non-trivial split at
    every SF, unlike the bare no-orders anti-join which is empty in
    this data)."""
    customer = _t(spark, sf_dir, "customer")
    seen = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return customer.join(
        seen, customer.c_custkey == seen.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


def q_segment_topk_per_group(spark, sf_dir):
    """W2/T1 — oldest-first per-group rank cap (recrawl priority,
    cassandra/priorityurl.go + segment limit)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_orderdate", "rk")
    )


def q_domain_stats(spark, sf_dir):
    """A2 — per-domain link stats aggregate (dispatcher.go:977-990)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("tot_orders"),
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("open_orders"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        # Exact integer cents end-to-end: no double ever appears in the
        # output, so the driver's float normalization cannot differ
        # between engines (the r1/r2 hash-mismatch cause).
        F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .cast("long")
        .alias("total_spend_cents"),
    )


def q_keyset_pagination(spark, sf_dir):
    """T5 — console keyset pagination (datastore.go:749-865)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_orderkey") > 500)
            | ((F.col("l_orderkey") == 500) & (F.col("l_linenumber") > 3))
        )
        .orderBy("l_orderkey", "l_linenumber")
        .limit(100)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


def q_pattern_filter(spark, sf_dir):
    """F2/F3 — include/exclude regex + length accept filters
    (fetcher.go:786-805, mimetools)."""
    part = _t(spark, sf_dir, "part")
    return part.filter(
        F.col("p_type").rlike("ECONOMY|STANDARD")
        & (F.length("p_name") <= 40)
        & ~F.col("p_name").rlike("^red ")
    ).select("p_partkey", "p_name", "p_type")


def q_refresh_split_quota(spark, sf_dir):
    """T2 — refresh-percentage quota math (dispatcher.go:867-937;
    floor split so both engines agree exactly)."""
    orders = _t(spark, sf_dir, "orders")
    n = F.count(F.lit(1))
    return orders.groupBy("o_custkey").agg(
        n.alias("n_orders"),
        F.floor(n * 0.25).cast("long").alias("refresh_quota"),
        (n - F.floor(n * 0.25)).cast("long").alias("new_quota"),
    )


def q_weighted_fair_schedule(spark, sf_dir):
    """A3 — priority-proportional claim frequency in closed form
    (datastore.go:150-182: claims over k rounds = floor(k*p/max_p))."""
    sup = _t(spark, sf_dir, "supplier")
    pri = (F.col("s_suppkey") % 7 + 1).cast("int")
    with_p = sup.select(F.col("s_suppkey"), pri.alias("priority"))
    max_p = with_p.agg(F.max("priority")).collect()[0][0]
    return with_p.select(
        "s_suppkey",
        "priority",
        F.floor(F.lit(10) * F.col("priority") / F.lit(max_p)).cast("long").alias("claims_10"),
    )


def q_empty_backoff_filter(spark, sf_dir):
    """F7 — empty-dispatch backoff predicate over two per-key
    timestamps (dispatcher.go:519-531)."""
    events = _t(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "view", F.col("ts"))).alias("last_view"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("last_purchase"),
    )
    now = events.agg(F.max("ts")).collect()[0][0]

    def secs(c):  # epoch seconds of a (possibly NTZ) timestamp, floored
        return c.cast("timestamp").cast("long")

    epoch0 = F.to_timestamp(F.lit("1970-01-01 00:00:00")).cast("timestamp_ntz")
    backoff = (
        F.col("last_purchase").isNotNull()
        & (F.col("last_purchase") > F.coalesce(F.col("last_view"), epoch0))
        & (secs(F.lit(now)) - secs(F.col("last_purchase")) < 7 * 86400)
    )
    return per_user.filter(~backoff).select("user_id", "last_view", "last_purchase")


def q_dup_wordset_clusters(spark, sf_dir):
    """J5/A5 — duplicate-content clustering by content fingerprint
    (dispatcher.go:732-776): docs with identical word SETS."""
    from walker_spark.operators.dedup import tokens

    docs = _t(spark, sf_dir, "documents")
    fp = F.md5(
        F.encode(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(F.col("text"))))), "UTF-8")
    )
    return (
        docs.groupBy(fp.alias("fingerprint"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# analytics breadth (window/join/agg plans Catalyst should optimize)
# ---------------------------------------------------------------------------


def q_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # exact decimal sums, one deterministic decimal->double cast
            # (summation order cannot flip the last ulp — same fix as
            # domain_stats; all inputs are 2-decimal values)
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_base_price"),
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
            ).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_revenue_by_nation(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def q_orders_rollup(spark, sf_dir):
    """Hierarchical ROLLUP totals (status, priority) — grouping-set
    breadth on top of the A2 aggregate shapes."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        )
    )


def q_event_hourly_rollup(spark, sf_dir):
    """ST6-adjacent — event-time windowed aggregation (the batch form
    of the streaming rollup in streaming/loop.py's superstep model)."""
    events = _t(spark, sf_dir, "events")
    return events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )


def q_asof_attribution(spark, sf_dir):
    """As-of join (the temporal join Spark lacks as a primitive; DuckDB
    oracle uses its native ASOF LEFT JOIN): every purchase event is
    attributed to the same user's most recent prior-or-equal view.
    Spark side is the union+window rewrite — ONE exchange on the key,
    no self-join (walker_spark.operators.joins.asof_join)."""
    from walker_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("vts"),
        F.col("event_id").alias("view_event_id"),
        F.col("value").alias("view_value"),
    )
    out = asof_join(
        purchases, views, "user_id", "ts", "vts", tiebreak="view_event_id"
    )
    ts_ms = F.unix_millis(F.col("ts").cast("timestamp"))
    # unmatched-left nulls coalesce to -1 sentinels on BOTH sides: a
    # nullable BIGINT turns float64 under the driver's pandas fetch
    # (the domain_stats r1-r3 dtype-divergence class)
    return out.select(
        "event_id",
        "user_id",
        ts_ms.alias("ts_ms"),
        F.coalesce("view_event_id", F.lit(-1)).alias("view_event_id"),
        F.coalesce("view_value", F.lit(-1.0)).alias("view_value"),
        F.coalesce(ts_ms - F.col("_asof_time_ms"), F.lit(-1)).alias("gap_ms"),
    )


# deterministic md5-derived campaign windows for the range-join driver
# check: 48 windows inside events' one-month span, 30 min - 24 h long.
RANGE_WINDOWS_N = 48
RANGE_BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z


def _range_windows(spark):
    k = F.col("id").cast("string")
    u1 = F.conv(F.substring(F.md5(k), 1, 8), 16, 10).cast("long")
    u2 = F.conv(
        F.substring(F.md5(F.concat(k, F.lit("d"))), 1, 8), 16, 10
    ).cast("long")
    start_min = u1 % F.lit(41760)  # <= 29 days in
    dur_min = F.lit(30) + u2 % F.lit(1410)  # 30 min .. ~24 h
    return spark.range(RANGE_WINDOWS_N).select(
        F.col("id").alias("wid"),
        F.timestamp_millis(
            F.lit(RANGE_BASE_MS) + start_min * 60_000
        ).alias("ws"),
        F.timestamp_millis(
            F.lit(RANGE_BASE_MS) + (start_min + dur_min) * 60_000
        ).alias("we"),
    )


def q_range_join_windows(spark, sf_dir):
    """Point-in-interval range join (walker_spark.operators.joins.
    range_join): events vs 48 deterministic overlapping campaign
    windows, aggregated per window. The Spark plan is the bucketed
    equi-join rewrite (never a BroadcastNestedLoopJoin); the oracle is
    DuckDB's plain inequality join — the per-window count + exact
    cents sum verify pair multiplicity."""
    from walker_spark.operators.joins import range_join

    events = _t(spark, sf_dir, "events").select("ts", "value")
    joined = range_join(
        events,
        _range_windows(spark),
        "ts",
        "ws",
        "we",
        bucket_ms=4 * 3_600_000,
        broadcast_intervals=True,
    )
    return joined.groupBy("wid").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum((F.col("value").cast("decimal(18,2)") * 100).cast("long"))
        .cast("long")
        .alias("value_cents"),
    )


def q_hll_token_distinct(spark, sf_dir):
    """Per-source distinct-token HyperLogLog (operators/sketches.py):
    the sketch itself is md5-deterministic, so the DuckDB oracle
    replays the IDENTICAL registers and estimate — an exact gate on an
    approximate operator. exact_distinct rides along so the artifact
    shows estimate-vs-truth; hll_s / hll_zero_regs are the bit-exact
    integer sketch state."""
    from walker_spark.operators.dedup import tokens
    from walker_spark.operators.sketches import hll_distinct

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(
            F.filter(tokens(F.col("text")), lambda s: F.length(s) > 0)
        ).alias("item"),
    )
    est = hll_distinct(toks, ["source"], "item", b=6)
    exact = toks.groupBy("source").agg(
        F.countDistinct("item").cast("long").alias("exact_distinct")
    )
    return est.join(exact, "source")


def q_cms_token_freq(spark, sf_dir):
    """Per-source token frequencies point-queried from a Count-Min
    sketch (operators/sketches.py): the sketch cells are
    md5-deterministic integer counts, so the DuckDB oracle replays the
    IDENTICAL cells and min-over-depth estimates — exact BIGINT
    end-to-end. Candidates = global top-12 tokens (count desc, token
    asc — deterministic tie-break); exact_cnt rides along so the
    artifact shows the overestimate bound holding."""
    from walker_spark.operators.dedup import tokens
    from walker_spark.operators.sketches import cms_counts, cms_lookup

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(
            F.filter(tokens(F.col("text")), lambda s: F.length(s) > 0)
        ).alias("item"),
    )
    cms = cms_counts(toks, ["source"], "item", depth=4, width=256)
    cands = (
        toks.groupBy("item")
        .agg(F.count(F.lit(1)).alias("_c"))
        .orderBy(F.desc("_c"), F.asc("item"))
        .limit(12)
        .select("item")
    )
    per_source = (
        toks.select("source").distinct().crossJoin(F.broadcast(cands))
    )
    est = cms_lookup(cms, per_source, ["source"], "item", depth=4, width=256)
    exact = (
        toks.join(F.broadcast(cands), "item", "left_semi")
        .groupBy("source", "item")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_cnt"))
    )
    return est.join(exact, ["source", "item"], "left").select(
        "source",
        "item",
        "est_cnt",
        F.coalesce(F.col("exact_cnt"), F.lit(0)).cast("long").alias("exact_cnt"),
    )


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (ST6 — batch form of the
    applyInPandasWithState streaming sessionizer in
    streaming/windowed.py; identical semantics, parity-tested):
    consecutive events of a user closer than 30 min form one session."""
    from walker_spark.streaming.windowed import sessionize_batch

    events = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    return sessionize_batch(events, gap_s=1800)


# ---------------------------------------------------------------------------
# training-data operators (documents / embeddings)
# ---------------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    from walker_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


def q_dedup_jaccard_pairs(spark, sf_dir):
    from walker_spark.operators.dedup import jaccard_pairs

    return jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.999, shingle_n=1)


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash banding candidates verified by exact Jaccard — output is
    exact at the threshold (recall certified by the band design:
    P(miss | s>=0.95, r=4, b=16) < 1e-11), so the brute-force SQL
    oracle applies."""
    from walker_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"),
        threshold=0.95,
        num_perm=64,
        bands=16,
        shingle_n=1,
    )


def q_dedup_simhash(spark, sf_dir):
    """SimHash hamming<=3 near-dup pairs. No DuckDB SQL oracle (the
    64-bit signature depends on xxhash64, which DuckDB lacks) — instead
    the exact oracle is a pytest cross-implementation check: signatures
    recomputed in pure Python from the public XXH64 spec and ALL pairs
    brute-forced at hamming<=3 on this same sf0.01 corpus must match
    the operator's banded pair set exactly
    (tests/test_training_ops.py::test_simhash_xxhash_exact_hamming_oracle,
    tests/xxh64_ref.py)."""
    from walker_spark.operators.dedup import simhash_pairs

    return simhash_pairs(_t(spark, sf_dir, "documents"), max_hamming=3)


def q_dedup_simhash_md5(spark, sf_dir):
    """60-bit md5-token simhash near-dups, hamming<=3 — the
    cross-engine-checkable simhash variant (full SQL oracle)."""
    from walker_spark.operators.dedup import simhash_md5_pairs

    return simhash_md5_pairs(_t(spark, sf_dir, "documents"), max_hamming=3)


def q_lm_quality_scores(spark, sf_dir):
    """CCNet-style LM quality scoring: Laplace-smoothed bigram LM
    trained on the even-doc_id half, scoring the odd half by average
    per-token log-probability (round 3)."""
    from walker_spark.operators.textstats import bigram_lm_scores

    docs = _t(spark, sf_dir, "documents")
    return bigram_lm_scores(
        docs.filter(F.col("doc_id") % 2 == 1), docs.filter(F.col("doc_id") % 2 == 0)
    )


def q_lm_ppl_buckets(spark, sf_dir):
    """CCNet corpus split (Wenzek et al. 2020 §4.3): the LM-scored
    half is cut into head/middle/tail perplexity terciles via a
    distributed global rank (range repartition + per-partition
    row_number + broadcast offsets) — bucket assignment is pure
    integer math, so the SQL oracle replays it exactly. Docs with no
    bigram carry no perplexity and are excluded, per the paper."""
    from walker_spark.operators.textstats import bigram_lm_scores, perplexity_buckets

    docs = _t(spark, sf_dir, "documents")
    scores = bigram_lm_scores(
        docs.filter(F.col("doc_id") % 2 == 1), docs.filter(F.col("doc_id") % 2 == 0)
    )
    return perplexity_buckets(
        scores.filter(F.col("n_bigrams") >= 1).select("id", "avg_logprob")
    )


def q_dedup_incremental(spark, sf_dir):
    """Incremental near-dup: a new batch (odd doc_ids) deduped against
    a persisted corpus LSH index (even doc_ids) — corpus text is read
    once to BUILD the index; the query side joins index tables only.
    Banding r=4 b=16 at threshold 0.95: P(miss | s>=0.95) =
    (1-0.95^4)^16 < 3e-12, so the brute-force SQL oracle applies."""
    from walker_spark.operators.dedup import incremental_near_dups, minhash_index

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    # SPARK_GRAFT_INDEX_MODE=signatures exercises the signatures-only
    # index tier (verify re-shingles candidate corpus docs) against the
    # same oracle; default is the full index (verify is index-only)
    sig_only = os.environ.get("SPARK_GRAFT_INDEX_MODE", "full") == "signatures"
    index = minhash_index(
        corpus, num_perm=64, bands=16, shingle_n=1,
        include_shingles=not sig_only,
    )
    return incremental_near_dups(
        batch, index, threshold=0.95, num_perm=64, bands=16, shingle_n=1,
        corpus=corpus if sig_only else None,
    )


def q_repetition_stats(spark, sf_dir):
    """Within-document repetition quality signals (Gopher-style
    top-bigram / duplicated-trigram fractions, token-weighted)."""
    from walker_spark.operators.textstats import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


def q_dup_ngram_spans(spark, sf_dir):
    """Cross-document duplicated token spans at 8-gram resolution —
    the distributed suffix-array-dedup stand-in (positional n-gram
    hashes -> distinct-doc frequency -> per-doc island merge)."""
    from walker_spark.operators.dedup import dup_ngram_spans

    return dup_ngram_spans(_t(spark, sf_dir, "documents"), n=8, min_docs=2)


def q_line_dedup(spark, sf_dir):
    """Cross-document duplicated-line removal (CCNet/RefinedWeb
    boilerplate pass). The driver corpus is single-line word soup, so
    multi-line structure is synthesized deterministically INSIDE the
    query: every literal ``" the "`` becomes a line break (identical
    left-to-right non-overlapping replace in both engines)."""
    from walker_spark.operators.dedup import line_dedup

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.replace(F.col("text"), F.lit(" the "), F.lit("\n")).alias("text")
    )
    return line_dedup(docs, min_docs=2)


def q_redact_pii(spark, sf_dir):
    """PII redaction (emails / IPv4 / phone numbers -> placeholder
    tokens + per-doc match counts). The synthetic documents carry no
    PII, so the query first injects deterministic fake PII derived
    from doc_id — built identically in the SQL oracle — making the
    cross-engine comparison exercise the actual regex semantics."""
    from walker_spark.operators.textstats import redact_pii

    d = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"), d.cast("string"), F.lit("@example.com or +1-555-"),
        F.lpad((d % 1000).cast("string"), 3, "0"), F.lit("-"),
        F.lpad((d % 10000).cast("string"), 4, "0"),
        F.lit(" from 10.0."), (d % 256).cast("string"), F.lit(".7"),
    )
    df = _t(spark, sf_dir, "documents").select("doc_id", injected.alias("text"))
    return redact_pii(df)


def q_dedup_components(spark, sf_dir):
    """Near-dup clustering: MinHash-LSH pairs at 0.95 -> distributed
    connected components (min-label propagation + pointer jumping; see
    operators/dedup.py connected_components) -> (doc_id, cluster_id,
    is_keeper). The oracle replays it as brute-force Jaccard pairs +
    a recursive-CTE transitive closure in DuckDB."""
    from walker_spark.operators.dedup import near_dup_clusters

    return near_dup_clusters(
        _t(spark, sf_dir, "documents"), threshold=0.95, shingle_n=1
    )


def q_quality_keeper(spark, sf_dir):
    """Quality-aware dup-cluster survivor selection: the
    dedup_components clusters re-keyed so the keeper is the LONGEST
    member (score = n_chars, exact BIGINT), ties -> min doc_id
    (dedup.quality_keeper — two cluster-keyed aggs, no window). The
    oracle wraps the recursive-closure components CTE with the same
    argmax."""
    from walker_spark.operators.dedup import near_dup_clusters, quality_keeper

    docs = _t(spark, sf_dir, "documents")
    comps = near_dup_clusters(docs, threshold=0.95, shingle_n=1)
    scores = docs.select("doc_id", F.col("n_chars").alias("score"))
    return quality_keeper(comps.select("doc_id", "cluster_id"), scores)


def q_embedding_topk(spark, sf_dir):
    from walker_spark.operators.similarity import cosine_topk

    return cosine_topk(_t(spark, sf_dir, "embeddings"), _QUERY_VEC, k=20)


def q_embedding_dup_pairs(spark, sf_dir):
    from walker_spark.operators.dedup import embedding_dup_pairs

    return embedding_dup_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.4)


def q_ann_topk(spark, sf_dir):
    """LSH-bucketed approximate top-k (approximate by design — no SQL
    oracle; tests assert recall vs brute force)."""
    from walker_spark.operators.similarity import ann_topk

    return ann_topk(_t(spark, sf_dir, "embeddings"), _QUERY_VEC, k=10, multiprobe=2)


def q_language_id(spark, sf_dir):
    from walker_spark.operators.textstats import language_id

    return language_id(_t(spark, sf_dir, "documents"))


def q_token_stats(spark, sf_dir):
    from walker_spark.operators.textstats import token_stats

    return token_stats(_t(spark, sf_dir, "documents"))


def q_quality_scores(spark, sf_dir):
    from walker_spark.operators.textstats import quality_scores

    return quality_scores(_t(spark, sf_dir, "documents"))


def q_doc_fingerprints(spark, sf_dir):
    from walker_spark.operators.textstats import fingerprints

    return fingerprints(_t(spark, sf_dir, "documents"))


def q_multimodal_features(spark, sf_dir):
    from walker_spark.operators.multimodal import assets_from_documents, decode_and_extract

    assets = assets_from_documents(_t(spark, sf_dir, "documents"))
    return decode_and_extract(assets).select("asset_id", "kind", "n_bytes", "checksum")


def q_ivf_topk(spark, sf_dir):
    """IVF approximate top-k (faiss-IVFFlat shape): deterministic
    codebook (first-16 vectors), nprobe=4 inverted cells, exact cosine
    within. refine_iters=0 keeps every step SQL-replayable."""
    from walker_spark.operators.similarity import ivf_topk

    return ivf_topk(
        _t(spark, sf_dir, "embeddings"), _QUERY_VEC, k=10, n_centroids=16, nprobe=4
    )


def q_embedding_clusters(spark, sf_dir):
    """k-means corpus clustering (the SemDeDup organize-first step):
    deterministic first-16 init, ONE Lloyd refinement (decimal-summed
    means so the refined centroids are partition-order-invariant and
    bit-replayable in SQL), final nearest-centroid assignment for
    every vector. The oracle recomputes the Lloyd step in DuckDB —
    the refined-centroid doubles must match Spark's driver literals
    bitwise for the argmin to agree."""
    from walker_spark.operators.similarity import embedding_clusters

    return embedding_clusters(
        _t(spark, sf_dir, "embeddings"), n_clusters=16, refine_iters=1
    )


def q_cluster_sample(spark, sf_dir):
    """Cluster-balanced diversity sampling: the 5 most prototypical
    members (nearest refined centroid, ties by id) of each of the 16
    k-means clusters — the coverage-preserving selection step run
    after SemDeDup-style clustering."""
    from walker_spark.operators.similarity import cluster_sample

    return cluster_sample(
        _t(spark, sf_dir, "embeddings"), per_cluster=5, n_clusters=16, refine_iters=1
    )


def q_pq_topk(spark, sf_dir):
    """Product-quantization ADC top-k (Jegou et al. 2011, faiss-PQ
    shape): 4 subquantizers x 16 codes (16 bits/vector vs 2048), query
    scored as a fixed-order lookup-table sum over the codes — the
    compression tier of the ANN family (IVF prunes which vectors are
    scanned, PQ shrinks what is scanned). rerank=0 keeps every step
    SQL-replayable."""
    from walker_spark.operators.similarity import pq_topk

    return pq_topk(
        _t(spark, sf_dir, "embeddings"), _QUERY_VEC, k=10, m_subvectors=4, n_codes=16
    )


def q_semantic_dup_pairs(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): semantic near-dup pairs via
    learned k-means-cell blocking (no label column needed) — the same
    deterministic first-16 codebook as ivf_topk so the SQL oracle
    replays the assignment exactly; within-cell cosine >= 0.3."""
    from walker_spark.operators.dedup import semantic_dup_pairs

    return semantic_dup_pairs(
        _t(spark, sf_dir, "embeddings"), n_centroids=16, threshold=0.3
    )


def q_sample_deterministic(spark, sf_dir):
    """Reproducible hash-based sampling (no RNG state — stable across
    retries/partitionings, unlike df.sample)."""
    from walker_spark.operators.curation import deterministic_sample

    return deterministic_sample(_t(spark, sf_dir, "documents"), rate=0.25)


def q_cap_per_source(spark, sf_dir):
    """Data-mix balancing: at most k docs per source."""
    from walker_spark.operators.curation import cap_per_source

    return cap_per_source(_t(spark, sf_dir, "documents"), k=40)


def q_pack_sequences(spark, sf_dir):
    """Token-budget sequence packing (pack_id by running token sum)."""
    from walker_spark.operators.curation import pack_sequences

    return pack_sequences(_t(spark, sf_dir, "documents"), budget_tokens=512)


def q_assign_shards(spark, sf_dir):
    """Global training-shard assignment: contiguous ~2048-token shards
    in global doc-id order via a distributed weighted prefix sum
    (range repartition materialized once, per-partition token totals
    as a broadcast offset table, local cumulative window keyed on the
    partition id) — no single-reducer global window, unlike the
    per-source pack_sequences."""
    from walker_spark.operators.curation import assign_shards

    return assign_shards(_t(spark, sf_dir, "documents"), shard_tokens=2048)


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: corpus docs sharing an 8-gram with the
    held-out benchmark slice (doc_id % 97 == 0 simulates the eval set)."""
    from walker_spark.operators.curation import contaminated_docs

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)  # 4-grams: non-trivial
    # hit rate on the synthetic vocab (8-grams never collide there)
    return contaminated_docs(docs.filter(F.col("doc_id") % 97 != 0), bench, ngram=4)


def q_contamination_spans(spark, sf_dir):
    """Sequence-level decontamination: the exact contaminated token
    spans per corpus doc (benchmark 4-gram positions, island-merged),
    so the pipeline cuts the leak and keeps the document."""
    from walker_spark.operators.curation import contamination_spans

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return contamination_spans(docs.filter(F.col("doc_id") % 97 != 0), bench, ngram=4)


def q_dsir_select(spark, sf_dir):
    """DSIR importance resampling (Xie et al. 2023): top-100 raw docs
    whose hashed-bigram profile best matches the target slice
    (doc_id % 10 == 0), Gumbel top-k over Laplace-smoothed log
    importance weights — all md5-derived, so the oracle replays
    feature hashing, both bag models and the noise exactly."""
    from walker_spark.operators.curation import dsir_select

    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("doc_id") % 10 == 0)
    raw = docs.filter(F.col("doc_id") % 10 != 0)
    return dsir_select(raw, target, k=100, buckets=512)


def q_grouped_split(spark, sf_dir):
    """Leakage-safe split assignment: every SOURCE (host analog) lands
    wholly in train/val/test by salted md5-u32 against exact integer
    thresholds (curation.grouped_split — zero-shuffle projection).
    Output (id, group, split)."""
    from walker_spark.operators.curation import grouped_split

    return grouped_split(_t(spark, sf_dir, "documents"))


def q_temperature_mix(spark, sf_dir):
    """Temperature-based data-mix sampling (GPT-3 / LLaMA rule): keep
    probability per source ∝ n_source^0.5 targeting ~150 docs. The
    synthetic sources are uniform, so the query plants a head domain
    in-query (doc_id % 7 != 0 → 'web', identically in the oracle) to
    exercise both the tail boost (p clamps to 1) and the head
    down-weighting."""
    from walker_spark.operators.curation import temperature_mix

    docs = _t(spark, sf_dir, "documents").withColumn(
        "source",
        F.when(F.col("doc_id") % 7 == 0, F.col("source")).otherwise(F.lit("web")),
    )
    return temperature_mix(docs, budget_docs=150, alpha=0.5)


def q_gopher_rules(spark, sf_dir):
    """Composite Gopher quality gate (Rae et al. 2021 Table A1): every
    rule input + verdict per document. min_stop_hits=1 (Gopher: 2) —
    the synthetic vocab rarely carries two of the eight required
    stopwords, and 1 splits the verdict ~50/50 at sf0.01 so the oracle
    exercises both branches; all other thresholds are Gopher
    defaults."""
    from walker_spark.operators.textstats import gopher_rules

    return gopher_rules(_t(spark, sf_dir, "documents"), min_stop_hits=1)


def q_c4_rules(spark, sf_dir):
    """C4 cleaning pass (Raffel et al. 2020 §2.2) — line filter + page
    verdict. The synthetic docs carry no newlines/punctuation, so the
    query plants structure in-query (identically in the oracle):
    ' table ' becomes a sentence break + newline, ' row ' becomes
    ' javascript ' (exercises the line drop), and doc_id % 13 / % 17
    inject the lorem-ipsum / curly-brace page kills."""
    from walker_spark.operators.textstats import c4_rules

    docs = _t(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.replace(
            F.replace(
                F.when(
                    F.col("doc_id") % 13 == 0,
                    F.concat(F.col("text"), F.lit(" lorem ipsum")),
                )
                .when(F.col("doc_id") % 17 == 0, F.concat(F.lit("{ "), F.col("text")))
                .otherwise(F.col("text")),
                F.lit(" table "),
                F.lit(".\n"),
            ),
            F.lit(" row "),
            F.lit(" javascript "),
        ).alias("text"),
    )
    return c4_rules(planted)


def _planted_c4_docs(spark, sf_dir):
    """The q_c4_rules planted corpus, shared with q_quality_pipeline
    (same CTE in both oracles)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "source",
        F.replace(
            F.replace(
                F.when(
                    F.col("doc_id") % 13 == 0,
                    F.concat(F.col("text"), F.lit(" lorem ipsum")),
                )
                .when(F.col("doc_id") % 17 == 0, F.concat(F.lit("{ "), F.col("text")))
                .otherwise(F.col("text")),
                F.lit(" table "),
                F.lit(".\n"),
            ),
            F.lit(" row "),
            F.lit(" javascript "),
        ).alias("text"),
    )


def q_quality_pipeline(spark, sf_dir):
    """The full C4 -> Gopher -> classifier cleaning chain as one fused
    zero-exchange pass over the planted corpus; thresholds (c4 line
    words 3 / sentences 1, gopher min_words 10 / stop_hits 1, prob
    0.5) chosen so every gate splits the verdict and a few documents
    survive end-to-end."""
    from walker_spark.operators.textstats import quality_pipeline

    return quality_pipeline(
        _planted_c4_docs(spark, sf_dir),
        c4_min_line_words=3,
        c4_min_sentences=1,
        min_stop_hits=1,
        gopher_min_words=10,
    )


def q_corpus_report(spark, sf_dir):
    """Per-source dataset card (curation.corpus_report): corpus =
    documents with every 10th doc duplicated under a shifted id (so
    exact-dup counting splits), verdicts from the driver-threshold
    quality_pipeline. All columns exact BIGINT."""
    from walker_spark.operators.curation import corpus_report
    from walker_spark.operators.textstats import quality_pipeline

    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    planted = d.unionAll(
        d.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text", "source"
        )
    )
    verdicts = quality_pipeline(
        planted,
        c4_min_line_words=3,
        c4_min_sentences=1,
        min_stop_hits=1,
        gopher_min_words=10,
    )
    return corpus_report(planted, verdicts)


def q_hash_classifier(spark, sf_dir):
    """FastText-style hashed linear quality classifier (Joulin et al.
    2017) with deterministic integer bucket weights — exact int64
    accumulation, so the oracle is bit-identical."""
    from walker_spark.operators.textstats import hash_classifier_scores

    return hash_classifier_scores(_t(spark, sf_dir, "documents"))


def q_chunk_documents(spark, sf_dir):
    """Sliding-window chunking (64-token windows, 16-token overlap) —
    the RAG-indexing fan-out; tail chunks under 8 tokens drop."""
    from walker_spark.operators.curation import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=64, overlap=16, min_tokens=8
    )


# Fixed retrieval query set for the bm25_topk driver check — vocabulary
# words from the synthetic corpus so every query matches documents.
BM25_QUERIES: tuple[tuple[int, str], ...] = (
    (0, "table scan fast filter"),
    (1, "customer order value big"),
    (2, "window agg group sort stream"),
)


def q_bm25_topk(spark, sf_dir):
    """BM25 top-10 per query (Robertson & Zaragoza 2009) over the
    documents table; scores are exact cross-engine via integer
    micro-unit accumulation (retrieval.MICRO)."""
    from walker_spark.operators.retrieval import bm25_topk

    qdf = spark.createDataFrame(list(BM25_QUERIES), "query_id int, query string")
    return bm25_topk(_t(spark, sf_dir, "documents"), qdf, k=10)


def q_tokenize_ids(spark, sf_dir):
    """Pre-training tokenization: corpus -> token-id sequences against
    the top-20 vocab_coverage vocabulary (rank = token id, 0 = OOV);
    ids emitted as a csv string so the hash compare is type-stable."""
    from walker_spark.operators.textstats import tokenize_ids, vocab_coverage

    docs = _t(spark, sf_dir, "documents")
    out = tokenize_ids(docs, vocab_coverage(docs, top_v=20))
    return out.select(
        "id",
        F.expr("array_join(transform(ids, x -> cast(x as string)), ',')").alias(
            "ids_csv"
        ),
        "n_tokens",
        "n_oov",
    )


def q_bm25_indexed(spark, sf_dir):
    """Index-served BM25: build the persistable postings index (one
    corpus scan), then serve the fixed query set from it — identical
    semantics to bm25_topk, so the oracle SQL is shared."""
    from walker_spark.operators.retrieval import bm25_topk_indexed, build_postings_index

    idx = build_postings_index(_t(spark, sf_dir, "documents"))
    qdf = spark.createDataFrame(list(BM25_QUERIES), "query_id int, query string")
    return bm25_topk_indexed(idx, qdf, k=10)


def q_bm25_extended(spark, sf_dir):
    """Incremental index maintenance (retrieval.extend_postings_index):
    build the postings index over the EVEN docs only, append the odd
    docs without re-reading the indexed half, serve the fixed query
    set — bit-identical to the full build, so the oracle SQL is the
    shared _bm25_sql."""
    from walker_spark.operators.retrieval import (
        bm25_topk_indexed,
        build_postings_index,
        extend_postings_index,
    )

    docs = _t(spark, sf_dir, "documents")
    idx = build_postings_index(docs.filter(F.col("doc_id") % 2 == 0))
    idx = extend_postings_index(idx, docs.filter(F.col("doc_id") % 2 == 1))
    qdf = spark.createDataFrame(list(BM25_QUERIES), "query_id int, query string")
    return bm25_topk_indexed(idx, qdf, k=10)


def q_bm25_retracted(spark, sf_dir):
    """Index takedown maintenance (retrieval.retract_postings_index):
    build the postings index over ALL docs, retract the doc_id % 5 == 0
    set without touching corpus text, serve the fixed query set —
    bit-identical to rebuilding over the survivors, so the oracle is
    the shared _bm25_sql with the corpus filtered."""
    from walker_spark.operators.retrieval import (
        bm25_topk_indexed,
        build_postings_index,
        retract_postings_index,
    )

    docs = _t(spark, sf_dir, "documents")
    idx = build_postings_index(docs)
    idx = retract_postings_index(idx, docs.filter(F.col("doc_id") % 5 == 0))
    qdf = spark.createDataFrame(list(BM25_QUERIES), "query_id int, query string")
    return bm25_topk_indexed(idx, qdf, k=10)


def q_frame_sampling(spark, sf_dir):
    """Video frame-sampling fan-out (fake durations are hash-derived —
    rows-only check)."""
    from walker_spark.operators.multimodal import (
        assets_from_documents,
        decode_and_extract,
        sample_frames,
    )

    assets = assets_from_documents(_t(spark, sf_dir, "documents"))
    return sample_frames(decode_and_extract(assets))


# Fixed phrase set for the phrase_search driver check: two phrases
# that occur in the synthetic vocabulary stream (bi/trigram), one that
# cannot (zero-hit docs must be absent from the result).
PHRASE_QUERIES: tuple[tuple[int, str], ...] = (
    (0, "table hash"),
    (1, "fast merge batch"),
    (2, "zebra qux nope"),
)


def q_phrase_search(spark, sf_dir):
    """Exact-phrase retrieval (contiguous token runs) over documents:
    one corpus scan emits positional n-grams for every needed phrase
    length, broadcast-joined to the md5 phrase keys."""
    from walker_spark.operators.retrieval import phrase_search

    pdf = spark.createDataFrame(list(PHRASE_QUERIES), "phrase_id int, phrase string")
    return phrase_search(_t(spark, sf_dir, "documents"), pdf)


def q_vocab_coverage(spark, sf_dir):
    """Tokenizer-prep vocabulary curve: top-50 tokens + cumulative
    corpus coverage in ppm (pure integer math both engines)."""
    from walker_spark.operators.textstats import vocab_coverage

    return vocab_coverage(_t(spark, sf_dir, "documents"), top_v=50)


# PageRank driver graph: a deterministic expander over the document
# row_number space — node = rank in doc_id order, three out-edges per
# node at strides 13/26/39 (mod N), every 10th node dangling. Planted
# in-query so BOTH engines derive the identical edge list (the
# temperature_mix precedent).
PAGERANK_ITERS = 5


def _planted_doc_edges(spark, sf_dir):
    """The deterministic expander both engines derive identically —
    see the comment above PAGERANK_ITERS."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    rn = docs.select(
        F.row_number().over(Window.orderBy("doc_id")).alias("rn")
    )
    n = rn.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    return (
        rn.filter(F.col("rn") % 10 != 0)
        .select("rn", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"))
        .crossJoin(F.broadcast(n))
        .select(
            F.col("rn").cast("long").alias("src"),
            F.expr("((rn - 1) * 7 + 13 * j) % _n + 1").cast("long").alias("dst"),
        )
    )


def q_pagerank(spark, sf_dir):
    """Exact-integer PageRank (micro-unit ranks, rational damping
    17/20, dangling mass redistributed) on the planted doc graph."""
    from walker_spark.operators.graph import pagerank

    return pagerank(_planted_doc_edges(spark, sf_dir), iterations=PAGERANK_ITERS)


LPA_ITERS = 4


def q_lpa_communities(spark, sf_dir):
    """Synchronous label-propagation communities (Raghavan et al.
    2007; deterministic min-label tie-break, exactly LPA_ITERS rounds)
    on the planted doc graph — the oracle unrolls the identical
    rounds one CTE each."""
    from walker_spark.operators.graph import lpa_communities

    return lpa_communities(
        _planted_doc_edges(spark, sf_dir), iterations=LPA_ITERS
    )


def q_hits(spark, sf_dir):
    """HITS hubs/authorities (Kleinberg 1999), exact-integer L1
    variant, on the planted doc graph."""
    from walker_spark.operators.graph import hits

    return hits(_planted_doc_edges(spark, sf_dir), iterations=3)


def q_edit_dup_pairs(spark, sf_dir):
    """Edit-distance near-dup titles (dedup.edit_dup_pairs — PassJoin
    pigeonhole blocking, VLDB 2011) over 24-char normalized-prefix
    titles, d=2. The oracle is the brute-force levenshtein join (both
    engines implement classic Levenshtein) restricted to the operator's
    contract (pairs where both sides are <= d chars are excluded)."""
    from walker_spark.operators.dedup import edit_dup_pairs, normalized_text

    titles = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring(normalized_text(F.col("text")), 1, 24).alias("title"),
    )
    return edit_dup_pairs(titles, id_col="doc_id", text_col="title", max_edit=2)


def q_table_diff(spark, sf_dir):
    """Snapshot CDC diff (layout.table_diff) between two derived
    versions of documents: old drops doc_id%7==0, new drops
    doc_id%11==0 and bumps n_chars for doc_id%5==0 — yielding all
    three change types. changed_cols is emitted comma-joined so the
    driver hash compares a plain string."""
    from walker_spark.operators.layout import table_diff

    base = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.length("text").cast("long").alias("n_chars")
    )
    old = base.filter(F.col("doc_id") % 7 != 0)
    new = base.filter(F.col("doc_id") % 11 != 0).withColumn(
        "n_chars",
        F.when(F.col("doc_id") % 5 == 0, F.col("n_chars") + 42).otherwise(
            F.col("n_chars")
        ),
    )
    return table_diff(old, new, ["doc_id"]).select(
        "doc_id",
        "change",
        F.array_join("changed_cols", ",").alias("changed_cols"),
    )


def q_compaction_plan(spark, sf_dir):
    """Small-file compaction planning (layout.compaction_plan) over a
    synthetic file inventory derived from documents (path from doc_id,
    bytes from text length + parquet overhead, partition = source):
    greedy prefix-sum bucketing into ~48 KB rewrite groups. Pure
    integer; the oracle replays the window math exactly."""
    from walker_spark.operators.layout import compaction_plan

    inv = _t(spark, sf_dir, "documents").select(
        "source",
        F.format_string("part-%08d.parquet", F.col("doc_id")).alias("path"),
        (F.length("text") + F.lit(1024)).cast("long").alias("bytes"),
    )
    return compaction_plan(inv, ["source"], target_bytes=48 * 1024)


def q_kmv_source_overlap(spark, sf_dir):
    """Pairwise source-vocabulary overlap from KMV (theta) sketches
    (sketches.kmv_sketch/kmv_overlap): jaccard/union/intersection
    estimates computed ONLY from the k-minimum-value tables — the set
    algebra HLL can't do. Sketch rows are exact md5 integers, so the
    DuckDB oracle replays every estimate bit-for-bit. Complements the
    exact textstats.source_overlap with the sketch tier (overlap
    matrices at 100 TB never re-read text)."""
    from walker_spark.operators.dedup import tokens
    from walker_spark.operators.sketches import kmv_overlap, kmv_sketch

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(
            F.filter(tokens(F.col("text")), lambda s: F.length(s) > 0)
        ).alias("item"),
    )
    sk = kmv_sketch(toks, ["source"], "item", k=128)
    return kmv_overlap(sk, ["source"], k=128)


_RECALL_QVECS = [
    [((i * 37 + 11 + j * 5) % 13 - 6) / 6.0 for i in range(64)]
    for j in range(4)
]


def q_vocab_growth(spark, sf_dir):
    """Heaps-curve vocabulary growth over documents in doc_id order
    (textstats.vocab_growth, 10 buckets): first-occurrence min-agg,
    exact integer bucketing, running cumulative — the
    is-the-crawl-still-learning curve. The word-soup corpus has a
    closed 30-word vocabulary (everything "new" lands in bucket 0),
    so positional novel terms are planted in-query — one fresh
    ``uq<doc_id div 50>`` token per 50 docs — giving the curve a
    genuine tail to measure."""
    from walker_spark.operators.textstats import vocab_growth

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "concat(text, ' uq', CAST(doc_id div 50 AS STRING))"
        ).alias("text"),
    )
    return vocab_growth(docs, n_buckets=10)


def q_clustering_coeffs(spark, sf_dir):
    """Per-node local clustering coefficients on the planted doc
    graph (graph.clustering_coefficients over triangle_counts —
    zero-exchange projection past the counts); BIGINT ppm from a
    DECIMAL(38,0) numerator."""
    from walker_spark.operators.graph import clustering_coefficients

    return clustering_coefficients(_planted_doc_edges(spark, sf_dir))


def q_transitivity(spark, sf_dir):
    """Global transitivity + mean local clustering in one row
    (graph.graph_transitivity) — the graph-density scorecard; wedge
    products in DECIMAL(38,0), everything else BIGINT."""
    from walker_spark.operators.graph import graph_transitivity

    return graph_transitivity(_planted_doc_edges(spark, sf_dir))


def q_ivf_recall(spark, sf_dir):
    """ANN recall@10 of the IVF serving path vs exact brute force
    (similarity.ivf_recall_report) over 4 deterministic query vectors
    — the evaluation harness an index deployment runs first. Both
    retrieval paths use the round-3/id ranking contract, so the
    oracle replays exact AND approximate sides bit-for-bit."""
    from walker_spark.operators.similarity import ivf_recall_report

    qdf = spark.createDataFrame(
        [(j, v) for j, v in enumerate(_RECALL_QVECS)],
        "query_id int, qvec array<double>",
    )
    return ivf_recall_report(
        _t(spark, sf_dir, "embeddings"), qdf, k=10, n_centroids=16, nprobe=4
    )


def q_term_dispersion(spark, sf_dir):
    """Gries DP term dispersion (textstats.term_dispersion) across
    sources, exact DECIMAL ppm; a bursty marker term is planted into
    src0 in-query so the top of the ranking is a genuine signal, not
    a tie plateau."""
    from walker_spark.operators.textstats import term_dispersion

    docs = _t(spark, sf_dir, "documents").select(
        "source",
        F.when(
            F.col("source") == "src0",
            F.concat(F.col("text"), F.lit(" zburst zburst")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return term_dispersion(docs, min_count=5, top_k=50)


def q_key_fairness(spark, sf_dir):
    """Jain's fairness index of per-user load per event type
    (skew.fairness_index) — the one-number skew companion to
    key_skew_report; exact DECIMAL integer ppm."""
    from walker_spark.operators.skew import fairness_index

    return fairness_index(
        _t(spark, sf_dir, "events"), ["user_id"], ["event_type"]
    )


def q_top_paths(spark, sf_dir):
    """Top-10 three-step user journeys (funnel.top_paths): one
    user-keyed window pass computes both leads, path-keyed agg,
    sort-limit top-k with deterministic (cnt desc, path) ranks."""
    from walker_spark.operators.funnel import top_paths

    events = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
    )
    return top_paths(events, length=3, k=10)


def q_matched_sample(spark, sf_dir):
    """Distribution-matched sampling (curation.matched_sample): draw
    English documents whose 40-char length-bucket histogram matches
    the FRENCH documents' distribution — exact integer quotas, md5
    hash-order keeps, the controlled-comparison sampler. Oracle
    replays quota arithmetic and the (md5, id) order per bucket."""
    from walker_spark.operators.curation import matched_sample

    docs = _t(spark, sf_dir, "documents")
    bucket = F.expr("CAST(n_chars div 40 AS BIGINT)").alias("bucket")
    corpus = docs.filter(F.col("lang") == "en").select("doc_id", bucket)
    target = docs.filter(F.col("lang") == "fr").select(bucket)
    return matched_sample(corpus, target, n_total=120)


def q_k_anonymity(spark, sf_dir):
    """k-anonymity audit (curation.k_anonymity_classes, k=5) over
    quasi-identifiers (lang, source, 50-char length bucket) — the
    structured-privacy release gate; pure integer class counts."""
    from walker_spark.operators.curation import k_anonymity_classes

    docs = _t(spark, sf_dir, "documents").select(
        "lang",
        "source",
        F.expr("CAST(n_chars div 50 AS BIGINT)").alias("chars_bucket"),
    )
    return k_anonymity_classes(docs, ["lang", "source", "chars_bucket"], k=5)


def q_modularity(spark, sf_dir):
    """Newman modularity of the LPA partition on the planted doc
    graph (graph.modularity over graph.lpa_communities) — the
    community tier auditing itself. Exact DECIMAL(38,0) integer math;
    the oracle reuses the unrolled LPA rounds and replays Q
    bit-for-bit."""
    from walker_spark.operators.graph import lpa_communities, modularity

    edges = _planted_doc_edges(spark, sf_dir)
    labels = lpa_communities(edges, iterations=LPA_ITERS)
    return modularity(edges, labels)


def q_farthest_points(spark, sf_dir):
    """Gonzalez farthest-point sampling over the embeddings table
    (similarity.farthest_points, k=8): diversity selection with each
    greedy pick cross-engine deterministic on (round-3 distance, id);
    the oracle unrolls all 8 rounds as MATERIALIZED CTEs (the
    hop_distances precedent)."""
    from walker_spark.operators.similarity import farthest_points

    return farthest_points(_t(spark, sf_dir, "embeddings"), k=8)


def q_bm25_pruned(spark, sf_dir):
    """Impact-ordered pruned BM25 (retrieval.bm25_pruned_topk, Fagin
    TA certificate + exhaustive fallback): provably identical output
    to bm25_topk — the oracle SQL is shared — while only candidate
    docs from the per-term top-N impact lists are scored for queries
    whose certificate holds."""
    from walker_spark.operators.retrieval import bm25_pruned_topk

    qdf = spark.createDataFrame(list(BM25_QUERIES), "query_id int, query string")
    return bm25_pruned_topk(
        _t(spark, sf_dir, "documents"), qdf, k=10, n_impact=32
    )


def q_mirror_sources(spark, sf_dir):
    """Mirror detection between sources (dedup.mirror_candidates):
    exact-content containment on md5 content keys. A mirror is
    PLANTED in-query (source ``src0_mirror`` carries every 5th src0
    document), so the pair must surface with containment 1e6 while
    ambient cross-source exact dups stay below the threshold."""
    from walker_spark.operators.dedup import mirror_candidates

    docs = _t(spark, sf_dir, "documents")
    mirror = docs.filter(
        (F.col("source") == "src0") & (F.col("doc_id") % 5 == 0)
    ).select(F.lit("src0_mirror").alias("source"), "text")
    planted = docs.select("source", "text").unionByName(mirror)
    return mirror_candidates(
        planted, min_shared=2, containment_threshold_ppm=300_000
    )


def q_retention_cohorts(spark, sf_dir):
    """Weekly cohort retention matrix over events
    (funnel.retention_cohorts): first-activity week cohorts, distinct
    active users per (cohort, offset) cell, retention in integer ppm
    — the came-back complement to funnel/Markov on the same
    event-sequence tier."""
    from walker_spark.operators.funnel import retention_cohorts

    events = _t(spark, sf_dir, "events")
    return retention_cohorts(events, period_days=7)


def q_embedding_outliers(spark, sf_dir):
    """Per-cluster distance-tail outlier flags over the k-means
    clustering (similarity.embedding_outliers): the post-clustering
    quality filter. The tie-safe strictly-below histogram rule is
    pure BIGINT on round-3 distances, so the oracle replays the
    Lloyd step AND every flag bit-for-bit."""
    from walker_spark.operators.similarity import embedding_outliers

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_outliers(emb, keep_ppm=950_000, n_clusters=16)


def q_within_doc_dedup(spark, sf_dir):
    """WITHIN-document repeated-line removal (dedup.within_doc_dedup)
    — the intra-page complement to line_dedup's cross-document pass.
    Multi-line structure is synthesized deterministically in-query
    (every literal ``" table "`` becomes a line break — a different
    split word than line_dedup's so the line shapes differ); the
    word-soup corpus then repeats many short lines inside one doc,
    which is exactly the planted signal."""
    from walker_spark.operators.dedup import within_doc_dedup

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.replace(F.col("text"), F.lit(" table "), F.lit("\n")).alias(
            "text"
        ),
    )
    return within_doc_dedup(docs)


def q_bitext_margin(spark, sf_dir):
    """Margin-based bitext mining (similarity.bitext_margin_pairs;
    Artetxe & Schwenk 2019): the embeddings table split by vec_id
    parity into source/target corpora, mutual best matches under the
    hubness-normalizing ratio margin. Margins are exact BIGINT ppm
    built from round-3 cosine milli-units, so the DuckDB oracle
    replays codebook, candidate cells, neighborhoods, and every
    margin bit-for-bit."""
    from walker_spark.operators.similarity import bitext_margin_pairs

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        (F.col("vec_id") % 2).cast("int").alias("side"),
    )
    return bitext_margin_pairs(emb, side_col="side", k=4, n_cells=16)


def q_markov_transitions(spark, sf_dir):
    """First-order Markov next-action model over per-user event
    streams (funnel.transition_model/top_transitions): consecutive
    (ts, event_id)-ordered state pairs per user, ML probabilities in
    integer ppm, top-3 next states per source state. The session-path
    complement to the ordered funnel — same ONE user-keyed exchange,
    then alphabet-bounded aggregation."""
    from walker_spark.operators.funnel import (
        top_transitions,
        transition_model,
    )

    events = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
    )
    model = transition_model(events)
    return top_transitions(model, k=3).select(
        "src", "dst", "cnt", "src_total", "p_ppm", "rank"
    )


def q_heavy_hitters(spark, sf_dir):
    """Global heavy hitters from merged per-shard SpaceSaving
    summaries (sketches.space_saving_summaries/space_saving_estimates,
    Metwally et al. 2005 / Agarwal et al. 2013): documents are sliced
    by ``doc_id % 3``, each slice keeps only its per-bucket top-k
    truncated counts + an error bound, and the global estimate is
    computed ONLY from those sketch tables — the per-day-rollup shape
    at 100 TB. Every quantity is an exact integer function of md5, so
    the DuckDB oracle replays summaries, merge, and both certificates
    (``exact <= est_cnt`` and ``est_cnt - err_slack <= exact``)
    bit-for-bit; ``exact_cnt`` rides along to show the bounds held."""
    from walker_spark.operators.dedup import tokens
    from walker_spark.operators.sketches import (
        space_saving_estimates,
        space_saving_summaries,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        (F.col("doc_id") % 3).cast("int").alias("shard"),
        F.explode(
            F.filter(tokens(F.col("text")), lambda s: F.length(s) > 0)
        ).alias("item"),
    )
    summ = space_saving_summaries(toks, ["shard"], "item", k=6, buckets=4)
    est = space_saving_estimates(summ, ["shard"])
    exact = toks.groupBy("item").agg(
        F.count(F.lit(1)).cast("long").alias("exact_cnt")
    )
    return (
        est.join(exact, "item", "left")
        .select(
            "item",
            "est_cnt",
            "err_slack",
            F.coalesce(F.col("exact_cnt"), F.lit(0))
            .cast("long")
            .alias("exact_cnt"),
        )
        .orderBy(F.desc("est_cnt"), F.asc("item"))
        .limit(20)
    )


def q_log_hist_quantiles(spark, sf_dir):
    """Per-source token-count quantiles from the mergeable log-bucket
    histogram (sketches.log_histogram — DDSketch family): bucket index
    and rank math are pure integers, so the DuckDB oracle replays the
    sketch AND the quantile walk bit-for-bit. Complements
    exact_percentiles with the persist-and-merge tier."""
    from walker_spark.operators.dedup import tokens
    from walker_spark.operators.sketches import (
        log_histogram,
        log_histogram_quantiles,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "source",
        F.size(F.filter(tokens(F.col("text")), lambda s: F.length(s) > 0))
        .cast("long")
        .alias("v"),
    )
    hist = log_histogram(docs, ["source"], "v", mantissa_bits=5)
    return log_histogram_quantiles(hist, ["source"], PCTL_QS, mantissa_bits=5)


def q_zorder_events(spark, sf_dir):
    """Z-order layout keys over events (layout.zorder_keys, 8 bits per
    dim on (user_id, ts_ms)), rolled up per 256-key bucket with each
    dimension's min/max — the per-file bounding boxes a parquet footer
    would carry, i.e. the file-skipping evidence. Pure BIGINT; the
    oracle replays the grid scaling + Morton interleave bit-for-bit."""
    from walker_spark.operators.layout import zorder_keys

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
    )
    keyed = zorder_keys(ev, ["user_id", "ts_ms"], bits=8)
    return keyed.groupBy(F.shiftright("zkey", 8).alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("user_id").cast("long").alias("min_user"),
        F.max("user_id").cast("long").alias("max_user"),
        F.min("ts_ms").cast("long").alias("min_ts"),
        F.max("ts_ms").cast("long").alias("max_ts"),
    )


def q_pmi_collocations(spark, sf_dir):
    """Top-150 bigram collocations by PMI (textstats.pmi_collocations)
    — ranked by the exact-integer lift_ppm (monotone in PMI), so the
    whole query is BIGINT end-to-end and the DuckDB oracle (HUGEINT
    // replay) must agree bit-for-bit including the top-k boundary."""
    from walker_spark.operators.textstats import pmi_collocations

    return pmi_collocations(
        _t(spark, sf_dir, "documents"), min_count=5, top_k=150
    )


def q_triangle_counts(spark, sf_dir):
    """Per-node triangle counts on the planted doc graph via the
    degree-ordered node-iterator (graph.triangle_counts — Suri &
    Vassilvitskii 2011). Pure BIGINT; the oracle triple-joins the
    canonical undirected edge table in DuckDB."""
    from walker_spark.operators.graph import triangle_counts

    return triangle_counts(_planted_doc_edges(spark, sf_dir))


#: hop_distances driver params: seeds + the unrolled-hop bound (the
#: oracle unrolls exactly this many expansion CTEs, so both engines
#: compute the identical depth-capped BFS at any sf).
HOP_SEEDS: tuple[int, ...] = (1, 2, 3)
HOP_MAX: int = 8
#: kcore driver params: peel threshold + oracle unroll (>= observed
#: convergence at sf0.01 = 7 rounds; extra rounds are no-ops).
KCORE_K: int = 5
KCORE_ORACLE_ROUNDS: int = 9


def q_hop_distances(spark, sf_dir):
    """Crawl depth: minimum hop distance from a 3-node seed set over
    the planted doc graph (graph.hop_distances — frontier BFS, one
    checkpoint job per round, Observation early-stop). Sparse: only
    reached nodes appear. Pure BIGINT both engines."""
    from walker_spark.operators.graph import hop_distances

    seeds = spark.createDataFrame([(s,) for s in HOP_SEEDS], "node long")
    return hop_distances(
        _planted_doc_edges(spark, sf_dir), seeds, max_hops=HOP_MAX
    )


def q_kcore(spark, sf_dir):
    """k-core trim of the undirected planted doc graph (graph.kcore —
    iterative peel to fixpoint, surviving-edge count rides each
    round's checkpoint as an Observation). Returns (node, degree)
    inside the core; the oracle unrolls a fixed round count past the
    fixpoint (idempotent)."""
    from walker_spark.operators.graph import kcore

    return kcore(_planted_doc_edges(spark, sf_dir), k=KCORE_K)


def q_host_graph(spark, sf_dir):
    """Host-level link rollup of the planted doc graph: node -> host
    'h<node mod 23>', intra-host self-loops dropped, edge weight =
    link count (graph.host_graph — two broadcast joins + one
    (src_host, dst_host) agg)."""
    from walker_spark.operators.graph import host_graph

    edges = _planted_doc_edges(spark, sf_dir)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    hosts = nodes.select(
        "node", F.concat(F.lit("h"), (F.col("node") % 23).cast("string")).alias("host")
    )
    return host_graph(edges, hosts)


#: resolve_redirects driver params: the HTTP-client redirect limit
#: (kept below the longest planted chain so the over-limit path is
#: exercised); the oracle's recursive CTE walks to the same bound.
REDIR_MAX_HOPS: int = 5


def q_resolve_redirects(spark, sf_dir):
    """Redirect-chain resolution (graph.resolve_redirects — pointer
    doubling, log2(max_hops) self-join rounds, Observation early
    stop). Edges planted over orders keys: every non-multiple-of-8
    orderkey redirects to orderkey-1, so chains descend the (sparse)
    key runs with variable length 1..7 — some past the 5-hop limit —
    plus a planted 3-cycle on negative keys. Output (url, final_url,
    n_hops, resolved); cycles/over-limit rows are (null, null, false)
    in the operator — coalesced to (-1, 0) sentinels here because a
    nullable BIGINT degrades to float64 under the driver's pandas
    fetch (the dtype-divergence class check_correctness guards)."""
    from walker_spark.operators.graph import resolve_redirects

    o = (
        _t(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").alias("src"))
        .distinct()
        .filter(F.col("src") % 8 != 0)
        .withColumn("dst", F.col("src") - F.lit(1).cast("long"))
    )
    cyc = spark.createDataFrame(
        [(-1, -2), (-2, -3), (-3, -1)], "src long, dst long"
    )
    out = resolve_redirects(o.unionAll(cyc), max_hops=REDIR_MAX_HOPS)
    return out.select(
        "url",
        F.coalesce("final_url", F.lit(-1).cast("long")).alias("final_url"),
        F.coalesce("n_hops", F.lit(0).cast("long")).alias("n_hops"),
        "resolved",
    )


#: bloom_membership driver params: sized so the sf0.01 build (250
#: inserted keys) sits at ~0.73 load and yields a deterministic
#: nonzero false-positive set — the interesting part of the oracle.
BLOOM_M: int = 1024
BLOOM_K: int = 3


def q_bloom_membership(spark, sf_dir):
    """Bloom-filter membership as a sketch-tier query: build the
    plain-row bit table over even-doc content keys, probe EVERY doc
    (sketches.bloom_bits/bloom_probe). Output (doc_id, actual, maybe)
    BIGINT 0/1 — no false negatives ever, false positives exactly
    reproduced by the DuckDB replay of the md5 positions."""
    from walker_spark.operators.sketches import bloom_bits, bloom_probe

    docs = _t(spark, sf_dir, "documents")
    keys = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5(F.col("text")).alias("ck"),
        (F.col("doc_id") % 2 == 0).cast("long").alias("actual"),
    )
    bits = bloom_bits(
        keys.filter(F.col("actual") == 1), "ck", m_bits=BLOOM_M, k=BLOOM_K
    )
    return bloom_probe(bits, keys, "ck", m_bits=BLOOM_M, k=BLOOM_K).select(
        "doc_id", "actual", "maybe"
    )


def q_embedding_communities(spark, sf_dir):
    """Semantic communities = connected components of the mutual kNN
    graph (similarity.embedding_communities), singletons labeling
    themselves; oracle = the knn CTEs + recursive transitive
    closure."""
    from walker_spark.operators.similarity import embedding_communities

    return embedding_communities(
        _t(spark, sf_dir, "embeddings"), k=4, n_cells=16
    )


def q_entropy_scores(spark, sf_dir):
    """RedPajama-v2-family entropy quality signals: per-doc character
    and whitespace-token Shannon entropy in exact integer micro-nats
    (zero-exchange in-row run-length histograms — no per-char explode,
    no Python; the oracle replays the identical qlog quantization)."""
    from walker_spark.operators.textstats import entropy_scores

    return entropy_scores(_t(spark, sf_dir, "documents"))


def q_readability(spark, sf_dir):
    """Flesch reading-ease per doc in exact integer milli-units
    (textstats.readability_scores): ratio terms quantized by integer
    div, vowel-group syllable proxy, zero-shuffle projection."""
    from walker_spark.operators.textstats import readability_scores

    return readability_scores(_t(spark, sf_dir, "documents"))


def q_zone_map_prune(spark, sf_dir):
    """Zone-map file pruning (layout.zone_maps + zone_map_prune):
    50-event files over the time-ordered events table, range predicate
    = the [25%, 50%] integer slice of the epoch span derived IN-plan
    as a broadcast one-row aggregate. 200 files at sf0.01, 50 must
    scan, 48 fully covered — the planner arithmetic zorder_layout
    exists to improve."""
    from walker_spark.operators.layout import zone_map_prune, zone_maps

    ev = _t(spark, sf_dir, "events").select(
        F.expr("event_id div 50").alias("file"),
        F.col("ts").cast("timestamp").cast("long").alias("v"),
    )
    zm = zone_maps(ev, "file", "v")
    bounds = ev.agg(
        (F.min("v") + F.expr("(max(v) - min(v)) div 4")).alias("lo"),
        (F.min("v") + F.expr("(max(v) - min(v)) div 2")).alias("hi"),
    )
    return zone_map_prune(zm, bounds)


#: bloom_file_prune driver params: ~40 distinct user ids per 50-event
#: file at m=256/k=3 sits near the interesting FP regime; probes are
#: two present keys (hot uid 149, cold uid 44) plus one absent key
#: whose nonzero must_scan rows are pure false positives — exactly
#: replayed by the oracle.
FBLOOM_M: int = 256
FBLOOM_K: int = 3
FBLOOM_PROBES: tuple = (149, 44, 999999)


def q_bloom_file_prune(spark, sf_dir):
    """Point-predicate file skipping via per-file Bloom indexes
    (layout.file_blooms + bloom_prune — the parquet column-index
    bloom / Iceberg puffin analog, and the equality complement to
    zone_map_prune): 200 event files, bloom over user_id, three probe
    keys. Output (file, key, must_scan, actual) BIGINT — actual=1 rows
    always must_scan (no false negative, the planner guarantee);
    must_scan=1/actual=0 rows are the deterministic md5 false
    positives."""
    from walker_spark.operators.layout import bloom_prune, file_blooms

    ev = _t(spark, sf_dir, "events").select(
        F.expr("event_id div 50").alias("file"),
        F.col("user_id").cast("long").alias("uid"),
    )
    blooms = file_blooms(ev, "file", "uid", m_bits=FBLOOM_M, k=FBLOOM_K)
    probes = spark.createDataFrame(
        [(int(x),) for x in FBLOOM_PROBES], "key long"
    )
    pruned = bloom_prune(
        blooms, probes, value_col="key", m_bits=FBLOOM_M, k=FBLOOM_K
    )
    actual = (
        ev.join(probes.withColumnRenamed("key", "uid"), "uid")
        .select("file", F.col("uid").alias("key"))
        .distinct()
        .withColumn("_act", F.lit(1))
    )
    return pruned.join(actual, ["file", "key"], "left").select(
        "file",
        "key",
        "must_scan",
        F.coalesce(F.col("_act"), F.lit(0)).cast("long").alias("actual"),
    )


def q_weighted_sample(spark, sf_dir):
    """Per-source length-weighted sample of 10 docs without
    replacement (curation.weighted_sample — Efraimidis-Spirakis keys
    from the deterministic md5 uniform, round-6 before ranking)."""
    from walker_spark.operators.curation import weighted_sample

    return weighted_sample(
        _t(spark, sf_dir, "documents"),
        k=10,
        weight_col="n_chars",
        group_cols=["source"],
        id_col="doc_id",
    )


def q_knn_graph(spark, sf_dir):
    """Mutual k-NN graph over the embeddings table
    (similarity.knn_graph): ivf-cell blocked, per-vector top-4 ranked
    on ROUND-3 cosine (the cross-engine-stable precision), undirected
    edge kept only when both endpoints keep each other."""
    from walker_spark.operators.similarity import knn_graph

    return knn_graph(_t(spark, sf_dir, "embeddings"), k=4, n_cells=16)


def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining (similarity.hard_negatives): per anchor
    the top-3 most-similar candidates strictly BELOW the round-3
    cosine dup threshold 0.3 — the same bound semantic_dup_pairs uses,
    so "duplicate" and "negative" are one decision. IVF-cell blocked,
    threshold applied before the per-anchor rank."""
    from walker_spark.operators.similarity import hard_negatives

    return hard_negatives(
        _t(spark, sf_dir, "embeddings"), k=3, dup_threshold=0.3, n_cells=16
    )


def q_key_skew(spark, sf_dir):
    """Shuffle-skew diagnosis (skew.key_skew_report): exact top-5
    heaviest event_type values with integer ppm shares — TakeOrdered
    top-k, planner-scale output."""
    from walker_spark.operators.skew import key_skew_report

    return key_skew_report(_t(spark, sf_dir, "events"), ["event_type"], top_k=5)


def q_salted_join(spark, sf_dir):
    """Skew-safe equi-join (skew.salted_join): events join a per-user
    dim through 8 salts — row-identical to the plain join, which IS
    the oracle SQL."""
    from walker_spark.operators.skew import salted_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
    dim = (
        _t(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .withColumn("tier", (F.col("user_id") % 5).cast("long"))
    )
    return salted_join(
        ev, dim, on=["user_id"], scatter_col="event_id", n_salts=8
    ).select("event_id", "user_id", "tier")


def q_bloom_join(spark, sf_dir):
    """Runtime-Bloom-filter join pushdown (joins.bloom_filtered_join):
    orders probe a negative-balance customer subset through k=4
    chained broadcast LEFT-SEMI joins on the Bloom bit table, then the
    real equi-join. Exact by construction (no false negatives; false
    positives die in the equi-join), so the oracle IS the plain
    join."""
    from walker_spark.operators.joins import bloom_filtered_join

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") < 0)
        .select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
    )
    return bloom_filtered_join(orders, cust, "o_custkey").select(
        "o_orderkey", "o_custkey", "c_nationkey"
    )


def q_cdc_chunks(spark, sf_dir):
    """Content-defined chunking (dedup.cdc_chunks, Rabin/FastCDC law:
    cut after every 8-char window whose md5_u32 % 32 == 0) over the
    documents table, each chunk carrying its corpus-wide copy count —
    boundaries, offsets and keys all replayed exactly by the oracle."""
    from walker_spark.operators.dedup import cdc_chunks

    ch = cdc_chunks(
        _t(spark, sf_dir, "documents"), window=8, divisor=32
    )
    copies = ch.groupBy("chunk_key").agg(
        F.count(F.lit(1)).cast("long").alias("n_copies")
    )
    return ch.join(copies, "chunk_key").select(
        F.col("id").alias("doc_id"),
        "chunk_idx",
        "chunk_start",
        "n_chars",
        "chunk_key",
        "n_copies",
    )


def q_change_rates(spark, sf_dir):
    """Adaptive recrawl scheduling (recrawl.change_rate_estimates —
    Cho & Garcia-Molina 2003): crawl history synthesized from events
    (one URL per user, event_type as the content fingerprint),
    change_ppm / suggested revisit interval / next fetch time, all
    exact integer-ms."""
    from walker_spark.operators.recrawl import change_rate_estimates

    hist = _t(spark, sf_dir, "events").select(
        F.expr("'http://h' || CAST(user_id AS STRING) || '.com/'").alias(
            "url"
        ),
        F.col("ts"),
        F.col("event_type").alias("content_key"),
    )
    return change_rate_estimates(
        hist, min_interval_ms=60_000, max_interval_ms=86_400_000
    )


#: politeness_audit driver param: ~4 h against the events table's
#: ~10.7 h mean inter-event gap — violations and clean intervals both
#: deterministically nonzero.
POLITE_DELAY_MS: int = 14_400_000


def q_politeness_audit(spark, sf_dir):
    """Per-domain fetch-interval compliance report
    (urlstats.politeness_audit — lag window over one dom exchange,
    dom-keyed agg): events as the fetch log (user_id = domain,
    epoch-ms times). Pure integer ms; single-fetch domains absent."""
    from walker_spark.operators.urlstats import politeness_audit

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("dom"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("time_ms"),
    )
    return politeness_audit(ev, crawl_delay_ms=POLITE_DELAY_MS)


def q_url_templates(spark, sf_dir):
    """Crawl-trap template mining (urlstats.url_templates): URLs
    synthesized in-query from orders (20 hosts x 3 path shapes with
    digit segments), digit runs collapsed to N, per-host top-2
    templates by occurrence count with the template tiebreak."""
    from walker_spark.operators.urlstats import url_templates

    urls = _t(spark, sf_dir, "orders").select(
        F.expr(
            "'http://h' || CAST(o_custkey % 20 AS STRING) || '.example.com/'"
            " || CASE CAST(o_orderkey % 3 AS INT)"
            "      WHEN 0 THEN 'cat' WHEN 1 THEN 'item' ELSE 'page' END"
            " || '/' || CAST(o_orderkey % 50 AS STRING)"
            " || CASE WHEN o_orderkey % 3 = 1"
            "      THEN '/v' || CAST(o_orderkey % 7 AS STRING) ELSE '' END"
        ).alias("url")
    )
    return url_templates(urls, top_k=2)


def q_sitemap_entries(spark, sf_dir):
    """Sitemap XML parse (sitemaps.parse_sitemaps): 8 per-host urlset
    docs + 1 cross-host sitemapindex synthesized in-query from orders
    (entries exercise entity-decoded locs, present/absent/garbage
    lastmod, changefreq case-folding, DECIMAL priority, cross-host
    declarations); zero-exchange regex parse, one explode, exact
    integer epoch-days / priority-milli outputs."""
    from walker_spark.operators.sitemaps import parse_sitemaps

    orders = _t(spark, sf_dir, "orders")
    host = "'http://h' || CAST(o_custkey % 8 AS STRING) || '.example.com'"
    entry = (
        "'<url><loc>'"
        f" || CASE WHEN o_orderkey % 11 = 0 THEN 'http://other.example.net'"
        f"      ELSE {host} END"
        " || '/p/' || CAST(o_orderkey AS STRING)"
        " || CASE WHEN o_orderkey % 7 = 0 THEN '?a=1&amp;b=2' ELSE '' END"
        " || '</loc>'"
        " || CASE WHEN o_orderkey % 3 = 0 THEN"
        "      '<lastmod>2024-'"
        "      || lpad(CAST(1 + o_orderkey % 12 AS STRING), 2, '0')"
        "      || '-' || lpad(CAST(1 + o_orderkey % 28 AS STRING), 2, '0')"
        "      || CASE WHEN o_orderkey % 2 = 0 THEN 'T08:30:00Z' ELSE '' END"
        "      || '</lastmod>'"
        "    WHEN o_orderkey % 3 = 1 THEN '<lastmod>unknown</lastmod>'"
        "    ELSE '' END"
        " || CASE WHEN o_orderkey % 4 = 0 THEN"
        "      '<changefreq>'"
        "      || CASE WHEN o_orderkey % 8 = 0 THEN 'DAILY' ELSE 'weekly' END"
        "      || '</changefreq>' ELSE '' END"
        " || CASE WHEN o_orderkey % 5 = 0 THEN"
        "      '<priority>0.' || CAST((o_orderkey div 5) % 10 AS STRING)"
        "      || '</priority>' ELSE '' END"
        " || '</url>'"
    )
    urlsets = (
        orders.select(
            F.expr(f"{host} || '/sitemap.xml'").alias("url"),
            F.expr(entry).alias("_e"),
        )
        .groupBy("url")
        .agg(F.concat_ws("", F.collect_list("_e")).alias("body"))
        .select("url", F.expr("'<urlset>' || body || '</urlset>'").alias("body"))
    )
    index = (
        orders.select(
            F.expr(
                f"'<sitemap><loc>' || {host} || '/sitemap.xml</loc>'"
                "|| '<lastmod>2024-01-15</lastmod></sitemap>'"
            ).alias("_e")
        )
        .distinct()
        .agg(F.concat_ws("", F.collect_list("_e")).alias("body"))
        .select(
            F.lit("http://master.example.com/sitemap_index.xml").alias("url"),
            F.expr("'<sitemapindex>' || body || '</sitemapindex>'").alias(
                "body"
            ),
        )
    )
    return parse_sitemaps(urlsets.unionByName(index))


#: shared CDX-J line synthesis (Spark SQL expr over orders) — the
#: DuckDB oracle replays the same derivation field-by-field instead of
#: re-parsing, so the parse itself is what the compare gates.
_CDX_Q = "CASE WHEN o_orderkey % 7 = 0 THEN '?a=1&b=2' ELSE '' END"
_CDX_URL = (
    "'http://h' || CAST(o_orderkey % 8 AS STRING) || '.example.com/p/'"
    " || CAST(o_orderkey div 50 AS STRING) || " + _CDX_Q
)
_CDX_KEY = (
    "'com,example,h' || CAST(o_orderkey % 8 AS STRING) || ')/p/'"
    " || CAST(o_orderkey div 50 AS STRING) || " + _CDX_Q +
    " || CASE WHEN o_orderkey % 13 = 0 THEN '-x' ELSE '' END"
)
_CDX_TS = (
    "CASE WHEN o_orderkey % 23 = 0 THEN 'BADSTAMP'"
    " WHEN o_orderkey % 17 = 0 THEN"
    "  '202413' || lpad(CAST(1 + o_orderkey % 28 AS STRING), 2, '0')"
    "  || '000000'"
    " ELSE '2024'"
    "  || lpad(CAST(1 + o_orderkey % 12 AS STRING), 2, '0')"
    "  || lpad(CAST(1 + o_orderkey % 28 AS STRING), 2, '0')"
    "  || lpad(CAST(o_orderkey % 24 AS STRING), 2, '0')"
    "  || lpad(CAST((o_orderkey div 7) % 60 AS STRING), 2, '0')"
    "  || lpad(CAST(o_orderkey % 60 AS STRING), 2, '0')"
    " END"
)
_CDX_JSON = (
    "CASE WHEN o_orderkey % 19 = 0 THEN '{bad}'"
    " ELSE '{\"url\": \"' || " + _CDX_URL + " || '\", \"mime\": \"'"
    " || CASE WHEN o_orderkey % 31 = 0 THEN 'image/png'"
    "         ELSE 'text/html' END"
    " || '\", \"status\": \"'"
    " || CASE WHEN o_orderkey % 29 = 0 THEN '404' ELSE '200' END"
    " || '\", \"digest\": \"sha1:' || CAST(o_orderkey AS STRING)"
    " || '\", \"length\": \"' || CAST(100 + o_orderkey % 1000 AS STRING)"
    " || '\", \"offset\": \"' || CAST((o_orderkey * 7) % 100000 AS STRING)"
    " || '\", \"filename\": \"seg-' || CAST(o_orderkey % 16 AS STRING)"
    " || '.warc.gz\"}' END"
)
_CDX_LINE = _CDX_KEY + " || ' ' || " + _CDX_TS + " || ' ' || " + _CDX_JSON

#: DuckDB replay of the same per-row derivation (shared CTE chain for
#: both cdx oracles): error precedence format > json > ts mirrors
#: parse_cdx_lines; epoch seconds via make_date is exact integer math.
_CDX_FIELDS_SQL = """
            WITH src AS (
              SELECT o_orderkey AS k,
                     CAST(o_orderkey % 8 AS VARCHAR) AS h,
                     CAST(o_orderkey // 50 AS VARCHAR) AS g,
                     CASE WHEN o_orderkey % 7 = 0 THEN '?a=1&b=2'
                          ELSE '' END AS q
              FROM orders),
            f AS (
              SELECT k,
                CASE WHEN k % 23 = 0 THEN 'format'
                     WHEN k % 19 = 0 THEN 'json'
                     WHEN k % 17 = 0 THEN 'ts'
                     ELSE '' END AS _error,
                'com,example,h' || h || ')/p/' || g || q
                  || CASE WHEN k % 13 = 0 THEN '-x' ELSE '' END AS surt,
                'http://h' || h || '.example.com/p/' || g || q AS url,
                CAST((make_date(2024, CAST(1 + k % 12 AS INT),
                                CAST(1 + k % 28 AS INT))
                      - DATE '1970-01-01') AS BIGINT) * 86400
                  + (k % 24) * 3600 + ((k // 7) % 60) * 60
                  + (k % 60) AS ts_s,
                CASE WHEN k % 31 = 0 THEN 'image/png'
                     ELSE 'text/html' END AS mime,
                CAST(CASE WHEN k % 29 = 0 THEN 404 ELSE 200 END
                     AS BIGINT) AS status,
                'sha1:' || CAST(k AS VARCHAR) AS digest,
                CAST(100 + k % 1000 AS BIGINT) AS length_b,
                CAST((k * 7) % 100000 AS BIGINT) AS offset_b,
                'seg-' || CAST(k % 16 AS VARCHAR)
                  || '.warc.gz' AS filename,
                (k % 13 <> 0) AS surt_matches
              FROM src)
"""


def _cdx_parsed(spark, sf_dir):
    from walker_spark.sources.cdx import parse_cdx_lines

    lines = _t(spark, sf_dir, "orders").select(
        F.expr(_CDX_LINE).alias("value")
    )
    return parse_cdx_lines(lines)


def q_cdx_captures(spark, sf_dir):
    """CDX-J capture-index parse (sources/cdx.py): one line per orders
    row with planted format/json/ts malformations, surt mismatches,
    non-200 statuses and query-string URLs; zero-exchange projection,
    session-timezone-proof epoch seconds, audit _error classification.
    The oracle derives every typed field from the same modular
    arithmetic — the Spark side actually parses, so regex split,
    from_json under the explicit schema, try_cast typing, the epoch
    math and surt_key recomputation are all value-gated. Nullable
    numerics/booleans carry -1 sentinels on BOTH sides (the asof
    rule: NULL BIGINT/BOOLEAN turns float/nan under the driver's
    pandas fetch)."""
    parsed = _cdx_parsed(spark, sf_dir)
    return parsed.select(
        "surt",
        F.coalesce("ts_s", F.lit(-1)).alias("ts_s"),
        "url",
        "mime",
        F.coalesce("status", F.lit(-1)).alias("status"),
        "digest",
        F.coalesce("length_b", F.lit(-1)).alias("length_b"),
        F.coalesce("offset_b", F.lit(-1)).alias("offset_b"),
        "filename",
        F.coalesce(F.col("surt_matches").cast("long"), F.lit(-1)).alias(
            "surt_matches"
        ),
        "_error",
    )


def q_cdx_latest_captures(spark, sf_dir):
    """Latest capture per URL (sources/cdx.py latest_captures): ONE
    max(struct(ts_s, ...)) aggregation — a mega-URL with millions of
    captures is a hot reduce key with map-side partials, never a hot
    window partition. ts_s is unique per URL in the synthesis, so the
    DuckDB row_number replay picks the identical row."""
    from walker_spark.sources.cdx import latest_captures

    return latest_captures(_cdx_parsed(spark, sf_dir))


_FEED_MON = (
    "element_at(array('Jan','Feb','Mar','Apr','May','Jun','Jul','Aug',"
    "'Sep','Oct','Nov','Dec'), CAST(1 + o_orderkey % 12 AS INT))"
)


def q_feed_entries(spark, sf_dir):
    """RSS/Atom feed parse (operators/feeds.py): 4 RSS + 4 Atom feeds
    synthesized in-query from orders — entries exercise RFC 822 vs
    W3C dates (plus garbage dates), guid/id identity vs link
    fallback, cross-host links, dropped linkless items, entity-free
    round-trip. Zero-exchange regex parse, one explode, exact
    epoch-days output; oracle derives every field from the same
    modular arithmetic."""
    from walker_spark.operators.feeds import parse_feeds

    orders = _t(spark, sf_dir, "orders")
    host = "'http://h' || CAST(o_orderkey % 8 AS STRING) || '.example.com'"
    link = (
        "CASE WHEN o_orderkey % 19 = 0 THEN ''"
        " WHEN o_orderkey % 11 = 0 THEN"
        "   'http://other.example.net/post/' || CAST(o_orderkey AS STRING)"
        f" ELSE {host} || '/post/' || CAST(o_orderkey AS STRING) END"
    )
    rss_date = (
        "CASE WHEN o_orderkey % 9 = 0 THEN 'not a date'"
        " ELSE 'Tue, ' || CAST(1 + o_orderkey % 28 AS STRING) || ' ' || "
        + _FEED_MON
        + " || ' 2024 08:30:00 GMT' END"
    )
    atom_date = (
        "CASE WHEN o_orderkey % 9 = 0 THEN 'soon'"
        " ELSE '2024-' || lpad(CAST(1 + o_orderkey % 12 AS STRING), 2, '0')"
        " || '-' || lpad(CAST(1 + o_orderkey % 28 AS STRING), 2, '0')"
        " || 'T08:30:00Z' END"
    )
    rss_item = (
        f"'<item><link>' || {link} || '</link><pubDate>' || {rss_date}"
        " || '</pubDate>'"
        " || CASE WHEN o_orderkey % 3 = 0 THEN"
        "      '<guid isPermaLink=\"false\">g-'"
        "      || CAST(o_orderkey AS STRING) || '</guid>'"
        "    ELSE '' END"
        " || '</item>'"
    )
    atom_entry = (
        f"'<entry><link rel=\"alternate\" href=\"' || {link}"
        f" || '\"/><updated>' || {atom_date} || '</updated>'"
        " || CASE WHEN o_orderkey % 3 = 0 THEN"
        "      '<id>urn:o-' || CAST(o_orderkey AS STRING) || '</id>'"
        "    ELSE '' END"
        " || '</entry>'"
    )
    entry = (
        f"CASE WHEN o_orderkey % 2 = 0 THEN {rss_item}"
        f" ELSE {atom_entry} END"
    )
    docs = (
        orders.select(
            F.expr(host).alias("_host"),
            F.expr("o_orderkey % 2 = 0").alias("_rss"),
            F.expr(entry).alias("_e"),
        )
        .groupBy("_host", "_rss")
        .agg(F.concat_ws("", F.collect_list("_e")).alias("_body"))
        .select(
            F.expr(
                "_host || CASE WHEN _rss THEN '/feed.xml'"
                " ELSE '/atom.xml' END"
            ).alias("url"),
            F.expr(
                "CASE WHEN _rss THEN '<rss><channel>' || _body"
                " || '</channel></rss>'"
                " ELSE '<feed>' || _body || '</feed>' END"
            ).alias("body"),
        )
    )
    return parse_feeds(docs)


def _clustering_zones(spark, sf_dir):
    """Two zone-map sets from events: 'ordered' (files split along
    event_id, which tracks time — the well-clustered layout) vs
    'mod7' (files by event_id % 7 — every file spans the whole time
    domain, the worst case). The contrast is the point of the
    metric."""
    from walker_spark.operators.layout import zone_maps

    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("v"),
    )
    ordered = base.select(
        F.expr(
            "'f' || lpad(CAST(event_id div 200 AS STRING), 4, '0')"
        ).alias("file"),
        "v",
    )
    mod7 = base.select(
        F.expr("'g' || CAST(event_id % 7 AS STRING)").alias("file"), "v"
    )
    return zone_maps(ordered, "file", "v").withColumn(
        "tbl", F.lit("ordered")
    ).unionByName(
        zone_maps(mod7, "file", "v").withColumn("tbl", F.lit("mod7"))
    )


def q_clustering_report(spark, sf_dir):
    """Per-file zone-overlap counts (layout.clustering_report, the
    public analog of Snowflake's clustering information): NO pairwise
    join — one sweep-line window over 2N boundary events gives
    overlaps_i = #{vmin_j <= vmax_i} - #{vmax_j < vmin_i} - 1 per
    table partition. The oracle computes the same closed-interval
    contract with a quadratic correlated count — two algorithms, one
    answer."""
    from walker_spark.operators.layout import clustering_report

    return clustering_report(
        _clustering_zones(spark, sf_dir), partition_cols=("tbl",)
    )


def q_clustering_stats(spark, sf_dir):
    """Partition-level clustering health: n_files / total_rows /
    max_depth (the sweep peak — what a point lookup must scan) /
    max_overlaps / exact-integer avg_overlaps_ppm."""
    from walker_spark.operators.layout import clustering_stats

    return clustering_stats(
        _clustering_zones(spark, sf_dir), partition_cols=("tbl",)
    )


_CLUSTERING_Z_SQL = """
            WITH ev AS (SELECT event_id, epoch_ms(ts) AS v FROM events),
            z AS MATERIALIZED (
              SELECT 'ordered' AS tbl,
                     'f' || lpad(CAST(event_id // 200 AS VARCHAR), 4, '0')
                       AS file,
                     CAST(count(*) AS BIGINT) AS n_rows,
                     min(v) AS vmin, max(v) AS vmax
              FROM ev GROUP BY 1, 2
              UNION ALL
              SELECT 'mod7', 'g' || CAST(event_id % 7 AS VARCHAR),
                     CAST(count(*) AS BIGINT), min(v), max(v)
              FROM ev GROUP BY 1, 2),
            rep AS MATERIALIZED (
              SELECT z1.tbl, z1.file, z1.n_rows, z1.vmin, z1.vmax,
                     CAST((SELECT count(*) FROM z z2
                           WHERE z2.tbl = z1.tbl AND z2.file <> z1.file
                             AND z2.vmin <= z1.vmax
                             AND z2.vmax >= z1.vmin) AS BIGINT) AS overlaps
              FROM z z1)
"""


_SDC_THRESHOLD = 0.3  # random 64-d cosines: a nonempty, partial flag set


def q_semantic_decontam(spark, sf_dir):
    """Embedding-level benchmark decontamination
    (curation.semantic_decontaminate): bench = vec_id % 17 == 0 rows
    of embeddings, corpus = the rest; IVF cells learned from the
    bench side, bench items broadcast per cell as arrays, each corpus
    row folds its cell's cosines IN PLACE (zero-exchange corpus
    path). Oracle replays assignment with the ivf_topk argmin chain
    and picks the max via row_number — two shapes, one contract."""
    from walker_spark.operators.curation import semantic_decontaminate

    emb = _t(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") % 17 == 0)
    corpus = emb.filter(F.col("vec_id") % 17 != 0)
    return semantic_decontaminate(
        corpus, bench, threshold=_SDC_THRESHOLD, n_centroids=16
    )


def _semantic_decontam_sql(dim: int = 64, n_centroids: int = 16) -> str:
    sq = (
        "list_aggregate(list_transform(range(1, {n}), "
        "i -> (CAST({a}[i] AS DOUBLE) - {b}[i])"
        " * (CAST({a}[i] AS DOUBLE) - {b}[i])), 'sum')"
    )
    bd = sq.format(n=dim + 1, a="b.bv", b="c.cvv")
    cd = sq.format(n=dim + 1, a="e.cv", b="c.cvv")
    return f"""
        WITH bench AS MATERIALIZED (
          SELECT vec_id AS bid, embedding::DOUBLE[] AS bv
          FROM embeddings WHERE vec_id % 17 = 0),
        corpus AS MATERIALIZED (
          SELECT vec_id AS id, embedding::DOUBLE[] AS cv
          FROM embeddings WHERE vec_id % 17 <> 0),
        c0 AS (
          SELECT row_number() OVER (ORDER BY bid) - 1 AS cid, bv AS cvv
          FROM (SELECT bid, bv FROM bench ORDER BY bid
                LIMIT {n_centroids})),
        ba AS MATERIALIZED (
          SELECT bid, bv, cid FROM (
            SELECT b.bid, b.bv, c.cid,
                   row_number() OVER (PARTITION BY b.bid
                     ORDER BY {bd}, c.cid) AS rn
            FROM bench b CROSS JOIN c0 c) WHERE rn = 1),
        ca AS MATERIALIZED (
          SELECT id, cv, cid FROM (
            SELECT e.id, e.cv, c.cid,
                   row_number() OVER (PARTITION BY e.id
                     ORDER BY {cd}, c.cid) AS rn
            FROM corpus e CROSS JOIN c0 c) WHERE rn = 1),
        best AS MATERIALIZED (
          SELECT id, bid, c FROM (
            SELECT ca.id, ba.bid,
                   round(list_cosine_similarity(ca.cv, ba.bv), 3) AS c,
                   row_number() OVER (PARTITION BY ca.id
                     ORDER BY round(list_cosine_similarity(
                       ca.cv, ba.bv), 3) DESC, ba.bid DESC) AS rn
            FROM ca JOIN ba USING (cid)) WHERE rn = 1)
        SELECT ca.id, CAST(COALESCE(best.bid, -1) AS BIGINT) AS bench_id,
               COALESCE(best.c, -1.0) AS cosine,
               CAST(CASE WHEN COALESCE(best.c, -1.0)
                 >= {_SDC_THRESHOLD} THEN 1 ELSE 0 END AS BIGINT)
                 AS contaminated
        FROM ca LEFT JOIN best USING (id)"""


_BUDGET_FETCHES = 4000  # vs ~8010 total demand — a real split
_BUDGET_WINDOW_MS = 30 * 86_400_000


def q_crawl_budget(spark, sf_dir):
    """Budget-constrained refresh allocation (recrawl.crawl_budget):
    the change-rate estimates from q_change_rates ranked by activity,
    desired cadences funded by a distributed weighted prefix sum
    until the global fetch budget runs out (PREFIX semantics — a
    clean cut of the ranking, no fill-in), the rest demoted to the
    30-day floor. The oracle replays the prefix sum with one window
    over the same total order."""
    from walker_spark.operators.recrawl import (
        change_rate_estimates,
        crawl_budget,
    )

    hist = _t(spark, sf_dir, "events").select(
        F.expr("'http://h' || CAST(user_id AS STRING) || '.com/'").alias(
            "url"
        ),
        F.col("ts"),
        F.col("event_type").alias("content_key"),
    )
    rates = change_rate_estimates(
        hist, min_interval_ms=60_000, max_interval_ms=86_400_000
    )
    return crawl_budget(
        rates,
        budget_fetches=_BUDGET_FETCHES,
        window_ms=_BUDGET_WINDOW_MS,
    )


_SWEEP_THS = (20, 40, 60, 80, 95)


def q_quality_sweep(spark, sf_dir):
    """Quality-threshold survival curve (curation.threshold_sweep):
    docs + token weight surviving each candidate min-token cutoff,
    with exact-integer ppm shares — ONE corpus pass (per-row count of
    passed ascending thresholds, (K+1)-bucket histogram, funnel-style
    suffix rollup); everything after the bucket agg is K-row
    metadata. The oracle recounts each threshold directly."""
    from walker_spark.operators.curation import threshold_sweep
    from walker_spark.operators.dedup import tokens

    docs = _t(spark, sf_dir, "documents").select(
        F.size(
            F.filter(tokens(F.col("text")), lambda t: F.length(t) > 0)
        ).alias("n_tokens")
    )
    return threshold_sweep(
        docs, "n_tokens", list(_SWEEP_THS), weight_col="n_tokens"
    )


_MIME_CORRECT = (
    "CASE CAST(o_orderkey % 8 AS INT)"
    " WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'"
    " WHEN 2 THEN 'application/pdf' WHEN 3 THEN 'image/gif'"
    " WHEN 4 THEN 'audio/wav' WHEN 5 THEN 'video/mp4'"
    " WHEN 6 THEN 'text/html'"
    " ELSE 'application/octet-stream' END"
)
_MIME_FILLER = "lpad(hex(o_orderkey), 16, '0')"
_MIME_PAYLOAD_HEX = (
    "CASE CAST(o_orderkey % 8 AS INT)"
    " WHEN 0 THEN '89504E470D0A1A0A' || " + _MIME_FILLER +
    " WHEN 1 THEN 'FFD8FFE0' || " + _MIME_FILLER +
    " WHEN 2 THEN '255044462D' || " + _MIME_FILLER +
    " WHEN 3 THEN '474946383961' || " + _MIME_FILLER +
    " WHEN 4 THEN '52494646' || lpad(hex(o_orderkey), 8, '0')"
    "   || '57415645'"
    " WHEN 5 THEN lpad(hex(o_orderkey), 8, '0') || '66747970'"
    "   || " + _MIME_FILLER +
    " WHEN 6 THEN '3C21444F43545950' || " + _MIME_FILLER +
    " ELSE " + _MIME_FILLER + " END"
)
_MIME_DECLARED = (
    "CASE CAST(o_orderkey % 4 AS INT)"
    " WHEN 0 THEN " + _MIME_CORRECT +
    " WHEN 1 THEN upper(" + _MIME_CORRECT + ") || '; charset=utf-8'"
    " WHEN 2 THEN CASE WHEN " + _MIME_CORRECT + " = 'image/jpeg'"
    "   THEN 'image/jpg' ELSE " + _MIME_CORRECT + " END"
    " ELSE 'application/x-wrong' END"
)


def q_mime_audit(spark, sf_dir):
    """Magic-byte MIME sniffing + declared-type audit
    (multimodal.sniff_content_type): payloads synthesized via unhex
    from orders cover 8 signature classes (incl. the RIFF and
    ISO-BMFF offset probes), declared types cover parameter noise,
    case noise, the image/jpg alias and outright lies. ONE projection
    — only a 16-byte hexed prefix leaves the binary column. The
    oracle independently RE-SNIFFS hex(payload) with the same
    signature table, so the byte-prefix semantics are what's gated,
    not the synthesis arithmetic."""
    from walker_spark.operators.multimodal import sniff_content_type

    assets = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.expr(f"unhex({_MIME_PAYLOAD_HEX})").alias("payload"),
        F.expr(_MIME_DECLARED).alias("mime"),
    )
    return sniff_content_type(assets, declared_col="mime").select(
        "k", "sniffed_mime", "declared_norm", "mime_matches"
    )


_FUNNEL_STEPS = ("view", "click", "signup", "purchase")
_FUNNEL_SPAN_MS = 10 * 86400000  # 10 days — cuts real conversions


def q_funnel_user_levels(spark, sf_dir):
    """Per-user ordered-funnel state (operators/funnel.py): greedy
    first-touch chain over (ts, event_id)-sorted step events, 10-day
    completion window — ONE user-keyed exchange + zero-exchange fold.
    The oracle computes the SAME contract via K chained conditional
    mins (earliest step-i strictly after match i-1, within the window
    of the step-1 anchor) — two algorithms, one answer, per user."""
    from walker_spark.operators.funnel import funnel_users

    return funnel_users(
        _t(spark, sf_dir, "events"),
        _FUNNEL_STEPS,
        span_ms=_FUNNEL_SPAN_MS,
    )


def q_funnel_steps(spark, sf_dir):
    """The funnel rollup: users reaching each step + exact-integer
    conversion ppm (floor div, the DECIMAL-div precedent); every step
    emitted even at zero users."""
    from walker_spark.operators.funnel import funnel_counts

    return funnel_counts(
        _t(spark, sf_dir, "events"),
        _FUNNEL_STEPS,
        span_ms=_FUNNEL_SPAN_MS,
    )


def _funnel_ctes() -> str:
    """Chained-conditional-min replay of the funnel chain. The sort
    key packs (ms, event_id) into one BIGINT (ms*1e6 + id — exact
    while event_id < 1e6, true through sf1); Spark's struct sort uses
    the same (ms, id) order unpacked."""
    steps, span = _FUNNEL_STEPS, _FUNNEL_SPAN_MS
    in_list = ", ".join(f"'{s}'" for s in steps)
    parts = [f"""
            WITH ev AS MATERIALIZED (
              SELECT user_id AS u,
                     epoch_ms(ts) * 1000000 + event_id AS sk,
                     epoch_ms(ts) AS ms, event_type AS typ
              FROM events WHERE event_type IN ({in_list})),
            s1 AS MATERIALIZED (
              SELECT u, min(sk) AS k FROM ev
              WHERE typ = '{steps[0]}' GROUP BY u)"""]
    for i in range(2, len(steps) + 1):
        parts.append(f"""
            , s{i} AS MATERIALIZED (
              SELECT e.u, min(e.sk) AS k FROM ev e
              JOIN s{i - 1} p ON e.u = p.u
              JOIN s1 a ON e.u = a.u
              WHERE e.typ = '{steps[i - 1]}' AND e.sk > p.k
                AND e.ms - (a.k // 1000000) <= {span}
              GROUP BY e.u)""")
    lvl = "CASE " + " ".join(
        f"WHEN s{i}.u IS NOT NULL THEN {i}"
        for i in range(len(steps), 0, -1)
    ) + " ELSE 0 END"
    joins = " ".join(
        f"LEFT JOIN s{i} ON b.u = s{i}.u"
        for i in range(1, len(steps) + 1)
    )
    parts.append(f"""
            , lv AS MATERIALIZED (
              SELECT b.u, CAST({lvl} AS BIGINT) AS level,
                     CAST(CASE WHEN s1.u IS NOT NULL
                          THEN s1.k // 1000000 ELSE -1 END
                          AS BIGINT) AS entered_ms
              FROM (SELECT DISTINCT u FROM ev) b {joins})""")
    return "".join(parts)


BLOCKLIST_LEXICON = [
    ("speed", "slow"),
    ("speed", "fast"),
    ("speed", "Fast"),  # normalization dup -> collapses, never double-counts
    ("storage", "table table"),
    ("storage", "row scan"),
    ("exec", "agg row scan"),
    ("exec", "window"),
    ("exotic", "zzz qqq"),  # zero hits -> absent (sparse contract)
]


def q_blocklist_tags(spark, sf_dir):
    """Dolma/UT1-style phrase-blocklist tagging over documents
    (textstats.blocklist_tags): mixed 1/2/3-token phrases across four
    tags, fused single-scan gram projection + broadcast lexicon join,
    sparse per-(doc, tag) hit stats with exact integer hits_ppm."""
    from walker_spark.operators.textstats import blocklist_tags

    lex = spark.createDataFrame(BLOCKLIST_LEXICON, "tag string, phrase string")
    return blocklist_tags(_t(spark, sf_dir, "documents"), lex)


def q_tfidf_keywords(spark, sf_dir):
    """Per-doc top-5 TF-IDF keywords (textstats.tfidf_keywords):
    idf quantized to integer micro-units at the term level (BM25
    precedent) so scores/ranks are exact int64 both engines;
    min_df=3 prunes the rare-term tail."""
    from walker_spark.operators.textstats import tfidf_keywords

    return tfidf_keywords(
        _t(spark, sf_dir, "documents"), top_k=5, min_df=3
    )


# Percentile grid for the exact_percentiles driver check.
PCTL_QS: tuple[float, ...] = (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)


def q_exact_percentiles(spark, sf_dir):
    """Exact type-1 percentiles of the per-document token count via
    the distributed-rank machinery (no approx_percentile error)."""
    from walker_spark.operators.dedup import tokens
    from walker_spark.operators.textstats import exact_percentiles

    docs = _t(spark, sf_dir, "documents").select(
        F.size(F.filter(tokens(F.col("text")), lambda s: F.length(s) > 0))
        .cast("long")
        .alias("n_tokens")
    )
    return exact_percentiles(docs, "n_tokens", qs=PCTL_QS)


def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing (MOSS) fingerprints over the documents table: word
    5-grams, window 4, rightmost-min tie-break — pure integer math."""
    from walker_spark.operators.textstats import winnow_fingerprints

    return winnow_fingerprints(_t(spark, sf_dir, "documents"), k=5, w=4)


def q_anchor_texts(spark, sf_dir):
    """Inbound anchor-text aggregation on the planted doc graph: each
    edge carries a deterministic anchor token drawn from the SOURCE
    doc's text (position dst % n_tokens), so both engines derive the
    identical anchored edge list; top-3 anchors per target."""
    from pyspark.sql import Window

    from walker_spark.operators.dedup import tokens
    from walker_spark.operators.graph import anchor_text_agg

    docs = _t(spark, sf_dir, "documents")
    rn = docs.select(
        F.row_number().over(Window.orderBy("doc_id")).alias("rn"),
        F.filter(tokens(F.col("text")), lambda s: F.length(s) > 0).alias("_t"),
    ).filter(F.size("_t") > 0)
    anchored = (
        _planted_doc_edges(spark, sf_dir)
        .join(rn, F.col("src") == F.col("rn"))
        .select(
            "src",
            "dst",
            F.try_element_at(
                "_t", ((F.col("dst") % F.size("_t")) + 1).cast("int")
            ).alias("anchor"),
        )
    )
    return anchor_text_agg(anchored, k=3)


#: host_boilerplate driver params: at 25 docs/source the 80k-ppm bar
#: means "gram in >= 2 docs of the source" — birthday collisions on the
#: synthetic vocab make that a deterministic nonzero-but-sparse set,
#: so both the boiler and non-boiler branches are exercised.
BOILER_PPM: int = 80_000
BOILER_MIN_DOCS: int = 3


def q_host_boilerplate(spark, sf_dir):
    """Per-source templated-content ratio: trigram types appearing in
    >= 8% of the source's docs count as boilerplate
    (textstats.host_boilerplate — distinct (doc, gram-md5) keys, tiny
    broadcast doc counts, (host, gram)-keyed agg). Integer ppm."""
    from walker_spark.operators.textstats import host_boilerplate

    return host_boilerplate(
        _t(spark, sf_dir, "documents"),
        n=3,
        boiler_ppm_threshold=BOILER_PPM,
        min_docs=BOILER_MIN_DOCS,
    )


def q_novelty_scores(spark, sf_dir):
    """n-gram novelty audit: odd docs scored against the even-doc
    reference corpus (same split convention as lm_quality_scores);
    trigram types, integer ppm."""
    from walker_spark.operators.textstats import novelty_scores

    docs = _t(spark, sf_dir, "documents")
    return novelty_scores(
        docs.filter(F.col("doc_id") % 2 == 1),
        docs.filter(F.col("doc_id") % 2 == 0),
        n=3,
    )


def q_source_overlap(spark, sf_dir):
    """Cross-source trigram-type overlap matrix over the documents
    table's real source column (S sources -> S*(S-1)/2 rows, integer
    Jaccard ppm)."""
    from walker_spark.operators.textstats import source_overlap

    return source_overlap(_t(spark, sf_dir, "documents"), n=3)


def q_quantile_filter(spark, sf_dir):
    """CCNet-style per-language token-count trim: keep docs inside the
    [0.1, 0.9] type-1 quantile values of their language's distribution
    (cutoff table broadcast back; map-side filter)."""
    from walker_spark.operators.textstats import (
        language_id,
        quantile_filter,
        token_stats,
    )

    docs = _t(spark, sf_dir, "documents").repartition(32)
    j = language_id(docs).join(token_stats(docs), "id").select(
        "id", F.col("predicted_lang").alias("lang"), "n_tokens"
    )
    return quantile_filter(j, "lang", "n_tokens", lo_q=0.1, hi_q=0.9)


def q_training_pipeline(spark, sf_dir):
    """The END-TO-END curation pipeline over the planted-C4 corpus
    (sentence structure exists there): quality gate -> exact dedup ->
    4-gram decontamination vs the doc_id % 97 == 0 benchmark slice ->
    temperature mix to ~100 docs -> 512-token global shards. One
    composed lazy plan; the oracle chains every stage's SQL replica."""
    from walker_spark.operators.curation import prepare_training_data

    base = _planted_c4_docs(spark, sf_dir)
    return prepare_training_data(
        base.filter(F.col("doc_id") % 97 != 0),
        base.filter(F.col("doc_id") % 97 == 0),
        budget_docs=40,
        shard_tokens=512,
        decontam_ngram=4,
        quality=dict(
            c4_min_line_words=3,
            c4_min_sentences=1,
            min_stop_hits=0,
            gopher_min_words=5,
            min_prob=0.45,
        ),
    )


def q_personalized_pagerank(spark, sf_dir):
    """Seed-personalized PageRank (TrustRank shape) on the planted doc
    graph: seeds = nodes with node % 25 == 1, 4 iterations, exact
    integer micro-unit ranks."""
    from walker_spark.operators.graph import personalized_pagerank

    edges = _planted_doc_edges(spark, sf_dir)
    seeds = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .filter(F.col("node") % 25 == 1)
    )
    return personalized_pagerank(edges, seeds, iterations=4)


def q_warc_roundtrip(spark, sf_dir):
    """WARC source surface: documents exported as a deterministic
    two-file WARC fixture (plain + per-record gzip; fixture GENERATION
    collects the bounded 500-doc table — the read path is the real
    binaryFile + mapInPandas parser), read back and projected; the
    oracle predicts the parsed rows directly from documents, so the
    whole framing/HTTP/gzip path is value-checked."""
    import os

    from walker_spark.sources.warc import build_warc_bytes, read_warc

    rows = sorted(
        _t(spark, sf_dir, "documents").select("doc_id", "text").collect(),
        key=lambda r: r["doc_id"],
    )
    recs = [
        (
            f"http://ex.org/doc/{r['doc_id']}",
            "2024-01-01T00:00:00Z",
            404 if r["doc_id"] % 10 == 0 else 200,
            "text/html",
            (r["text"] or "").encode("utf-8"),
        )
        for r in rows
    ]
    d = "/tmp/spark_graft_warc_fixture"
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "even.warc"), "wb") as f:
        f.write(build_warc_bytes([t for t, r in zip(recs, rows) if r["doc_id"] % 2 == 0]))
    with open(os.path.join(d, "odd.warc.gz"), "wb") as f:
        f.write(
            build_warc_bytes(
                [t for t, r in zip(recs, rows) if r["doc_id"] % 2 == 1],
                gzip_members=True,
            )
        )
    return read_warc(spark, d).select(
        "record_type", "url", "http_status", "mime", "n_bytes", "checksum"
    )


# Shared by warc_roundtrip (fixture -> read) and warc_export
# (distributed write -> read): both must round-trip to exactly the
# rows this SQL predicts from the source table.
_WARC_ORACLE_SQL = """
    SELECT 'response' AS record_type,
           'http://ex.org/doc/' || CAST(doc_id AS VARCHAR) AS url,
           CAST(CASE WHEN doc_id % 10 = 0 THEN 404 ELSE 200 END
                AS INT) AS http_status,
           'text/html' AS mime,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS checksum
    FROM documents"""


def q_warc_export(spark, sf_dir):
    """Distributed WARC export sink: documents become WARC records
    entirely JVM-side (url/status synthesized from doc_id, payload =
    encode(text)), repartitioned to 8 shards, written by write_warc's
    per-partition mapInPandas writer, then read back through the real
    binaryFile parser — the oracle predicts the round-tripped rows
    from the source table, so the distributed write path itself is
    value-checked (a lost/partial/duplicated shard breaks the hash)."""
    import shutil

    from walker_spark.sources.warc import read_warc, write_warc

    recs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("http://ex.org/doc/"), F.col("doc_id").cast("string")).alias(
            "url"
        ),
        F.when(F.col("doc_id") % 10 == 0, F.lit(404))
        .otherwise(F.lit(200))
        .alias("http_status"),
        F.lit("text/html").alias("mime"),
        F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8").alias("payload"),
    )
    out = "/tmp/spark_graft_warc_export"
    shutil.rmtree(out, ignore_errors=True)
    write_warc(recs.repartition(8, "url"), out)
    return read_warc(spark, out).select(
        "record_type", "url", "http_status", "mime", "n_bytes", "checksum"
    )


UNIMAX_BUDGET = 500
UNIMAX_EPOCHS = 2


def _planted_sources(docs):
    """Deterministic head/middle/tail source split: ~60% web, ~30%
    books, ~10% wiki — sized so UniMax exercises BOTH regimes (wiki
    capped at max epochs, web/books subsampled below one epoch)."""
    return docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 10 < 6, "web")
        .when(F.col("doc_id") % 10 < 9, "books")
        .otherwise("wiki")
        .alias("source"),
    )


def q_unimax_allocation(spark, sf_dir):
    """UniMax waterfilling allocation table (Chung et al. 2023) over
    the planted source split: exact integer allocations summing to
    min(budget, total capacity)."""
    from walker_spark.operators.curation import unimax_allocation

    docs = _planted_sources(_t(spark, sf_dir, "documents"))
    return unimax_allocation(docs, budget=UNIMAX_BUDGET, max_epochs=UNIMAX_EPOCHS)


def q_unimax_mix(spark, sf_dir):
    """UniMax applied to the corpus: per-doc epoch counts (full epochs
    + one md5-uniform fractional epoch against an exact integer
    threshold)."""
    from walker_spark.operators.curation import unimax_mix

    docs = _planted_sources(_t(spark, sf_dir, "documents"))
    return unimax_mix(docs, budget=UNIMAX_BUDGET, max_epochs=UNIMAX_EPOCHS)


def q_phash_near_dups(spark, sf_dir):
    """Perceptual-hash near-dup pairs over the fake-decoded asset
    table: for every doc_id % 7 == 0 a twin asset (+1000000) with ONE
    bit flipped is planted, so the radius-2 hamming join must find
    every planted twin (hamming 1) plus the corpus's exact-duplicate
    assets (hamming 0). The xor shift reads the ORIGINAL asset_id —
    both engines plant the identical twin."""
    from walker_spark.operators.multimodal import (
        assets_from_documents,
        decode_and_extract,
        hamming_near_dups,
        phash_assets,
    )

    docs = _t(spark, sf_dir, "documents")
    ph = phash_assets(decode_and_extract(assets_from_documents(docs)))
    twins = ph.filter(F.col("asset_id") % 7 == 0).select(
        (F.col("asset_id") + 1000000).alias("asset_id"),
        "kind",
        F.col("phash")
        .bitwiseXOR(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(asset_id % 60 AS INT))")
        )
        .alias("phash"),
    )
    return hamming_near_dups(ph.unionByName(twins), max_hamming=2)


GP_QS = (0.1, 0.5, 0.9)


def q_text_normalize(spark, sf_dir):
    """Unicode-hygiene normalization (NFC + control/zero-width strip +
    whitespace collapse): the corpus is ASCII-synthetic, so unicode is
    planted deterministically per doc (decomposed e+combining-acute,
    zero-width space, tab, BEL, trailing spaces) — both engines build
    the identical raw text, then normalize; lengths are code points."""
    from walker_spark.operators.textstats import text_normalize

    docs = _t(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.lit("Cafe\u0301 \u200bmenu\t"),
            F.col("text"),
            F.lit("  fin\x07al  "),
        ).alias("text"),
    )
    return text_normalize(planted)


def q_grouped_percentiles(spark, sf_dir):
    """Per-language exact token-count percentiles: language_id +
    token_stats feeding grouped_percentiles — the per-source corpus
    profiling pass (type-1 rank floor(q*(n-1))+1 within each group)."""
    from walker_spark.operators.textstats import (
        grouped_percentiles,
        language_id,
        token_stats,
    )

    # the sandbox table is ONE parquet file -> one scan task; a real
    # corpus arrives in many splits, so restore scan parallelism for
    # the regex-heavy profiling projection (trivial text exchange here)
    docs = _t(spark, sf_dir, "documents").repartition(32)
    j = language_id(docs).join(token_stats(docs), "id").select(
        F.col("predicted_lang").alias("lang"), "n_tokens"
    )
    return grouped_percentiles(j, "lang", "n_tokens", qs=GP_QS)


def q_stratified_split(spark, sf_dir):
    """Deterministic exact-quota train/val/test carve per order
    priority (5 strata over orders; quotas floor(f*n) per stratum in
    md5(salt||id) order)."""
    from walker_spark.operators.curation import stratified_split

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    return stratified_split(
        orders,
        "o_orderpriority",
        "o_orderkey",
        fractions=(("test", 0.1), ("val", 0.05)),
    )


BPE_MERGE_STEPS = 8


def q_bpe_merges(spark, sf_dir):
    """First 8 learned BPE merges over the documents corpus (Sennrich
    et al. 2016) — exact BIGINT pair counts, lexicographic tie-break,
    oracle unrolls the recurrence one CTE pair per step."""
    from walker_spark.operators.textstats import bpe_merges

    return bpe_merges(_t(spark, sf_dir, "documents"), n_merges=BPE_MERGE_STEPS)


def q_bpe_encode(spark, sf_dir):
    """Run the trained tokenizer over its own training corpus: the 8
    bpe_merges merges applied per document (greedy min-rank Arrow
    stage with a per-worker word cache — no word join, one doc-keyed
    exchange). Symbols emitted space-joined (symbols are substrings of
    whitespace-free words, so the join is unambiguous); the oracle
    re-derives the merge recurrence carrying the word through each
    step and join-encodes the position-indexed token stream."""
    from walker_spark.operators.textstats import bpe_encode, bpe_merges

    docs = _t(spark, sf_dir, "documents")
    out = bpe_encode(docs, bpe_merges(docs, n_merges=BPE_MERGE_STEPS))
    return out.select(
        "id", F.array_join("syms", " ").alias("syms_sp"), "n_tokens"
    )


# Query-by-example documents for the hybrid RRF driver check — any ids
# in the documents ∩ embeddings key range work; fixed for determinism.
HYBRID_EXAMPLE_IDS: tuple[int, ...] = (3, 57, 211)


def q_hybrid_rrf(spark, sf_dir):
    """Hybrid query-by-example retrieval: a BM25 leg (the example
    doc's text as the query) and a dense cosine leg (its embedding)
    fused by Reciprocal Rank Fusion in exact integer math
    (retrieval.RRF_SCALE div (60 + rank) summed as BIGINT)."""
    from walker_spark.operators.retrieval import hybrid_topk

    return hybrid_topk(
        _t(spark, sf_dir, "documents"),
        _t(spark, sf_dir, "embeddings"),
        list(HYBRID_EXAMPLE_IDS),
        k=10,
        k_leg=20,
    )


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the dispatcher's load-bearing latest-row window over
    the events table at sf0.001."""
    return q_latest_event_per_user(spark, SF001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "latest_event_per_user": q_latest_event_per_user,
        "frontier_antijoin": q_frontier_antijoin,
        "segment_topk_per_group": q_segment_topk_per_group,
        "domain_stats": q_domain_stats,
        "keyset_pagination": q_keyset_pagination,
        "pattern_filter": q_pattern_filter,
        "refresh_split_quota": q_refresh_split_quota,
        "weighted_fair_schedule": q_weighted_fair_schedule,
        "empty_backoff_filter": q_empty_backoff_filter,
        "dup_wordset_clusters": q_dup_wordset_clusters,
        "pricing_summary": q_pricing_summary,
        "revenue_by_nation": q_revenue_by_nation,
        "orders_rollup": q_orders_rollup,
        "event_hourly_rollup": q_event_hourly_rollup,
        "sessionize": q_sessionize,
        "asof_attribution": q_asof_attribution,
        "range_join_windows": q_range_join_windows,
        "hll_token_distinct": q_hll_token_distinct,
        "cms_token_freq": q_cms_token_freq,
        "dedup_exact": q_dedup_exact,
        "dedup_jaccard_pairs": q_dedup_jaccard_pairs,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "dedup_simhash_md5": q_dedup_simhash_md5,
        "dedup_components": q_dedup_components,
        "quality_keeper": q_quality_keeper,
        "dup_ngram_spans": q_dup_ngram_spans,
        "line_dedup": q_line_dedup,
        "repetition_stats": q_repetition_stats,
        "dedup_incremental": q_dedup_incremental,
        "lm_quality_scores": q_lm_quality_scores,
        "lm_ppl_buckets": q_lm_ppl_buckets,
        "redact_pii": q_redact_pii,
        "embedding_topk": q_embedding_topk,
        "embedding_dup_pairs": q_embedding_dup_pairs,
        "semantic_dup_pairs": q_semantic_dup_pairs,
        "ann_topk": q_ann_topk,
        "ivf_topk": q_ivf_topk,
        "embedding_clusters": q_embedding_clusters,
        "cluster_sample": q_cluster_sample,
        "pq_topk": q_pq_topk,
        "language_id": q_language_id,
        "token_stats": q_token_stats,
        "quality_scores": q_quality_scores,
        "doc_fingerprints": q_doc_fingerprints,
        "multimodal_features": q_multimodal_features,
        "frame_sampling": q_frame_sampling,
        "sample_deterministic": q_sample_deterministic,
        "cap_per_source": q_cap_per_source,
        "pack_sequences": q_pack_sequences,
        "assign_shards": q_assign_shards,
        "decontaminate": q_decontaminate,
        "contamination_spans": q_contamination_spans,
        "temperature_mix": q_temperature_mix,
        "grouped_split": q_grouped_split,
        "gopher_rules": q_gopher_rules,
        "dsir_select": q_dsir_select,
        "c4_rules": q_c4_rules,
        "hash_classifier": q_hash_classifier,
        "quality_pipeline": q_quality_pipeline,
        "chunk_documents": q_chunk_documents,
        "bm25_topk": q_bm25_topk,
        "bm25_indexed": q_bm25_indexed,
        "bm25_extended": q_bm25_extended,
        "bm25_retracted": q_bm25_retracted,
        "hybrid_rrf": q_hybrid_rrf,
        "winnow_fingerprints": q_winnow_fingerprints,
        "bpe_merges": q_bpe_merges,
        "bpe_encode": q_bpe_encode,
        "anchor_texts": q_anchor_texts,
        "text_normalize": q_text_normalize,
        "grouped_percentiles": q_grouped_percentiles,
        "stratified_split": q_stratified_split,
        "phash_near_dups": q_phash_near_dups,
        "unimax_allocation": q_unimax_allocation,
        "unimax_mix": q_unimax_mix,
        "novelty_scores": q_novelty_scores,
        "host_boilerplate": q_host_boilerplate,
        "source_overlap": q_source_overlap,
        "quantile_filter": q_quantile_filter,
        "training_pipeline": q_training_pipeline,
        "personalized_pagerank": q_personalized_pagerank,
        "warc_roundtrip": q_warc_roundtrip,
        "warc_export": q_warc_export,
        "phrase_search": q_phrase_search,
        "vocab_coverage": q_vocab_coverage,
        "tokenize_ids": q_tokenize_ids,
        "pagerank": q_pagerank,
        "lpa_communities": q_lpa_communities,
        "hits": q_hits,
        "triangle_counts": q_triangle_counts,
        "hop_distances": q_hop_distances,
        "bloom_membership": q_bloom_membership,
        "tfidf_keywords": q_tfidf_keywords,
        "knn_graph": q_knn_graph,
        "hard_negatives": q_hard_negatives,
        "url_templates": q_url_templates,
        "sitemap_entries": q_sitemap_entries,
        "feed_entries": q_feed_entries,
        "funnel_user_levels": q_funnel_user_levels,
        "funnel_steps": q_funnel_steps,
        "clustering_report": q_clustering_report,
        "clustering_stats": q_clustering_stats,
        "mime_audit": q_mime_audit,
        "quality_sweep": q_quality_sweep,
        "crawl_budget": q_crawl_budget,
        "semantic_decontam": q_semantic_decontam,
        "cdx_captures": q_cdx_captures,
        "cdx_latest_captures": q_cdx_latest_captures,
        "blocklist_tags": q_blocklist_tags,
        "politeness_audit": q_politeness_audit,
        "corpus_report": q_corpus_report,
        "change_rates": q_change_rates,
        "cdc_chunks": q_cdc_chunks,
        "key_skew": q_key_skew,
        "salted_join": q_salted_join,
        "bloom_join": q_bloom_join,
        "weighted_sample": q_weighted_sample,
        "zone_map_prune": q_zone_map_prune,
        "bloom_file_prune": q_bloom_file_prune,
        "readability": q_readability,
        "entropy_scores": q_entropy_scores,
        "embedding_communities": q_embedding_communities,
        "kcore": q_kcore,
        "host_graph": q_host_graph,
        "resolve_redirects": q_resolve_redirects,
        "pmi_collocations": q_pmi_collocations,
        "zorder_events": q_zorder_events,
        "log_hist_quantiles": q_log_hist_quantiles,
        "kmv_source_overlap": q_kmv_source_overlap,
        "heavy_hitters": q_heavy_hitters,
        "markov_transitions": q_markov_transitions,
        "bitext_margin": q_bitext_margin,
        "within_doc_dedup": q_within_doc_dedup,
        "embedding_outliers": q_embedding_outliers,
        "retention_cohorts": q_retention_cohorts,
        "mirror_sources": q_mirror_sources,
        "bm25_pruned": q_bm25_pruned,
        "farthest_points": q_farthest_points,
        "modularity": q_modularity,
        "k_anonymity": q_k_anonymity,
        "matched_sample": q_matched_sample,
        "key_fairness": q_key_fairness,
        "term_dispersion": q_term_dispersion,
        "ivf_recall": q_ivf_recall,
        "clustering_coeffs": q_clustering_coeffs,
        "vocab_growth": q_vocab_growth,
        "transitivity": q_transitivity,
        "top_paths": q_top_paths,
        "compaction_plan": q_compaction_plan,
        "table_diff": q_table_diff,
        "edit_dup_pairs": q_edit_dup_pairs,
        "exact_percentiles": q_exact_percentiles,
    }


def _jaccard_sql(threshold: float) -> str:
    return f"""
WITH sh AS (
  SELECT DISTINCT doc_id AS id, unnest({_TOKS_SQL}) AS s
  FROM documents
  WHERE length({_NORM_TEXT_SQL}) > 0
), sz AS (
  SELECT id, count(*) AS sz FROM sh GROUP BY id
), inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id_a, id_b, round(i * 1.0 / (x.sz + y.sz - i), 4) AS jaccard
FROM inter
JOIN sz x ON x.id = id_a
JOIN sz y ON y.id = id_b
WHERE round(i * 1.0 / (x.sz + y.sz - i), 4) >= {threshold}
"""


def _simhash_md5_sql(max_hamming: int) -> str:
    """DuckDB oracle for the md5-based 60-bit simhash: token hash =
    first 15 hex digits of md5(token) decoded positionally; per-bit
    sign sums over distinct tokens; pairs by hamming(bit_count(xor))."""
    hex_decode = " + ".join(
        f"(strpos('0123456789abcdef', substr(h15, {i}, 1)) - 1) * {16 ** (15 - i)}"
        for i in range(1, 16)
    )
    bit_cols = ", ".join(
        f"CASE WHEN sum(2 * ((h >> {i}) & 1) - 1) > 0 THEN 1 ELSE 0 END AS b{i}"
        for i in range(60)
    )
    sim_expr = " + ".join(f"b{i} * {2 ** i}" for i in range(60))
    return f"""
WITH tok AS (
  SELECT DISTINCT doc_id AS id, unnest({_TOKS_SQL}) AS tok
  FROM documents WHERE length({_NORM_TEXT_SQL}) > 0
), th AS (
  SELECT id, ({hex_decode}) AS h
  FROM (SELECT id, substr(md5(tok), 1, 15) AS h15 FROM tok)
), bits AS (
  SELECT id, {bit_cols} FROM th GROUP BY id
), sim AS (
  SELECT id, CAST({sim_expr} AS BIGINT) AS simhash FROM bits
)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sim a JOIN sim b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


_LANG_MARKER_SQL = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "for", "with"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"),
    "fr": ("le", "la", "les", "et", "est", "une", "pour", "dans", "que", "des"),
    "es": ("el", "la", "los", "y", "es", "una", "por", "para", "con", "del"),
}


def _hits_sql(words) -> str:
    return " + ".join(
        f"(CASE WHEN regexp_matches(lower(text), '\\b{w}\\b') THEN 1 ELSE 0 END)"
        for w in words
    )


def _dedup_components_sql(threshold: float) -> str:
    """Connected components over the brute-force near-dup pair graph:
    symmetric closure of the pairs, recursive transitive closure, then
    cluster_id = min reachable id (including self)."""
    pairs = _jaccard_sql(threshold)
    return f"""
WITH RECURSIVE pairs AS ({pairs}),
sym AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
)
SELECT a AS doc_id,
       least(a, min(b)) AS cluster_id,
       a = least(a, min(b)) AS is_keeper
FROM reach
GROUP BY a
"""


# Laplace bigram-LM scoring of the odd-doc_id half against the
# even-doc_id reference — shared by the lm_quality_scores oracle and
# the lm_ppl_buckets oracle (which ranks this output).
_LM_SCORES_SQL = f"""
            WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
            ref_uni AS (
              SELECT w, count(*) AS c1 FROM (
                SELECT unnest(t) AS w FROM toks WHERE doc_id % 2 = 0)
              WHERE length(w) > 0 GROUP BY w
            ),
            v AS (SELECT CAST(count(*) AS DOUBLE) AS V FROM ref_uni),
            ref_bi AS (
              SELECT t[i+1] AS w1, t[i+2] AS w2, count(*) AS c2
              FROM toks, UNNEST(generate_series(0, len(t)-2)) AS u(i)
              WHERE doc_id % 2 = 0 AND len(t) >= 2 GROUP BY 1, 2
            ),
            doc_bi AS (
              SELECT doc_id, t[i+1] AS w1, t[i+2] AS w2
              FROM toks, UNNEST(generate_series(0, len(t)-2)) AS u(i)
              WHERE doc_id % 2 = 1 AND len(t) >= 2
            ),
            scored AS (
              SELECT d.doc_id,
                     ln((coalesce(c2, 0) + 1) / (coalesce(c1, 0) + V)) AS lp
              FROM doc_bi d
              LEFT JOIN ref_uni u ON d.w1 = u.w
              LEFT JOIN ref_bi b ON d.w1 = b.w1 AND d.w2 = b.w2
              CROSS JOIN v
            ),
            agg AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                     round(avg(lp), 3) AS avg_logprob
              FROM scored GROUP BY doc_id
            )
            SELECT d.doc_id AS id, coalesce(n_bigrams, 0) AS n_bigrams,
                   coalesce(avg_logprob, 0) AS avg_logprob
            FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
            LEFT JOIN agg USING (doc_id)"""


def oracle_sql() -> dict[str, str]:
    en_stop = _LANG_MARKER_SQL["en"] + ("a", "an", "as", "at", "by", "on", "or", "be")
    lang_hits = {lang: _hits_sql(ws) for lang, ws in _LANG_MARKER_SQL.items()}
    best = "greatest(" + ", ".join(f"({h})" for h in lang_hits.values()) + ")"
    return {
        "latest_event_per_user": """
            SELECT user_id, ts AS last_ts, event_type AS last_type,
                   event_id AS last_event_id
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                  FROM events)
            WHERE rn = 1""",
        "frontier_antijoin": """
            SELECT c_custkey, c_name FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_totalprice > 450000)""",
        "segment_topk_per_group": """
            SELECT o_custkey, o_orderkey, o_orderdate, rk
            FROM (SELECT o_custkey, o_orderkey, o_orderdate, row_number() OVER (
                      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rk
                  FROM orders)
            WHERE rk <= 3""",
        "domain_stats": """
            SELECT o_custkey,
                   count(*) AS tot_orders,
                   CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS open_orders,
                   count(DISTINCT o_orderpriority) AS n_priorities,
                   CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_spend_cents
            FROM orders GROUP BY o_custkey""",
        "keyset_pagination": """
            SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
            WHERE l_orderkey > 500 OR (l_orderkey = 500 AND l_linenumber > 3)
            ORDER BY l_orderkey, l_linenumber LIMIT 100""",
        "pattern_filter": """
            SELECT p_partkey, p_name, p_type FROM part
            WHERE regexp_matches(p_type, 'ECONOMY|STANDARD')
              AND length(p_name) <= 40
              AND NOT regexp_matches(p_name, '^red ')""",
        "refresh_split_quota": """
            SELECT o_custkey, count(*) AS n_orders,
                   CAST(floor(count(*) * 0.25) AS BIGINT) AS refresh_quota,
                   count(*) - CAST(floor(count(*) * 0.25) AS BIGINT) AS new_quota
            FROM orders GROUP BY o_custkey""",
        "weighted_fair_schedule": """
            SELECT s_suppkey,
                   CAST(s_suppkey % 7 + 1 AS INT) AS priority,
                   CAST(floor(10.0 * (s_suppkey % 7 + 1) /
                        (SELECT max(s_suppkey % 7 + 1) FROM supplier)) AS BIGINT) AS claims_10
            FROM supplier""",
        "empty_backoff_filter": """
            WITH per_user AS (
              SELECT user_id,
                     max(CASE WHEN event_type = 'view' THEN ts END) AS last_view,
                     max(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase
              FROM events GROUP BY user_id
            ), nowt AS (SELECT max(ts) AS now FROM events)
            SELECT user_id, last_view, last_purchase
            FROM per_user, nowt
            WHERE NOT (last_purchase IS NOT NULL
                       AND last_purchase > coalesce(last_view, TIMESTAMP '1970-01-01')
                       AND CAST(floor(epoch(now)) AS BIGINT)
                           - CAST(floor(epoch(last_purchase)) AS BIGINT) < 7 * 86400)""",
        "dup_wordset_clusters": f"""
            SELECT md5(array_to_string(list_sort(list_distinct({_TOKS_SQL})), ' ')) AS fingerprint,
                   count(*) AS n_docs, min(doc_id) AS min_doc_id
            FROM documents
            GROUP BY 1 HAVING count(*) > 1""",
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                            * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus""",
        "revenue_by_nation": """
            SELECT n_name, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                   count(*) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name""",
        "orders_rollup": """
            SELECT o_orderstatus, o_orderpriority,
                   count(*) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
            FROM orders
            GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""",
        "event_hourly_rollup": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2""",
        "sessionize": """
            WITH o AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR ts - lag(ts) OVER w > INTERVAL 1800 SECOND
                          THEN 1 ELSE 0 END AS is_new
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), s AS (
              SELECT user_id, ts,
                     sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS sid
              FROM o
            )
            SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
                   count(*) AS n_events
            FROM s GROUP BY user_id, sid""",
        # DuckDB's NATIVE ASOF JOIN is the oracle for the union+window
        # rewrite — two entirely different algorithms, same contract.
        # (ties among right rows can't occur here: microsecond event
        # timestamps are unique per (user, type) in the generator;
        # tie-break semantics are pinned by pytest instead.)
        "asof_attribution": """
            SELECT p.event_id, p.user_id, epoch_ms(p.ts) AS ts_ms,
                   COALESCE(v.event_id, -1) AS view_event_id,
                   COALESCE(v.value, -1.0) AS view_value,
                   COALESCE(epoch_ms(p.ts) - epoch_ms(v.ts), -1) AS gap_ms
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
              ON p.user_id = v.user_id AND p.ts >= v.ts""",
        "range_join_windows": _range_join_windows_sql(),
        "hll_token_distinct": _hll_token_distinct_sql(),
        "cms_token_freq": _cms_token_freq_sql(),
        "dedup_exact": f"""
            SELECT min(doc_id) AS doc_id FROM documents
            GROUP BY {_NORM_TEXT_SQL}""",
        "dedup_jaccard_pairs": _jaccard_sql(0.999),
        "dedup_minhash_lsh": _jaccard_sql(0.95),
        "dedup_components": _dedup_components_sql(0.95),
        "quality_keeper": f"""
            WITH comps AS ({_dedup_components_sql(0.95)}),
            scored AS (
              SELECT c.doc_id, c.cluster_id, d.n_chars AS score
              FROM comps c JOIN documents d USING (doc_id)
            ),
            best AS (
              SELECT cluster_id, max(score) AS best FROM scored GROUP BY cluster_id
            ),
            keep AS (
              SELECT s.cluster_id, min(s.doc_id) AS keeper_id
              FROM scored s JOIN best b
                ON s.cluster_id = b.cluster_id AND s.score = b.best
              GROUP BY s.cluster_id
            )
            SELECT s.doc_id, s.cluster_id, s.doc_id = k.keeper_id AS is_keeper
            FROM scored s JOIN keep k ON s.cluster_id = k.cluster_id""",
        "redact_pii": r"""
            WITH injected AS (
              SELECT doc_id,
                     text || ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com or +1-555-'
                          || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
                          || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                          || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
                     AS t
              FROM documents)
            SELECT doc_id AS id,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(t,
                         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                       '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                     '\+\d{1,3}[- ]\d{3}[- ]\d{3}[- ]\d{4}', '<PHONE>', 'g') AS clean_text,
                   len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
                   len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
                   len(regexp_extract_all(t, '\+\d{1,3}[- ]\d{3}[- ]\d{3}[- ]\d{4}')) AS n_phone
            FROM injected""",
        "dedup_simhash_md5": _simhash_md5_sql(3),
        "lm_quality_scores": _LM_SCORES_SQL,
        "lm_ppl_buckets": f"""
            WITH s AS ({_LM_SCORES_SQL}),
            f AS (SELECT id, avg_logprob FROM s WHERE n_bigrams >= 1),
            r AS (
              SELECT id, avg_logprob,
                     row_number() OVER (ORDER BY avg_logprob DESC, id) AS rk,
                     count(*) OVER () AS n
              FROM f
            )
            SELECT id, avg_logprob,
                   CASE ((rk - 1) * 3) // n
                        WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
                        ELSE 'tail' END AS ppl_bucket
            FROM r""",
        "dedup_incremental": f"""
            WITH sh AS (
              SELECT DISTINCT doc_id AS id, unnest({_TOKS_SQL}) AS s
              FROM documents
              WHERE length({_NORM_TEXT_SQL}) > 0
            ), sz AS (
              SELECT id, count(*) AS sz FROM sh GROUP BY id
            ), inter AS (
              SELECT a.id AS id_new, b.id AS id_corpus, count(*) AS i
              FROM sh a JOIN sh b ON a.s = b.s
                AND a.id % 2 = 1 AND b.id % 2 = 0
              GROUP BY 1, 2
            )
            SELECT id_new, id_corpus,
                   round(i * 1.0 / (x.sz + y.sz - i), 4) AS jaccard
            FROM inter
            JOIN sz x ON x.id = id_new
            JOIN sz y ON y.id = id_corpus
            WHERE round(i * 1.0 / (x.sz + y.sz - i), 4) >= 0.95""",
        "repetition_stats": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS_SQL} AS t FROM documents
            ), bi AS (
              SELECT doc_id, array_to_string(t[i+1:i+2], ' ') AS g
              FROM toks, UNNEST(generate_series(0, len(t) - 2)) AS u(i)
              WHERE len(t) >= 2
            ), bic AS (
              SELECT doc_id, g, count(*) AS c FROM bi GROUP BY doc_id, g
            ), bid AS (
              SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
                     CAST(max(c) AS BIGINT) AS top_bigram_count
              FROM bic GROUP BY doc_id
            ), tri AS (
              SELECT doc_id, array_to_string(t[i+1:i+3], ' ') AS g
              FROM toks, UNNEST(generate_series(0, len(t) - 3)) AS u(i)
              WHERE len(t) >= 3
            ), tric AS (
              SELECT doc_id, g, count(*) AS c FROM tri GROUP BY doc_id, g
            ), trid AS (
              SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_trigrams,
                     CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
                       AS dup_trigram_positions
              FROM tric GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(n_bigrams, 0) AS n_bigrams,
                   coalesce(top_bigram_count, 0) AS top_bigram_count,
                   round(coalesce(top_bigram_count / n_bigrams, 0), 4)
                     AS top_bigram_frac,
                   coalesce(n_trigrams, 0) AS n_trigrams,
                   coalesce(dup_trigram_positions, 0) AS dup_trigram_positions,
                   round(coalesce(dup_trigram_positions / n_trigrams, 0), 4)
                     AS dup_trigram_frac
            FROM documents d
            LEFT JOIN bid USING (doc_id) LEFT JOIN trid USING (doc_id)""",
        "dup_ngram_spans": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS_SQL} AS t FROM documents
            ), grams AS (
              SELECT doc_id, i AS pos,
                     md5(array_to_string(t[i+1:i+8], ' ')) AS gram_key
              FROM toks, UNNEST(generate_series(0, len(t) - 8)) AS u(i)
              WHERE len(t) >= 8
            ), dup AS (
              SELECT gram_key FROM grams
              GROUP BY gram_key HAVING count(DISTINCT doc_id) >= 2
            ), hits AS (
              SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram_key)
            ), marked AS (
              SELECT doc_id, pos,
                     CASE WHEN pos > coalesce(MAX(pos + 8) OVER (
                            PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                          THEN 1 ELSE 0 END AS newi
              FROM hits
            ), isl AS (
              SELECT doc_id, pos,
                     SUM(newi) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
              FROM marked
            )
            SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
                   CAST(MAX(pos) + 8 AS BIGINT) AS span_end,
                   CAST(MAX(pos) + 8 - MIN(pos) AS BIGINT) AS span_tokens
            FROM isl GROUP BY doc_id, isl""",
        "line_dedup": """
            WITH base AS (
              SELECT doc_id,
                     string_split(replace(text, ' the ', chr(10)), chr(10)) AS ls
              FROM documents
            ), lines AS (
              SELECT doc_id, i - 1 AS pos, ls[i] AS line
              FROM base, UNNEST(generate_series(1, len(ls))) AS u(i)
            ), ne AS (
              SELECT doc_id, pos, line,
                     md5(trim(regexp_replace(lower(line), '\\s+', ' ', 'g'))) AS line_key
              FROM lines
              WHERE trim(regexp_replace(lower(line), '\\s+', ' ', 'g')) <> ''
            ), cnt AS (
              SELECT line_key, count(DISTINCT doc_id) AS nd
              FROM ne GROUP BY line_key
            ), flagged AS (
              SELECT ne.doc_id, ne.pos, ne.line, (cnt.nd < 2) AS keep
              FROM ne JOIN cnt USING (line_key)
            ), agg AS (
              SELECT doc_id,
                     CAST(count(*) AS BIGINT) AS n_lines,
                     CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                     coalesce(string_agg(CASE WHEN keep THEN line END,
                                         chr(10) ORDER BY pos), '') AS clean_text
              FROM flagged GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(a.n_lines, 0) AS BIGINT) AS n_lines,
                   CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
                   coalesce(a.clean_text, '') AS clean_text
            FROM documents d LEFT JOIN agg a USING (doc_id)""",
        "embedding_topk": f"""
            SELECT vec_id AS id,
                   round(list_cosine_similarity(embedding::DOUBLE[], {_QUERY_VEC_SQL}), 3) AS score
            FROM embeddings
            ORDER BY score DESC, id LIMIT 20""",
        "embedding_dup_pairs": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 3) AS cosine
            FROM embeddings a
            JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 3) >= 0.4""",
        "language_id": f"""
            SELECT doc_id AS id,
                   CASE WHEN {best} = 0 THEN 'und'
                        WHEN ({lang_hits['de']}) = {best} THEN 'de'
                        WHEN ({lang_hits['en']}) = {best} THEN 'en'
                        WHEN ({lang_hits['es']}) = {best} THEN 'es'
                        ELSE 'fr' END AS predicted_lang,
                   {best} AS lang_score
            FROM documents""",
        "token_stats": """
            SELECT doc_id AS id,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
                   CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                        x -> length(x) > 0)) AS BIGINT) AS n_words
            FROM documents""",
        "quality_scores": f"""
            WITH base AS (
              SELECT doc_id,
                     length(text)::DOUBLE AS n_chars,
                     (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE AS n_punct,
                     ({_hits_sql(en_stop)}) AS stop_hits,
                     list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                 x -> length(x) > 0) AS toks
              FROM documents
            ), derived AS (
              SELECT doc_id,
                     round(CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0 END, 4) AS punct_ratio,
                     CAST(stop_hits AS INT) AS stopword_hits,
                     round(CASE WHEN len(toks) > 0
                           THEN list_aggregate(list_transform(toks, x -> length(x)), 'sum')::DOUBLE / len(toks)
                           ELSE 0 END, 4) AS mean_word_len
              FROM base
            )
            SELECT doc_id AS id, punct_ratio, stopword_hits, mean_word_len,
                   round(least(1.0,
                        (stopword_hits::DOUBLE / 10.0) * 0.5
                        + (CASE WHEN mean_word_len >= 3 AND mean_word_len <= 8 THEN 0.3 ELSE 0 END)
                        + (CASE WHEN punct_ratio < 0.1 THEN 0.2 ELSE 0 END)), 4) AS quality
            FROM derived""",
        "doc_fingerprints": f"""
            SELECT doc_id AS id, md5({_NORM_TEXT_SQL}) AS fingerprint
            FROM documents""",
        "multimodal_features": """
            SELECT doc_id AS asset_id,
                   CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                        WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   md5(text) AS checksum
            FROM documents""",
        "ann_topk": _ann_topk_sql(),
        "ivf_topk": _ivf_topk_sql(),
        "embedding_clusters": _embedding_clusters_sql(),
        "cluster_sample": f"""
            WITH ec AS ({_embedding_clusters_sql()}),
            r AS (
              SELECT id, cid, sq_dist,
                     CAST(row_number() OVER (
                       PARTITION BY cid ORDER BY sq_dist, id) AS INT) AS rank
              FROM ec
            )
            SELECT id, cid, sq_dist, rank FROM r WHERE rank <= 5""",
        "pq_topk": _pq_topk_sql(),
        "semantic_dup_pairs": _semantic_dup_pairs_sql(0.3),
        "frame_sampling": _frame_sampling_sql(),
        "sample_deterministic": f"""
            SELECT doc_id AS id FROM documents
            WHERE ({_md5_hex_int_sql("CAST(doc_id AS VARCHAR)", 8)}) / 4294967296.0 < 0.25""",
        "cap_per_source": """
            SELECT doc_id AS id, source, rk FROM (
              SELECT doc_id, source,
                     row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rk
              FROM documents)
            WHERE rk <= 40""",
        "pack_sequences": """
            WITH t AS (
              SELECT doc_id AS id, source,
                     CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens
              FROM documents)
            SELECT id, source, n_tokens,
                   CAST(floor(coalesce(sum(n_tokens) OVER (
                        PARTITION BY source ORDER BY id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512.0) AS BIGINT) AS pack_id
            FROM t""",
        "assign_shards": """
            WITH t AS (
              SELECT doc_id AS id,
                     CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens
              FROM documents)
            SELECT id, n_tokens,
                   CAST(coalesce(sum(n_tokens) OVER (
                        ORDER BY id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        // 2048 AS BIGINT) AS shard_id
            FROM t""",
        "decontaminate": f"""
            WITH cg AS (
              SELECT DISTINCT doc_id, s FROM (
                SELECT doc_id, unnest(list_transform(
                    range(0, greatest(len(toks) - 4, 0) + 1),
                    i -> array_to_string(toks[i+1:i+4], ' '))) AS s
                FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
                      WHERE doc_id % 97 <> 0))
              WHERE length(s) > 0
            ), bg AS (
              SELECT DISTINCT s FROM (
                SELECT unnest(list_transform(
                    range(0, greatest(len(toks) - 4, 0) + 1),
                    i -> array_to_string(toks[i+1:i+4], ' '))) AS s
                FROM (SELECT {_TOKS_SQL} AS toks FROM documents
                      WHERE doc_id % 97 = 0))
              WHERE length(s) > 0
            )
            SELECT DISTINCT doc_id AS id FROM cg WHERE s IN (SELECT s FROM bg)""",
        "contamination_spans": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS_SQL} AS t FROM documents
            ), cg AS (
              SELECT doc_id, i AS pos,
                     md5(array_to_string(t[i+1:i+4], ' ')) AS gram_key
              FROM toks, UNNEST(generate_series(0, len(t) - 4)) AS u(i)
              WHERE len(t) >= 4 AND doc_id % 97 <> 0
            ), bg AS (
              SELECT DISTINCT md5(array_to_string(t[i+1:i+4], ' ')) AS gram_key
              FROM toks, UNNEST(generate_series(0, len(t) - 4)) AS u(i)
              WHERE len(t) >= 4 AND doc_id % 97 = 0
            ), hits AS (
              SELECT doc_id, pos FROM cg
              WHERE gram_key IN (SELECT gram_key FROM bg)
            ), marked AS (
              SELECT doc_id, pos,
                     CASE WHEN pos > coalesce(MAX(pos + 4) OVER (
                            PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                          THEN 1 ELSE 0 END AS newi
              FROM hits
            ), isl AS (
              SELECT doc_id, pos,
                     SUM(newi) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
              FROM marked
            )
            SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
                   CAST(MAX(pos) + 4 AS BIGINT) AS span_end,
                   CAST(MAX(pos) + 4 - MIN(pos) AS BIGINT) AS span_tokens
            FROM isl GROUP BY doc_id, isl""",
        "dsir_select": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS_SQL} AS t FROM documents
            ), grams AS (
              SELECT doc_id, doc_id % 10 = 0 AS is_target,
                     CAST(({_md5_hex_int_sql("gram", 8)}) % 512 AS INT) AS bucket
              FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(t)),
                              i -> t[i] || ' ' || t[i+1])) AS gram
                FROM toks)
              WHERE length(gram) > 0
            ), tc AS (
              SELECT bucket, count(*) AS tc FROM grams WHERE is_target GROUP BY bucket
            ), rc AS (
              SELECT bucket, count(*) AS rc FROM grams WHERE NOT is_target GROUP BY bucket
            ), tot AS (
              SELECT (SELECT count(*) FROM grams WHERE is_target) AS T,
                     (SELECT count(*) FROM grams WHERE NOT is_target) AS R
            ), lr AS (
              SELECT coalesce(tc.bucket, rc.bucket) AS bucket,
                     (ln(coalesce(tc, 0)::DOUBLE + 1.0) - ln(T::DOUBLE + 512.0))
                   - (ln(coalesce(rc, 0)::DOUBLE + 1.0) - ln(R::DOUBLE + 512.0)) AS lr
              FROM tc FULL OUTER JOIN rc ON tc.bucket = rc.bucket CROSS JOIN tot
            ), gdoc AS (
              SELECT doc_id, bucket, count(*) AS n
              FROM grams WHERE NOT is_target GROUP BY doc_id, bucket
            ), logw AS (
              SELECT g.doc_id, sum(g.n * l.lr) AS logw
              FROM gdoc g JOIN lr l USING (bucket)
              GROUP BY g.doc_id
            )
            SELECT doc_id AS id,
                   round(logw - ln(-ln(
                     (({_md5_hex_int_sql("CAST(doc_id AS VARCHAR)", 8)}) + 0.5)
                       / 4294967296.0)), 3) AS dsir_score
            FROM logw
            ORDER BY dsir_score DESC, id LIMIT 100""",
        "grouped_split": f"""
            SELECT doc_id AS id, source AS "group",
                   CASE WHEN ({_md5_hex_int_sql("'split:' || source", 8)}) < {int(0.9 * (1 << 32))} THEN 'train'
                        WHEN ({_md5_hex_int_sql("'split:' || source", 8)}) < {int(0.95 * (1 << 32))} THEN 'val'
                        ELSE 'test' END AS split
            FROM documents""",
        "temperature_mix": f"""
            WITH d AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0 THEN source ELSE 'web' END AS source
              FROM documents
            ), n AS (
              SELECT source, count(*)::DOUBLE AS n FROM d GROUP BY source
            ), z AS (
              SELECT sum(power(n, 0.5)) AS z FROM n
            ), p AS (
              SELECT source,
                     least(1.0, 150.0 * power(n, 0.5) / (SELECT z FROM z) / n) AS p
              FROM n
            )
            SELECT d.doc_id AS id, d.source AS source
            FROM d JOIN p USING (source)
            WHERE ({_md5_hex_int_sql("CAST(d.doc_id AS VARCHAR)", 8)}) / 4294967296.0 < p.p""",
        "gopher_rules": """
            WITH base AS (
              SELECT doc_id,
                     list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                                 x -> length(x) > 0) AS toks,
                     list_filter(string_split(text, chr(10)), x -> length(trim(x)) > 0) AS lines,
                     (length(text) - length(replace(text, '#', ''))) AS n_hash,
                     CAST(floor((length(text) - length(replace(text, '...', ''))) / 3.0) AS BIGINT) AS n_dots,
                     (length(text) - length(replace(text, '…', ''))) AS n_uni
              FROM documents
            ), derived AS (
              SELECT doc_id,
                     CAST(len(toks) AS BIGINT) AS n_words,
                     round(CASE WHEN len(toks) > 0
                           THEN list_aggregate(list_transform(toks, x -> length(x)), 'sum')::DOUBLE / len(toks)
                           ELSE 0 END, 4) AS mean_word_len,
                     round(CASE WHEN len(toks) > 0
                           THEN (n_hash + n_dots + n_uni)::DOUBLE / len(toks)
                           ELSE 0 END, 4) AS symbol_ratio,
                     round(CASE WHEN len(lines) > 0
                           THEN len(list_filter(lines, x -> starts_with(trim(x), '-')
                                OR starts_with(trim(x), '*')
                                OR starts_with(trim(x), '•')))::DOUBLE / len(lines)
                           ELSE 0 END, 4) AS bullet_frac,
                     round(CASE WHEN len(lines) > 0
                           THEN len(list_filter(lines, x -> ends_with(trim(x), '...')
                                OR ends_with(trim(x), '…')))::DOUBLE / len(lines)
                           ELSE 0 END, 4) AS ellipsis_frac,
                     round(CASE WHEN len(toks) > 0
                           THEN len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))::DOUBLE / len(toks)
                           ELSE 0 END, 4) AS alpha_frac,
                     CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
                                          w -> list_contains(toks, w))) AS INT) AS stop_hits
              FROM base
            )
            SELECT doc_id AS id, n_words, mean_word_len, symbol_ratio, bullet_frac,
                   ellipsis_frac, alpha_frac, stop_hits,
                   (n_words >= 50 AND n_words <= 100000
                    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                    AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
                    AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8
                    AND stop_hits >= 1) AS gopher_pass
            FROM derived""",
        "c4_rules": _c4_rules_sql(),
        "hash_classifier": _hash_classifier_sql(),
        "quality_pipeline": _quality_pipeline_sql(),
        "chunk_documents": _chunk_documents_sql(),
        "bm25_topk": _bm25_sql(),
        "bm25_indexed": _bm25_sql(),
        "bm25_extended": _bm25_sql(),
        "bm25_retracted": _bm25_sql(corpus_where="WHERE doc_id % 5 <> 0"),
        "hybrid_rrf": _hybrid_rrf_sql(),
        "winnow_fingerprints": _winnow_fingerprints_sql(),
        "bpe_merges": _bpe_merges_sql(),
        "bpe_encode": _bpe_encode_sql(),
        "anchor_texts": _anchor_texts_sql(),
        "text_normalize": _text_normalize_sql(),
        "grouped_percentiles": _grouped_percentiles_sql(),
        "stratified_split": _stratified_split_sql(),
        "phash_near_dups": _phash_near_dups_sql(),
        "unimax_allocation": _unimax_allocation_sql(),
        "unimax_mix": _unimax_mix_sql(),
        "novelty_scores": _novelty_scores_sql(),
        "host_boilerplate": f"""
            WITH toks AS (SELECT doc_id, source, {_TOKS_SQL} AS t FROM documents),
            gh AS (SELECT DISTINCT doc_id, source,
                          md5(array_to_string(t[i+1:i+3], ' ')) AS gram_key
                   FROM toks, UNNEST(generate_series(0, len(t) - 3)) AS u(i)
                   WHERE len(t) >= 3),
            nd AS (SELECT source, count(DISTINCT doc_id) AS n_docs
                   FROM documents GROUP BY source),
            bo AS (SELECT g.source, g.gram_key
                   FROM (SELECT source, gram_key, count(*) AS dfc
                         FROM gh GROUP BY source, gram_key) g
                   JOIN nd ON nd.source = g.source
                   WHERE nd.n_docs >= {BOILER_MIN_DOCS}
                     AND g.dfc * 1000000 >= {BOILER_PPM} * nd.n_docs)
            SELECT gh.doc_id, gh.source AS host,
                   CAST(count(*) AS BIGINT) AS n_grams,
                   CAST(sum(CASE WHEN bo.gram_key IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_boiler,
                   CAST((sum(CASE WHEN bo.gram_key IS NOT NULL THEN 1 ELSE 0 END)
                         * 1000000) // count(*) AS BIGINT) AS boiler_ppm
            FROM gh LEFT JOIN bo
              ON bo.source = gh.source AND bo.gram_key = gh.gram_key
            GROUP BY gh.doc_id, gh.source""",
        "source_overlap": _source_overlap_sql(),
        "quantile_filter": _quantile_filter_sql(),
        "training_pipeline": _training_pipeline_sql(),
        "personalized_pagerank": _ppr_sql(),
        "warc_roundtrip": _WARC_ORACLE_SQL,
        "warc_export": _WARC_ORACLE_SQL,
        "phrase_search": _phrase_search_sql(),
        "vocab_coverage": _vocab_coverage_sql(),
        "tokenize_ids": _tokenize_ids_sql(),
        "pagerank": _pagerank_sql(),
        "lpa_communities": _lpa_sql(),
        "hits": _hits_graph_sql(),
        "triangle_counts": _triangle_counts_sql(),
        "hop_distances": _hop_distances_sql(),
        "bloom_membership": _bloom_membership_sql(),
        "tfidf_keywords": _tfidf_keywords_sql(),
        "knn_graph": _knn_graph_sql(),
        "hard_negatives": _hard_negatives_sql(),
        "url_templates": _url_templates_sql(),
        "blocklist_tags": _blocklist_tags_sql(),
        "semantic_decontam": _semantic_decontam_sql(),
        "crawl_budget": f"""
            WITH cr AS MATERIALIZED ({_change_rates_sql()}),
            ranked AS MATERIALIZED (
              SELECT url, change_ppm, n_obs, suggested_interval_ms,
                     CAST({_BUDGET_WINDOW_MS} AS BIGINT)
                       // greatest(suggested_interval_ms, 1)
                       AS cost_fetches,
                     COALESCE(sum(CAST({_BUDGET_WINDOW_MS} AS BIGINT)
                       // greatest(suggested_interval_ms, 1)) OVER (
                         ORDER BY change_ppm DESC, n_obs DESC, url ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) AS cum_before
              FROM cr)
            SELECT url, change_ppm, n_obs, cost_fetches,
                   suggested_interval_ms,
                   CAST(CASE WHEN cum_before + cost_fetches
                          <= {_BUDGET_FETCHES}
                        THEN suggested_interval_ms
                        ELSE {30 * 86_400_000} END AS BIGINT)
                     AS granted_interval_ms,
                   CAST(CASE WHEN cum_before + cost_fetches
                          <= {_BUDGET_FETCHES}
                        THEN 0 ELSE 1 END AS BIGINT) AS demoted
            FROM ranked
        """,
        "quality_sweep": f"""
            WITH tk AS MATERIALIZED (
              SELECT len(list_filter(string_split_regex(
                       {_NORM_TEXT_SQL}, ' '), s0 -> len(s0) > 0)) AS n
              FROM documents)
            SELECT CAST(s.step AS BIGINT) AS step,
                   CAST(s.t AS BIGINT) AS threshold,
                   CAST((SELECT count(*) FROM tk WHERE n >= s.t)
                        AS BIGINT) AS docs,
                   CAST(COALESCE((SELECT sum(n) FROM tk WHERE n >= s.t),
                        0) AS BIGINT) AS weight,
                   CAST(((SELECT count(*) FROM tk WHERE n >= s.t)
                         * 1000000) // (SELECT count(*) FROM tk)
                        AS BIGINT) AS docs_ppm,
                   CAST(((SELECT COALESCE(sum(n), 0) FROM tk
                          WHERE n >= s.t) * 1000000)
                        // (SELECT sum(n) FROM tk)
                        AS BIGINT) AS weight_ppm
            FROM (VALUES {", ".join(
                f"({i + 1}, {t})" for i, t in enumerate(_SWEEP_THS)
            )}) AS s(step, t)
        """,
        "mime_audit": """
            WITH src AS (
              SELECT o_orderkey AS k,
                hex(from_hex(
                  CASE CAST(o_orderkey % 8 AS INT)
                    WHEN 0 THEN '89504E470D0A1A0A' || flr
                    WHEN 1 THEN 'FFD8FFE0' || flr
                    WHEN 2 THEN '255044462D' || flr
                    WHEN 3 THEN '474946383961' || flr
                    WHEN 4 THEN '52494646'
                      || lpad(hex(o_orderkey), 8, '0') || '57415645'
                    WHEN 5 THEN lpad(hex(o_orderkey), 8, '0')
                      || '66747970' || flr
                    WHEN 6 THEN '3C21444F43545950' || flr
                    ELSE flr END)) AS hx,
                CASE CAST(o_orderkey % 4 AS INT)
                  WHEN 0 THEN corr
                  WHEN 1 THEN upper(corr) || '; charset=utf-8'
                  WHEN 2 THEN CASE WHEN corr = 'image/jpeg'
                    THEN 'image/jpg' ELSE corr END
                  ELSE 'application/x-wrong' END AS declared
              FROM (SELECT o_orderkey,
                      lpad(hex(o_orderkey), 16, '0') AS flr,
                      CASE CAST(o_orderkey % 8 AS INT)
                        WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
                        WHEN 2 THEN 'application/pdf'
                        WHEN 3 THEN 'image/gif' WHEN 4 THEN 'audio/wav'
                        WHEN 5 THEN 'video/mp4' WHEN 6 THEN 'text/html'
                        ELSE 'application/octet-stream' END AS corr
                    FROM orders)),
            sn AS (
              SELECT k, declared,
                CASE
                  WHEN starts_with(hx, '255044462D')
                    THEN 'application/pdf'
                  WHEN starts_with(hx, '89504E470D0A1A0A')
                    THEN 'image/png'
                  WHEN starts_with(hx, 'FFD8FF') THEN 'image/jpeg'
                  WHEN starts_with(hx, '474946383761')
                    OR starts_with(hx, '474946383961') THEN 'image/gif'
                  WHEN starts_with(hx, '1F8B') THEN 'application/gzip'
                  WHEN starts_with(hx, '504B0304')
                    THEN 'application/zip'
                  WHEN starts_with(hx, '494433') THEN 'audio/mpeg'
                  WHEN starts_with(hx, 'FFFB') THEN 'audio/mpeg'
                  WHEN starts_with(hx, '4F676753')
                    THEN 'application/ogg'
                  WHEN starts_with(hx, '3C21444F43545950')
                    THEN 'text/html'
                  WHEN starts_with(hx, '3C68746D6C') THEN 'text/html'
                  WHEN starts_with(hx, '3C48544D4C') THEN 'text/html'
                  WHEN starts_with(hx, '3C3F786D6C')
                    THEN 'application/xml'
                  WHEN starts_with(hx, '52494646')
                    AND substring(hx, 17, 8) = '57415645'
                    THEN 'audio/wav'
                  WHEN starts_with(hx, '52494646')
                    AND substring(hx, 17, 8) = '57454250'
                    THEN 'image/webp'
                  WHEN starts_with(hx, '52494646')
                    AND substring(hx, 17, 8) = '41564920'
                    THEN 'video/x-msvideo'
                  WHEN substring(hx, 9, 8) = '66747970'
                    THEN 'video/mp4'
                  ELSE 'application/octet-stream' END AS sniffed_mime
              FROM src)
            SELECT k, sniffed_mime,
              CASE WHEN lower(trim(split_part(declared, ';', 1)))
                     = 'image/jpg' THEN 'image/jpeg'
                   ELSE lower(trim(split_part(declared, ';', 1)))
              END AS declared_norm,
              (CASE WHEN lower(trim(split_part(declared, ';', 1)))
                      = 'image/jpg' THEN 'image/jpeg'
                    ELSE lower(trim(split_part(declared, ';', 1)))
               END = sniffed_mime) AS mime_matches
            FROM sn
        """,
        "clustering_report": _CLUSTERING_Z_SQL + """
            -- bare `file` after a comma trips DuckDB's parser
            -- (COPY-file syntax); qualification disambiguates
            SELECT rep.tbl, rep.file, rep.n_rows, rep.vmin, rep.vmax,
                   rep.overlaps
            FROM rep
        """,
        "clustering_stats": _CLUSTERING_Z_SQL + """
            , dpt AS MATERIALIZED (
              SELECT r.tbl,
                     (SELECT count(*) FROM z z2
                      WHERE z2.tbl = r.tbl AND z2.vmin <= r.vmin
                        AND z2.vmax >= r.vmin) AS c
              FROM z r),
            depth AS (
              SELECT tbl, CAST(max(c) AS BIGINT) AS max_depth
              FROM dpt GROUP BY tbl),
            agg AS (
              -- OVERLAPS is an SQL keyword (datetime range
              -- predicate): the column must be quoted in expressions
              SELECT tbl, CAST(count(*) AS BIGINT) AS n_files,
                     CAST(sum(n_rows) AS BIGINT) AS total_rows,
                     CAST(max("overlaps") AS BIGINT) AS max_overlaps,
                     CAST((sum("overlaps") * 1000000) // count(*)
                          AS BIGINT) AS avg_overlaps_ppm
              FROM rep GROUP BY tbl)
            SELECT a.tbl, a.n_files, a.total_rows, d.max_depth,
                   a.max_overlaps, a.avg_overlaps_ppm
            FROM agg a JOIN depth d USING (tbl)
        """,
        "funnel_user_levels": _funnel_ctes() + """
            SELECT u AS user_id, level, entered_ms FROM lv
        """,
        "funnel_steps": _funnel_ctes() + """
            , u1 AS (SELECT count(*) AS n FROM lv WHERE level >= 1)
            SELECT CAST(s.step AS BIGINT) AS step, s.step_name,
                   CAST((SELECT count(*) FROM lv
                         WHERE level >= s.step) AS BIGINT) AS users,
                   CAST(CASE WHEN (SELECT n FROM u1) > 0
                        THEN ((SELECT count(*) FROM lv
                               WHERE level >= s.step) * 1000000)
                             // (SELECT n FROM u1)
                        ELSE 0 END AS BIGINT) AS conversion_ppm
            FROM (VALUES (1, 'view'), (2, 'click'),
                         (3, 'signup'), (4, 'purchase'))
                 AS s(step, step_name)
        """,
        "feed_entries": """
            WITH src AS (
              SELECT o_orderkey AS k, o_orderkey % 8 AS h FROM orders),
            f AS (
              SELECT k,
                CASE WHEN k % 2 = 0 THEN 'rss' ELSE 'atom' END AS kind,
                'http://h' || CAST(h AS VARCHAR)
                  || '.example.com' AS hosturl,
                CASE WHEN k % 19 = 0 THEN ''
                     WHEN k % 11 = 0 THEN
                       'http://other.example.net/post/' || CAST(k AS VARCHAR)
                     ELSE 'http://h' || CAST(h AS VARCHAR)
                       || '.example.com/post/' || CAST(k AS VARCHAR)
                END AS link
              FROM src)
            SELECT
              hosturl || CASE WHEN kind = 'rss' THEN '/feed.xml'
                              ELSE '/atom.xml' END AS feed_url,
              kind, link,
              (k % 11 <> 0) AS same_host,
              CAST(CASE WHEN k % 9 = 0 THEN -1
                   ELSE (make_date(2024, CAST(1 + k % 12 AS INT),
                                   CAST(1 + k % 28 AS INT))
                         - DATE '1970-01-01') END AS BIGINT) AS pub_days,
              CASE WHEN k % 3 = 0 THEN
                     CASE WHEN kind = 'rss' THEN 'g-' || CAST(k AS VARCHAR)
                          ELSE 'urn:o-' || CAST(k AS VARCHAR) END
                   ELSE link END AS entry_id
            FROM f WHERE link <> ''
        """,
        "cdx_captures": _CDX_FIELDS_SQL + """
            SELECT
              CASE WHEN _error = '' THEN surt END AS surt,
              CAST(COALESCE(CASE WHEN _error = '' THEN ts_s END, -1)
                   AS BIGINT) AS ts_s,
              CASE WHEN _error = '' THEN url END AS url,
              CASE WHEN _error = '' THEN mime END AS mime,
              CAST(COALESCE(CASE WHEN _error = '' THEN status END, -1)
                   AS BIGINT) AS status,
              CASE WHEN _error = '' THEN digest END AS digest,
              CAST(COALESCE(CASE WHEN _error = '' THEN length_b END, -1)
                   AS BIGINT) AS length_b,
              CAST(COALESCE(CASE WHEN _error = '' THEN offset_b END, -1)
                   AS BIGINT) AS offset_b,
              CASE WHEN _error = '' THEN filename END AS filename,
              CAST(COALESCE(CASE WHEN _error = '' THEN
                     CASE WHEN surt_matches THEN 1 ELSE 0 END
                   END, -1) AS BIGINT) AS surt_matches,
              _error
            FROM f
        """,
        "cdx_latest_captures": _CDX_FIELDS_SQL + """
            , r AS (
              SELECT *, row_number() OVER (
                PARTITION BY url ORDER BY ts_s DESC) AS rn
              FROM f WHERE _error = '')
            SELECT url, surt, ts_s, mime, status, digest,
                   length_b, offset_b, filename, surt_matches
            FROM r WHERE rn = 1
        """,
        "sitemap_entries": r"""
            WITH src AS (
              SELECT 'http://h' || CAST(o_custkey % 8 AS VARCHAR)
                       || '.example.com' AS host,
                     o_orderkey AS k
              FROM orders),
            entries AS (
              SELECT host || '/sitemap.xml' AS sitemap_url,
                '<url><loc>'
                || CASE WHEN k % 11 = 0 THEN 'http://other.example.net'
                        ELSE host END
                || '/p/' || CAST(k AS VARCHAR)
                || CASE WHEN k % 7 = 0 THEN '?a=1&amp;b=2' ELSE '' END
                || '</loc>'
                || CASE WHEN k % 3 = 0 THEN
                     '<lastmod>2024-'
                     || lpad(CAST(1 + k % 12 AS VARCHAR), 2, '0')
                     || '-' || lpad(CAST(1 + k % 28 AS VARCHAR), 2, '0')
                     || CASE WHEN k % 2 = 0 THEN 'T08:30:00Z' ELSE '' END
                     || '</lastmod>'
                   WHEN k % 3 = 1 THEN '<lastmod>unknown</lastmod>'
                   ELSE '' END
                || CASE WHEN k % 4 = 0 THEN
                     '<changefreq>'
                     || CASE WHEN k % 8 = 0 THEN 'DAILY' ELSE 'weekly' END
                     || '</changefreq>' ELSE '' END
                || CASE WHEN k % 5 = 0 THEN
                     '<priority>0.' || CAST((k // 5) % 10 AS VARCHAR)
                     || '</priority>' ELSE '' END
                || '</url>' AS entry
              FROM src),
            docs AS (
              SELECT sitemap_url,
                     '<urlset>' || string_agg(entry, '') || '</urlset>' AS body
              FROM entries GROUP BY sitemap_url
              UNION ALL
              SELECT 'http://master.example.com/sitemap_index.xml',
                     '<sitemapindex>' || string_agg(e, '') || '</sitemapindex>'
              FROM (SELECT DISTINCT '<sitemap><loc>http://h'
                      || CAST(o_custkey % 8 AS VARCHAR)
                      || '.example.com/sitemap.xml</loc>'
                      || '<lastmod>2024-01-15</lastmod></sitemap>' AS e
                    FROM orders)),
            blocks AS (
              SELECT sitemap_url, 'url' AS kind,
                     unnest(regexp_extract_all(body,
                       '(?s)<url>(.*?)</url>', 1)) AS block
              FROM docs
              UNION ALL
              SELECT sitemap_url, 'sitemap',
                     unnest(regexp_extract_all(body,
                       '(?s)<sitemap>(.*?)</sitemap>', 1))
              FROM docs),
            fields AS (
              SELECT sitemap_url, kind,
                trim(replace(replace(replace(replace(replace(
                  regexp_extract(block, '(?s)<loc>\s*(.*?)\s*</loc>', 1),
                  '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                  '&apos;', ''''), '&amp;', '&')) AS loc,
                regexp_extract(block,
                  '(?s)<lastmod>\s*(.*?)\s*</lastmod>', 1) AS lm,
                lower(regexp_extract(block,
                  '(?s)<changefreq>\s*(.*?)\s*</changefreq>', 1))
                  AS changefreq,
                regexp_extract(block,
                  '(?s)<priority>\s*(.*?)\s*</priority>', 1) AS pr
              FROM blocks)
            SELECT sitemap_url, kind, loc,
              lower(regexp_extract(loc,
                '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1))
                = lower(regexp_extract(sitemap_url,
                    '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS same_host,
              CAST(COALESCE(datediff('day', DATE '1970-01-01',
                    try_cast(regexp_extract(lm,
                      '^(\d{4}-\d{2}-\d{2})', 1) AS DATE)), -1)
                AS BIGINT) AS lastmod_days,
              changefreq,
              CAST(COALESCE(CAST(try_cast(pr AS DECIMAL(4,3)) * 1000
                    AS BIGINT), 500) AS BIGINT) AS priority_milli
            FROM fields
            WHERE loc <> '' AND length(loc) <= 2048""",
        "politeness_audit": f"""
            WITH iv AS (
              SELECT user_id AS dom,
                     epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
                         PARTITION BY user_id ORDER BY epoch_ms(ts)) AS iv
              FROM events
            )
            SELECT dom,
                   CAST(count(*) + 1 AS BIGINT) AS n_fetches,
                   CAST(min(iv) AS BIGINT) AS min_interval_ms,
                   CAST(sum(iv) // count(*) AS BIGINT) AS avg_interval_ms,
                   CAST(sum(CASE WHEN iv < {POLITE_DELAY_MS} THEN 1 ELSE 0 END)
                        AS BIGINT) AS violations
            FROM iv WHERE iv IS NOT NULL
            GROUP BY dom""",
        "corpus_report": _corpus_report_sql(),
        "change_rates": _change_rates_sql(),
        "cdc_chunks": _cdc_chunks_sql(),
        "key_skew": _key_skew_sql(),
        "salted_join": _salted_join_sql(),
        "bloom_join": """
            SELECT o.o_orderkey, o.o_custkey, c.c_nationkey
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
            WHERE c.c_acctbal < 0""",
        "weighted_sample": _weighted_sample_sql(),
        "zone_map_prune": _zone_map_prune_sql(),
        "bloom_file_prune": _bloom_file_prune_sql(),
        "readability": _readability_sql(),
        "entropy_scores": """
            WITH ch AS (
              SELECT doc_id, substr(text, i, 1) AS ch
              FROM (SELECT doc_id, text,
                           unnest(range(1, length(text) + 1)) AS i
                    FROM documents)
            ),
            cc AS (SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
                   FROM ch GROUP BY doc_id, ch),
            ce AS (SELECT doc_id,
                          CAST(sum(c) AS BIGINT) AS n_chars,
                          CAST((CAST(sum(c) AS BIGINT)
                                * CAST(floor(ln(CAST(sum(c) AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
                                - CAST(sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT))
                               // CAST(sum(c) AS BIGINT) AS BIGINT) AS char_entropy_micro
                   FROM cc GROUP BY doc_id),
            tk AS (SELECT doc_id, t
                   FROM (SELECT doc_id,
                                unnest(regexp_split_to_array(text, '\\s+')) AS t
                         FROM documents)
                   WHERE t <> ''),
            tc AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS c
                   FROM tk GROUP BY doc_id, t),
            te AS (SELECT doc_id,
                          CAST(sum(c) AS BIGINT) AS n_tokens,
                          CAST(count(*) AS BIGINT) AS distinct_tokens,
                          CAST((CAST(sum(c) AS BIGINT)
                                * CAST(floor(ln(CAST(sum(c) AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
                                - CAST(sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT))
                               // CAST(sum(c) AS BIGINT) AS BIGINT) AS token_entropy_micro
                   FROM tc GROUP BY doc_id)
            SELECT d.doc_id,
                   COALESCE(ce.n_chars, 0) AS n_chars,
                   COALESCE(ce.char_entropy_micro, 0) AS char_entropy_micro,
                   COALESCE(te.n_tokens, 0) AS n_tokens,
                   COALESCE(te.distinct_tokens, 0) AS distinct_tokens,
                   COALESCE(te.token_entropy_micro, 0) AS token_entropy_micro
            FROM documents d
            LEFT JOIN ce ON ce.doc_id = d.doc_id
            LEFT JOIN te ON te.doc_id = d.doc_id""",
        "embedding_communities": _embedding_communities_sql(),
        "kcore": _kcore_sql(),
        "host_graph": _host_graph_sql(),
        "resolve_redirects": f"""
            WITH RECURSIVE redges AS (
              SELECT CAST(o_orderkey AS BIGINT) AS src,
                     CAST(o_orderkey - 1 AS BIGINT) AS dst
              FROM (SELECT DISTINCT o_orderkey FROM orders)
              WHERE o_orderkey % 8 <> 0
              UNION ALL
              SELECT * FROM (VALUES (CAST(-1 AS BIGINT), CAST(-2 AS BIGINT)),
                                    (CAST(-2 AS BIGINT), CAST(-3 AS BIGINT)),
                                    (CAST(-3 AS BIGINT), CAST(-1 AS BIGINT))) v(src, dst)
            ), walk AS (
              SELECT src, dst AS cur, CAST(1 AS BIGINT) AS hops FROM redges
              UNION ALL
              SELECT w.src, e.dst, w.hops + 1
              FROM walk w JOIN redges e ON e.src = w.cur
              WHERE w.hops <= {REDIR_MAX_HOPS}
            ), terminal AS (
              SELECT w.src, w.cur, w.hops FROM walk w
              WHERE w.cur NOT IN (SELECT src FROM redges)
            )
            SELECT e.src AS url,
                   CAST(coalesce(CASE WHEN t.hops <= {REDIR_MAX_HOPS} THEN t.cur END, -1) AS BIGINT) AS final_url,
                   CAST(coalesce(CASE WHEN t.hops <= {REDIR_MAX_HOPS} THEN t.hops END, 0) AS BIGINT) AS n_hops,
                   coalesce(t.hops <= {REDIR_MAX_HOPS}, FALSE) AS resolved
            FROM redges e LEFT JOIN terminal t ON t.src = e.src""",
        "pmi_collocations": _pmi_collocations_sql(),
        "zorder_events": _zorder_events_sql(),
        "log_hist_quantiles": _log_hist_quantiles_sql(),
        "kmv_source_overlap": _kmv_source_overlap_sql(),
        "heavy_hitters": _heavy_hitters_sql(),
        "markov_transitions": _markov_transitions_sql(),
        "bitext_margin": _bitext_margin_sql(),
        "within_doc_dedup": _within_doc_dedup_sql(),
        "embedding_outliers": _embedding_outliers_sql(),
        "retention_cohorts": _retention_cohorts_sql(),
        "mirror_sources": _mirror_sources_sql(),
        "bm25_pruned": _bm25_sql(),
        "farthest_points": _farthest_points_sql(),
        "modularity": _modularity_sql(),
        "matched_sample": _matched_sample_sql(),
        "term_dispersion": _term_dispersion_sql(),
        "ivf_recall": _ivf_recall_sql(),
        "vocab_growth": f"""
        WITH docs2 AS (
          SELECT doc_id,
                 text || ' uq' || CAST(doc_id // 50 AS VARCHAR) AS text
          FROM documents),
        toks AS (
          SELECT doc_id, unnest({_FILTERED_TOKS_SQL}) AS term
          FROM docs2),
        firsts AS (
          SELECT term, min(doc_id) AS first_id FROM toks GROUP BY 1),
        counts AS (
          SELECT CAST(first_id * 10
                      // ((SELECT max(doc_id) FROM docs2) + 1)
                   AS BIGINT) AS bucket,
                 CAST(count(*) AS BIGINT) AS new_terms
          FROM firsts GROUP BY 1)
        SELECT bucket, new_terms,
               CAST(sum(new_terms) OVER (ORDER BY bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_terms
        FROM counts""",
        "clustering_coeffs": f"""
        WITH tc AS ({_triangle_counts_sql()})
        SELECT node, degree, triangles,
               CASE WHEN degree < 2 THEN CAST(0 AS BIGINT)
                    ELSE CAST(CAST(triangles AS HUGEINT) * 2000000
                              // (CAST(degree AS HUGEINT) * (degree - 1)) AS BIGINT) END
                 AS cc_ppm
        FROM tc""",
        "transitivity": f"""
        WITH tc AS ({_triangle_counts_sql()}),
        cc AS (
          SELECT degree, triangles,
                 CASE WHEN degree < 2 THEN CAST(0 AS BIGINT)
                      ELSE CAST(CAST(triangles AS HUGEINT) * 2000000
                                // (CAST(degree AS HUGEINT) * (degree - 1)) AS BIGINT) END
                   AS cc_ppm
          FROM tc)
        SELECT CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(sum(triangles) AS BIGINT) AS sum_triangles,
               CAST(sum(CAST(degree AS HUGEINT) * (degree - 1) // 2)
                    AS BIGINT) AS wedges,
               CASE WHEN sum(CAST(degree AS HUGEINT) * (degree - 1) // 2) = 0
                    THEN CAST(0 AS BIGINT)
                    ELSE CAST(CAST(sum(triangles) AS HUGEINT) * 1000000
                              // sum(CAST(degree AS HUGEINT) * (degree - 1) // 2)
                              AS BIGINT) END AS transitivity_ppm,
               CASE WHEN count(*) = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(sum(cc_ppm) // count(*) AS BIGINT) END
                 AS avg_cc_ppm
        FROM cc""",
        "key_fairness": """
        WITH c AS (
          SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS x
          FROM events GROUP BY 1, 2)
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(x) AS BIGINT) AS total,
               CAST(max(x) AS BIGINT) AS max_key,
               CAST((CAST(sum(x) AS HUGEINT) * sum(x) * 1000000)
                    // (count(*) * sum(CAST(x AS HUGEINT) * x)) AS BIGINT)
                 AS jain_ppm
        FROM c GROUP BY 1""",
        "top_paths": """
        WITH s AS (
          SELECT event_type AS s0,
                 lead(event_type, 1) OVER w AS s1,
                 lead(event_type, 2) OVER w AS s2
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        c AS (
          SELECT s0 || '>' || s1 || '>' || s2 AS path,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM s WHERE s2 IS NOT NULL GROUP BY 1)
        SELECT path, cnt,
               CAST(row_number() OVER (ORDER BY cnt DESC, path) AS INT)
                 AS rank
        FROM c ORDER BY cnt DESC, path LIMIT 10""",
        "k_anonymity": """
        SELECT lang, source,
               CAST(n_chars // 50 AS BIGINT) AS chars_bucket,
               CAST(count(*) AS BIGINT) AS class_n,
               count(*) < 5 AS at_risk
        FROM documents GROUP BY 1, 2, 3""",
        "compaction_plan": _compaction_plan_sql(),
        "table_diff": _table_diff_sql(),
        "edit_dup_pairs": _edit_dup_pairs_sql(),
        "exact_percentiles": _exact_percentiles_sql(),
        # dedup_simhash: intentionally the ONE remaining no-oracle row —
        # its 64-bit signature is xxhash64 (Spark-JVM-native, not
        # available in DuckDB). The md5-token variant dedup_simhash_md5
        # IS the fully oracle-checked simhash path; pytest additionally
        # gates the xxhash64 variant's banding semantics.
    }


def _ann_topk_sql(k: int = 10, n_planes: int = 8, seed: int = 13, multiprobe: int = 2) -> str:
    """Exact SQL replica of ann_topk: the md5-derived hyperplanes and
    the multiprobe bucket set are driver-side CONSTANTS, so the oracle
    inlines them as literals and reproduces bucket assignment + the
    within-bucket brute-force top-k entirely in DuckDB."""
    from walker_spark.operators.similarity import _hyperplanes, probe_buckets

    planes = _hyperplanes(len(_QUERY_VEC), n_planes, seed)
    probes = sorted(probe_buckets(_QUERY_VEC, n_planes, seed, multiprobe))
    bucket_expr = " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], "
        f"[{', '.join(repr(x) for x in plane)}]::DOUBLE[]) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, plane in enumerate(planes)
    )
    return f"""
        WITH bucketed AS (
          SELECT vec_id, embedding, {bucket_expr} AS bucket
          FROM embeddings
        )
        SELECT vec_id AS id,
               round(list_cosine_similarity(embedding::DOUBLE[], {_QUERY_VEC_SQL}), 3) AS score
        FROM bucketed
        WHERE bucket IN ({', '.join(str(p) for p in probes)})
        ORDER BY score DESC, id LIMIT {k}"""


def _ivf_topk_sql(k: int = 10, n_centroids: int = 16, nprobe: int = 4, dim: int = 64) -> str:
    """SQL replica of ivf_topk (refine_iters=0): codebook = first
    n_centroids vectors by id; assignment = argmin squared L2 with
    cid tie-break (squares materialized then left-folded, the same op
    order as the Spark fold); probe = nprobe nearest cells to the
    query; exact cosine top-k within."""
    sq = (
        "list_aggregate(list_transform(range(1, {n}), "
        "i -> (CAST({a}[i] AS DOUBLE) - {b}[i]) * (CAST({a}[i] AS DOUBLE) - {b}[i])), 'sum')"
    )
    d_expr = sq.format(n=dim + 1, a="e.embedding", b="c.cv")
    q_expr = sq.format(n=dim + 1, a="cv", b="q")
    return f"""
        WITH c0 AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding::DOUBLE[] AS cv
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {n_centroids})
        ), d AS (
          SELECT e.vec_id, c.cid, {d_expr} AS dist
          FROM embeddings e CROSS JOIN c0 c
        ), a AS (
          SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
            FROM d)
          WHERE rn = 1
        ), qd AS (
          SELECT cid, {q_expr} AS qdist
          FROM (SELECT cid, cv, {_QUERY_VEC_SQL} AS q FROM c0)
        ), probe AS (SELECT cid FROM qd ORDER BY qdist, cid LIMIT {nprobe})
        SELECT e.vec_id AS id,
               round(list_cosine_similarity(e.embedding::DOUBLE[], {_QUERY_VEC_SQL}), 3) AS score
        FROM embeddings e JOIN a USING (vec_id)
        WHERE a.cid IN (SELECT cid FROM probe)
        ORDER BY score DESC, id LIMIT {k}"""


def _embedding_clusters_sql(n_centroids: int = 16, dim: int = 64) -> str:
    """SQL replica of embedding_clusters (refine_iters=1): initial
    codebook = first n_centroids vectors by id; initial assignment =
    argmin squared L2 (cid tie-break); Lloyd step = per-(cid,
    component) DECIMAL(28,10) sums cast to DOUBLE and divided by the
    cell count (bitwise the driver's float(Decimal)/n literals); final
    assignment against the refined centroids. Empty cells keep their
    previous centroid (coalesce)."""
    sq = (
        "list_aggregate(list_transform(range(1, {n}), "
        "i -> (CAST({a}[i] AS DOUBLE) - {b}[i]) * (CAST({a}[i] AS DOUBLE) - {b}[i])), 'sum')"
    )
    d_expr = sq.format(n=dim + 1, a="e.embedding", b="c.cv")
    return f"""
        WITH c0 AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding::DOUBLE[] AS cv
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {n_centroids})
        ), d0 AS (
          SELECT e.vec_id, c.cid, {d_expr} AS dist
          FROM embeddings e CROSS JOIN c0 c
        ), a0 AS (
          SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
            FROM d0)
          WHERE rn = 1
        ), comp AS (
          SELECT a0.cid, u.i AS pos,
                 CAST(SUM(CAST(CAST(e.embedding[u.i] AS DOUBLE) AS DECIMAL(28,10)))
                      AS DOUBLE) / COUNT(*) AS v
          FROM embeddings e JOIN a0 USING (vec_id)
               CROSS JOIN (SELECT unnest(range(1, {dim + 1})) AS i) u
          GROUP BY a0.cid, u.i
        ), c1 AS (
          SELECT c0.cid, coalesce(m.lst, c0.cv) AS cv
          FROM c0 LEFT JOIN (
            SELECT cid, list(v ORDER BY pos) AS lst FROM comp GROUP BY cid
          ) m USING (cid)
        ), d1 AS (
          SELECT e.vec_id, c.cid, {d_expr} AS dist
          FROM embeddings e CROSS JOIN c1 c
        )
        SELECT vec_id AS id, cid, round(dist, 3) AS sq_dist FROM (
          SELECT vec_id, cid, dist,
                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
          FROM d1)
        WHERE rn = 1"""


def _pq_topk_sql(k: int = 10, m: int = 4, n_codes: int = 16, dim: int = 64) -> str:
    """SQL replica of pq_topk (rerank=0): codebooks = subvectors of the
    first n_codes vectors by id; per-subquantizer assignment = argmin
    squared L2 with code tie-break; ADC = the query's per-(j, code)
    LUT (computed in SQL with the same left-fold op order the Spark
    driver uses for its literals) summed in fixed j order."""
    sub = dim // m
    sq = (
        f"list_aggregate(list_transform(range(1, {sub + 1}), "
        "i -> (CAST({a}[c.j*" + str(sub) + " + i] AS DOUBLE) - {b}[c.j*" + str(sub) + " + i])"
        " * (CAST({a}[c.j*" + str(sub) + " + i] AS DOUBLE) - {b}[c.j*" + str(sub) + " + i])), 'sum')"
    )
    d_expr = sq.format(a="e.embedding", b="c.cv")
    q_expr = sq.format(a="c.q", b="c.cv")
    code_cols = ", ".join(
        f"MAX(CASE WHEN j = {j} THEN code END) AS k{j}" for j in range(m)
    )
    lut_joins = "\n        ".join(
        f"JOIN lut l{j} ON l{j}.j = {j} AND l{j}.code = c.k{j}" for j in range(m)
    )
    adist = " + ".join(f"l{j}.qd" for j in range(m))
    return f"""
        WITH c0 AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, embedding::DOUBLE[] AS cv
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {n_codes})
        ), cb AS (
          SELECT j, code, cv FROM c0 CROSS JOIN (SELECT unnest(range(0, {m})) AS j)
        ), d AS (
          SELECT e.vec_id, c.j, c.code, {d_expr} AS dist
          FROM embeddings e CROSS JOIN cb c
        ), enc AS (
          SELECT vec_id, j, code FROM (
            SELECT vec_id, j, code,
                   row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, code) AS rn
            FROM d)
          WHERE rn = 1
        ), codes AS (
          SELECT vec_id, {code_cols}
          FROM enc GROUP BY vec_id
        ), lut AS (
          SELECT c.j, c.code, {q_expr} AS qd
          FROM (SELECT j, code, cv, {_QUERY_VEC_SQL} AS q FROM cb) c
        )
        SELECT c.vec_id AS id, round({adist}, 4) AS approx_dist
        FROM codes c
        {lut_joins}
        ORDER BY approx_dist, id LIMIT {k}"""


def _semantic_dup_pairs_sql(
    threshold: float = 0.3, n_centroids: int = 16, dim: int = 64
) -> str:
    """SQL replica of dedup.semantic_dup_pairs (refine_iters=0):
    the ivf_topk codebook/assignment CTEs, then within-cell pairwise
    cosine at 3-decimal precision."""
    sq = (
        "list_aggregate(list_transform(range(1, {n}), "
        "i -> (CAST({a}[i] AS DOUBLE) - {b}[i]) * (CAST({a}[i] AS DOUBLE) - {b}[i])), 'sum')"
    )
    d_expr = sq.format(n=dim + 1, a="e.embedding", b="c.cv")
    return f"""
        WITH c0 AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding::DOUBLE[] AS cv
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {n_centroids})
        ), d AS (
          SELECT e.vec_id, c.cid, {d_expr} AS dist
          FROM embeddings e CROSS JOIN c0 c
        ), a AS (
          SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
            FROM d)
          WHERE rn = 1
        ), v AS (
          SELECT e.vec_id, e.embedding::DOUBLE[] AS vec, a.cid
          FROM embeddings e JOIN a USING (vec_id)
        )
        SELECT x.vec_id AS id_a, y.vec_id AS id_b,
               round(list_cosine_similarity(x.vec, y.vec), 3) AS cosine
        FROM v x JOIN v y ON x.cid = y.cid AND x.vec_id < y.vec_id
        WHERE round(list_cosine_similarity(x.vec, y.vec), 3) >= {threshold}"""


def _md5_hex_int_sql(expr: str, n_hex: int) -> str:
    """DuckDB expression: integer value of the first ``n_hex`` hex
    digits of md5(expr), decoded positionally."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({expr}), {i}, 1)) - 1) * {16 ** (n_hex - i)}"
        for i in range(1, n_hex + 1)
    )


def _range_join_windows_sql() -> str:
    """SQL replica of q_range_join_windows: the SAME md5-derived window
    table (integer-ms endpoints), but joined with DuckDB's plain
    inequality join instead of Spark's bucketed-equi-join rewrite —
    per-window counts + exact cents sums verify pair multiplicity."""
    u1 = _md5_hex_int_sql("CAST(k AS VARCHAR)", 8)
    u2 = _md5_hex_int_sql("CAST(k AS VARCHAR) || 'd'", 8)
    return f"""
        WITH w AS (
          SELECT k AS wid,
                 {RANGE_BASE_MS} + (({u1}) % 41760) * 60000 AS ws_ms,
                 {RANGE_BASE_MS} + ((({u1}) % 41760) + 30 + ({u2}) % 1410)
                   * 60000 AS we_ms
          FROM range({RANGE_WINDOWS_N}) t(k))
        SELECT w.wid, CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT))
                    AS BIGINT) AS value_cents
        FROM events e
        JOIN w ON epoch_ms(e.ts) >= w.ws_ms AND epoch_ms(e.ts) < w.we_ms
        GROUP BY w.wid"""


def _hll_token_distinct_sql(b: int = 6) -> str:
    """SQL replica of q_hll_token_distinct: the IDENTICAL HyperLogLog
    registers (md5-u32 top-b-bit bucket, leading-zero rank via bin()
    — DuckDB's bin() drops leading zeros exactly like Spark's) and
    estimate (integer S, linear-counting branch, same double literals,
    round 3)."""
    m = 1 << b
    rem_bits = 32 - b
    k = rem_bits + 1
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1 + 1.079 / m))
    const = alpha * m * m * (1 << k)
    h32 = _md5_hex_int_sql("item", 8)
    return f"""
        WITH toks AS (
          SELECT source, unnest({_FILTERED_TOKS_SQL}) AS item
          FROM documents),
        h AS (
          SELECT source,
                 ({h32}) // {1 << rem_bits} AS bucket,
                 ({h32}) % {1 << rem_bits} AS rem
          FROM toks),
        regs AS (
          SELECT source, bucket,
                 max(CASE WHEN rem = 0 THEN {k}
                          ELSE {k} - length(bin(rem)) END) AS reg
          FROM h GROUP BY 1, 2),
        rolled AS (
          SELECT source,
                 CAST(sum(CAST(1 AS BIGINT) << ({k} - reg)) AS BIGINT)
                   AS sp,
                 count(*) AS nb
          FROM regs GROUP BY 1),
        est AS (
          SELECT source,
                 CAST(sp + ({m} - nb) * {1 << k} AS BIGINT) AS hll_s,
                 CAST({m} - nb AS BIGINT) AS hll_zero_regs
          FROM rolled)
        SELECT e.source, e.hll_s, e.hll_zero_regs,
               round(CASE WHEN CAST({const!r} AS DOUBLE)
                              / CAST(e.hll_s AS DOUBLE) <= {2.5 * m!r}
                          AND e.hll_zero_regs > 0
                     THEN {float(m)!r} * ln({float(m)!r}
                            / CAST(e.hll_zero_regs AS DOUBLE))
                     ELSE CAST({const!r} AS DOUBLE)
                          / CAST(e.hll_s AS DOUBLE) END,
                     3) AS est_r3,
               x.exact_distinct
        FROM est e
        JOIN (SELECT source,
                     CAST(count(DISTINCT item) AS BIGINT) AS exact_distinct
              FROM toks GROUP BY 1) x USING (source)"""


def _cms_token_freq_sql(depth: int = 4, width: int = 256) -> str:
    """SQL replica of q_cms_token_freq: the IDENTICAL Count-Min cells
    (md5-u32 of ``item || '#' || d`` mod width, per-(source, d,
    bucket) counts) and min-over-depth point estimates for the global
    top-12 tokens. Pure integer — bit-exact cross-engine."""
    h_build = _md5_hex_int_sql("item || '#' || CAST(ds.d AS VARCHAR)", 8)
    h_probe = _md5_hex_int_sql("c.item || '#' || CAST(ds.d AS VARCHAR)", 8)
    return f"""
        WITH toks AS (
          SELECT source, unnest({_FILTERED_TOKS_SQL}) AS item
          FROM documents),
        ds AS (SELECT unnest(range({depth})) AS d),
        cand AS (
          SELECT item FROM toks GROUP BY item
          ORDER BY count(*) DESC, item LIMIT 12),
        cms AS (
          SELECT source, ds.d, ({h_build}) % {width} AS bucket,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM toks CROSS JOIN ds
          GROUP BY 1, 2, 3),
        probe AS (
          SELECT s.source, c.item, ds.d, ({h_probe}) % {width} AS bucket
          FROM (SELECT DISTINCT source FROM toks) s
          CROSS JOIN cand c CROSS JOIN ds),
        est AS (
          SELECT p.source, p.item,
                 CAST(min(coalesce(m.cnt, 0)) AS BIGINT) AS est_cnt
          FROM probe p LEFT JOIN cms m
            ON m.source = p.source AND m.d = p.d AND m.bucket = p.bucket
          GROUP BY 1, 2),
        exact AS (
          SELECT source, item, CAST(count(*) AS BIGINT) AS exact_cnt
          FROM toks SEMI JOIN cand USING (item)
          GROUP BY 1, 2)
        SELECT e.source, e.item, e.est_cnt,
               CAST(coalesce(x.exact_cnt, 0) AS BIGINT) AS exact_cnt
        FROM est e LEFT JOIN exact x USING (source, item)"""


def _frame_sampling_sql(every_ms: int = 10_000, max_frames: int = 32) -> str:
    """SQL replica of sample_frames over the deterministic fake assets:
    duration_ms = 1000 + h % 600000 with h = first 8 hex digits of
    md5(text payload) (multimodal.decode_and_extract's fake path)."""
    h_expr = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(text), {i}, 1)) - 1) * {16 ** (8 - i)}"
        for i in range(1, 9)
    )
    return f"""
        WITH vids AS (
          SELECT doc_id AS asset_id,
                 CAST(1000 + ({h_expr}) % 600000 AS BIGINT) AS duration_ms
          FROM documents
          WHERE CAST(doc_id % 3 AS INT) = 2
        ), nf AS (
          SELECT asset_id,
                 least({max_frames}, CAST(floor(duration_ms / {every_ms}) AS INT) + 1) AS n_frames
          FROM vids
        ), fanned AS (
          SELECT asset_id, unnest(range(0, n_frames)) AS frame_idx FROM nf
        )
        SELECT asset_id, CAST(frame_idx AS INT) AS frame_idx,
               CAST(frame_idx * {every_ms} AS BIGINT) AS ts_ms
        FROM fanned"""


_FILTERED_TOKS_SQL = f"list_filter({_TOKS_SQL}, s0 -> len(s0) > 0)"


def _c4_rules_sql() -> str:
    """SQL replica of textstats.c4_rules over the planted corpus (see
    q_c4_rules: ' table ' -> sentence break + newline, ' row ' ->
    ' javascript ', doc_id %13/%17 inject page-kill phrases).
    coalesce(array_to_string(...), '') because DuckDB's
    array_to_string of an EMPTY list is NULL (Spark concat_ws: '')."""
    bad = (
        "(contains(lower(text), 'lorem ipsum')"
        " OR contains(lower(text), 'terms of use')"
        " OR contains(lower(text), 'privacy policy')"
        " OR contains(lower(text), 'cookie policy')"
        " OR contains(lower(text), 'uses cookies'))"
    )
    n_sent = (
        "((len(ct) - len(replace(ct, '.', '')))"
        " + (len(ct) - len(replace(ct, '!', '')))"
        " + (len(ct) - len(replace(ct, '?', ''))))"
    )
    return f"""
        WITH planted AS (
          SELECT doc_id,
            replace(replace(
              CASE WHEN doc_id % 13 = 0 THEN text || ' lorem ipsum'
                   WHEN doc_id % 17 = 0 THEN '{{ ' || text
                   ELSE text END,
              ' table ', '.' || chr(10)), ' row ', ' javascript ') AS text
          FROM documents
        ), base AS (
          SELECT doc_id, text,
            list_filter(string_split(text, chr(10)), x -> len(trim(x)) > 0) AS lines
          FROM planted
        ), keptt AS (
          SELECT doc_id, text, lines,
            list_filter(lines, x ->
              (ends_with(trim(x), '.') OR ends_with(trim(x), '!')
               OR ends_with(trim(x), '?') OR ends_with(trim(x), '"'))
              AND len(list_filter(string_split_regex(lower(trim(x)), '\\s+'),
                                  w -> len(w) > 0)) >= 5
              AND NOT contains(lower(trim(x)), 'javascript')) AS keptl
          FROM base
        ), proj AS (
          SELECT doc_id, text, lines, keptl,
                 coalesce(array_to_string(keptl, chr(10)), '') AS ct
          FROM keptt
        )
        SELECT doc_id AS id,
          CAST(len(lines) AS INT) AS n_lines,
          CAST(len(keptl) AS INT) AS n_kept_lines,
          CAST({n_sent} AS INT) AS n_sentences,
          contains(text, '{{') AS has_brace,
          {bad} AS has_bad_phrase,
          ct AS clean_text,
          ((NOT contains(text, '{{')) AND (NOT {bad}) AND ({n_sent} >= 3)) AS c4_pass
        FROM proj"""


def _hash_classifier_sql(dim: int = 4096, seed: str = "qc1") -> str:
    """SQL replica of textstats.hash_classifier_scores (default
    deterministic-weights path): token -> md5 bucket -> integer weight
    in [-1000, 1000]; the per-doc sum is exact int64 so no FP
    accumulation order exists to diverge."""
    b_expr = f"({_md5_hex_int_sql('s', 8)}) % {dim}"
    w_arg = f"'{seed}:' || CAST(bk AS VARCHAR)"
    w_expr = f"((({_md5_hex_int_sql(w_arg, 8)}) % 2001) - 1000)"
    return f"""
        WITH toks AS (SELECT doc_id, {_FILTERED_TOKS_SQL} AS t FROM documents),
        w AS (
          SELECT doc_id, len(t) AS n,
            list_aggregate(
              list_transform(list_transform(t, s -> {b_expr}), bk -> {w_expr}),
              'sum') AS total
          FROM toks
        )
        SELECT doc_id AS id, CAST(n AS BIGINT) AS n_tokens, logit,
          round(1.0 / (1.0 + exp(-logit)), 4) AS prob
        FROM (
          SELECT doc_id, n,
            CASE WHEN n > 0
                 THEN CAST(floor((20 * total + n) / (2.0 * n)) AS DOUBLE) / 10000.0
                 ELSE 0.0 END AS logit
          FROM w)"""


def _chunk_documents_sql(
    chunk_tokens: int = 64, overlap: int = 16, min_tokens: int = 8
) -> str:
    """SQL replica of curation.chunk_documents: generate_series window
    starts with the same stride; chunk_idx = start // stride (Spark's
    posexplode position over the same sequence)."""
    stride = chunk_tokens - overlap
    return f"""
        WITH toks AS (SELECT doc_id, {_FILTERED_TOKS_SQL} AS t FROM documents),
        nz AS (SELECT * FROM toks WHERE len(t) > 0),
        ch AS (
          SELECT doc_id, s, list_slice(t, s + 1, s + {chunk_tokens}) AS c
          FROM nz, UNNEST(generate_series(0, len(t) - 1, {stride})) AS u(s)
        )
        SELECT doc_id AS id, CAST(s // {stride} AS INT) AS chunk_idx,
          md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s // {stride} AS VARCHAR)) AS chunk_id,
          CAST(len(c) AS BIGINT) AS n_chunk_tokens,
          array_to_string(c, ' ') AS chunk_text
        FROM ch
        WHERE len(c) >= {min_tokens} OR s = 0"""


def _bm25_sql(
    k: int = 10, k1: float = 1.2, b: float = 0.75, corpus_where: str = ""
) -> str:
    """SQL replica of retrieval.bm25_topk over the fixed BM25_QUERIES.
    Constants are interpolated from the SAME Python floats the Spark
    expression tree uses (repr round-trips the exact double), and each
    per-term score quantizes to integer micro-units before the sum —
    the only cross-engine FP risk left is a last-ulp ln() divergence
    landing within 1e-10 of a half-micro boundary (measure-zero; the
    gate data is fixed)."""
    qvals = ", ".join(f"({i}, '{q}')" for i, q in BM25_QUERIES)
    qtok = (
        "list_filter(string_split_regex(trim(regexp_replace(lower(query),"
        " '\\s+', ' ', 'g')), ' '), s0 -> len(s0) > 0)"
    )
    return f"""
        WITH q(query_id, query) AS (VALUES {qvals}),
        toks AS (SELECT doc_id, {_FILTERED_TOKS_SQL} AS t FROM documents {corpus_where}),
        nz AS (SELECT * FROM toks WHERE len(t) > 0),
        stats AS (SELECT CAST(count(*) AS BIGINT) AS N,
                         CAST(sum(len(t)) AS BIGINT) AS dl_sum FROM nz),
        postings AS (
          SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, unnest(t) AS term FROM nz)
          GROUP BY doc_id, dl, term
        ),
        qterms AS (SELECT query_id, unnest(list_distinct({qtok})) AS term FROM q),
        matched AS (SELECT p.* FROM postings p
                    JOIN (SELECT DISTINCT term FROM qterms) tn USING (term)),
        dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS dfreq FROM matched GROUP BY term),
        scoredt AS (
          SELECT m.term, m.doc_id,
            CAST(floor((ln(1.0 + (s.N - d.dfreq + 0.5) / (d.dfreq + 0.5))
              * (m.tf * {k1 + 1!r})
              / (m.tf + {k1!r} * ({1.0 - b!r} + ({b!r} * CAST(m.dl AS DOUBLE))
                                  / (CAST(s.dl_sum AS DOUBLE) / s.N))))
              * 1000000 + 0.5) AS BIGINT) AS micro
          FROM matched m JOIN dfreq d USING (term) CROSS JOIN stats s
        ),
        pq AS (
          SELECT qt.query_id, st.doc_id, CAST(count(*) AS INT) AS n_matched,
                 CAST(floor((sum(st.micro) + 50) / 100.0) AS DOUBLE) / 10000.0 AS score
          FROM scoredt st JOIN qterms qt USING (term)
          GROUP BY 1, 2
        )
        SELECT query_id, doc_id, CAST(rn AS INT) AS rank, n_matched, score
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
              FROM pq)
        WHERE rn <= {k}"""


def _anchor_texts_sql(k: int = 3) -> str:
    """SQL replica of q_anchor_texts: the planted edges joined to the
    source doc's token at position dst % n_tokens, then the exact
    (dst, anchor) counts + per-node top-k."""
    return f"""
        WITH dn AS (SELECT row_number() OVER (ORDER BY doc_id) AS rn,
                           (SELECT count(*) FROM documents) AS n,
                           {_FILTERED_TOKS_SQL} AS t
                    FROM documents),
        edges AS (SELECT CAST(rn AS BIGINT) AS src,
                         CAST(((rn - 1) * 7 + 13 * j.j) % n + 1 AS BIGINT) AS dst
                  FROM dn, (VALUES (1), (2), (3)) j(j)
                  WHERE rn % 10 <> 0),
        anch AS (SELECT e.src, e.dst,
                        r.t[CAST(e.dst % len(r.t) AS INT) + 1] AS anchor
                 FROM edges e JOIN dn r ON r.rn = e.src
                 WHERE len(r.t) > 0),
        agg AS (SELECT dst, anchor,
                       CAST(count(*) AS BIGINT) AS n_links,
                       CAST(count(DISTINCT src) AS BIGINT) AS n_src
                FROM anch GROUP BY 1, 2),
        tot AS (SELECT dst, CAST(sum(n_links) AS BIGINT) AS total_inlinks
                FROM agg GROUP BY dst)
        SELECT a.dst AS node, CAST(a.rn2 AS INT) AS rank, a.anchor,
               a.n_links, a.n_src, t.total_inlinks
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY dst ORDER BY n_links DESC, anchor ASC) AS rn2
              FROM agg) a
        JOIN tot t USING (dst)
        WHERE a.rn2 <= {k}"""


def _bpe_merges_sql(n_merges: int = BPE_MERGE_STEPS) -> str:
    """SQL replica of textstats.bpe_merges: the merge recurrence is
    unrolled one (pair-count, top-1, apply) CTE triple per step. The
    left-to-right non-overlapping merge application is a literal
    string replace over a chr(31)-wrapped symbol encoding
    (\\x1f a \\x1f\\x1f b \\x1f -> \\x1f ab \\x1f): replace() scans left to
    right and resumes after each substitution, which is exactly the
    BPE pair scan — equivalence to Spark's replace-last fold is also
    pytest-asserted against a pure-Python reference. Every w{i}/m{i}
    is MATERIALIZED: DuckDB inlines CTEs by default and each step
    references the previous state four times, so the inlined plan is
    4^n corpus scans — materialization makes the unroll linear."""
    d = "chr(31)"
    dd = f"{d}||{d}"
    its = []
    for i in range(n_merges):
        its.append(f"""
        pc{i} AS (
          SELECT l1, l2, CAST(sum(cnt) AS BIGINT) AS pc
          FROM (SELECT cnt, syms[j] AS l1, syms[j + 1] AS l2
                FROM w{i}, unnest(range(1, len(syms))) AS t(j))
          GROUP BY 1, 2
        ),
        m{i} AS MATERIALIZED (SELECT l1, l2, l1 || l2 AS merged, pc
                 FROM pc{i} ORDER BY pc DESC, l1 ASC, l2 ASC LIMIT 1),
        w{i + 1} AS MATERIALIZED (
          SELECT string_split(
                   trim(replace({d} || array_to_string(syms, {dd}) || {d},
                                {d} || (SELECT l1 FROM m{i}) || {dd}
                                    || (SELECT l2 FROM m{i}) || {d},
                                {d} || (SELECT merged FROM m{i}) || {d}),
                        chr(31)),
                   {dd}) AS syms,
                 cnt
          FROM w{i}
        )""")
    outs = " UNION ALL ".join(
        f"""SELECT CAST({i + 1} AS INT) AS step, l1 AS "left", l2 AS "right",
                   merged, pc AS pair_count FROM m{i}"""
        for i in range(n_merges)
    )
    return f"""
        WITH wc AS (
          SELECT w, CAST(count(*) AS BIGINT) AS cnt
          FROM (SELECT unnest({_FILTERED_TOKS_SQL}) AS w FROM documents)
          GROUP BY w
        ),
        w0 AS MATERIALIZED (SELECT string_split_regex(w, '') AS syms, cnt FROM wc),
        {",".join(its)}
        {outs}"""


def _bpe_encode_sql(n_merges: int = BPE_MERGE_STEPS) -> str:
    """SQL replica of textstats.bpe_encode: the _bpe_merges_sql
    recurrence with the word carried through every step (so w{n} maps
    each distinct word to its final symbol sequence), join-encoded
    onto the position-indexed token stream and reassembled per doc.
    Greedy-vs-step-order equivalence of the Spark side is
    pytest-asserted (test_bpe_apply_greedy_equals_sequential)."""
    d = "chr(31)"
    dd = f"{d}||{d}"
    its = []
    for i in range(n_merges):
        its.append(f"""
        pc{i} AS (
          SELECT l1, l2, CAST(sum(cnt) AS BIGINT) AS pc
          FROM (SELECT cnt, syms[j] AS l1, syms[j + 1] AS l2
                FROM w{i}, unnest(range(1, len(syms))) AS t(j))
          GROUP BY 1, 2
        ),
        m{i} AS MATERIALIZED (SELECT l1, l2, l1 || l2 AS merged, pc
                 FROM pc{i} ORDER BY pc DESC, l1 ASC, l2 ASC LIMIT 1),
        w{i + 1} AS MATERIALIZED (
          SELECT w, string_split(
                   trim(replace({d} || array_to_string(syms, {dd}) || {d},
                                {d} || (SELECT l1 FROM m{i}) || {dd}
                                    || (SELECT l2 FROM m{i}) || {d},
                                {d} || (SELECT merged FROM m{i}) || {d}),
                        chr(31)),
                   {dd}) AS syms,
                 cnt
          FROM w{i}
        )""")
    return f"""
        WITH wc AS (
          SELECT w, CAST(count(*) AS BIGINT) AS cnt
          FROM (SELECT unnest({_FILTERED_TOKS_SQL}) AS w FROM documents)
          GROUP BY w
        ),
        w0 AS MATERIALIZED (
          SELECT w, string_split_regex(w, '') AS syms, cnt FROM wc),
        {",".join(its)},
        toks AS (SELECT doc_id, {_FILTERED_TOKS_SQL} AS t FROM documents),
        posx AS (SELECT doc_id, unnest(t) AS w,
                        unnest(range(1, len(t) + 1)) AS pos
                 FROM toks WHERE len(t) > 0),
        enc AS (SELECT p.doc_id, p.pos, e.syms
                FROM posx p JOIN w{n_merges} e USING (w))
        SELECT doc_id AS id,
               array_to_string(flatten(list(syms ORDER BY pos)), ' ')
                 AS syms_sp,
               CAST(sum(len(syms)) AS BIGINT) AS n_tokens
        FROM enc GROUP BY doc_id"""


def _winnow_fingerprints_sql(k: int = 5, w: int = 4) -> str:
    """SQL replica of textstats.winnow_fingerprints: identical packed
    (hash32, 2^31-1-pos) key, identical w-row window min, identical
    unpack — pure BIGINT arithmetic end to end."""
    lim = 2_147_483_648
    return f"""
        WITH toks AS (SELECT doc_id, {_FILTERED_TOKS_SQL} AS t FROM documents),
        posx AS (SELECT doc_id, t,
                        unnest(range(0, CAST(len(t) AS BIGINT) - {k} + 1)) AS pos
                 FROM toks WHERE len(t) >= {k}),
        grams AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
                         array_to_string(t[pos + 1 : pos + {k}], ' ') AS gram
                  FROM posx),
        keyed AS (SELECT doc_id, pos,
                         CAST({_md5_hex_int_sql("gram", 8)} AS BIGINT) * {lim}
                         + ({lim - 1} - pos) AS key
                  FROM grams),
        wins AS (SELECT doc_id, pos,
                        min(key) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW) AS minkey
                 FROM keyed)
        SELECT DISTINCT doc_id AS id,
               CAST({lim - 1} - (minkey % {lim}) AS BIGINT) AS pos,
               CAST(minkey // {lim} AS BIGINT) AS hash32
        FROM wins WHERE pos >= {w - 1}"""


def _hybrid_rrf_sql(
    k: int = 10, k_leg: int = 20, rrf_k: int = 60, k1: float = 1.2, b: float = 0.75
) -> str:
    """SQL replica of retrieval.hybrid_topk over HYBRID_EXAMPLE_IDS:
    the BM25 CTEs are the _bm25_sql shape restricted to the
    documents-with-embeddings corpus (query text selected from the
    corpus, not literal), the dense leg is list_cosine_similarity
    rounded to 3 (the embedding_topk precedent), and the fusion is
    pure BIGINT arithmetic (scale // (rrf_k + rank), summed — CAST to
    BIGINT per the HUGEINT rule)."""
    from walker_spark.operators.retrieval import RRF_SCALE

    exvals = ", ".join(f"({i})" for i in HYBRID_EXAMPLE_IDS)
    qtok = (
        "list_filter(string_split_regex(trim(regexp_replace(lower(query),"
        " '\\s+', ' ', 'g')), ' '), s0 -> len(s0) > 0)"
    )
    return f"""
        WITH ex(query_id) AS (VALUES {exvals}),
        corpus AS (SELECT d.doc_id, d.text, e.embedding
                   FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
        toks AS (SELECT doc_id, {_FILTERED_TOKS_SQL} AS t FROM corpus),
        nz AS (SELECT * FROM toks WHERE len(t) > 0),
        stats AS (SELECT CAST(count(*) AS BIGINT) AS N,
                         CAST(sum(len(t)) AS BIGINT) AS dl_sum FROM nz),
        postings AS (
          SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, unnest(t) AS term FROM nz)
          GROUP BY doc_id, dl, term
        ),
        q AS (SELECT c.doc_id AS query_id, c.text AS query
              FROM corpus c JOIN ex ON ex.query_id = c.doc_id),
        qterms AS (SELECT query_id, unnest(list_distinct({qtok})) AS term FROM q),
        matched AS (SELECT p.* FROM postings p
                    JOIN (SELECT DISTINCT term FROM qterms) tn USING (term)),
        dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS dfreq FROM matched GROUP BY term),
        scoredt AS (
          SELECT m.term, m.doc_id,
            CAST(floor((ln(1.0 + (s.N - d.dfreq + 0.5) / (d.dfreq + 0.5))
              * (m.tf * {k1 + 1!r})
              / (m.tf + {k1!r} * ({1.0 - b!r} + ({b!r} * CAST(m.dl AS DOUBLE))
                                  / (CAST(s.dl_sum AS DOUBLE) / s.N))))
              * 1000000 + 0.5) AS BIGINT) AS micro
          FROM matched m JOIN dfreq d USING (term) CROSS JOIN stats s
        ),
        pq AS (
          SELECT qt.query_id, st.doc_id,
                 CAST(floor((sum(st.micro) + 50) / 100.0) AS DOUBLE) / 10000.0 AS score
          FROM scoredt st JOIN qterms qt USING (term)
          GROUP BY 1, 2
        ),
        bm25 AS (SELECT query_id, doc_id, CAST(rn AS BIGINT) AS r
                 FROM (SELECT *, row_number() OVER (
                           PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
                       FROM pq)
                 WHERE rn <= {k_leg}),
        dsc AS (SELECT qe.doc_id AS query_id, c.doc_id,
                       round(list_cosine_similarity(c.embedding::DOUBLE[],
                                                    qe.embedding::DOUBLE[]), 3) AS score
                FROM corpus c CROSS JOIN
                     (SELECT c2.doc_id, c2.embedding FROM corpus c2
                      JOIN ex ON ex.query_id = c2.doc_id) qe),
        dense AS (SELECT query_id, doc_id, CAST(rn AS BIGINT) AS r
                  FROM (SELECT *, row_number() OVER (
                            PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
                        FROM dsc)
                  WHERE rn <= {k_leg}),
        fused AS (
          SELECT query_id, doc_id,
                 CAST(sum({RRF_SCALE} // ({rrf_k} + r)) AS BIGINT) AS rrf_score,
                 CAST(count(*) AS INT) AS n_legs,
                 CAST(coalesce(max(CASE WHEN leg = 'bm25' THEN r END), 0) AS INT) AS bm25_rank,
                 CAST(coalesce(max(CASE WHEN leg = 'dense' THEN r END), 0) AS INT) AS dense_rank
          FROM (SELECT 'bm25' AS leg, * FROM bm25
                UNION ALL SELECT 'dense' AS leg, * FROM dense)
          GROUP BY 1, 2)
        SELECT query_id, doc_id, CAST(rn AS INT) AS rank,
               rrf_score, n_legs, bm25_rank, dense_rank
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY query_id ORDER BY rrf_score DESC, doc_id ASC) AS rn
              FROM fused)
        WHERE rn <= {k}"""


def _phrase_search_sql() -> str:
    """SQL replica of retrieval.phrase_search over PHRASE_QUERIES: the
    oracle joins on the gram TEXT where Spark joins on its md5 (string
    equality == md5-key equality); positions are generated with
    unnest(range(...)) per needed phrase length."""
    pvals = ", ".join(f"({i}, '{p}')" for i, p in PHRASE_QUERIES)
    ptok = (
        "list_filter(string_split_regex(trim(regexp_replace(lower(phrase),"
        " '\\s+', ' ', 'g')), ' '), s0 -> len(s0) > 0)"
    )
    return f"""
        WITH p(phrase_id, phrase) AS (VALUES {pvals}),
        pk AS (SELECT phrase_id, array_to_string(t, ' ') AS gram,
                      CAST(len(t) AS BIGINT) AS n
               FROM (SELECT phrase_id, {ptok} AS t FROM p)
               WHERE len(t) > 0),
        lens AS (SELECT DISTINCT n FROM pk),
        toks AS (SELECT doc_id, {_FILTERED_TOKS_SQL} AS t FROM documents),
        posx AS (SELECT doc_id, t, n,
                        unnest(range(0, CAST(len(t) AS BIGINT) - n + 1)) AS pos
                 FROM toks, lens WHERE len(t) >= n),
        grams AS (SELECT doc_id, n, CAST(pos AS BIGINT) AS pos,
                         array_to_string(t[pos + 1 : pos + n], ' ') AS gram
                  FROM posx)
        SELECT pk.phrase_id, g.doc_id,
               CAST(count(*) AS BIGINT) AS n_hits,
               CAST(min(g.pos) AS BIGINT) AS first_pos
        FROM grams g JOIN pk ON g.gram = pk.gram AND g.n = pk.n
        GROUP BY 1, 2"""


def _blocklist_tags_sql() -> str:
    """SQL replica of textstats.blocklist_tags over BLOCKLIST_LEXICON:
    the oracle joins on (gram TEXT, n) where Spark joins on the md5
    key (text equality == key equality, the phrase_search rule);
    hits_ppm via HUGEINT // cast back to BIGINT (the dtype rule)."""
    lvals = ", ".join(f"('{t}', '{p}')" for t, p in BLOCKLIST_LEXICON)
    ptok = (
        "list_filter(string_split_regex(trim(regexp_replace(lower(phrase),"
        " '\\s+', ' ', 'g')), ' '), s0 -> len(s0) > 0)"
    )
    return f"""
        WITH lex(tag, phrase) AS (VALUES {lvals}),
        pk AS (SELECT DISTINCT tag, array_to_string(t, ' ') AS gram,
                      CAST(len(t) AS BIGINT) AS n
               FROM (SELECT tag, {ptok} AS t FROM lex)
               WHERE len(t) > 0),
        lens AS (SELECT DISTINCT n FROM pk),
        toks AS (SELECT doc_id, {_FILTERED_TOKS_SQL} AS t FROM documents),
        posx AS (SELECT doc_id, t, n,
                        unnest(range(0, CAST(len(t) AS BIGINT) - n + 1)) AS pos
                 FROM toks, lens WHERE len(t) >= n),
        grams AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens, n,
                         array_to_string(t[pos + 1 : pos + n], ' ') AS gram
                  FROM posx),
        m AS (SELECT g.doc_id, pk.tag, g.n_tokens, g.gram, pk.n
              FROM grams g JOIN pk ON g.gram = pk.gram AND g.n = pk.n)
        SELECT doc_id, tag,
               CAST(count(DISTINCT gram) AS BIGINT) AS n_phrases,
               CAST(count(*) AS BIGINT) AS n_hits,
               CAST(sum(n) AS BIGINT) AS hit_tokens,
               CAST((CAST(sum(n) AS BIGINT) * 1000000) // n_tokens
                 AS BIGINT) AS hits_ppm
        FROM m GROUP BY doc_id, tag, n_tokens"""


def _vocab_coverage_sql(top_v: int = 50) -> str:
    """SQL replica of textstats.vocab_coverage: pure integer math —
    CAST every sum to BIGINT before the // (DuckDB HUGEINT rule)."""
    return f"""
        WITH stream AS (
          SELECT unnest({_FILTERED_TOKS_SQL}) AS term FROM documents),
        counts AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt
                   FROM stream GROUP BY term),
        total AS (SELECT CAST(count(*) AS BIGINT) AS total_t FROM stream),
        top AS (SELECT * FROM counts ORDER BY cnt DESC, term ASC LIMIT {top_v}),
        curve AS (
          SELECT CAST(row_number() OVER w AS INT) AS rank, term, cnt,
                 CAST(sum(cnt) OVER (ORDER BY cnt DESC, term ASC
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cnt
          FROM top WINDOW w AS (ORDER BY cnt DESC, term ASC))
        SELECT rank, term, cnt, cum_cnt,
               (cum_cnt * 1000000) // total_t AS coverage_ppm
        FROM curve, total"""


def _edit_dup_pairs_sql(d: int = 2) -> str:
    """SQL replica of q_edit_dup_pairs — brute-force levenshtein join
    (DuckDB's levenshtein == Spark's: classic, no transposition) with
    the PassJoin operator's contract edge (both-short pairs excluded).
    Length pre-filter |len diff| <= d is an exact necessary condition."""
    return f"""
        WITH t AS (
          SELECT doc_id, substring({_NORM_TEXT_SQL}, 1, 24) AS title
          FROM documents)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(levenshtein(a.title, b.title) AS BIGINT) AS dist
        FROM t a JOIN t b ON a.doc_id < b.doc_id
        WHERE abs(length(a.title) - length(b.title)) <= {d}
          AND NOT (length(a.title) <= {d} AND length(b.title) <= {d})
          AND levenshtein(a.title, b.title) <= {d}"""


def _table_diff_sql() -> str:
    """SQL replica of q_table_diff: full-outer join USING(doc_id),
    IS DISTINCT FROM per compare column (null-safe), changed_cols
    concat_ws in sorted column order, gated to updates only."""
    return """
        WITH base AS (
          SELECT doc_id, source, CAST(length(text) AS BIGINT) AS n_chars
          FROM documents),
        o AS (SELECT * FROM base WHERE doc_id % 7 <> 0),
        n AS (
          SELECT doc_id, source,
                 CASE WHEN doc_id % 5 = 0 THEN n_chars + 42
                      ELSE n_chars END AS n_chars
          FROM base WHERE doc_id % 11 <> 0),
        j AS (
          SELECT doc_id,
                 o.doc_id IS NULL AS ins, n.doc_id IS NULL AS del,
                 o.n_chars IS DISTINCT FROM n.n_chars AS c_nc,
                 o.source IS DISTINCT FROM n.source AS c_src
          FROM o FULL OUTER JOIN n USING (doc_id))
        SELECT doc_id,
               CASE WHEN ins THEN 'insert' WHEN del THEN 'delete'
                    WHEN c_nc OR c_src THEN 'update' END AS change,
               CASE WHEN NOT ins AND NOT del AND (c_nc OR c_src)
                    THEN concat_ws(',',
                           CASE WHEN c_nc THEN 'n_chars' END,
                           CASE WHEN c_src THEN 'source' END)
                    ELSE '' END AS changed_cols
        FROM j
        WHERE ins OR del OR c_nc OR c_src"""


def _compaction_plan_sql(target: int = 48 * 1024) -> str:
    """SQL replica of q_compaction_plan: identical inventory synthesis
    (printf path, length+1024 bytes) and the same prefix-sum group_id
    ((cum - bytes) // target) + per-group window rollups."""
    return f"""
        WITH inv AS (
          SELECT source,
                 printf('part-%08d.parquet', doc_id) AS path,
                 CAST(length(text) + 1024 AS BIGINT) AS bytes
          FROM documents),
        keyed AS (
          SELECT source, path, bytes,
                 CAST((sum(bytes) OVER (PARTITION BY source ORDER BY path
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - bytes) // {target} AS BIGINT) AS group_id
          FROM inv)
        SELECT source, path, bytes, group_id,
               CAST(count(*) OVER w AS BIGINT) AS group_files,
               CAST(sum(bytes) OVER w AS BIGINT) AS group_bytes,
               (count(*) OVER w) > 1 AS needs_rewrite
        FROM keyed
        WINDOW w AS (PARTITION BY source, group_id)"""


def _markov_transitions_sql(k: int = 3) -> str:
    """SQL replica of q_markov_transitions: lead() over the identical
    (user, ts, event_id) order, pair counts, integer-div ppm, top-k
    per src with the same (cnt desc, dst asc) tie-break."""
    return f"""
        WITH pairs AS (
          SELECT event_type AS src,
                 lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS dst
          FROM events),
        cnt AS (
          SELECT src, dst, CAST(count(*) AS BIGINT) AS cnt
          FROM pairs WHERE dst IS NOT NULL GROUP BY 1, 2),
        tot AS (
          SELECT src, CAST(sum(cnt) AS BIGINT) AS src_total
          FROM cnt GROUP BY 1),
        ranked AS (
          SELECT c.src, c.dst, c.cnt, t.src_total,
                 CAST(c.cnt * 1000000 // t.src_total AS BIGINT) AS p_ppm,
                 CAST(row_number() OVER (
                   PARTITION BY c.src ORDER BY c.cnt DESC, c.dst) AS INT)
                   AS rank
          FROM cnt c JOIN tot t USING (src))
        SELECT src, dst, cnt, src_total, p_ppm, rank
        FROM ranked WHERE rank <= {k}"""


def _heavy_hitters_sql(k: int = 6, buckets: int = 4) -> str:
    """SQL replica of q_heavy_hitters: identical md5-bucketed
    per-shard truncated counts (row_number over cnt desc, item asc),
    rank-(k+1) error bounds, and the Agarwal-merge point estimates —
    pure BIGINT, bit-exact cross-engine."""
    h = _md5_hex_int_sql("item", 8)
    return f"""
        WITH toks AS (
          SELECT CAST(doc_id % 3 AS INT) AS shard,
                 unnest({_FILTERED_TOKS_SQL}) AS item
          FROM documents),
        counts AS (
          SELECT shard, ({h}) % {buckets} AS bucket, item,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM toks GROUP BY 1, 2, 3),
        ranked AS (
          SELECT *, row_number() OVER (
            PARTITION BY shard, bucket ORDER BY cnt DESC, item) AS rn
          FROM counts),
        errs AS (
          SELECT shard, bucket,
                 CAST(coalesce(max(CASE WHEN rn = {k + 1} THEN cnt END), 0)
                      AS BIGINT) AS berr
          FROM ranked GROUP BY 1, 2),
        summ AS (
          SELECT shard, bucket, item, cnt FROM ranked WHERE rn <= {k}),
        items AS (
          SELECT DISTINCT item, ({h}) % {buckets} AS bucket FROM summ),
        grid AS (
          SELECT i.item, i.bucket, s.shard
          FROM items i CROSS JOIN (SELECT DISTINCT shard FROM summ) s),
        est AS (
          SELECT g.item,
                 CAST(sum(coalesce(m.cnt, e.berr, 0)) AS BIGINT) AS est_cnt,
                 CAST(sum(CASE WHEN m.cnt IS NULL
                               THEN coalesce(e.berr, 0) ELSE 0 END)
                      AS BIGINT) AS err_slack
          FROM grid g
          LEFT JOIN summ m
            ON m.shard = g.shard AND m.bucket = g.bucket AND m.item = g.item
          LEFT JOIN errs e
            ON e.shard = g.shard AND e.bucket = g.bucket
          GROUP BY 1),
        exact AS (
          SELECT item, CAST(count(*) AS BIGINT) AS exact_cnt
          FROM toks GROUP BY 1)
        SELECT est.item, est.est_cnt, est.err_slack,
               CAST(coalesce(x.exact_cnt, 0) AS BIGINT) AS exact_cnt
        FROM est LEFT JOIN exact x ON x.item = est.item
        ORDER BY est.est_cnt DESC, est.item LIMIT 20"""


def _kmv_source_overlap_sql(k: int = 128) -> str:
    """SQL replica of q_kmv_source_overlap: identical per-source
    k-minimum md5-u32 value sets (QUALIFY row_number), identical union
    top-k / match counting / integer estimators."""
    h32 = _md5_hex_int_sql("item", 8)
    est = f"CASE WHEN ku < {k} THEN ku ELSE CAST(({k} - 1) * 4294967296 // hk AS BIGINT) END"
    return f"""
        WITH toks AS (
          SELECT source, unnest({_FILTERED_TOKS_SQL}) AS item
          FROM documents),
        hs AS (SELECT DISTINCT source, ({h32}) AS h FROM toks),
        sk AS (
          SELECT source, h,
                 row_number() OVER (PARTITION BY source ORDER BY h) AS rn
          FROM hs QUALIFY rn <= {k}),
        ps AS (
          SELECT a.source AS ga, b.source AS gb
          FROM (SELECT DISTINCT source FROM sk) a,
               (SELECT DISTINCT source FROM sk) b
          WHERE a.source < b.source),
        un AS (
          SELECT ps.ga, ps.gb, s.h FROM ps JOIN sk s ON s.source = ps.ga
          UNION
          SELECT ps.ga, ps.gb, s.h FROM ps JOIN sk s ON s.source = ps.gb),
        uk AS (
          SELECT ga, gb, h,
                 row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rn
          FROM un QUALIFY rn <= {k}),
        m AS (
          SELECT uk.ga, uk.gb, uk.rn, uk.h,
                 CASE WHEN sa.h IS NOT NULL AND sb.h IS NOT NULL
                      THEN 1 ELSE 0 END AS mt
          FROM uk
          LEFT JOIN sk sa ON sa.source = uk.ga AND sa.h = uk.h
          LEFT JOIN sk sb ON sb.source = uk.gb AND sb.h = uk.h),
        rolled AS (
          SELECT ga, gb, CAST(count(*) AS BIGINT) AS ku,
                 CAST(sum(mt) AS BIGINT) AS matches,
                 max(CASE WHEN rn = {k} THEN h END) AS hk
          FROM m GROUP BY 1, 2)
        SELECT ga AS source, gb AS source_2, ku, matches,
               CAST(matches * 1000000 // ku AS BIGINT) AS jaccard_ppm,
               CAST({est} AS BIGINT) AS union_est,
               CAST(matches * ({est}) // ku AS BIGINT) AS inter_est
        FROM rolled WHERE matches > 0"""


def _log_hist_quantiles_sql(s: int = 5) -> str:
    """SQL replica of q_log_hist_quantiles: identical log-bucket index
    (small values exact below 2^(s+1), else ((e-s)<<s) + top mantissa
    bits), identical integer rank (q_ppm*n + 999999) // 1e6, identical
    lower-bound inversion — BIGINT end-to-end."""
    lo = 1 << (s + 1)
    m = 1 << s
    q_list = ", ".join(str(int(round(q * 1_000_000))) for q in PCTL_QS)
    return f"""
        WITH vals AS (
          SELECT source, CAST(len({_FILTERED_TOKS_SQL}) AS BIGINT) AS v
          FROM documents),
        hist AS (
          SELECT source,
                 CASE WHEN v < {lo} THEN v
                      ELSE (length(bin(v)) - 1 - {s}) * {m}
                           + (v >> (length(bin(v)) - 1 - {s})) END AS bucket,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM vals GROUP BY 1, 2),
        cum AS (
          SELECT source, bucket,
                 sum(cnt) OVER (PARTITION BY source ORDER BY bucket) AS c,
                 sum(cnt) OVER (PARTITION BY source) AS n
          FROM hist),
        qs AS (SELECT unnest([{q_list}]) AS q_ppm),
        r AS (
          SELECT source, q_ppm, min(bucket) AS bucket
          FROM cum CROSS JOIN qs
          WHERE c >= (q_ppm * n + 999999) // 1000000
          GROUP BY 1, 2)
        SELECT source, CAST(q_ppm AS BIGINT) AS q_ppm,
               CAST(CASE WHEN bucket < {lo} THEN bucket
                    ELSE ((bucket % {m}) + {m}) << ((bucket // {m}) - 1)
                    END AS BIGINT) AS est
        FROM r"""


def _zorder_events_sql(bits: int = 8) -> str:
    """SQL replica of q_zorder_events: identical grid scaling
    ((v - mn) * (2^bits - 1) // max(1, span), HUGEINT product ==
    Spark's DECIMAL(38,0) div) and Morton interleave (dim i bit j ->
    key bit j*2 + i), identical per-bucket rollup."""
    grid = (1 << bits) - 1
    interleave = " + ".join(
        f"(((s{d} >> {j}) & 1) << {j * 2 + i})"
        for j in range(bits)
        for i, d in enumerate(("u", "t"))
    )
    return f"""
        WITH ev AS (SELECT user_id, epoch_ms(ts) AS ts_ms FROM events),
        b AS (SELECT min(user_id) AS mnu, max(user_id) AS mxu,
                     min(ts_ms) AS mnt, max(ts_ms) AS mxt FROM ev),
        s AS (
          SELECT user_id, ts_ms,
                 CAST((CAST(user_id - mnu AS HUGEINT) * {grid})
                      // greatest(mxu - mnu, 1) AS BIGINT) AS su,
                 CAST((CAST(ts_ms - mnt AS HUGEINT) * {grid})
                      // greatest(mxt - mnt, 1) AS BIGINT) AS st
          FROM ev CROSS JOIN b),
        k AS (SELECT user_id, ts_ms, ({interleave}) AS zkey FROM s)
        SELECT zkey // 256 AS bucket,
               CAST(count(*) AS BIGINT) AS n,
               CAST(min(user_id) AS BIGINT) AS min_user,
               CAST(max(user_id) AS BIGINT) AS max_user,
               CAST(min(ts_ms) AS BIGINT) AS min_ts,
               CAST(max(ts_ms) AS BIGINT) AS max_ts
        FROM k GROUP BY 1"""


def _pmi_collocations_sql(min_count: int = 5, top_k: int = 150) -> str:
    """SQL replica of q_pmi_collocations: identical unigram/bigram
    counts, lift_ppm = floor(1e6*c_ab*N^2/(B*c_a*c_b)) in HUGEINT //
    (== Spark's DECIMAL(38,0) div — all terms positive), same
    (lift_ppm desc, w1, w2) tie-broken top-k."""
    return f"""
        WITH toks AS (SELECT {_TOKS_SQL} AS t FROM documents),
        tt AS (SELECT t FROM toks WHERE len(t) >= 1 AND t[1] <> ''),
        uni AS (
          SELECT w, CAST(count(*) AS BIGINT) AS c
          FROM (SELECT unnest(t) AS w FROM tt) GROUP BY w),
        nt AS (SELECT CAST(sum(c) AS HUGEINT) AS N FROM uni),
        bi AS (
          SELECT t[i+1] AS w1, t[i+2] AS w2,
                 CAST(count(*) AS BIGINT) AS c_ab
          FROM tt, UNNEST(generate_series(0, len(t)-2)) AS u(i)
          WHERE len(t) >= 2 GROUP BY 1, 2),
        bt AS (SELECT CAST(sum(c_ab) AS HUGEINT) AS B FROM bi)
        SELECT b.w1, b.w2, b.c_ab, ua.c AS c_a, ub.c AS c_b,
               CAST((CAST(b.c_ab AS HUGEINT) * N * N * 1000000)
                    // (B * ua.c * ub.c) AS BIGINT) AS lift_ppm
        FROM bi b
        JOIN uni ua ON ua.w = b.w1
        JOIN uni ub ON ub.w = b.w2
        CROSS JOIN nt CROSS JOIN bt
        WHERE b.c_ab >= {min_count}
        ORDER BY lift_ppm DESC, b.w1, b.w2 LIMIT {top_k}"""


def _triangle_counts_sql() -> str:
    """SQL replica of q_triangle_counts: DuckDB counts each triangle
    once by the canonical u < v < w triple-join over the undirected
    simple edge table, then fans each triangle out to its three
    corners — an entirely different algorithm from Spark's
    degree-ordered node-iterator, same exact BIGINT contract."""
    return f"""
        WITH {_PLANTED_GRAPH_CTES},
        ue AS (
          SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
          FROM edges WHERE src <> dst),
        deg AS (
          SELECT node, CAST(count(*) AS BIGINT) AS degree
          FROM (SELECT u AS node FROM ue UNION ALL SELECT v AS node FROM ue)
          GROUP BY node),
        tri AS (
          SELECT e1.u AS a, e1.v AS b, e2.v AS c
          FROM ue e1
          JOIN ue e2 ON e2.u = e1.v
          JOIN ue e3 ON e3.u = e1.u AND e3.v = e2.v),
        pn AS (
          SELECT node, CAST(count(*) AS BIGINT) AS triangles
          FROM (SELECT a AS node FROM tri UNION ALL SELECT b AS node FROM tri
                UNION ALL SELECT c AS node FROM tri)
          GROUP BY node)
        SELECT d.node, d.degree,
               CAST(coalesce(p.triangles, 0) AS BIGINT) AS triangles
        FROM deg d LEFT JOIN pn p ON p.node = d.node"""


def _pagerank_sql(iterations: int = PAGERANK_ITERS, num: int = 17, den: int = 20) -> str:
    """SQL replica of graph.pagerank on the planted doc graph: the
    integer recurrence is unrolled one CTE per iteration (r0..rK) —
    every term is BIGINT with // division, so the result is
    bit-identical to the Spark micro-unit ranks."""
    micro = 1_000_000
    base = (micro * (den - num)) // den
    its = []
    for i in range(iterations):
        its.append(f"""
        r{i + 1} AS (
          SELECT n.node, n.outdeg,
            CAST({base} + ((SELECT COALESCE(CAST(sum(r) AS BIGINT), 0)
                            FROM r{i} WHERE outdeg = 0) * {num})
                          // ({den} * (SELECT cnt FROM nn))
                 + COALESCE(c.s, 0) AS BIGINT) AS r
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS node,
                   CAST(sum((p.r * {num}) // ({den} * p.outdeg)) AS BIGINT) AS s
            FROM r{i} p JOIN edges e ON e.src = p.node
            WHERE p.outdeg > 0
            GROUP BY e.dst) c ON c.node = n.node
        )""")
    return f"""
        WITH {_PLANTED_GRAPH_CTES},
        nn AS (SELECT CAST(count(*) AS BIGINT) AS cnt FROM nodes),
        r0 AS (SELECT node, outdeg, CAST({micro} AS BIGINT) AS r FROM nodes),
        {", ".join(its)}
        SELECT node, r AS rank_micro FROM r{iterations}"""


# Planted expander graph shared by the pagerank / hits oracles — the
# SQL twin of _planted_doc_edges plus the (node, outdeg) table.
_PLANTED_GRAPH_CTES = """dn AS (SELECT row_number() OVER (ORDER BY doc_id) AS rn,
                           (SELECT count(*) FROM documents) AS n
                    FROM documents),
        edges AS (SELECT CAST(rn AS BIGINT) AS src,
                         CAST(((rn - 1) * 7 + 13 * j.j) % n + 1 AS BIGINT) AS dst
                  FROM dn, (VALUES (1), (2), (3)) j(j)
                  WHERE rn % 10 <> 0),
        nodes AS (
          SELECT u.node, COALESCE(o.outdeg, 0) AS outdeg
          FROM (SELECT src AS node FROM edges
                UNION SELECT dst FROM edges) u
          LEFT JOIN (SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg
                     FROM edges GROUP BY src) o ON o.node = u.node)"""


def _lpa_sql(iterations: int = LPA_ITERS) -> str:
    """SQL replica of graph.lpa_communities on the planted doc graph:
    canonical undirected simple edges, then one CTE per synchronous
    round (most-frequent neighbor label, min label on ties) — pure
    integer, bit-identical to the Spark labels."""
    its = []
    for i in range(iterations):
        its.append(f"""
        l{i + 1} AS (
          SELECT node, label FROM (
            SELECT d.dst AS node, p.label,
                   row_number() OVER (PARTITION BY d.dst
                       ORDER BY count(*) DESC, p.label) AS rn
            FROM l{i} p JOIN dir d ON d.src = p.node
            GROUP BY d.dst, p.label) t
          WHERE rn = 1
        )""")
    return f"""
        WITH {_PLANTED_GRAPH_CTES},
        ce AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
               FROM edges WHERE src <> dst),
        dir AS (SELECT u AS src, v AS dst FROM ce
                UNION ALL SELECT v AS src, u AS dst FROM ce),
        l0 AS (SELECT DISTINCT src AS node, src AS label FROM dir),
        {", ".join(its)}
        SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS label
        FROM l{iterations}"""


def _ivf_recall_sql(
    k: int = 10, n_centroids: int = 16, nprobe: int = 4, dim: int = 64
) -> str:
    """SQL replica of q_ivf_recall: the shared ivf codebook/assignment
    CTEs, per-query probe cells (same sq-L2 fold + cid tie-break the
    Spark driver computes), exact and probed-candidate top-k under the
    identical round-3/id contract, overlap counts."""
    sq = (
        "list_aggregate(list_transform(range(1, {n}), "
        "i -> (CAST({a}[i] AS DOUBLE) - {b}[i]) * (CAST({a}[i] AS DOUBLE) - {b}[i])), 'sum')"
    )
    d_corpus = sq.format(n=dim + 1, a="e.embedding", b="c.cv")
    d_query = sq.format(n=dim + 1, a="q.qv", b="c.cv")
    qvals = ", ".join(
        f"({j}, [" + ", ".join(f"{x!r}" for x in v) + "]::DOUBLE[])"
        for j, v in enumerate(_RECALL_QVECS)
    )
    return f"""
        WITH c0 AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                 embedding::DOUBLE[] AS cv
          FROM (SELECT vec_id, embedding FROM embeddings
                ORDER BY vec_id LIMIT {n_centroids})
        ), d AS (
          SELECT e.vec_id, c.cid, {d_corpus} AS dist
          FROM embeddings e CROSS JOIN c0 c
        ), a AS (
          SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                     ORDER BY dist, cid) AS rn
            FROM d)
          WHERE rn = 1
        ), q AS (SELECT * FROM (VALUES {qvals}) t(query_id, qv)),
        qd AS (
          SELECT q.query_id, c.cid, {d_query} AS dist
          FROM q CROSS JOIN c0 c
        ), probes AS (
          SELECT query_id, cid FROM (
            SELECT query_id, cid,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY dist, cid) AS rn
            FROM qd)
          WHERE rn <= {nprobe}
        ), corpus AS (
          SELECT e.vec_id, e.embedding::DOUBLE[] AS vec, a.cid
          FROM embeddings e JOIN a USING (vec_id)
        ), exact AS MATERIALIZED (
          SELECT query_id, vec_id FROM (
            SELECT qq.query_id, c.vec_id,
                   row_number() OVER (PARTITION BY qq.query_id
                     ORDER BY round(list_cosine_similarity(c.vec, qq.qv), 3)
                       DESC, c.vec_id) AS rn
            FROM corpus c CROSS JOIN q qq)
          WHERE rn <= {k}
        ), appr AS MATERIALIZED (
          SELECT query_id, vec_id FROM (
            SELECT p.query_id, c.vec_id,
                   row_number() OVER (PARTITION BY p.query_id
                     ORDER BY round(list_cosine_similarity(c.vec, qq.qv), 3)
                       DESC, c.vec_id) AS rn
            FROM corpus c
            JOIN probes p ON p.cid = c.cid
            JOIN q qq ON qq.query_id = p.query_id)
          WHERE rn <= {k}
        )
        SELECT e.query_id,
               CAST(count(ap.vec_id) AS BIGINT) AS hits,
               CAST({k} AS BIGINT) AS k,
               CAST(count(ap.vec_id) * 1000000 // {k} AS BIGINT)
                 AS recall_ppm
        FROM exact e LEFT JOIN appr ap
          ON ap.query_id = e.query_id AND ap.vec_id = e.vec_id
        GROUP BY 1"""


def _term_dispersion_sql(min_count: int = 5, top_k: int = 50) -> str:
    """SQL replica of q_term_dispersion: identical planted burst,
    token law, and the exact-integer DP formula in HUGEINT (DuckDB
    HUGEINT // == Spark DECIMAL(38,0) div, positive operands)."""
    return f"""
        WITH docs2 AS (
          SELECT source,
                 text || CASE WHEN source = 'src0'
                              THEN ' zburst zburst' ELSE '' END AS text
          FROM documents),
        toks AS (
          SELECT source AS part, unnest({_FILTERED_TOKS_SQL}) AS term
          FROM docs2),
        f AS (
          SELECT part, term, CAST(count(*) AS BIGINT) AS f_i
          FROM toks GROUP BY 1, 2),
        p AS (
          SELECT part, CAST(sum(f_i) AS BIGINT) AS p_i FROM f GROUP BY 1),
        pt AS (SELECT CAST(sum(p_i) AS BIGINT) AS p_all FROM p),
        tt AS (
          SELECT term, CAST(sum(f_i) AS BIGINT) AS term_total
          FROM f GROUP BY 1),
        ag AS (
          SELECT f.term, tt.term_total, pt.p_all,
                 sum(abs(CAST(f.f_i AS HUGEINT) * pt.p_all
                         - CAST(p.p_i AS HUGEINT) * tt.term_total))
                   AS present,
                 CAST(sum(p.p_i) AS BIGINT) AS present_p
          FROM f JOIN p USING (part) JOIN tt USING (term) CROSS JOIN pt
          GROUP BY 1, 2, 3)
        SELECT term, term_total,
               CAST(((present + CAST(term_total AS HUGEINT)
                      * (p_all - present_p)) * 1000000)
                    // (CAST(2 AS HUGEINT) * term_total * p_all)
                 AS BIGINT) AS dp_ppm
        FROM ag WHERE term_total >= {min_count}
        ORDER BY dp_ppm DESC, term LIMIT {top_k}"""


def _matched_sample_sql(n_total: int = 120) -> str:
    """SQL replica of q_matched_sample: identical bucket law, integer
    quota = floor(n_total * t_b / T), per-bucket (md5('match'||id),
    id) rank, keep rank <= quota."""
    return f"""
        WITH corpus AS (
          SELECT doc_id, CAST(n_chars // 40 AS BIGINT) AS bucket
          FROM documents WHERE lang = 'en'),
        tgt AS (
          SELECT CAST(n_chars // 40 AS BIGINT) AS bucket
          FROM documents WHERE lang = 'fr'),
        tc AS (
          SELECT bucket, CAST(count(*) AS BIGINT) AS t
          FROM tgt GROUP BY 1),
        q AS (
          SELECT bucket,
                 CAST({n_total} * t // (SELECT sum(t) FROM tc) AS BIGINT)
                   AS quota
          FROM tc),
        r AS (
          SELECT doc_id, bucket,
                 CAST(row_number() OVER (
                   PARTITION BY bucket
                   ORDER BY md5('match' || CAST(doc_id AS VARCHAR)), doc_id)
                   AS BIGINT) AS rank,
                 CAST(count(*) OVER (PARTITION BY bucket) AS BIGINT) AS avail
          FROM corpus)
        SELECT r.doc_id, r.bucket, r.rank, q.quota, r.avail
        FROM r JOIN q USING (bucket) WHERE r.rank <= q.quota"""


def _modularity_sql(iterations: int = LPA_ITERS) -> str:
    """SQL replica of q_modularity: the _lpa_sql round CTEs, then the
    exact HUGEINT Q formula (sum of 4*m*e_c - d_c^2 over the total
    partition, truncation-div by 4m^2 — DuckDB // matches Spark
    DECIMAL div for either sign)."""
    its = []
    for i in range(iterations):
        its.append(f"""
        l{i + 1} AS (
          SELECT node, label FROM (
            SELECT d.dst AS node, p.label,
                   row_number() OVER (PARTITION BY d.dst
                       ORDER BY count(*) DESC, p.label) AS rn
            FROM l{i} p JOIN dir d ON d.src = p.node
            GROUP BY d.dst, p.label) t
          WHERE rn = 1
        )""")
    return f"""
        WITH {_PLANTED_GRAPH_CTES},
        ce AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
               FROM edges WHERE src <> dst),
        dir AS (SELECT u AS src, v AS dst FROM ce
                UNION ALL SELECT v AS src, u AS dst FROM ce),
        l0 AS (SELECT DISTINCT src AS node, src AS label FROM dir),
        {", ".join(its)},
        labs AS (SELECT node, label FROM l{iterations}),
        mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ce),
        deg AS (
          SELECT node, CAST(count(*) AS BIGINT) AS deg
          FROM (SELECT u AS node FROM ce UNION ALL SELECT v FROM ce)
          GROUP BY 1),
        fullp AS (
          SELECT d.node, d.deg, coalesce(l.label, d.node) AS label
          FROM deg d LEFT JOIN labs l USING (node)),
        dc AS (
          SELECT label, CAST(sum(deg) AS BIGINT) AS d_c
          FROM fullp GROUP BY 1),
        intra AS (
          SELECT a.label, CAST(count(*) AS BIGINT) AS e_c
          FROM ce JOIN fullp a ON a.node = ce.u
                  JOIN fullp b ON b.node = ce.v
          WHERE a.label = b.label GROUP BY 1),
        per AS (
          SELECT dc.label, dc.d_c, coalesce(i.e_c, 0) AS e_c, mm.m
          FROM dc LEFT JOIN intra i USING (label) CROSS JOIN mm)
        SELECT max(m) AS m,
               CAST(count(DISTINCT label) AS BIGINT) AS n_communities,
               CAST(sum(e_c) AS BIGINT) AS intra_edges,
               CAST(CASE WHEN max(m) = 0 THEN 0 ELSE
                 (sum(CAST(4 AS HUGEINT) * m * e_c
                      - CAST(d_c AS HUGEINT) * d_c) * 1000000)
                 // (CAST(4 AS HUGEINT) * max(m) * max(m)) END AS BIGINT)
                 AS q_ppm
        FROM per"""


def _embedding_communities_sql(k: int = 4, n_centroids: int = 16, dim: int = 64) -> str:
    """SQL replica of q_embedding_communities: the knn_graph CTEs,
    symmetric closure, recursive reachability, min-label + singleton
    fill-in (the dedup_components oracle pattern)."""
    sq = (
        "list_aggregate(list_transform(range(1, {n}), "
        "i -> (CAST({a}[i] AS DOUBLE) - {b}[i]) * (CAST({a}[i] AS DOUBLE) - {b}[i])), 'sum')"
    )
    d_expr = sq.format(n=dim + 1, a="e.embedding", b="c.cv")
    return f"""
        WITH RECURSIVE c0 AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding::DOUBLE[] AS cv
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {n_centroids})
        ), d AS (
          SELECT e.vec_id, c.cid, {d_expr} AS dist
          FROM embeddings e CROSS JOIN c0 c
        ), a AS (
          SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
            FROM d)
          WHERE rn = 1
        ), v AS (
          SELECT e.vec_id, e.embedding::DOUBLE[] AS vec, a.cid
          FROM embeddings e JOIN a USING (vec_id)
        ), knn AS MATERIALIZED (
          SELECT id, neighbor FROM (
            SELECT x.vec_id AS id, y.vec_id AS neighbor,
                   row_number() OVER (
                     PARTITION BY x.vec_id
                     ORDER BY round(list_cosine_similarity(x.vec, y.vec), 3) DESC,
                              y.vec_id
                   ) AS rk
            FROM v x JOIN v y ON x.cid = y.cid AND x.vec_id <> y.vec_id)
          WHERE rk <= {k}
        ), sym AS MATERIALIZED (
          SELECT k1.id AS a, k1.neighbor AS b
          FROM knn k1 JOIN knn k2
            ON k2.id = k1.neighbor AND k2.neighbor = k1.id
        ), reach(a, b) AS (
          SELECT a, b FROM sym
          UNION
          SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
        ), lab AS (
          SELECT a AS vec_id, least(a, min(b)) AS community_id
          FROM reach GROUP BY a)
        SELECT CAST(e.vec_id AS BIGINT) AS vec_id,
               CAST(COALESCE(l.community_id, e.vec_id) AS BIGINT)
                 AS community_id
        FROM embeddings e LEFT JOIN lab l ON l.vec_id = e.vec_id"""


def _readability_sql() -> str:
    """SQL replica of q_readability: same shared regex literals
    ([.!?]+ sentence runs, [aeiouy]+ vowel groups), same integer-div
    quantization."""
    return f"""
        WITH c AS (
          SELECT doc_id,
                 CAST(len({_FILTERED_TOKS_SQL}) AS BIGINT) AS n_words,
                 CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                      AS BIGINT) AS n_sentences,
                 CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                      AS BIGINT) AS n_syllables
          FROM documents)
        SELECT doc_id, n_words, n_sentences, n_syllables,
               CAST(206835 - (1015 * n_words) // n_sentences
                           - (84600 * n_syllables) // n_words
                    AS BIGINT) AS fre_milli
        FROM c WHERE n_words > 0"""


def _zone_map_prune_sql() -> str:
    """SQL replica of q_zone_map_prune: same file keys, floor-epoch
    seconds, integer-div bounds, overlap/containment flags."""
    return """
        WITH f AS (
          SELECT event_id // 50 AS file,
                 CAST(floor(epoch(ts)) AS BIGINT) AS v
          FROM events),
        zm AS (
          SELECT file, CAST(count(*) AS BIGINT) AS n_rows,
                 min(v) AS vmin, max(v) AS vmax
          FROM f GROUP BY file),
        b AS (
          SELECT min(v) + (max(v) - min(v)) // 4 AS lo,
                 min(v) + (max(v) - min(v)) // 2 AS hi
          FROM f)
        SELECT zm.file, zm.n_rows, zm.vmin, zm.vmax,
               CAST(zm.vmax >= b.lo AND zm.vmin <= b.hi AS BIGINT)
                 AS must_scan,
               CAST(zm.vmin >= b.lo AND zm.vmax <= b.hi AS BIGINT)
                 AS fully_covered
        FROM zm, b"""


def _bloom_file_prune_sql() -> str:
    """SQL replica of q_bloom_file_prune: identical md5 bit positions
    per (file, uid), identical all-k-hits prune law, actual from the
    raw file x uid containment — false positives match bit-for-bit."""
    m, k = FBLOOM_M, FBLOOM_K
    js = ", ".join(f"({j})" for j in range(k))
    probes = ", ".join(f"(CAST({x} AS BIGINT))" for x in FBLOOM_PROBES)
    h_build = _md5_hex_int_sql(
        "CAST(uid AS VARCHAR) || ':' || CAST(j.j AS VARCHAR)", 8
    )
    h_probe = _md5_hex_int_sql(
        "CAST(key AS VARCHAR) || ':' || CAST(j.j AS VARCHAR)", 8
    )
    return f"""
        WITH ev AS (
          SELECT event_id // 50 AS file, CAST(user_id AS BIGINT) AS uid
          FROM events),
        probes(key) AS (VALUES {probes}),
        blooms AS MATERIALIZED (
          SELECT DISTINCT file, ({h_build}) % {m} AS bit
          FROM ev, (VALUES {js}) j(j)),
        fan AS (
          SELECT key, ({h_probe}) % {m} AS bit
          FROM probes, (VALUES {js}) j(j)),
        hits AS (
          SELECT b.file, f.key, count(*) AS h
          FROM blooms b JOIN fan f USING (bit)
          GROUP BY b.file, f.key),
        base AS (
          SELECT f.file, p.key
          FROM (SELECT DISTINCT file FROM blooms) f, probes p),
        act AS (
          SELECT DISTINCT file, uid AS key FROM ev JOIN probes ON uid = key)
        SELECT base.file, base.key,
               CAST(coalesce(h.h, 0) = {k} AS BIGINT) AS must_scan,
               CAST(act.key IS NOT NULL AS BIGINT) AS actual
        FROM base
        LEFT JOIN hits h USING (file, key)
        LEFT JOIN act USING (file, key)"""


def _weighted_sample_sql(k: int = 10) -> str:
    """SQL replica of q_weighted_sample: identical md5 uniform
    (+0.5 off zero), ln(u)/w rounded 6 before ranking, id
    tie-break."""
    u = f"(({_md5_hex_int_sql('CAST(doc_id AS VARCHAR)', 8)}) + 0.5) / 4294967296.0"
    return f"""
        WITH keyed AS (
          SELECT source, doc_id AS id, n_chars AS weight,
                 round(ln({u}) / CAST(n_chars AS DOUBLE), 6) AS es_key
          FROM documents WHERE n_chars > 0)
        SELECT source, id, weight, es_key, CAST(rn AS BIGINT) AS rn
        FROM (SELECT *, row_number() OVER (
                PARTITION BY source ORDER BY es_key DESC, id ASC
              ) AS rn FROM keyed)
        WHERE rn <= {k}"""


def _mirror_sources_sql(
    min_shared: int = 2, threshold_ppm: int = 300_000
) -> str:
    """SQL replica of q_mirror_sources: identical planted mirror,
    md5-of-normalized-text content keys, key-blocked pair counts,
    integer containment/jaccard."""
    return f"""
        WITH planted AS (
          SELECT source, text FROM documents
          UNION ALL
          SELECT 'src0_mirror' AS source, text FROM documents
          WHERE source = 'src0' AND doc_id % 5 = 0),
        keys AS (
          SELECT DISTINCT source AS g, md5({_NORM_TEXT_SQL}) AS k
          FROM planted),
        sizes AS (
          SELECT g, CAST(count(*) AS BIGINT) AS n FROM keys GROUP BY 1),
        shared AS (
          SELECT a.g AS group_a, b.g AS group_b,
                 CAST(count(*) AS BIGINT) AS shared
          FROM keys a JOIN keys b ON a.k = b.k AND a.g < b.g
          GROUP BY 1, 2)
        SELECT s.group_a, s.group_b, sa.n AS n_a, sb.n AS n_b, s.shared,
               CAST(s.shared * 1000000 // least(sa.n, sb.n) AS BIGINT)
                 AS containment_ppm,
               CAST(s.shared * 1000000 // (sa.n + sb.n - s.shared)
                    AS BIGINT) AS jaccard_ppm
        FROM shared s
        JOIN sizes sa ON sa.g = s.group_a
        JOIN sizes sb ON sb.g = s.group_b
        WHERE s.shared >= {min_shared}
          AND s.shared * 1000000 // least(sa.n, sb.n) >= {threshold_ppm}"""


def _retention_cohorts_sql(period_days: int = 7) -> str:
    """SQL replica of q_retention_cohorts: DuckDB epoch_ms truncates
    like unix_millis (verified precedent), integer-div periods,
    distinct (user, period) activity, first-touch cohorts."""
    return f"""
        WITH acts AS (
          SELECT DISTINCT user_id,
                 CAST((epoch_ms(ts) // 86400000) // {period_days}
                      AS BIGINT) AS period
          FROM events),
        coh AS (
          SELECT user_id, min(period) AS cohort FROM acts GROUP BY 1),
        ret AS (
          SELECT c.cohort, a.period - c.cohort AS period_offset,
                 CAST(count(*) AS BIGINT) AS n_users
          FROM acts a JOIN coh c USING (user_id) GROUP BY 1, 2),
        sz AS (
          SELECT cohort, n_users AS cohort_size
          FROM ret WHERE period_offset = 0)
        SELECT CAST(r.cohort AS BIGINT) AS cohort_period,
               CAST(r.period_offset AS BIGINT) AS period_offset,
               r.n_users, s.cohort_size,
               CAST(r.n_users * 1000000 // s.cohort_size AS BIGINT)
                 AS retention_ppm
        FROM ret r JOIN sz s USING (cohort)"""


def _embedding_outliers_sql(keep_ppm: int = 950_000) -> str:
    """SQL replica of q_embedding_outliers: the shared
    _embedding_clusters_sql CTE, milli-unit distance histogram,
    strictly-below cumulative counts, and the BIGINT tail rule."""
    return f"""
        WITH ec AS ({_embedding_clusters_sql()}),
        m AS (
          SELECT id, cid, sq_dist,
                 CAST(round(sq_dist * 1000, 0) AS BIGINT) AS d_mil
          FROM ec),
        hist AS (
          SELECT cid, d_mil, CAST(count(*) AS BIGINT) AS cnt
          FROM m GROUP BY 1, 2),
        bins AS (
          SELECT cid, d_mil,
                 CAST(coalesce(sum(cnt) OVER (
                   PARTITION BY cid ORDER BY d_mil
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS n_below,
                 CAST(sum(cnt) OVER (PARTITION BY cid) AS BIGINT)
                   AS cluster_n
          FROM hist)
        SELECT m.id, m.cid, m.sq_dist, b.cluster_n, b.n_below,
               b.n_below * 1000000 >= {keep_ppm} * b.cluster_n AS is_outlier
        FROM m JOIN bins b ON b.cid = m.cid AND b.d_mil = m.d_mil"""


def _within_doc_dedup_sql() -> str:
    """SQL replica of q_within_doc_dedup: identical split / key
    transform / first-occurrence filter algebra (DuckDB lambda index
    is 1-based where Spark's is 0-based; coalesce guards DuckDB's
    NULL array_to_string-of-empty)."""
    return """
        WITH d AS (
          SELECT doc_id, replace(text, ' table ', chr(10)) AS text
          FROM documents),
        k AS (
          SELECT doc_id, string_split(text, chr(10)) AS lines,
                 list_transform(string_split(text, chr(10)),
                                x -> trim(lower(x))) AS keys
          FROM d),
        f AS (
          SELECT doc_id, lines,
                 list_filter(lines, (x, i) ->
                   len(trim(x)) = 0
                   OR list_position(keys, trim(lower(x))) = i) AS kept
          FROM k)
        SELECT doc_id,
               coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
               CAST(len(list_filter(lines, x -> len(trim(x)) > 0))
                    AS BIGINT) AS n_lines,
               CAST(len(list_filter(kept, x -> len(trim(x)) > 0))
                    AS BIGINT) AS n_kept
        FROM f"""


def _farthest_points_sql(k: int = 8, dim: int = 64) -> str:
    """SQL replica of q_farthest_points: k greedy rounds unrolled as
    MATERIALIZED CTEs (the hop_distances lesson — without
    MATERIALIZED the CTE tree inlines exponentially), each round =
    argmax on (round-3 min-distance desc, id) then a least() update.
    The Spark side updates against collected driver literals; IEEE
    round-trip makes the doubles identical."""
    sq = (
        "list_aggregate(list_transform(range(1, {n}), "
        "i -> (CAST({a}[i] AS DOUBLE) - {b}[i]) * (CAST({a}[i] AS DOUBLE) - {b}[i])), 'sum')"
    )
    d_expr = sq.format(n=dim + 1, a="e.vec", b="c.vec")
    ctes = [
        "emb AS MATERIALIZED (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings)",
        "c1 AS MATERIALIZED (SELECT id, vec FROM emb ORDER BY id LIMIT 1)",
        f"d1 AS MATERIALIZED (SELECT e.id, e.vec, round({d_expr}, 3) AS d"
        " FROM emb e CROSS JOIN c1 c)",
    ]
    selects = ["SELECT 1 AS rank, id, 0.0 AS radius FROM c1"]
    for r in range(2, k + 1):
        ctes.append(
            f"c{r} AS MATERIALIZED (SELECT id, vec, d FROM d{r - 1}"
            " ORDER BY d DESC, id LIMIT 1)"
        )
        ctes.append(
            f"d{r} AS MATERIALIZED (SELECT e.id, e.vec,"
            f" least(e.d, round({d_expr}, 3)) AS d"
            f" FROM d{r - 1} e CROSS JOIN c{r} c)"
        )
        selects.append(f"SELECT {r} AS rank, id, d AS radius FROM c{r}")
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + "\nUNION ALL ".join(selects)
    )


def _bitext_margin_sql(
    k: int = 4, n_centroids: int = 16, dim: int = 64,
    threshold_ppm: int = 1_000_000,
) -> str:
    """SQL replica of q_bitext_margin: the shared ivf
    codebook/assignment CTEs (_knn_graph_sql), cross-side within-cell
    round-3 cosines scaled to BIGINT milli-units, positive-neighbor
    top-k sums, the exact-integer ratio margin, and the
    forward-backward rank-1 intersection."""
    sq = (
        "list_aggregate(list_transform(range(1, {n}), "
        "i -> (CAST({a}[i] AS DOUBLE) - {b}[i]) * (CAST({a}[i] AS DOUBLE) - {b}[i])), 'sum')"
    )
    d_expr = sq.format(n=dim + 1, a="e.embedding", b="c.cv")
    return f"""
        WITH c0 AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding::DOUBLE[] AS cv
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {n_centroids})
        ), d AS (
          SELECT e.vec_id, c.cid, {d_expr} AS dist
          FROM embeddings e CROSS JOIN c0 c
        ), a AS (
          SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
            FROM d)
          WHERE rn = 1
        ), v AS (
          SELECT e.vec_id, CAST(e.vec_id % 2 AS INT) AS side,
                 e.embedding::DOUBLE[] AS vec, a.cid
          FROM embeddings e JOIN a USING (vec_id)
        ), pos AS MATERIALIZED (
          SELECT src_id, tgt_id, score,
                 CAST(round(score * 1000, 0) AS BIGINT) AS c_mil
          FROM (
            SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
                   round(list_cosine_similarity(s.vec, t.vec), 3) AS score
            FROM v s JOIN v t ON s.cid = t.cid
            WHERE s.side = 0 AND t.side = 1)
          WHERE CAST(round(score * 1000, 0) AS BIGINT) > 0
        ), s_stats AS (
          SELECT src_id, CAST(sum(c_mil) AS BIGINT) AS sum_s,
                 CAST(count(*) AS BIGINT) AS n_s
          FROM (SELECT *, row_number() OVER (
                  PARTITION BY src_id ORDER BY c_mil DESC, tgt_id) AS rk
                FROM pos)
          WHERE rk <= {k} GROUP BY 1
        ), t_stats AS (
          SELECT tgt_id, CAST(sum(c_mil) AS BIGINT) AS sum_t,
                 CAST(count(*) AS BIGINT) AS n_t
          FROM (SELECT *, row_number() OVER (
                  PARTITION BY tgt_id ORDER BY c_mil DESC, src_id) AS rk
                FROM pos)
          WHERE rk <= {k} GROUP BY 1
        ), scored AS (
          SELECT p.src_id, p.tgt_id, p.score,
                 CAST(p.c_mil * 2 * s.n_s * t.n_t * 1000000
                      // (s.sum_s * t.n_t + t.sum_t * s.n_s) AS BIGINT)
                   AS margin_ppm
          FROM pos p
          JOIN s_stats s USING (src_id)
          JOIN t_stats t USING (tgt_id)
        ), r AS (
          SELECT *,
                 row_number() OVER (
                   PARTITION BY src_id ORDER BY margin_ppm DESC, tgt_id) AS rf,
                 row_number() OVER (
                   PARTITION BY tgt_id ORDER BY margin_ppm DESC, src_id) AS rb
          FROM scored)
        SELECT src_id, tgt_id, score, margin_ppm
        FROM r WHERE rf = 1 AND rb = 1 AND margin_ppm >= {threshold_ppm}"""


def _knn_graph_sql(k: int = 4, n_centroids: int = 16, dim: int = 64) -> str:
    """SQL replica of q_knn_graph: the ivf codebook/assignment CTEs
    (shared with _semantic_dup_pairs_sql), within-cell kNN ranked on
    round-3 cosine with neighbor-id tie-break, then the mutual
    self-join and canonical a < b emit."""
    sq = (
        "list_aggregate(list_transform(range(1, {n}), "
        "i -> (CAST({a}[i] AS DOUBLE) - {b}[i]) * (CAST({a}[i] AS DOUBLE) - {b}[i])), 'sum')"
    )
    d_expr = sq.format(n=dim + 1, a="e.embedding", b="c.cv")
    return f"""
        WITH c0 AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding::DOUBLE[] AS cv
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {n_centroids})
        ), d AS (
          SELECT e.vec_id, c.cid, {d_expr} AS dist
          FROM embeddings e CROSS JOIN c0 c
        ), a AS (
          SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
            FROM d)
          WHERE rn = 1
        ), v AS (
          SELECT e.vec_id, e.embedding::DOUBLE[] AS vec, a.cid
          FROM embeddings e JOIN a USING (vec_id)
        ), knn AS MATERIALIZED (
          SELECT id, neighbor, score FROM (
            SELECT x.vec_id AS id, y.vec_id AS neighbor,
                   round(list_cosine_similarity(x.vec, y.vec), 3) AS score,
                   row_number() OVER (
                     PARTITION BY x.vec_id
                     ORDER BY round(list_cosine_similarity(x.vec, y.vec), 3) DESC,
                              y.vec_id
                   ) AS rk
            FROM v x JOIN v y ON x.cid = y.cid AND x.vec_id <> y.vec_id)
          WHERE rk <= {k})
        SELECT k1.id AS id_a, k1.neighbor AS id_b, k1.score
        FROM knn k1 JOIN knn k2
          ON k2.id = k1.neighbor AND k2.neighbor = k1.id
        WHERE k1.id < k1.neighbor"""


def _corpus_report_sql() -> str:
    """SQL replica of q_corpus_report: same planted dup corpus, the
    shared _quality_ctes verdict chain (probt), token_stats'
    whitespace law, corpus-wide md5 dup counts, BIGINT everywhere."""
    ctes = _quality_ctes(3, 1, 1, 10)
    return f"""
        WITH planted AS (
          SELECT doc_id, text, source FROM documents
          UNION ALL
          SELECT doc_id + 100000, text, source FROM documents
          WHERE doc_id % 10 = 0),
        {ctes},
        ck AS (SELECT md5(text) AS k, count(*) AS n
               FROM planted GROUP BY md5(text)),
        base AS (
          SELECT p.source,
                 CASE WHEN length(trim(p.text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(p.text), '\\s+'))
                 END AS nt,
                 CAST(c.n > 1 AS INT) AS dup,
                 CAST(q.c4_pass AND q.gopher_pass AND q.prob >= 0.5
                      AS INT) AS qp
          FROM planted p
          JOIN ck c ON md5(p.text) = c.k
          JOIN probt q ON q.id = p.doc_id)
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(nt) AS BIGINT) AS n_tokens,
               CAST(sum(dup) AS BIGINT) AS n_exact_dup_docs,
               CAST(sum(qp) AS BIGINT) AS n_quality_pass
        FROM base GROUP BY source"""


def _key_skew_sql(top_k: int = 5) -> str:
    """SQL replica of q_key_skew: identical count/share/cum laws."""
    return f"""
        WITH c AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows
          FROM events GROUP BY event_type),
        t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total FROM c),
        top AS (
          SELECT event_type, n_rows FROM c
          ORDER BY n_rows DESC, event_type LIMIT {top_k})
        SELECT event_type, n_rows,
               CAST(n_rows * 1000000 // t.total AS BIGINT) AS share_ppm,
               CAST(sum(n_rows * 1000000 // t.total) OVER (
                 ORDER BY n_rows DESC, event_type
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_share_ppm,
               CAST(row_number() OVER (ORDER BY n_rows DESC, event_type)
                 AS BIGINT) AS rank
        FROM top, t"""


def _salted_join_sql() -> str:
    """The oracle for q_salted_join is the PLAIN join — salting must
    be observationally invisible."""
    return """
        SELECT e.event_id, e.user_id,
               CAST(d.user_id % 5 AS BIGINT) AS tier
        FROM events e
        JOIN (SELECT DISTINCT user_id FROM events) d USING (user_id)"""


def _cdc_chunks_sql(w: int = 8, div: int = 32) -> str:
    """SQL replica of q_cdc_chunks: correlated unnest(range) positions,
    identical md5_u32 boundary mask, cut-after-window, sentinel cuts at
    1 and L+1, lead() spans, md5 chunk keys, corpus-wide copy counts."""
    h = _md5_hex_int_sql(f"substr(text, CAST(i AS INT), {w})", 8)
    return f"""
        WITH docs AS (
          SELECT doc_id, text, length(text) AS L FROM documents
          WHERE length(text) > 0),
        pos AS (
          SELECT doc_id, text, i FROM (
            SELECT doc_id, text,
                   unnest(range(1, greatest(L - {w}, 0) + 1)) AS i
            FROM docs)),
        bnd AS (
          SELECT doc_id, i + {w} AS cut FROM pos
          WHERE ({h}) % {div} = 0),
        cutpts AS (
          SELECT doc_id, CAST(1 AS BIGINT) AS cut FROM docs
          UNION ALL SELECT doc_id, CAST(cut AS BIGINT) FROM bnd
          UNION ALL SELECT doc_id, CAST(L + 1 AS BIGINT) FROM docs),
        spans AS (
          SELECT doc_id, cut AS s,
                 lead(cut) OVER (PARTITION BY doc_id ORDER BY cut) AS e,
                 row_number() OVER (PARTITION BY doc_id ORDER BY cut) - 1
                   AS chunk_idx
          FROM cutpts),
        chunks AS (
          SELECT c.doc_id, CAST(c.chunk_idx AS BIGINT) AS chunk_idx,
                 CAST(c.s AS BIGINT) AS chunk_start,
                 CAST(c.e - c.s AS BIGINT) AS n_chars,
                 md5(substr(d.text, CAST(c.s AS INT),
                            CAST(c.e - c.s AS INT))) AS chunk_key
          FROM spans c JOIN docs d USING (doc_id)
          WHERE c.e IS NOT NULL),
        cp AS (
          SELECT chunk_key, CAST(count(*) AS BIGINT) AS n_copies
          FROM chunks GROUP BY chunk_key)
        SELECT doc_id, chunk_idx, chunk_start, n_chars,
               chunks.chunk_key, n_copies
        FROM chunks JOIN cp USING (chunk_key)"""


def _change_rates_sql(
    min_ms: int = 60_000, max_ms: int = 86_400_000
) -> str:
    """SQL replica of q_change_rates: identical (t_ms, key) ordering
    for the lag, integer div for ppm/intervals, clamp via
    greatest/least (epoch_ms truncates like unix_millis — verified)."""
    return f"""
        WITH hist AS (
          SELECT 'http://h' || CAST(user_id AS VARCHAR) || '.com/' AS url,
                 epoch_ms(ts) AS t, event_type AS k
          FROM events),
        seq AS (
          SELECT url, t, k,
                 lag(k) OVER (PARTITION BY url ORDER BY t, k) AS prev
          FROM hist),
        agg AS (
          SELECT url, CAST(count(*) AS BIGINT) AS n_obs,
                 CAST(sum(CASE WHEN prev IS NOT NULL AND prev <> k
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
                 min(t) AS first_t, max(t) AS last_t
          FROM seq GROUP BY url),
        calc AS (
          SELECT url, n_obs, n_changes,
            CASE WHEN n_obs > 1
                 THEN n_changes * 1000000 // (n_obs - 1) ELSE 0
            END AS change_ppm,
            CASE WHEN n_obs > 1
                 THEN (last_t - first_t) // (n_obs - 1) ELSE 0
            END AS mean_interval_ms,
            greatest({min_ms}, least({max_ms},
              CASE WHEN n_obs > 1
                   THEN (last_t - first_t) // greatest(n_changes, 1)
                   ELSE {max_ms} END)) AS suggested_interval_ms,
            last_t
          FROM agg)
        SELECT url, n_obs, n_changes,
               CAST(change_ppm AS BIGINT) AS change_ppm,
               CAST(mean_interval_ms AS BIGINT) AS mean_interval_ms,
               CAST(suggested_interval_ms AS BIGINT)
                 AS suggested_interval_ms,
               CAST(last_t + suggested_interval_ms AS BIGINT)
                 AS next_fetch_ms
        FROM calc"""


def _url_templates_sql(top_k: int = 2) -> str:
    """SQL replica of q_url_templates: identical synthesized URLs,
    host/path via regexp (same values as Spark's parse_url on these
    urls), global digit-run collapse, two-phase rollup, per-host
    row_number on (n_urls desc, template)."""
    return f"""
        WITH u AS (
          SELECT 'http://h' || CAST(o_custkey % 20 AS VARCHAR)
                 || '.example.com/'
                 || CASE CAST(o_orderkey % 3 AS INT)
                      WHEN 0 THEN 'cat' WHEN 1 THEN 'item' ELSE 'page' END
                 || '/' || CAST(o_orderkey % 50 AS VARCHAR)
                 || CASE WHEN o_orderkey % 3 = 1
                      THEN '/v' || CAST(o_orderkey % 7 AS VARCHAR)
                      ELSE '' END AS url
          FROM orders),
        p AS (
          SELECT regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
                 regexp_replace(
                   regexp_extract(url, '^[a-z]+://[^/]+(/[^?#]*)', 1),
                   '[0-9]+', 'N', 'g') AS template,
                 url
          FROM u),
        per_url AS (
          SELECT host, template, url, count(*) AS n
          FROM p GROUP BY host, template, url),
        agg AS (
          SELECT host, template, CAST(sum(n) AS BIGINT) AS n_urls,
                 CAST(count(*) AS BIGINT) AS n_distinct
          FROM per_url GROUP BY host, template)
        SELECT host, template, n_urls, n_distinct,
               CAST(rank AS BIGINT) AS rank
        FROM (SELECT *, row_number() OVER (
                PARTITION BY host ORDER BY n_urls DESC, template
              ) AS rank FROM agg)
        WHERE rank <= {top_k}"""


def _hard_negatives_sql(
    k: int = 3, thr: float = 0.3, n_centroids: int = 16, dim: int = 64
) -> str:
    """SQL replica of q_hard_negatives: the shared ivf codebook/
    assignment CTEs (same as _knn_graph_sql), round-3 cosine
    thresholded strictly below ``thr`` BEFORE the per-anchor rank
    (score desc, neighbor-id tie-break), rk <= k."""
    sq = (
        "list_aggregate(list_transform(range(1, {n}), "
        "i -> (CAST({a}[i] AS DOUBLE) - {b}[i]) * (CAST({a}[i] AS DOUBLE) - {b}[i])), 'sum')"
    )
    d_expr = sq.format(n=dim + 1, a="e.embedding", b="c.cv")
    return f"""
        WITH c0 AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding::DOUBLE[] AS cv
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {n_centroids})
        ), d AS (
          SELECT e.vec_id, c.cid, {d_expr} AS dist
          FROM embeddings e CROSS JOIN c0 c
        ), a AS (
          SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
            FROM d)
          WHERE rn = 1
        ), v AS (
          SELECT e.vec_id, e.embedding::DOUBLE[] AS vec, a.cid
          FROM embeddings e JOIN a USING (vec_id)
        )
        SELECT id AS anchor_id, neighbor AS neg_id, score FROM (
          SELECT x.vec_id AS id, y.vec_id AS neighbor,
                 round(list_cosine_similarity(x.vec, y.vec), 3) AS score,
                 row_number() OVER (
                   PARTITION BY x.vec_id
                   ORDER BY round(list_cosine_similarity(x.vec, y.vec), 3) DESC,
                            y.vec_id
                 ) AS rk
          FROM v x JOIN v y ON x.cid = y.cid AND x.vec_id <> y.vec_id
          WHERE round(list_cosine_similarity(x.vec, y.vec), 3) < {thr})
        WHERE rk <= {k}"""


def _tfidf_keywords_sql(top_k: int = 5, min_df: int = 3) -> str:
    """SQL replica of q_tfidf_keywords: same postings CTEs as the BM25
    oracle, idf_micro = floor(ln(N/df) * 1e6 + 0.5) on the identical
    int64-ratio doubles, rank over (score desc, term asc)."""
    return f"""
        WITH toks AS (SELECT doc_id, {_FILTERED_TOKS_SQL} AS t FROM documents),
        nz AS (SELECT * FROM toks WHERE len(t) > 0),
        stats AS (SELECT CAST(count(*) AS BIGINT) AS N FROM nz),
        postings AS (
          SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, unnest(t) AS term FROM nz)
          GROUP BY doc_id, term
        ),
        dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                  FROM postings GROUP BY term),
        scored AS (
          SELECT p.doc_id, p.term, p.tf,
            p.tf * CAST(floor(ln(CAST(s.N AS DOUBLE) / CAST(d.df AS DOUBLE))
                              * 1000000 + 0.5) AS BIGINT) AS score_micro
          FROM postings p JOIN dfreq d USING (term) CROSS JOIN stats s
          WHERE d.df >= {min_df})
        SELECT doc_id, term, tf, score_micro, CAST(rank AS BIGINT) AS rank
        FROM (SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY score_micro DESC, term ASC
              ) AS rank FROM scored)
        WHERE rank <= {top_k}"""


def _bloom_membership_sql() -> str:
    """SQL replica of q_bloom_membership: identical md5 bit positions
    (bit_j = md5_u32(ck || ':' || j) mod m), identical probe law
    (sum of per-position hits == k), so even the false positives
    match bit-for-bit."""
    m, k = BLOOM_M, BLOOM_K
    js = ", ".join(f"({j})" for j in range(k))
    h = _md5_hex_int_sql("ck || ':' || CAST(j.j AS VARCHAR)", 8)
    return f"""
        WITH keys AS MATERIALIZED (
          SELECT CAST(doc_id AS BIGINT) AS doc_id, md5(text) AS ck,
                 CAST(doc_id % 2 = 0 AS BIGINT) AS actual
          FROM documents),
        bits AS MATERIALIZED (
          SELECT DISTINCT ({h}) % {m} AS bit
          FROM keys, (VALUES {js}) j(j)
          WHERE actual = 1),
        probe AS (
          SELECT doc_id, actual, ({h}) % {m} AS bit
          FROM keys, (VALUES {js}) j(j))
        SELECT p.doc_id, p.actual,
               CAST(sum(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END) = {k}
                    AS BIGINT) AS maybe
        FROM probe p LEFT JOIN bits b ON b.bit = p.bit
        GROUP BY p.doc_id, p.actual"""


def _hop_distances_sql() -> str:
    """SQL replica of q_hop_distances: frontier BFS unrolled one
    expansion CTE per hop (f{i} = distinct successors of f{i-1} not
    yet settled; d{i} accumulates). Pure BIGINT — bit-identical to the
    Spark frontier loop at the same HOP_MAX cap."""
    seeds = ", ".join(f"({s})" for s in HOP_SEEDS)
    its = []
    for i in range(1, HOP_MAX + 1):
        its.append(f"""
        f{i} AS MATERIALIZED (SELECT e.dst AS node
                 FROM f{i - 1} JOIN edges e ON e.src = f{i - 1}.node
                 EXCEPT SELECT node FROM d{i - 1}),
        d{i} AS MATERIALIZED (SELECT * FROM d{i - 1}
                 UNION ALL SELECT node, CAST({i} AS BIGINT) FROM f{i})""")
    return f"""
        WITH {_PLANTED_GRAPH_CTES},
        d0 AS (SELECT CAST(s.s AS BIGINT) AS node, CAST(0 AS BIGINT) AS hops
               FROM (VALUES {seeds}) s(s)),
        f0 AS (SELECT node FROM d0),
        {", ".join(its)}
        SELECT node, hops FROM d{HOP_MAX}"""


def _kcore_sql() -> str:
    """SQL replica of q_kcore: the peel unrolled KCORE_ORACLE_ROUNDS
    times (>= the observed sf0.01 convergence; extra rounds are
    no-ops past the fixpoint, so the fixed unroll matches Spark's
    early-stopped loop exactly)."""
    k = KCORE_K
    its = []
    for i in range(KCORE_ORACLE_ROUNDS):
        its.append(f"""
        dg{i} AS (SELECT node, CAST(count(*) AS BIGINT) AS degree
                  FROM (SELECT u AS node FROM ue{i}
                        UNION ALL SELECT v FROM ue{i})
                  GROUP BY node),
        kp{i} AS MATERIALIZED (SELECT node FROM dg{i} WHERE degree >= {k}),
        ue{i + 1} AS MATERIALIZED (SELECT u, v FROM ue{i}
                      WHERE u IN (SELECT node FROM kp{i})
                        AND v IN (SELECT node FROM kp{i}))""")
    last = KCORE_ORACLE_ROUNDS
    return f"""
        WITH {_PLANTED_GRAPH_CTES},
        ue0 AS MATERIALIZED (
                SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
                FROM edges WHERE src <> dst),
        {", ".join(its)}
        SELECT node, CAST(count(*) AS BIGINT) AS degree
        FROM (SELECT u AS node FROM ue{last} UNION ALL SELECT v FROM ue{last})
        GROUP BY node"""


def _host_graph_sql() -> str:
    """SQL replica of q_host_graph: map endpoints through the host
    table, drop intra-host loops, count links per host pair."""
    return f"""
        WITH {_PLANTED_GRAPH_CTES},
        hm AS (SELECT node, 'h' || CAST(node % 23 AS VARCHAR) AS host FROM nodes)
        SELECT s.host AS src_host, d.host AS dst_host,
               CAST(count(*) AS BIGINT) AS weight
        FROM edges e
        JOIN hm s ON s.node = e.src
        JOIN hm d ON d.node = e.dst
        WHERE s.host <> d.host
        GROUP BY s.host, d.host"""


def _hits_graph_sql(iterations: int = 3, scale: int = 1_000_000_000) -> str:
    """SQL replica of graph.hits on the planted doc graph: each
    iteration is two aggregate+normalize CTE pairs; every quantity is
    BIGINT (sums CAST before the // — HUGEINT rule), so scores are
    bit-identical to the Spark integer recurrence."""
    its = []
    for i in range(iterations):
        its.append(f"""
        ar{i} AS (SELECT e.dst AS node, CAST(sum(p.h) AS BIGINT) AS raw
                  FROM h{i} p JOIN edges e ON e.src = p.node GROUP BY e.dst),
        a{i + 1} AS (SELECT n.node,
                   (COALESCE(r.raw, 0) * {scale})
                     // greatest((SELECT COALESCE(CAST(sum(raw) AS BIGINT), 0)
                                  FROM ar{i}), 1) AS a
                 FROM nodes n LEFT JOIN ar{i} r ON r.node = n.node),
        hr{i} AS (SELECT e.src AS node, CAST(sum(a.a) AS BIGINT) AS raw
                  FROM a{i + 1} a JOIN edges e ON e.dst = a.node GROUP BY e.src),
        h{i + 1} AS (SELECT n.node,
                   (COALESCE(r.raw, 0) * {scale})
                     // greatest((SELECT COALESCE(CAST(sum(raw) AS BIGINT), 0)
                                  FROM hr{i}), 1) AS h
                 FROM nodes n LEFT JOIN hr{i} r ON r.node = n.node)""")
    return f"""
        WITH {_PLANTED_GRAPH_CTES},
        h0 AS (SELECT node, CAST({scale} AS BIGINT) AS h FROM nodes),
        {", ".join(its)}
        SELECT h.node, CAST(h.h AS BIGINT) AS hub_score,
               CAST(a.a AS BIGINT) AS auth_score
        FROM h{iterations} h JOIN a{iterations} a ON a.node = h.node"""


def _exact_percentiles_sql() -> str:
    """SQL replica of textstats.exact_percentiles over the per-doc
    token count: rank = floor(q * (n-1)) + 1 selected from an explicit
    row_number ordering (never quantile_disc — its interpolation
    convention is the engine's business, not the operator's)."""
    qvals = ", ".join(f"(CAST({q!r} AS DOUBLE))" for q in PCTL_QS)
    return f"""
        WITH s AS (SELECT CAST(len({_FILTERED_TOKS_SQL}) AS BIGINT) AS v
                   FROM documents),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s),
        qs(q) AS (VALUES {qvals}),
        t AS (SELECT q, CAST(floor(q * (n - 1)) AS BIGINT) + 1 AS target, n
              FROM qs, nn),
        r AS (SELECT v, CAST(row_number() OVER (ORDER BY v) AS BIGINT) AS gr
              FROM s)
        SELECT t.q, r.v AS value, r.gr AS rank, t.n AS n
        FROM r JOIN t ON r.gr = t.target"""


def _tokenize_ids_sql(top_v: int = 20) -> str:
    """SQL replica of textstats.tokenize_ids against the top-``top_v``
    vocab_coverage vocabulary: positions via unnest(range(len)), vocab
    left-joined on the term, csv rebuilt with an ORDER BY pos
    string_agg (the Spark side sorts (pos, id) structs)."""
    return f"""
        WITH toks AS (SELECT doc_id, {_FILTERED_TOKS_SQL} AS t FROM documents),
        stream AS (SELECT doc_id, unnest(t) AS term FROM toks),
        counts AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt
                   FROM (SELECT unnest(t) AS term FROM toks) GROUP BY term),
        vocab AS (SELECT term, CAST(row_number() OVER (
                      ORDER BY cnt DESC, term ASC) AS INT) AS tid
                  FROM (SELECT * FROM counts ORDER BY cnt DESC, term ASC
                        LIMIT {top_v})),
        posx AS (SELECT doc_id, t,
                        unnest(range(0, CAST(len(t) AS BIGINT))) AS pos
                 FROM toks WHERE len(t) > 0),
        tagged AS (SELECT p.doc_id AS id, CAST(p.pos AS BIGINT) AS pos,
                          COALESCE(v.tid, 0) AS tid
                   FROM (SELECT doc_id, pos, t[pos + 1] AS term FROM posx) p
                   LEFT JOIN vocab v ON v.term = p.term)
        SELECT id,
               string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos) AS ids_csv,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        FROM tagged GROUP BY id"""


def _quality_ctes(
    c4_min_line_words: int,
    c4_min_sentences: int,
    min_stop_hits: int,
    gopher_min_words: int,
    dim: int = 4096,
    seed: str = "qc1",
) -> str:
    """The fused C4 -> Gopher -> classifier verdict as a reusable CTE
    chain reading a ``planted(doc_id, text)`` CTE and ending in
    ``probt(id, c4_pass, gopher_pass, prob)`` — shared by
    _quality_pipeline_sql and the end-to-end _training_pipeline_sql."""
    bad = (
        "(contains(lower(text), 'lorem ipsum')"
        " OR contains(lower(text), 'terms of use')"
        " OR contains(lower(text), 'privacy policy')"
        " OR contains(lower(text), 'cookie policy')"
        " OR contains(lower(text), 'uses cookies'))"
    )
    n_sent = (
        "((len(ct) - len(replace(ct, '.', '')))"
        " + (len(ct) - len(replace(ct, '!', '')))"
        " + (len(ct) - len(replace(ct, '?', ''))))"
    )
    b_expr = f"({_md5_hex_int_sql('s', 8)}) % {dim}"
    w_arg = f"'{seed}:' || CAST(bk AS VARCHAR)"
    w_expr = f"((({_md5_hex_int_sql(w_arg, 8)}) % 2001) - 1000)"
    return f"""keptt AS (
          SELECT doc_id, text,
            list_filter(
              list_filter(string_split(text, chr(10)), x -> len(trim(x)) > 0),
              x ->
              (ends_with(trim(x), '.') OR ends_with(trim(x), '!')
               OR ends_with(trim(x), '?') OR ends_with(trim(x), '"'))
              AND len(list_filter(string_split_regex(lower(trim(x)), '\\s+'),
                                  w -> len(w) > 0)) >= {c4_min_line_words}
              AND NOT contains(lower(trim(x)), 'javascript')) AS keptl
          FROM planted
        ), c4v AS (
          SELECT doc_id AS id,
                 coalesce(array_to_string(keptl, chr(10)), '') AS ct,
                 ((NOT contains(text, '{{')) AND (NOT {bad})) AS page_ok
          FROM keptt
        ), c4p AS (
          SELECT id, ct, (page_ok AND {n_sent} >= {c4_min_sentences}) AS c4_pass
          FROM c4v
        ), gb AS (
          SELECT id, ct, c4_pass,
            list_filter(string_split(trim(regexp_replace(lower(ct), '\\s+', ' ', 'g')), ' '),
                        x -> length(x) > 0) AS toks,
            list_filter(string_split(ct, chr(10)), x -> length(trim(x)) > 0) AS lines,
            (length(ct) - length(replace(ct, '#', ''))) AS n_hash,
            CAST(floor((length(ct) - length(replace(ct, '...', ''))) / 3.0) AS BIGINT) AS n_dots,
            (length(ct) - length(replace(ct, '…', ''))) AS n_uni
          FROM c4p
        ), gd AS (
          SELECT id, ct, c4_pass,
            CAST(len(toks) AS BIGINT) AS n_words,
            round(CASE WHEN len(toks) > 0
                  THEN list_aggregate(list_transform(toks, x -> length(x)), 'sum')::DOUBLE / len(toks)
                  ELSE 0 END, 4) AS mean_word_len,
            round(CASE WHEN len(toks) > 0
                  THEN (n_hash + n_dots + n_uni)::DOUBLE / len(toks)
                  ELSE 0 END, 4) AS symbol_ratio,
            round(CASE WHEN len(lines) > 0
                  THEN len(list_filter(lines, x -> starts_with(trim(x), '-')
                       OR starts_with(trim(x), '*')
                       OR starts_with(trim(x), '•')))::DOUBLE / len(lines)
                  ELSE 0 END, 4) AS bullet_frac,
            round(CASE WHEN len(lines) > 0
                  THEN len(list_filter(lines, x -> ends_with(trim(x), '...')
                       OR ends_with(trim(x), '…')))::DOUBLE / len(lines)
                  ELSE 0 END, 4) AS ellipsis_frac,
            round(CASE WHEN len(toks) > 0
                  THEN len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))::DOUBLE / len(toks)
                  ELSE 0 END, 4) AS alpha_frac,
            CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
                                 w -> list_contains(toks, w))) AS INT) AS stop_hits
          FROM gb
        ), gv AS (
          SELECT id, ct, c4_pass,
            (n_words >= {gopher_min_words} AND n_words <= 100000
             AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
             AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
             AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8
             AND stop_hits >= {min_stop_hits}) AS gopher_pass
          FROM gd
        ), ctoks AS (
          SELECT id, c4_pass, gopher_pass,
            list_filter(string_split_regex(trim(regexp_replace(lower(ct), '\\s+', ' ', 'g')), ' '),
                        s0 -> len(s0) > 0) AS t
          FROM gv
        ), w AS (
          SELECT id, c4_pass, gopher_pass, len(t) AS n,
            list_aggregate(
              list_transform(list_transform(t, s -> {b_expr}), bk -> {w_expr}),
              'sum') AS total
          FROM ctoks
        ), probt AS (
          SELECT id, c4_pass, gopher_pass,
            round(1.0 / (1.0 + exp(-(CASE WHEN n > 0
              THEN CAST(floor((20 * total + n) / (2.0 * n)) AS DOUBLE) / 10000.0
              ELSE 0.0 END))), 4) AS prob
          FROM w
        )"""


def _quality_pipeline_sql(
    c4_min_line_words: int = 3,
    c4_min_sentences: int = 1,
    min_stop_hits: int = 1,
    gopher_min_words: int = 10,
    min_prob: float = 0.5,
    dim: int = 4096,
    seed: str = "qc1",
) -> str:
    """SQL replica of the fused C4 -> Gopher -> classifier chain over
    the q_c4_rules planted corpus: the C4 stage reuses that oracle's
    CTE shape, then Gopher and the classifier judge the CLEANED text
    (every fragment is the per-gate oracle's, re-pointed at ct)."""
    return f"""
        WITH planted AS (
          SELECT doc_id,
            replace(replace(
              CASE WHEN doc_id % 13 = 0 THEN text || ' lorem ipsum'
                   WHEN doc_id % 17 = 0 THEN '{{ ' || text
                   ELSE text END,
              ' table ', '.' || chr(10)), ' row ', ' javascript ') AS text
          FROM documents
        ), {_quality_ctes(c4_min_line_words, c4_min_sentences,
                          min_stop_hits, gopher_min_words, dim, seed)}
        SELECT id, c4_pass, gopher_pass, prob,
          (c4_pass AND gopher_pass AND prob >= {min_prob!r}) AS quality_pass,
          concat_ws(',',
            CASE WHEN NOT c4_pass THEN 'c4' END,
            CASE WHEN NOT gopher_pass THEN 'gopher' END,
            CASE WHEN prob < {min_prob!r} THEN 'classifier' END) AS fail_reasons
        FROM probt"""
def _text_normalize_sql() -> str:
    """SQL replica of q_text_normalize: the planted raw text rebuilt
    with chr() concatenation, then DuckDB's UAX#15 nfc_normalize + the
    SAME strip/collapse regex literals the Spark op uses (RE2 and Java
    regex both parse the \\x{...} escapes)."""
    from walker_spark.operators.textstats import NORM_STRIP_RE, NORM_WS_RE

    return f"""
        WITH planted AS (
          SELECT doc_id,
                 'Caf' || chr(101) || chr(769) || ' ' || chr(8203) ||
                 'menu' || chr(9) || text || '  fin' || chr(7) || 'al  ' AS t
          FROM documents),
        n AS (
          SELECT doc_id, t,
                 trim(regexp_replace(regexp_replace(nfc_normalize(t),
                      '{NORM_STRIP_RE}', '', 'g'),
                      '{NORM_WS_RE}', ' ', 'g')) AS text_norm
          FROM planted)
        SELECT doc_id AS id, text_norm,
               CAST(length(t) AS BIGINT) AS n_raw,
               CAST(length(text_norm) AS BIGINT) AS n_norm,
               (text_norm <> t) AS changed
        FROM n"""


def _grouped_percentiles_sql() -> str:
    """SQL replica of q_grouped_percentiles: the language_id CASE (same
    WHEN order as the Spark reverse-sorted when-chain) + token_stats
    n_tokens, then type-1 rank selection from an explicit row_number
    per language (never quantile_disc)."""
    lang_hits = {lang: _hits_sql(ws) for lang, ws in _LANG_MARKER_SQL.items()}
    best = "greatest(" + ", ".join(f"({h})" for h in lang_hits.values()) + ")"
    qvals = ", ".join(f"(CAST({q!r} AS DOUBLE))" for q in GP_QS)
    return f"""
        WITH lt AS (
          SELECT CASE WHEN {best} = 0 THEN 'und'
                      WHEN ({lang_hits['de']}) = {best} THEN 'de'
                      WHEN ({lang_hits['en']}) = {best} THEN 'en'
                      WHEN ({lang_hits['es']}) = {best} THEN 'es'
                      ELSE 'fr' END AS lang,
                 CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(text), '\\s+'))
                      END AS BIGINT) AS v
          FROM documents),
        r AS (SELECT lang, v,
                     CAST(row_number() OVER (
                         PARTITION BY lang ORDER BY v) AS BIGINT) AS rnk,
                     CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
              FROM lt),
        qs(q) AS (VALUES {qvals})
        SELECT r.lang, qs.q, r.v AS value, r.rnk AS rank, r.n AS n
        FROM r, qs
        WHERE r.rnk = CAST(floor(qs.q * (r.n - 1)) AS BIGINT) + 1"""


def _stratified_split_sql() -> str:
    """SQL replica of q_stratified_split: per-stratum row_number in
    (md5('split'||id), id) order, quota thresholds floor(f*n) with f
    forced DOUBLE so the float product matches Spark bitwise."""
    return """
        WITH s AS (SELECT o_orderkey, o_orderpriority,
                          md5('split' || CAST(o_orderkey AS VARCHAR)) AS h
                   FROM orders),
        r AS (SELECT o_orderkey, o_orderpriority,
                     CAST(row_number() OVER (
                         PARTITION BY o_orderpriority
                         ORDER BY h, o_orderkey) AS BIGINT) AS rnk,
                     CAST(count(*) OVER (
                         PARTITION BY o_orderpriority) AS BIGINT) AS n
              FROM s)
        SELECT o_orderkey, o_orderpriority,
               CASE WHEN rnk <= CAST(floor(CAST(0.1 AS DOUBLE) * n) AS BIGINT)
                    THEN 'test'
                    WHEN rnk <= CAST(floor(CAST(0.1 AS DOUBLE) * n) AS BIGINT)
                             + CAST(floor(CAST(0.05 AS DOUBLE) * n) AS BIGINT)
                    THEN 'val'
                    ELSE 'train' END AS split,
               rnk AS rank, n
        FROM r"""
def _phash_near_dups_sql(max_hamming: int = 2) -> str:
    """SQL replica of q_phash_near_dups: the 60-bit hash decoded
    positionally from md5(text) (same strpos trick as the simhash
    oracle — the Spark side is conv(substr(md5,1,15),16,10)), planted
    twins via xor with a 1-bit shift of the original id, then
    brute-force hamming pairs (pigeonhole banding has exact recall at
    the radius, so banded == brute force)."""
    hex_decode = " + ".join(
        f"(strpos('0123456789abcdef', substr(h15, {i}, 1)) - 1) * {16 ** (15 - i)}"
        for i in range(1, 16)
    )
    return f"""
        WITH f AS (SELECT doc_id AS asset_id, substr(md5(text), 1, 15) AS h15
                   FROM documents),
        h AS (SELECT asset_id, CAST(({hex_decode}) AS BIGINT) AS phash FROM f),
        tw AS (SELECT asset_id + 1000000 AS asset_id,
                      xor(phash, (1::BIGINT << CAST(asset_id % 60 AS INT))) AS phash
               FROM h WHERE asset_id % 7 = 0),
        all_h AS (SELECT asset_id, phash FROM h
                  UNION ALL SELECT asset_id, phash FROM tw)
        SELECT a.asset_id AS id_a, b.asset_id AS id_b,
               CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
        FROM all_h a JOIN all_h b ON a.asset_id < b.asset_id
        WHERE bit_count(xor(a.phash, b.phash)) <= {max_hamming}"""
_UNIMAX_ALLOC_CTES = f'''
        src AS (SELECT doc_id,
                       CASE WHEN doc_id % 10 < 6 THEN 'web'
                            WHEN doc_id % 10 < 9 THEN 'books'
                            ELSE 'wiki' END AS source
                FROM documents),
        c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
              FROM src GROUP BY source),
        t AS (SELECT source, n_docs,
                     CAST(n_docs * {UNIMAX_EPOCHS} AS BIGINT) AS capacity,
                     CAST(row_number() OVER (
                         ORDER BY n_docs * {UNIMAX_EPOCHS}, source) AS BIGINT) AS idx,
                     CAST(sum(n_docs * {UNIMAX_EPOCHS}) OVER (
                         ORDER BY n_docs * {UNIMAX_EPOCHS}, source
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS BIGINT) AS prefix,
                     CAST(count(*) OVER () AS BIGINT) AS s
              FROM c),
        k AS (SELECT *, (capacity * (s - idx + 1) + (prefix - capacity))
                        <= {UNIMAX_BUDGET} AS capped FROM t),
        g AS (SELECT *,
                     max(CASE WHEN capped THEN idx ELSE 0 END) OVER () AS kstar,
                     max(CASE WHEN capped THEN prefix ELSE 0 END) OVER () AS prefix_k
              FROM k),
        al AS (SELECT source, n_docs, capacity,
                      CAST(CASE WHEN capped THEN capacity
                           ELSE (({UNIMAX_BUDGET} - prefix_k) // (s - kstar))
                                + (CASE WHEN idx - kstar <=
                                        (({UNIMAX_BUDGET} - prefix_k) % (s - kstar))
                                   THEN 1 ELSE 0 END)
                           END AS BIGINT) AS alloc
               FROM g)'''


def _unimax_allocation_sql() -> str:
    '''SQL replica of curation.unimax_allocation: the waterfilling
    closed form (largest capped prefix in (capacity, source) order,
    floor + first-rem remainder spread) as window CTEs.'''
    return f'''
        WITH {_UNIMAX_ALLOC_CTES}
        SELECT source, n_docs, capacity, alloc,
               CAST((alloc * 1000000) // {UNIMAX_BUDGET} AS BIGINT) AS share_ppm
        FROM al'''


def _unimax_mix_sql() -> str:
    '''SQL replica of curation.unimax_mix: full epochs = alloc // n,
    fractional epoch decided by md5-u32 < (alloc mod n) * 2^32 // n
    (integer floor division both engines).'''
    u32 = _md5_hex_int_sql("CAST(s.doc_id AS VARCHAR)", 8)
    return f'''
        WITH {_UNIMAX_ALLOC_CTES},
        probs AS (SELECT source, alloc // n_docs AS e,
                         CAST(((alloc % n_docs) * 4294967296) // n_docs
                              AS BIGINT) AS thr
                  FROM al)
        SELECT s.doc_id AS id, s.source,
               CAST(p.e + (CASE WHEN ({u32}) < p.thr THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_repeats
        FROM src s JOIN probs p USING (source)
        WHERE p.e + (CASE WHEN ({u32}) < p.thr THEN 1 ELSE 0 END) >= 1'''
def _novelty_scores_sql(n: int = 3) -> str:
    """SQL replica of q_novelty_scores: distinct positional-trigram
    md5 keys per odd doc, left-joined against the distinct even-doc
    reference gram set (same key derivation as dup_ngram_spans),
    integer-ppm roll-up."""
    return f"""
        WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
        dg AS (SELECT DISTINCT doc_id,
                      md5(array_to_string(t[i+1:i+{n}], ' ')) AS gram_key
               FROM toks, UNNEST(generate_series(0, len(t) - {n})) AS u(i)
               WHERE doc_id % 2 = 1 AND len(t) >= {n}),
        rg AS (SELECT DISTINCT md5(array_to_string(t[i+1:i+{n}], ' ')) AS gram_key
               FROM toks, UNNEST(generate_series(0, len(t) - {n})) AS u(i)
               WHERE doc_id % 2 = 0 AND len(t) >= {n})
        SELECT dg.doc_id AS id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN rg.gram_key IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               CAST((sum(CASE WHEN rg.gram_key IS NULL THEN 1 ELSE 0 END)
                     * 1000000) // count(*) AS BIGINT) AS novelty_ppm
        FROM dg LEFT JOIN rg USING (gram_key)
        GROUP BY dg.doc_id"""
def _source_overlap_sql(n: int = 3) -> str:
    """SQL replica of q_source_overlap: distinct (source, gram-md5)
    pairs, pairwise common counts, integer Jaccard ppm."""
    return f"""
        WITH toks AS (SELECT source, {_TOKS_SQL} AS t FROM documents),
        sg AS (SELECT DISTINCT source,
                      md5(array_to_string(t[i+1:i+{n}], ' ')) AS gram_key
               FROM toks, UNNEST(generate_series(0, len(t) - {n})) AS u(i)
               WHERE len(t) >= {n}),
        sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n_grams
                  FROM sg GROUP BY source),
        cm AS (SELECT a.source AS source_a, b.source AS source_b,
                      CAST(count(*) AS BIGINT) AS common
               FROM sg a JOIN sg b
                 ON a.gram_key = b.gram_key AND a.source < b.source
               GROUP BY 1, 2)
        SELECT cm.source_a, cm.source_b,
               sa.n_grams AS grams_a, sb.n_grams AS grams_b, cm.common,
               CAST((cm.common * 1000000)
                    // (sa.n_grams + sb.n_grams - cm.common) AS BIGINT)
                 AS jaccard_ppm
        FROM cm
        JOIN sizes sa ON sa.source = cm.source_a
        JOIN sizes sb ON sb.source = cm.source_b"""
def _quantile_filter_sql(lo_q: float = 0.1, hi_q: float = 0.9) -> str:
    """SQL replica of q_quantile_filter: the grouped_percentiles rank
    selection at lo_q/hi_q per language, cutoff values joined back,
    inclusive filter."""
    lang_hits = {lang: _hits_sql(ws) for lang, ws in _LANG_MARKER_SQL.items()}
    best = "greatest(" + ", ".join(f"({h})" for h in lang_hits.values()) + ")"
    return f"""
        WITH lt AS (
          SELECT doc_id AS id,
                 CASE WHEN {best} = 0 THEN 'und'
                      WHEN ({lang_hits['de']}) = {best} THEN 'de'
                      WHEN ({lang_hits['en']}) = {best} THEN 'en'
                      WHEN ({lang_hits['es']}) = {best} THEN 'es'
                      ELSE 'fr' END AS lang,
                 CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(text), '\\s+'))
                      END AS BIGINT) AS n_tokens
          FROM documents),
        r AS (SELECT lang, n_tokens AS v,
                     CAST(row_number() OVER (
                         PARTITION BY lang ORDER BY n_tokens) AS BIGINT) AS rnk,
                     CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
              FROM lt),
        cuts AS (
          SELECT lang,
                 min(CASE WHEN rnk = CAST(floor(CAST({lo_q!r} AS DOUBLE)
                         * (n - 1)) AS BIGINT) + 1 THEN v END) AS lo_value,
                 max(CASE WHEN rnk = CAST(floor(CAST({hi_q!r} AS DOUBLE)
                         * (n - 1)) AS BIGINT) + 1 THEN v END) AS hi_value
          FROM r GROUP BY lang)
        SELECT lt.id, lt.lang, lt.n_tokens, c.lo_value, c.hi_value
        FROM lt JOIN cuts c USING (lang)
        WHERE lt.n_tokens >= c.lo_value AND lt.n_tokens <= c.hi_value"""
def _training_pipeline_sql(
    budget_docs: int = 40, shard_tokens: int = 512, ngram: int = 4
) -> str:
    """SQL replica of q_training_pipeline: the _quality_ctes verdict
    chain over the planted corpus minus the benchmark slice, then
    exact dedup (min id per normalized text), n-gram decontamination
    vs the slice, temperature mixture (same float expression as the
    temperature_mix oracle) and the assign_shards global prefix sum."""
    plant = """replace(replace(
              CASE WHEN doc_id % 13 = 0 THEN text || ' lorem ipsum'
                   WHEN doc_id % 17 = 0 THEN '{ ' || text
                   ELSE text END,
              ' table ', '.' || chr(10)), ' row ', ' javascript ')"""
    u = _md5_hex_int_sql("CAST(c.doc_id AS VARCHAR)", 8)
    return f"""
        WITH planted AS (
          SELECT doc_id, source, {plant} AS text
          FROM documents WHERE doc_id % 97 <> 0
        ), bench AS (
          SELECT {plant} AS text FROM documents WHERE doc_id % 97 = 0
        ), {_quality_ctes(3, 1, 0, 5)},
        qk AS (SELECT id FROM probt
               WHERE c4_pass AND gopher_pass AND prob >= 0.45),
        passed AS (SELECT p.* FROM planted p JOIN qk ON qk.id = p.doc_id),
        dd AS (SELECT min(doc_id) AS doc_id FROM passed
               GROUP BY {_NORM_TEXT_SQL}),
        survivors AS (SELECT p.* FROM passed p JOIN dd USING (doc_id)),
        cg AS (
          SELECT DISTINCT doc_id, g FROM (
            SELECT doc_id, unnest(list_transform(
                range(0, greatest(len(toks) - {ngram}, 0) + 1),
                i -> array_to_string(toks[i+1:i+{ngram}], ' '))) AS g
            FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM survivors))
          WHERE length(g) > 0
        ), bg AS (
          SELECT DISTINCT g FROM (
            SELECT unnest(list_transform(
                range(0, greatest(len(toks) - {ngram}, 0) + 1),
                i -> array_to_string(toks[i+1:i+{ngram}], ' '))) AS g
            FROM (SELECT {_TOKS_SQL} AS toks FROM bench))
          WHERE length(g) > 0
        ), contaminated AS (
          SELECT DISTINCT doc_id FROM cg WHERE g IN (SELECT g FROM bg)
        ), clean AS (
          SELECT * FROM survivors
          WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
        ), mn AS (
          SELECT source, count(*)::DOUBLE AS n FROM clean GROUP BY source
        ), mz AS (SELECT sum(power(n, 0.5)) AS z FROM mn),
        mp AS (
          SELECT source,
                 least(1.0, {float(budget_docs)!r} * power(n, 0.5)
                       / (SELECT z FROM mz) / n) AS p
          FROM mn
        ), mixed AS (
          SELECT c.* FROM clean c JOIN mp USING (source)
          WHERE ({u}) / 4294967296.0 < mp.p
        ), tok AS (
          SELECT doc_id AS id, source,
                 CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(text), '\\s+'))
                      END AS BIGINT) AS n_tokens
          FROM mixed
        )
        SELECT id, source, n_tokens,
               CAST(coalesce(sum(n_tokens) OVER (
                    ORDER BY id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    // {shard_tokens} AS BIGINT) AS shard_id
        FROM tok"""
def _ppr_sql(iterations: int = 4, num: int = 17, den: int = 20) -> str:
    """SQL replica of graph.personalized_pagerank on the planted doc
    graph (seeds: node % 25 == 1): the integer recurrence unrolled one
    CTE per iteration; teleport + dangling mass deposit on seeds only."""
    micro = 1_000_000
    base = (micro * (den - num)) // den
    its = []
    for i in range(iterations):
        its.append(f"""
        r{i + 1} AS (
          SELECT n.node, n.outdeg,
            CAST(CASE WHEN n.node % 25 = 1
                 THEN {base} + ((SELECT COALESCE(CAST(sum(r) AS BIGINT), 0)
                                 FROM r{i} WHERE outdeg = 0) * {num})
                              // ({den} * (SELECT cnt FROM ns))
                 ELSE 0 END
                 + COALESCE(c.s, 0) AS BIGINT) AS r
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS node,
                   CAST(sum((p.r * {num}) // ({den} * p.outdeg)) AS BIGINT) AS s
            FROM r{i} p JOIN edges e ON e.src = p.node
            WHERE p.outdeg > 0
            GROUP BY e.dst) c ON c.node = n.node
        )""")
    return f"""
        WITH {_PLANTED_GRAPH_CTES},
        ns AS (SELECT CAST(count(*) AS BIGINT) AS cnt FROM nodes
               WHERE node % 25 = 1),
        r0 AS (SELECT node, outdeg,
                      CAST(CASE WHEN node % 25 = 1 THEN {micro} ELSE 0 END
                           AS BIGINT) AS r
               FROM nodes),
        {", ".join(its)}
        SELECT node, r AS rank_micro FROM r{iterations}"""
