"""URL-seen exactness, weighted-fair claiming, and politeness
budget tests (J1/M6, A3, ST3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.crawlfix import NOW_MS, build_store, domain_row, link_row
from walker_spark.config import FetcherConfig, FrontierConfig, WalkerConfig
from walker_spark.operators import urlseen
from walker_spark.operators.claim import claim_domains
from walker_spark.plans import schemas
from walker_spark.streaming.loop import CrawlEngine


def _keys_df(spark, urls):
    from walker_spark.functions import urlkernel

    rows = []
    for u in urls:
        key = urlkernel.primary_key(urlkernel.normalize_url(u))
        rows.append(key + (u,))
    return spark.createDataFrame(
        rows, "dom string, subdom string, path string, proto string, norm_url string"
    )


def test_filter_unseen_exact_antijoin(spark, tmp_path):
    """The unseen set is exactly the candidates whose primary key is
    not in links, one row per key (M6 exactness invariant)."""
    seen_urls = [f"http://s{i % 17}.com/p{i}.html" for i in range(300)]
    store = build_store(
        spark, str(tmp_path), [], [link_row(u) for u in seen_urls]
    )
    fresh = [f"http://s{i % 17}.com/p{i}.html" for i in range(200, 500)]  # 100 seen
    fresh += [f"http://new{i}.com/x.html" for i in range(50)]
    # repeated keys (one of them already seen) collapse to one row each
    dupes = ["http://new0.com/x.html", "http://s0.com/p306.html", "http://s3.com/p3.html"]
    candidates = _keys_df(spark, fresh + dupes + dupes)
    out = [
        tuple(r)
        for r in urlseen.filter_unseen(store, candidates)
        .select(*schemas.LINK_KEY)
        .collect()
    ]
    assert len(out) == len(set(out)) == 250  # 300 candidates - 100 seen + 50 new
    seen_keys = {
        tuple(r) for r in store.read("links").select(*schemas.LINK_KEY).collect()
    }
    expected = {
        tuple(r)
        for r in candidates.select(*schemas.LINK_KEY).collect()
    } - seen_keys
    assert set(out) == expected


def test_claim_fairness_proportional_to_priority(spark, tmp_path):
    """Claims per domain ∝ priority (reference verifies statistically
    with tol 0.01, datastore_test.go:793-878; deterministic here).
    After t rounds a priority-p domain has been claimed ~t*p/max_p
    times."""
    domains = [
        domain_row("p1.com", priority=1, dispatched=True),
        domain_row("p2.com", priority=2, dispatched=True),
        domain_row("p4.com", priority=4, dispatched=True),
    ]
    store = build_store(spark, str(tmp_path), domains, [])
    cfg = WalkerConfig()
    counts = {"p1.com": 0, "p2.com": 0, "p4.com": 0}
    rounds = 8
    for t in range(rounds):
        claimed = claim_domains(store, cfg, NOW_MS + t, f"tok{t}")
        for r in claimed.collect():
            counts[r["dom"]] += 1
        # release claims but keep dispatched=true so they stay claimable
        di = store.read("domain_info").withColumn(
            "claim_tok", F.lit(None).cast("string")
        )
        store.overwrite("domain_info", di)
    assert counts["p4.com"] == rounds  # p == max_p -> claimed every round
    for dom, p in (("p1.com", 1), ("p2.com", 2)):
        ideal = rounds * p / 4
        assert abs(counts[dom] - ideal) <= 1, (dom, counts)


def test_claim_exclusivity_and_limit(spark, tmp_path):
    """A claimed domain is not claimable again until unclaimed;
    claim_limit bounds the batch (datastore.go:118, 689-743)."""
    domains = [domain_row(f"d{i}.com", priority=5, dispatched=True) for i in range(10)]
    store = build_store(spark, str(tmp_path), domains, [])
    cfg = WalkerConfig(frontier=FrontierConfig(claim_limit=4, num_domain_buckets=4))
    first = {r["dom"] for r in claim_domains(store, cfg, NOW_MS, "tokA").collect()}
    assert len(first) == 4
    second = {r["dom"] for r in claim_domains(store, cfg, NOW_MS, "tokB").collect()}
    assert len(second) == 4 and not (first & second)


ORDERED_PATHS = [f"/{c}.html" for c in "abcdef"]


def test_politeness_budget_and_crawl_order(spark, tmp_path):
    """Crawl-delay 2s with a 5s iteration budget fetches exactly 3
    links per iteration, in (subdom, path, proto) order (ST3/W5;
    fetcher_test.go:1184-1253 max-crawl-delay under time budget)."""
    cfg = WalkerConfig(
        fetcher=FetcherConfig(),
        frontier=FrontierConfig(iteration_time_budget=5.0, num_domain_buckets=4),
    )
    engine = CrawlEngine(spark, str(tmp_path), cfg)
    pages = spark.createDataFrame(
        [("http://polite.com/robots.txt", b"User-agent: *\nCrawl-delay: 2\n")]
        + [
            (f"http://polite.com{p}", b"<html><body>page</body></html>")
            for p in ORDERED_PATHS
        ],
        "url string, html binary",
    ).select(
        "url",
        F.timestamp_millis(F.lit(1_690_000_000_000)).alias("warc_ts"),
        "html",
        F.lit(None).cast("string").alias("text"),
        F.lit("en").alias("lang"),
    )
    engine.store.overwrite("pages", pages.select(*[f.name for f in schemas.PAGES.fields]))
    engine.seed([f"http://polite.com{p}" for p in ORDERED_PATHS])
    engine.run(1, start_now_ms=NOW_MS)
    fetched = sorted(
        r["path"]
        for r in engine.store.read("links").filter(F.col("stat") == 200).collect()
    )
    assert fetched == ORDERED_PATHS[:3]  # floor-ish: cum delay 0,2,4 < 5s
    # remaining segment rows carry over; domain still dispatched
    assert engine.store.read("segments").count() == 3
    engine.run(1, start_now_ms=NOW_MS + 5_000, from_checkpoint=True)
    fetched2 = sorted(
        r["path"]
        for r in engine.store.read("links").filter(F.col("stat") == 200).collect()
    )
    assert fetched2 == ORDERED_PATHS
    assert engine.store.read("segments").count() == 0
