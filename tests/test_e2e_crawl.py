"""End-to-end crawl over the deterministic synthetic web (M3 gate +
north_rule invariants): seed -> N supersteps -> assert

* byte-identical extracted text per url vs the pages table's golden
  text column (BASELINE.json input_hint invariant);
* URL-seen: no duplicate frontier keys despite heavy re-discovery;
* frontier growth: outlinks keep arriving at time=epoch;
* determinism: two independent runs produce identical links tables.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from walker_spark.config import FrontierConfig, WalkerConfig
from walker_spark.plans.schemas import LINK_KEY
from walker_spark.sources import synthetic
from walker_spark.streaming.loop import CrawlEngine

NOW0 = 1_700_000_000_000

# compact_links_every=2 so a 3-iteration run exercises links
# compaction mid-crawl (O7) without changing any results
CFG = WalkerConfig(frontier=FrontierConfig(num_domain_buckets=8, compact_links_every=2))


def _run(spark, root: str, iterations: int = 3):
    engine = CrawlEngine(spark, root, CFG)
    pages = synthetic.generate_pages(
        spark, n_domains=6, pages_per_domain=8, seed=7, mega_domain=0, mega_factor=3
    )
    engine.store.overwrite("pages", pages)
    engine.seed(synthetic.seed_urls(6, every=2))
    engine.run(iterations, start_now_ms=NOW0)
    return engine


@pytest.fixture(scope="module")
def e2e(spark, tmp_path_factory):
    return _run(spark, str(tmp_path_factory.mktemp("e2e")))


def test_extracted_text_matches_golden(e2e):
    """Byte-identical extracted text per url — the per-row parity
    invariant (input_hint; parse.go:62-76 rules via the golden-tested
    kernel). Compared for every successfully fetched html page."""
    results = (
        e2e.store.read("links")
        .filter((F.col("stat") == 200) & F.col("mime").startswith("text/html"))
        .select("dom", "subdom", "path", "proto", "fnv_txt")
    )
    assert results.count() > 20
    pages = e2e.store.read("pages").filter(F.col("text").isNotNull())
    from walker_spark.functions.udfs import fnv64_text_udf, host_col

    golden = pages.select(
        "url", fnv64_text_udf(F.col("text")).alias("golden_fnv_txt")
    )
    got = results.withColumn(
        "url",
        F.concat(
            F.col("proto"), F.lit("://"), host_col(F.col("subdom"), F.col("dom")), F.col("path")
        ),
    )
    joined = got.join(golden, "url", "inner")
    assert joined.count() == results.count(), "every fetched page must have a golden row"
    mismatches = joined.filter(F.col("fnv_txt") != F.col("golden_fnv_txt")).count()
    assert mismatches == 0


def test_urlseen_no_duplicate_frontier_keys(e2e):
    """Each (dom,subdom,path,proto) appears at most once at time=epoch
    with no robot_ex (J1: re-discovered outlinks are dropped)."""
    links = e2e.store.read("links")
    dupes = (
        links.filter((F.unix_millis("time") == 0) & F.col("robot_ex").isNull())
        .groupBy(*LINK_KEY)
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dupes == 0


def test_frontier_growth_and_metrics(e2e):
    """Crawl discovered new domains/links beyond the seeds; run
    manifests carry per-iteration metrics + table lineage (M7)."""
    n_domains = e2e.store.read("domain_info").count()
    assert n_domains > 3  # seeded 3, discovery added more
    runs = e2e.store.runs()
    fetches = [r for r in runs if r["kind"] == "fetch"]
    assert len(fetches) == 3
    assert all("metrics" in r and "table_versions" in r for r in fetches)
    assert sum(r["metrics"].get("fetched", 0) for r in fetches) > 20


def test_determinism_of_independent_runs(e2e, spark, tmp_path_factory):
    """The same seed list + config + frozen clock reproduce an
    identical frontier in a second, independent store."""
    other = _run(spark, str(tmp_path_factory.mktemp("e2e-rerun")))

    def frontier(engine):
        return {
            tuple(r)
            for r in engine.store.read("links")
            .select("dom", "subdom", "path", "proto", F.unix_millis("time"), "stat", "fnv", "fnv_txt")
            .collect()
        }

    assert frontier(other) == frontier(e2e)


def test_robots_and_skew_families_exercised(e2e):
    """The synthetic corpus really exercises robots exclusion and the
    mega-host skew family."""
    links = e2e.store.read("links")
    assert links.filter(F.col("robot_ex") == True).count() > 0  # noqa: E712
    mega = synthetic.domain_name(0)
    per_dom = dict(
        links.groupBy("dom").count().collect()
    )
    assert mega in per_dom
