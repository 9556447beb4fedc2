"""Iterative-batch crawl driver (BSP supersteps).

Walker runs forever with two cooperating daemons (dispatcher +
fetch manager, README.md:24-62). The Spark build makes each crawl
cycle an explicit superstep — ``dispatch`` then ``fetch`` — matching
walker's ``oneShot(k)`` test mode exactly (dispatcher.go:115-126) and
giving determinism + resumability for free:

* every table mutation commits a new snapshot version
  (:class:`FrontierStore`), so a crash between steps leaves a
  consistent frontier;
* every step writes a run manifest (iteration, table versions,
  metrics) — the per-partition lineage/metrics checkpoint north_rule
  requires; ``CrawlEngine.resume_iteration()`` reads it back;
* ``now`` advances by ``iteration_time_budget`` per superstep instead
  of wall-clock, so reruns from a checkpoint reproduce byte-identical
  frontier states.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from walker_spark.config import WalkerConfig
from walker_spark.operators.dispatch import run_dispatch
from walker_spark.operators.fetch import run_fetch
from walker_spark.operators.seed import ingest_urls
from walker_spark.sources.store import FrontierStore


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        cfg: WalkerConfig | None = None,
        handler: Callable[[DataFrame], None] | None = None,
    ):
        self.spark = spark
        self.cfg = cfg or WalkerConfig()
        self.store = FrontierStore(spark, root, self.cfg.frontier.num_domain_buckets)
        self.handler = handler

    # -- seeding (S8) --
    def seed(self, urls: list[str] | DataFrame) -> dict:
        if not isinstance(urls, DataFrame):
            urls = self.spark.createDataFrame([(u,) for u in urls], "url string")
        out = ingest_urls(self.store, urls, self.cfg)
        # Pre-materialize the robots cache (the /robots.txt subset of
        # pages) as part of frontier preparation, so no superstep pays
        # the full pages suffix-scan — real crawlers warm robots caches
        # at ingest; the lazy build in _robots_pages remains the
        # fallback when pages changes mid-run.
        from walker_spark.operators.fetch import _robots_pages, _robots_rules_table

        if self.store.exists("pages"):
            _robots_pages(self.store)
            # parse every robots.txt once per pages snapshot at ingest;
            # supersteps then only join the materialized rules table
            _robots_rules_table(self.store, self.cfg)
        return out

    # -- checkpoint/resume --
    def resume_iteration(self) -> int:
        """First iteration that has not fully completed (crash-safe:
        a half-finished iteration re-runs idempotently against the
        last committed snapshots)."""
        last = self.store.last_run("fetch")
        return 0 if last is None else last["iteration"] + 1

    def run(
        self,
        iterations: int = 1,
        start_now_ms: int = 1_000_000_000_000,
        from_checkpoint: bool = False,
    ) -> list[dict]:
        """Run ``iterations`` supersteps. ``start_now_ms`` freezes the
        clock base; each superstep advances it by the politeness
        budget, mirroring the wall time walker would have spent."""
        step_ms = int(self.cfg.frontier.iteration_time_budget * 1000)
        start = self.resume_iteration() if from_checkpoint else 0
        out = []
        compact_every = self.cfg.frontier.compact_links_every
        for i in range(start, start + iterations):
            now_ms = start_now_ms + i * step_ms
            dmetrics = run_dispatch(self.store, self.cfg, now_ms, iteration=i)
            fmetrics = run_fetch(
                self.store,
                self.cfg,
                now_ms,
                iteration=i,
                handler=self.handler,
            )
            if compact_every and (i + 1) % compact_every == 0:
                self.store.compact("links")  # bound snapshot fan-in (O7)
            out.append({"iteration": i, "dispatch": dmetrics, "fetch": fmetrics})
        return out
