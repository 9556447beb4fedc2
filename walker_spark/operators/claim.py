"""Weighted-fair domain claiming (A3/T4 — reference:
cassandra/datastore.go:118-273, 150-182).

The reference's compare-and-set claim loop exists because N independent
fetcher processes race for domains. Spark's driver is the single
scheduler, so exclusivity is structural (ST1) and the Cassandra counter
scheme reduces to deterministic column math:

    next_crawl += priority                  (every claimable candidate)
    claim where next_crawl >= max_priority  (up to claim_limit domains)
    next_crawl -= max_priority              (for claimed domains)

Over k iterations a domain with priority p accumulates k*p and is
claimed ~k*p/max_priority times — claims/domain ∝ priority, the
property the reference verifies statistically with tolerance 0.01
(datastore_test.go:793-878). Here it is exact and reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from walker_spark.config import WalkerConfig
from walker_spark.sources.store import FrontierStore


def _claimable():
    return F.col("dispatched") & F.col("claim_tok").isNull() & ~F.col("excluded")


def _advanced(di: DataFrame) -> DataFrame:
    """Every claimable candidate earns its priority as claim credit."""
    return di.withColumn(
        "next_crawl",
        F.when(_claimable(), F.col("next_crawl") + F.col("priority")).otherwise(
            F.col("next_crawl")
        ),
    )


def choose_claims(di: DataFrame, cfg: WalkerConfig) -> DataFrame:
    """The ranking half of a claim pass: ``(dom, priority, _maxp)`` of
    the up-to-``claim_limit`` domains taken this pass, with the A1 max
    priority they were ranked against. Bounded by ``claim_limit``, so a
    superstep checkpoints it once and derives the post-claim state from
    it with :func:`apply_claims` instead of re-running the ranking.

    The A1 global max rides the plan as a broadcast single-row
    aggregate (scalar-subquery shape): the claim's first action
    computes it, so no superstep pays a separate ``agg().collect()``
    round trip. An empty ``domain_info`` yields a NULL max, the
    eligibility predicate is then never true, and the claim set is
    empty."""
    di = di.crossJoin(F.broadcast(di.agg(F.max("priority").alias("_maxp"))))
    # Deterministic claim order: highest accumulated credit first, then
    # priority, then domain name (the reference's token-ring order is
    # arbitrary; its tests only assert priority-proportional frequency).
    return (
        _advanced(di)
        .filter(_claimable() & (F.col("next_crawl") >= F.col("_maxp")))
        .orderBy(F.col("next_crawl").desc(), F.col("priority").desc(), F.col("dom"))
        .limit(cfg.frontier.claim_limit)
        .select("dom", "priority", "_maxp")
    )


def apply_claims(
    di: DataFrame, chosen: DataFrame, now_ms: int, claim_tok: str
) -> DataFrame:
    """Post-claim ``domain_info``: every claimable row's credit
    advances, and the ``chosen`` rows (from :func:`choose_claims`) take
    ``claim_tok`` and pay the max priority they were ranked against.
    ``chosen`` is bounded by ``claim_limit`` and usually a checkpoint,
    which has no size statistics, so it is broadcast explicitly."""
    taken = F.col("_maxp").isNotNull()
    now_ts = F.timestamp_millis(F.lit(now_ms))
    return (
        _advanced(di)
        .join(F.broadcast(chosen.select("dom", "_maxp")), "dom", "left")
        .select(
            "dom",
            "priority",
            F.when(taken, F.lit(claim_tok)).otherwise(F.col("claim_tok")).alias("claim_tok"),
            F.when(taken, now_ts).otherwise(F.col("claim_time")).alias("claim_time"),
            "dispatched",
            "excluded",
            "exclude_reason",
            "tot_links",
            "uncrawled_links",
            "queued_links",
            "last_dispatch",
            "last_empty_dispatch",
            F.when(taken, F.col("next_crawl") - F.col("_maxp"))
            .otherwise(F.col("next_crawl"))
            .alias("next_crawl"),
        )
    )


def claim_domains(
    store: FrontierStore,
    cfg: WalkerConfig,
    now_ms: int,
    claim_tok: str,
) -> DataFrame:
    """Claim up to ``frontier.claim_limit`` dispatched, unclaimed
    domains; persists the updated domain_info and returns the claimed
    rows (dom, priority, crawl-order deterministic)."""
    di = store.read("domain_info")
    # A1 max priority rides the claim plan as a broadcast scalar — no
    # separate agg().collect() job. Freeze the claimed rows BEFORE the
    # overwrite: the ranking runs once, and no re-read of the
    # just-committed table is needed.
    chosen = choose_claims(di, cfg).localCheckpoint()
    # commit unconditionally: the next_crawl credit advance is scheduler
    # state and must persist even on a zero-claim pass
    store.overwrite("domain_info", apply_claims(di, chosen, now_ms, claim_tok))
    return chosen.select("dom", "priority")


def unclaim_plan(
    di: DataFrame, claim_tok: str, finished_doms: DataFrame
) -> DataFrame:
    """UnclaimHost (datastore.go:276-291) as a pure plan over an
    in-memory domain_info state: clear the claim and reset
    ``dispatched`` so the dispatcher can regenerate a segment. Only
    domains whose segment was fully consumed are reset; partially
    fetched domains keep claim_tok=null + dispatched=true so the next
    iteration claims them again and continues (politeness budget ST3
    can split one segment across iterations)."""
    # finished_doms is a subset of one pass's claims (bounded by
    # claim_limit): broadcast it, a checkpoint scan has no size stats
    fin = finished_doms.select("dom").withColumn("_fin", F.lit(True))
    merged = (
        di.join(F.broadcast(fin), "dom", "left")
        .withColumn("_f", F.coalesce(F.col("_fin"), F.lit(False)))
        .withColumn("_mine", F.col("claim_tok") == F.lit(claim_tok))
        .select(
            "dom",
            "priority",
            F.when(F.col("_mine"), F.lit(None).cast("string"))
            .otherwise(F.col("claim_tok"))
            .alias("claim_tok"),
            F.when(F.col("_mine"), F.lit(None).cast("timestamp"))
            .otherwise(F.col("claim_time"))
            .alias("claim_time"),
            F.when(F.col("_mine") & F.col("_f"), F.lit(False))
            .otherwise(F.col("dispatched"))
            .alias("dispatched"),
            "excluded",
            "exclude_reason",
            "tot_links",
            "uncrawled_links",
            "queued_links",
            "last_dispatch",
            "last_empty_dispatch",
            "next_crawl",
        )
    )
    return merged


def unclaim_domains(
    store: FrontierStore, claim_tok: str, finished_doms: DataFrame
) -> None:
    """Standalone unclaim: read-modify-overwrite domain_info. The fetch
    superstep uses :func:`unclaim_plan` instead and folds the result
    into its single end-of-superstep domain_info commit."""
    merged = unclaim_plan(store.read("domain_info"), claim_tok, finished_doms)
    store.overwrite("domain_info", merged)
