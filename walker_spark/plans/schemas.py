"""Declared schemas for every engine table (never inferred).

Mirrors the reference's CQL schema (reference: cassandra/schema.go:20-187)
re-expressed as Spark StructTypes, plus the driver-mandated ``pages``
input table (BASELINE.json ``input_hint``) and our ``run_manifest``
checkpoint rows (replaces walker's active_fetchers liveness — SURVEY §2.10).

Production DDL targets Iceberg (``ICEBERG_DDL``); in this sandbox the
store layer (:mod:`walker_spark.sources.store`) provides the same
append/overwrite/snapshot semantics over parquet + JSON manifests.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# The simulated web (input_hint): one row per fetchable page.
PAGES = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

# Append-only crawl history; logical PK (dom, subdom, path, proto, time).
# time == epoch means not-yet-crawled (reference: schema.go:20-87,
# fetcher.go:26-30).
LINKS = StructType(
    [
        StructField("dom", StringType(), False),
        StructField("subdom", StringType(), False),
        StructField("path", StringType(), False),
        StructField("proto", StringType(), False),
        StructField("time", TimestampType(), False),
        StructField("stat", IntegerType(), True),
        StructField("err", StringType(), True),
        StructField("robot_ex", BooleanType(), True),
        StructField("redto_url", StringType(), True),
        StructField("getnow", BooleanType(), True),
        StructField("mime", StringType(), True),
        StructField("fnv", LongType(), True),
        StructField("fnv_txt", LongType(), True),
        StructField("body", StringType(), True),
        StructField("headers", MapType(StringType(), StringType()), True),
        # Cassandra's PK (dom,subdom,path,proto,time) makes same-timestamp
        # writes last-write-wins (schema.go:85). Parquet is append-only, so
        # writes carry a monotonically increasing commit number and readers
        # break (key,time) ties on the highest write_seq.
        StructField("write_seq", LongType(), True),
    ]
)

LINK_KEY = ["dom", "subdom", "path", "proto"]

# Per-domain work queue for the next crawl pass (reference: schema.go:91-111).
# ``time`` carries the link's last crawl time for If-Modified-Since.
SEGMENTS = StructType(
    [
        StructField("dom", StringType(), False),
        StructField("subdom", StringType(), False),
        StructField("path", StringType(), False),
        StructField("proto", StringType(), False),
        StructField("time", TimestampType(), False),
    ]
)

# One row per TLD+1 domain (reference: schema.go:113-169). ``next_crawl``
# replaces the domain_counters counter table (datastore.go:150-182):
# the driver is the single scheduler, so a plain column suffices.
DOMAIN_INFO = StructType(
    [
        StructField("dom", StringType(), False),
        StructField("priority", IntegerType(), False),
        StructField("claim_tok", StringType(), True),
        StructField("claim_time", TimestampType(), True),
        StructField("dispatched", BooleanType(), False),
        StructField("excluded", BooleanType(), False),
        StructField("exclude_reason", StringType(), True),
        StructField("tot_links", IntegerType(), True),
        StructField("uncrawled_links", IntegerType(), True),
        StructField("queued_links", IntegerType(), True),
        StructField("last_dispatch", TimestampType(), True),
        StructField("last_empty_dispatch", TimestampType(), True),
        StructField("next_crawl", LongType(), False),
    ]
)

# Parse-stage output rows (reference FetchResults, fetcher.go:34-86).
FETCH_RESULTS = StructType(
    [
        StructField("dom", StringType(), False),
        StructField("subdom", StringType(), False),
        StructField("path", StringType(), False),
        StructField("proto", StringType(), False),
        StructField("url", StringType(), False),
        StructField("last_time", TimestampType(), True),
        StructField("stat", IntegerType(), True),
        StructField("err", StringType(), True),
        StructField("robot_ex", BooleanType(), True),
        StructField("mime", StringType(), True),
        StructField("fnv", LongType(), True),
        StructField("fnv_txt", LongType(), True),
        StructField("text", StringType(), True),
        StructField("links", ArrayType(StringType()), True),
        StructField("meta_noindex", BooleanType(), True),
        StructField("meta_nofollow", BooleanType(), True),
        StructField("redirected_from", ArrayType(StringType()), True),
        StructField("redto_url", StringType(), True),
        StructField("body", StringType(), True),
    ]
)

# Materialized /robots.txt subset of pages (rebuilt when the pages
# snapshot version changes) — the per-superstep robots source reads
# this tiny table instead of suffix-scanning all of pages.
ROBOTS_PAGES = StructType(
    [
        StructField("url", StringType(), False),
        StructField("html", BinaryType(), True),
    ]
)

# Per-host robots rules extracted from `pages` rows at /robots.txt
# (reference: fetcher.go:656-721). Prefix rules are pre-compiled per
# host; `crawl_delay` already capped at max_crawl_delay.
ROBOTS_RULES = StructType(
    [
        StructField("host", StringType(), False),
        # eTLD+1 of the host, derived once at build time: supersteps
        # filter the rules table by the claimed-domain set (a bounded
        # broadcast) instead of deduplicating the work table's hosts —
        # no extra pass over the segment rows per superstep
        StructField("dom", StringType(), True),
        StructField("rules_json", StringType(), False),
        StructField("crawl_delay", LongType(), False),  # milliseconds
    ]
)

def iceberg_ddl(catalog: str = "crawl", num_buckets: int = 8192) -> dict[str, str]:
    """Production DDL (documentation + usable on a real cluster with the
    Iceberg runtime). Bucketing by ``dom`` reproduces walker's
    partition-per-domain access pattern (schema.go:85,100,165) and
    enables storage-partitioned joins between links/segments."""
    return {
        "pages": f"""
            CREATE TABLE IF NOT EXISTS {catalog}.pages (
                url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)
            USING iceberg
            PARTITIONED BY (bucket({num_buckets}, url))""",
        "links": f"""
            CREATE TABLE IF NOT EXISTS {catalog}.links (
                dom STRING, subdom STRING, path STRING, proto STRING, time TIMESTAMP,
                stat INT, err STRING, robot_ex BOOLEAN, redto_url STRING,
                getnow BOOLEAN, mime STRING, fnv BIGINT, fnv_txt BIGINT,
                body STRING, headers MAP<STRING,STRING>)
            USING iceberg
            PARTITIONED BY (bucket({num_buckets}, dom))
            TBLPROPERTIES ('write.distribution-mode'='hash',
                           'write.sort-order'='dom,subdom,path,proto,time')""",
        "segments": f"""
            CREATE TABLE IF NOT EXISTS {catalog}.segments (
                dom STRING, subdom STRING, path STRING, proto STRING, time TIMESTAMP)
            USING iceberg
            PARTITIONED BY (bucket({num_buckets}, dom))""",
        "domain_info": f"""
            CREATE TABLE IF NOT EXISTS {catalog}.domain_info (
                dom STRING, priority INT, claim_tok STRING, claim_time TIMESTAMP,
                dispatched BOOLEAN, excluded BOOLEAN, exclude_reason STRING,
                tot_links INT, uncrawled_links INT, queued_links INT,
                last_dispatch TIMESTAMP, last_empty_dispatch TIMESTAMP,
                next_crawl BIGINT)
            USING iceberg
            PARTITIONED BY (bucket({num_buckets}, dom))
            TBLPROPERTIES ('write.merge.mode'='merge-on-read',
                           'write.update.mode'='merge-on-read')""",
    }


# At 10^8+ domains the sandbox store's snapshot overwrite becomes a
# full-table rewrite per superstep; on Iceberg the same bookkeeping is
# a row-touch MERGE so each commit rewrites only the claimed rows'
# delete/data files (merge-on-read). The superstep already computes
# claim + unclaim + new-domain state as ONE plan (apply_claims /
# unclaim_plan / new_domain_rows fused into a single commit), which
# maps 1:1 onto this statement.
DOMAIN_INFO_MERGE_SQL = """
    MERGE INTO {catalog}.domain_info t
    USING updates u ON t.dom = u.dom
    WHEN MATCHED THEN UPDATE SET
        t.claim_tok = u.claim_tok, t.claim_time = u.claim_time,
        t.dispatched = u.dispatched,
        t.tot_links = u.tot_links, t.uncrawled_links = u.uncrawled_links,
        t.queued_links = u.queued_links,
        t.last_dispatch = u.last_dispatch,
        t.last_empty_dispatch = u.last_empty_dispatch,
        t.next_crawl = u.next_crawl
    WHEN NOT MATCHED THEN INSERT *
"""


TABLES: dict[str, StructType] = {
    "pages": PAGES,
    "links": LINKS,
    "segments": SEGMENTS,
    "domain_info": DOMAIN_INFO,
    "robots_rules": ROBOTS_RULES,
    "robots_pages": ROBOTS_PAGES,
}

# Tables hash-bucketed by dom for partition pruning + co-located joins.
BUCKETED_BY_DOM = {"links", "segments"}
