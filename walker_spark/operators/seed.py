"""Frontier ingestion: seeds and parsed outlinks -> links/domain_info.

Spark restatement of ``walker seed`` / StoreParsedURL (reference:
cmd/cmd.go:398-436, cassandra/datastore.go:440-535 — SURVEY §3.3):

    raw urls -> normalize + primary-key UDF (X1-X4)
             -> URL-seen anti-join (J1)
             -> append links rows at time=epoch
             -> anti-join domain_info (J4 replaces the 20k LRU domain
                cache) -> append new domains
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from walker_spark.config import WalkerConfig
from walker_spark.operators import urlseen
from walker_spark.plans import schemas
from walker_spark.sources.store import FrontierStore


def private_ip_host_condition(host_col) -> "F.Column":
    """F5 — BlacklistPrivateIPs (fetcher.go:819-841, 882-918) as a pure
    column predicate: true when the host is a dotted IPv4 literal in
    10/8, 192.168/16, 172.16/12 or 127/8 (privateNetworks,
    fetcher.go:882-887). The reference tests the dialed (post-DNS)
    address; without a resolver only IP-literal hosts are decidable —
    the documented divergence."""
    # try_cast: ANSI mode would throw on non-numeric hosts even behind
    # the is_ipv4 guard (& does not short-circuit)
    octet = [F.split(host_col, r"\.")[i].try_cast("int") for i in range(2)]
    is_ipv4 = host_col.rlike(r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$")
    return is_ipv4 & (
        (octet[0] == 10)
        | (octet[0] == 127)
        | ((octet[0] == 192) & (octet[1] == 168))
        | ((octet[0] == 172) & (octet[1] >= 16) & (octet[1] <= 31))
    )


def normalize_to_keys(urls: DataFrame, cfg: WalkerConfig, url_col: str = "url") -> DataFrame:
    """url strings -> (dom, subdom, path, proto, norm_url), dropping
    rows that fail to parse or lack an eTLD+1 (ParseAndNormalizeURL
    returning error, url.go:94-101) and, when
    ``blacklist_private_ips`` is set, private-range IP-literal hosts
    (F5)."""
    from walker_spark.functions.udfs import make_url_key_udf

    key_udf = make_url_key_udf(cfg.fetcher.purge_sid_list)
    keys = (
        urls.withColumn("_k", key_udf(F.col(url_col)))
        .select("_k.dom", "_k.subdom", "_k.path", "_k.proto", "_k.norm_url")
        .filter(F.col("dom").isNotNull())
    )
    return drop_private_hosts(keys, cfg)


def drop_private_hosts(keys: DataFrame, cfg: WalkerConfig) -> DataFrame:
    """Key rows minus private-range IP-literal hosts (F5) when
    ``blacklist_private_ips`` is set; a native filter over (subdom,
    dom)."""
    from walker_spark.functions.udfs import host_col

    if not cfg.fetcher.blacklist_private_ips:
        return keys
    return keys.filter(
        ~private_ip_host_condition(host_col(F.col("subdom"), F.col("dom")))
    )


def new_link_rows(keys: DataFrame) -> DataFrame:
    """links rows at time=epoch for not-yet-crawled URLs
    (StoreParsedURL, datastore.go:461-463)."""
    epoch = F.timestamp_millis(F.lit(0))
    row = keys.select("dom", "subdom", "path", "proto").dropDuplicates()
    for field in schemas.LINKS.fields:
        if field.name == "time":
            row = row.withColumn("time", epoch)
        elif field.name not in ("dom", "subdom", "path", "proto"):
            row = row.withColumn(field.name, F.lit(None).cast(field.dataType))
    return row.select(*[f.name for f in schemas.LINKS.fields])


def new_domain_rows(keys: DataFrame, cfg: WalkerConfig, existing: DataFrame) -> DataFrame:
    """Full domain_info rows for domains in ``keys`` absent from
    ``existing`` (J4 anti-join; reference hasDomain/addDomain,
    datastore.go:479-535). Pure plan — callers decide whether to append
    standalone or fold into a fused superstep commit."""
    return (
        keys.select("dom")
        .dropDuplicates()
        .join(existing.select("dom"), "dom", "left_anti")
        .select(
            "dom",
            F.lit(cfg.frontier.default_domain_priority).alias("priority"),
            F.lit(None).cast("string").alias("claim_tok"),
            F.lit(None).cast("timestamp").alias("claim_time"),
            F.lit(False).alias("dispatched"),
            F.lit(False).alias("excluded"),
            F.lit(None).cast("string").alias("exclude_reason"),
            F.lit(None).cast("int").alias("tot_links"),
            F.lit(None).cast("int").alias("uncrawled_links"),
            F.lit(None).cast("int").alias("queued_links"),
            F.lit(None).cast("timestamp").alias("last_dispatch"),
            F.lit(None).cast("timestamp").alias("last_empty_dispatch"),
            F.lit(0).cast("long").alias("next_crawl"),
        )
    )


def add_new_domains(store: FrontierStore, keys: DataFrame, cfg: WalkerConfig) -> int:
    """Standalone append of unseen domains to domain_info."""
    if not cfg.frontier.add_new_domains:
        return 0
    fresh = new_domain_rows(keys, cfg, store.read("domain_info"))
    fresh = fresh.localCheckpoint()
    n = fresh.count()
    if n:
        store.append("domain_info", fresh)
    return n


def ingest_urls(
    store: FrontierStore,
    urls: DataFrame,
    cfg: WalkerConfig,
    url_col: str = "url",
) -> dict:
    """Normalize, dedup against the seen set, and append the frontier
    rows + any new domains. Returns metrics."""
    keys = normalize_to_keys(urls, cfg, url_col).localCheckpoint()
    unseen = urlseen.filter_unseen(store, keys).localCheckpoint()
    n_new = unseen.count()
    n_domains = add_new_domains(store, unseen, cfg)
    if n_new:
        write_seq = store.version("links") + 1
        rows = new_link_rows(unseen).withColumn("write_seq", F.lit(write_seq).cast("long"))
        store.append("links", rows.select(*[f.name for f in schemas.LINKS.fields]))
    return {"urls_in": keys.count(), "links_new": n_new, "domains_new": n_domains}
