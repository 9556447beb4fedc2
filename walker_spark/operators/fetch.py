"""Fetch stage: one crawl iteration's claim -> fetch -> parse -> sink
pipeline (reference: fetcher.go:451-607 — SURVEY §3.1).

The HTTP boundary is replaced by an equi-join against the ``pages``
table (S10, driver-mandated input shape); everything else keeps
walker's observable semantics:

* fetch order within a claimed domain = ascending (subdom, path, proto)
  (W5 — segments clustering order, datastore.go:316-333);
* politeness: walker sleeps crawl-delay between same-domain fetches
  (fetcher.go:510-519). Batch-equivalent (ST3): an iteration represents
  ``iteration_time_budget`` wall-seconds, and a domain's links are
  fetched while the cumulative crawl-delay spent before a link stays
  under the budget. Robots-excluded links consume no delay (no sleep on
  the `return false` path, fetcher.go:531-536);
* robots.txt per host from `pages` rows at http://host/robots.txt
  (fetcher.go:656-721), 2xx only, Crawl-delay capped at max_crawl_delay;
* result rows mirror StoreURLFetchResults (datastore.go:343-437):
  fnv/fnv_txt always written (Go zero values), robots-excluded rows at
  time=epoch, 304s without mime/body, fetch errors with err only;
* outlinks parsed from text/html 200s (parse.go), made absolute,
  filtered by shouldStoreParsedLink (fetcher.go:786-805), deduped by
  the URL-seen operator and appended at time=epoch.

Content-type simulation: `pages` carries no mime column, so mime is
derived deterministically from the url extension (html default) —
documented divergence; the mime accept/parse gates (F3/F4) operate on
that value exactly as walker does on Content-Type.
"""

from __future__ import annotations

import os
import time
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, Observation, Window, functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from walker_spark.config import WalkerConfig
from walker_spark.functions import fnv as _fnv
from walker_spark.functions import htmlparse, psl, robots as robots_mod, urlkernel
from walker_spark.functions.udfs import host_col
from walker_spark.operators import seed as seed_ops
from walker_spark.operators import urlseen
from walker_spark.operators.claim import apply_claims, choose_claims, unclaim_plan
from walker_spark.plans import schemas
from walker_spark.sources.store import FrontierStore

_EXT_MIME = {
    "jpg": "image/jpeg", "jpeg": "image/jpeg", "png": "image/png",
    "gif": "image/gif", "pdf": "application/pdf", "css": "text/css",
    "js": "application/javascript", "txt": "text/plain",
    "xml": "text/xml", "json": "application/json", "zip": "application/zip",
    "bin": "application/octet-stream",
}


def mime_from_path(path_col):
    """Deterministic simulated Content-Type by url extension."""
    ext = F.lower(F.regexp_extract(F.split(path_col, r"\?")[0], r"\.([A-Za-z0-9]+)$", 1))
    expr = F.lit("text/html")
    for e, m in _EXT_MIME.items():
        expr = F.when(ext == e, F.lit(m)).otherwise(expr)
    return expr


def mime_accept_condition(mime_col, accept_formats) -> "F.Column":
    """mimetools.Matcher semantics (mimetools/mimetools.go:45-106):
    entries are exact ("text/html"), prefix ("text/*"), suffix
    ("*/html") or "*/*"; matching is on the media type sans params."""
    base = F.trim(F.split(mime_col, ";")[0])
    cond = F.lit(False)
    for fmt in accept_formats:
        fmt = fmt.strip().rstrip(";")
        if fmt in ("*/*", "*"):
            cond = cond | F.lit(True)
        elif fmt.endswith("/*"):
            cond = cond | base.startswith(fmt[:-1])
        elif fmt.startswith("*/"):
            cond = cond | base.endswith(fmt[1:])
        else:
            cond = cond | (base == fmt)
    return cond


# ---------------------------------------------------------------------------
# robots rules
# ---------------------------------------------------------------------------


def _robots_pages(store: FrontierStore) -> DataFrame:
    """The /robots.txt subset of pages, materialized once per pages
    snapshot. The endswith filter IS pushed to the parquet scan
    (PushedFilters StringEndsWith), but a suffix predicate cannot use
    row-group statistics, so the pushed filter still reads the url
    column of every row group — a full-table column scan per superstep,
    which at 100 TB is the wrong plan. The reference caches robots per
    host in fetcher memory (fetcher.go:656-721); the table analog is
    this tiny materialized subset, rebuilt only when the pages snapshot
    version changes."""
    meta = store.get_meta("robots_pages")
    pages_version = store.version("pages")
    if (
        meta is None
        or meta.get("pages_version") != pages_version
        or not store.exists("robots_pages")
    ):
        subset = (
            store.read("pages")
            .filter(F.col("url").endswith("/robots.txt"))
            .select("url", "html")
        )
        store.overwrite("robots_pages", subset)
        store.put_meta("robots_pages", {"pages_version": pages_version})
    return store.read("robots_pages")


def _robots_rules_table(store: FrontierStore, cfg: WalkerConfig) -> DataFrame:
    """Per-host PARSED robots rules (host, rules_json, crawl_delay ms),
    materialized once per pages snapshot + fetcher identity: every
    robots.txt body is parsed exactly once per snapshot instead of once
    per superstep — the table analog of the reference's in-memory
    per-host robots cache (fetcher.go:656-721). A config change
    (user agent, delay caps) invalidates the cache key. Robots are
    matched over http:// like the reference's robots fetch URL."""
    default_delay_ms = int(cfg.fetcher.default_crawl_delay * 1000)
    max_delay_ms = int(cfg.fetcher.max_crawl_delay * 1000)
    key = {
        "pages_version": store.version("pages"),
        "user_agent": cfg.fetcher.user_agent,
        "default_delay_ms": default_delay_ms,
        "max_delay_ms": max_delay_ms,
        "schema": 2,  # v2: + dom column (claimed-domain rules pruning)
        # The dom column is derived by the ACTIVE PSL at build time; the
        # claimed-dom semi-join (prune_rules) is only sound when the
        # frontier's dom keys were derived under the SAME PSL. A
        # load_psl() swap between seeding and a rebuild changes eTLD+1
        # for affected hosts — without this key their rules would be
        # silently pruned away (allow-all robots bypass). Frontier keys
        # and rules must be derived under one PSL snapshot.
        "psl": psl.fingerprint(),
    }
    meta = store.get_meta("robots_rules")
    if meta != key or not store.exists("robots_rules"):
        pages = _robots_pages(store).filter(F.col("url").startswith("http://"))
        user_agent = cfg.fetcher.user_agent

        def parse_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from walker_spark.functions import psl

            suffix = "/robots.txt"
            for pdf in it:
                out_host, out_dom, out_rules, out_delay = [], [], [], []
                for url, body in zip(pdf["url"], pdf["html"]):
                    host = url[len("http://"):]
                    if host.endswith(suffix):
                        host = host[: -len(suffix)]
                    if body is None:
                        grp = robots_mod.ALLOW_ALL
                    else:
                        grp = robots_mod.group_for(
                            htmlparse.decode_html(bytes(body)), user_agent
                        )
                    delay = grp.crawl_delay
                    delay_ms = default_delay_ms if delay is None else int(delay * 1000)
                    if delay_ms > max_delay_ms:  # fetcher.go:714-718
                        delay_ms = max_delay_ms
                    out_host.append(host)
                    out_dom.append(psl.tld_plus_one(host))
                    out_rules.append(grp.to_json())
                    out_delay.append(delay_ms)
                yield pd.DataFrame(
                    {"host": out_host, "dom": out_dom,
                     "rules_json": out_rules, "crawl_delay": out_delay}
                )

        rules = pages.mapInPandas(parse_batch, schemas.ROBOTS_RULES)
        store.overwrite("robots_rules", rules)
        store.put_meta("robots_rules", key)
    return store.read("robots_rules")


def robots_rules_for_hosts(
    store: FrontierStore, hosts: DataFrame, cfg: WalkerConfig
) -> DataFrame:
    """(host) -> (host, rules_json, crawl_delay ms). Hosts without a
    2xx-fetchable robots.txt get the default group: no rules + default
    crawl delay (fetcher.go:698-706). Small per-iteration output —
    intended for a broadcast join (J3). Per-superstep this is a pure
    join against the materialized per-snapshot rules table: no robots
    parse runs inside a superstep. The rules table is one row per
    robots-bearing host (huge at 10^10 URLs) while the superstep's host
    set is bounded by claim_limit, so the bounded side is broadcast
    into the rules scan."""
    rules = _robots_rules_table(store, cfg)
    default_delay_ms = int(cfg.fetcher.default_crawl_delay * 1000)
    uniq = hosts.select("host").dropDuplicates()
    hit = rules.join(F.broadcast(uniq), "host", "left_semi")
    return uniq.join(hit, "host", "left").select(
        "host",
        F.coalesce(F.col("rules_json"), F.lit(robots_mod.ALLOW_ALL.to_json())).alias(
            "rules_json"
        ),
        F.coalesce(F.col("crawl_delay"), F.lit(default_delay_ms))
        .cast("long")
        .alias("crawl_delay"),
    )


def make_robots_allowed_udf():
    @F.pandas_udf(BooleanType())
    def robots_allowed(rules_json: pd.Series, path: pd.Series) -> pd.Series:
        cache: dict[str, robots_mod.RobotsGroup] = {}
        out = []
        for rj, p in zip(rules_json, path):
            if rj is None:
                out.append(True)
                continue
            grp = cache.get(rj)
            if grp is None:
                grp = robots_mod.RobotsGroup.from_json(rj)
                cache[rj] = grp
            out.append(grp.test(p))
        return pd.Series(out)

    return robots_allowed


# ---------------------------------------------------------------------------
# parse stage (mapInPandas kernel — SURVEY §2.9)
# ---------------------------------------------------------------------------

_LINK_KEY = StructType(
    [StructField(c, StringType(), True) for c in schemas.LINK_KEY]
)

_PARSE_OUT = StructType(
    [
        StructField("dom", StringType(), False),
        StructField("subdom", StringType(), False),
        StructField("path", StringType(), False),
        StructField("proto", StringType(), False),
        StructField("time_ms", LongType(), False),
        StructField("stat", IntegerType(), True),
        StructField("err", StringType(), True),
        StructField("mime", StringType(), True),
        StructField("fnv", LongType(), False),
        StructField("fnv_txt", LongType(), False),
        StructField("text", StringType(), True),
        StructField("links", ArrayType(StringType()), True),
        # each link's frontier key, derived by urlkernel.url_key exactly
        # as the url-key UDF does; links without one are left out
        StructField("link_keys", ArrayType(_LINK_KEY), True),
        StructField("meta_noindex", BooleanType(), False),
        StructField("meta_nofollow", BooleanType(), False),
        StructField("body", StringType(), True),
        StructField("redirect_to", StringType(), True),
        StructField("headers", MapType(StringType(), StringType()), True),
    ]
)

# An HTTP redirect captured in the table-driven pages simulation: a
# page whose only content is an IMMEDIATE meta refresh (delay 0) — the
# WARC-style stand-in for a 301 Location response. Delayed refreshes
# (content="5; url=...") stay ordinary links (parse.go:239-251).
_REDIRECT_RE = None


def _redirect_target(raw: bytes):
    global _REDIRECT_RE
    if _REDIRECT_RE is None:
        import re

        _REDIRECT_RE = re.compile(
            rb'<meta\s+http-equiv="refresh"\s+content="0;\s*url=([^"]+)"', re.I
        )
    m = _REDIRECT_RE.search(raw)
    return m.group(1).decode("utf-8", "replace") if m else None


def _make_parse_fn(cfg: WalkerConfig, now_ms: int, emit_text: bool = True):
    parser_cfg = htmlparse.parser_cfg(
        cfg.fetcher.ignore_tags,
        cfg.fetcher.honor_meta_nofollow,
        cfg.fetcher.purge_sid_list,
    )
    max_size = cfg.fetcher.max_http_content_size_bytes
    max_links = cfg.fetcher.max_links_per_page
    store_body = cfg.fetcher.store_response_body
    store_headers = cfg.fetcher.store_response_headers

    def parse_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            n = len(pdf)
            stat = [None] * n
            err = [None] * n
            mime_out = [None] * n
            text = [None] * n
            links: list = [None] * n
            noindex = [False] * n
            nofollow = [False] * n
            body_out = [None] * n
            fnv_in: list = [None] * n
            txt_in: list = [None] * n
            redirect_to: list = [None] * n
            headers_out: list = [None] * n
            link_keys: list = [None] * n
            # pages of one site share most of their links: derive each
            # distinct link's key once per batch
            key_memo: dict = {}

            def keys_of(norm_links):
                out = []
                for link in norm_links:
                    if link not in key_memo:
                        key_memo[link] = urlkernel.url_key(link, parser_cfg.purge_sid_list)
                    key = key_memo[link]
                    if key is not None:
                        out.append(key[:4])
                return out

            for i, (url, html, mime, found, not_modified) in enumerate(
                zip(pdf["url"], pdf["html"], pdf["mime"], pdf["found"], pdf["not_modified"])
            ):
                if not found:
                    # connection-level failure analog (fetcher.go:540-545)
                    err[i] = "fetch error: host unreachable (not in pages table)"
                    continue
                if not_modified:
                    stat[i] = 304  # fetcher.go:547-560
                    continue
                raw = bytes(html) if html is not None else b""
                if len(raw) > max_size:
                    stat[i] = 200
                    err[i] = (
                        "read body of %s: content size exceeded MaxHTTPContentSizeBytes"
                        % url
                    )
                    continue
                target = (
                    _redirect_target(raw)
                    if isinstance(mime, str) and mime.startswith("text/html")
                    else None
                )
                if target is not None:
                    # redirect hop (fetcher.go:723-749 CheckRedirect;
                    # hop-row semantics datastore.go:416-436): stat 301,
                    # redto_url forward, no body fingerprint (Go zero).
                    # The target enters the frontier as an outlink, so
                    # the chain is followed one hop per superstep.
                    absolute = urlkernel.resolve(url, target)
                    norm = (
                        urlkernel.normalize_url(absolute, parser_cfg.purge_sid_list)
                        if absolute
                        else None
                    )
                    stat[i] = 301
                    redirect_to[i] = norm or target
                    if norm:
                        links[i] = [norm]
                        link_keys[i] = keys_of(links[i])
                    continue
                stat[i] = 200
                mime_out[i] = mime
                fnv_in[i] = raw
                if store_headers:
                    import hashlib

                    hh = hashlib.md5(url.encode()).hexdigest()
                    headers_out[i] = {
                        "Content-Type": mime if isinstance(mime, str) else "",
                        "Content-Length": str(len(raw)),
                        "Server": "srv-" + hh[:6],
                        # multi-valued header joined by \0 exactly like
                        # the reference (datastore.go:389-395)
                        "Via": f"1.1 edge-{hh[:4]}\x001.1 cache-{hh[4:8]}",
                    }
                if store_body:
                    body_out[i] = raw.decode("utf-8", "replace")
                if isinstance(mime, str) and mime.startswith("text/html"):
                    res = htmlparse.parse_html(raw, parser_cfg)
                    # emit_text=False skips Arrow transfer + checkpoint
                    # IO of the extracted text (the dominant column)
                    # when no content handler consumes it; fnv_txt is
                    # fingerprinted either way
                    if emit_text:
                        text[i] = res.text
                    txt_in[i] = res.text
                    noindex[i] = res.meta_noindex
                    nofollow[i] = res.meta_nofollow
                    abs_links = []
                    for raw_link in res.links[:max_links]:
                        absolute = urlkernel.resolve(url, raw_link)
                        if absolute:
                            norm = urlkernel.normalize_url(
                                absolute, parser_cfg.purge_sid_list
                            )
                            if norm:
                                abs_links.append(norm)
                    links[i] = abs_links
                    link_keys[i] = keys_of(abs_links)

            fnv_vals = _fnv.fnv1_64_batch([b if b is not None else b"" for b in fnv_in])
            txt_vals = _fnv.fnv1_64_batch([t if t is not None else b"" for t in txt_in])
            # Go zero value: unread bodies/unparsed pages fingerprint 0
            import numpy as np

            fnv_vals = np.where([b is not None for b in fnv_in], fnv_vals, 0)
            txt_vals = np.where([t is not None for t in txt_in], txt_vals, 0)

            yield pd.DataFrame(
                {
                    "dom": pdf["dom"].values,
                    "subdom": pdf["subdom"].values,
                    "path": pdf["path"].values,
                    "proto": pdf["proto"].values,
                    "time_ms": now_ms,
                    "stat": pd.array(stat, dtype="Int32"),
                    "err": err,
                    "mime": mime_out,
                    "fnv": fnv_vals.astype("int64"),
                    "fnv_txt": txt_vals.astype("int64"),
                    "text": text,
                    "links": links,
                    "link_keys": link_keys,
                    "meta_noindex": noindex,
                    "meta_nofollow": nofollow,
                    "body": body_out,
                    "redirect_to": redirect_to,
                    "headers": headers_out,
                }
            )

    return parse_batches


def link_accept_condition(cfg: WalkerConfig):
    """shouldStoreParsedLink as a Column predicate over (path, proto)
    (F2/X10 — fetcher.go:786-805): drop when the RequestURI exceeds
    max_path_length (if positive), when it matches exclude patterns
    without matching include patterns (OR-joined regexes,
    fetcher.go:386-413), or when the scheme is not accepted."""
    keep = F.lit(True)
    if cfg.fetcher.max_path_length > 0:
        keep = keep & (F.length(F.col("path")) <= cfg.fetcher.max_path_length)
    if cfg.fetcher.exclude_link_patterns:
        included = ~F.col("path").rlike("|".join(cfg.fetcher.exclude_link_patterns))
        if cfg.fetcher.include_link_patterns:
            included = included | F.col("path").rlike(
                "|".join(cfg.fetcher.include_link_patterns)
            )
        keep = keep & included
    return keep & F.col("proto").isin(*cfg.fetcher.accept_protocols)


def redirect_link_rows(
    fetch_results: DataFrame, cfg: WalkerConfig, write_seq: int
) -> DataFrame:
    """Redirect-chain linkage rows (J6/S5 — StoreURLFetchResults,
    datastore.go:416-436): for a fetch of ``url`` that redirected
    through ``redirected_from = [r0, r1, ...]``, walker stores one
    links row per hop — url -> r0, r0 -> r1, ... — each keyed by the
    hop's own (dom, subdom, path, proto) at the fetch time with
    ``redto_url`` pointing forward. Input: (url, redirected_from
    array<string>, time_ms). The table-driven fetch simulation never
    produces redirects (pages rows are terminal), so this operator is
    exercised by unit fixtures and ready for a live-HTTP source."""
    from walker_spark.functions.udfs import make_url_key_udf

    chain = F.concat(F.array(F.col("url")), F.coalesce(F.col("redirected_from"), F.array()))
    hops = fetch_results.select(
        "time_ms",
        chain.alias("_chain"),
        F.posexplode(chain).alias("_pos", "back"),
    ).withColumn("redto_url", F.try_element_at(F.col("_chain"), F.col("_pos") + 2))
    hops = hops.filter(F.col("redto_url").isNotNull())
    key_udf = make_url_key_udf(cfg.fetcher.purge_sid_list)
    keyed = hops.withColumn("_k", key_udf(F.col("back"))).filter(
        F.col("_k.dom").isNotNull()
    )
    row = keyed.select(
        F.col("_k.dom").alias("dom"),
        F.col("_k.subdom").alias("subdom"),
        F.col("_k.path").alias("path"),
        F.col("_k.proto").alias("proto"),
        F.timestamp_millis(F.col("time_ms")).alias("time"),
        F.col("redto_url"),
    )
    for field in schemas.LINKS.fields:
        if field.name == "write_seq":
            row = row.withColumn("write_seq", F.lit(write_seq).cast("long"))
        elif field.name not in ("dom", "subdom", "path", "proto", "time", "redto_url"):
            row = row.withColumn(field.name, F.lit(None).cast(field.dataType))
    return row.select(*[f.name for f in schemas.LINKS.fields])


def outlink_keys(parsed: DataFrame, cfg: WalkerConfig) -> DataFrame:
    """Frontier-key candidates (dom, subdom, path, proto) of the parse
    output's outlinks, with repeats. The parse kernel already keyed
    every link (``link_keys``, derived by urlkernel.url_key exactly as
    the url-key UDF derives it), so this plan runs no Python: the
    meta-nofollow, private-IP (F5) and shouldStoreParsedLink (F2)
    filters are native expressions."""
    if cfg.fetcher.honor_meta_nofollow:
        parsed = parsed.filter(~F.col("meta_nofollow"))
    keys = parsed.select(F.explode("link_keys").alias("_k")).select(
        *[F.col("_k")[c].alias(c) for c in schemas.LINK_KEY]
    )
    return seed_ops.drop_private_hosts(keys, cfg).filter(link_accept_condition(cfg))


# ---------------------------------------------------------------------------
# the iteration
# ---------------------------------------------------------------------------


PAGE_BUCKETS = 64


def _bucketed_pages_name(path: str) -> str:
    import hashlib

    return "walker_pages_b_" + hashlib.md5(path.encode()).hexdigest()[:8]


# Below this bucketed-copy size the broadcast join wins locally: the
# SMJ's work-side sort + 64-bucket scan overhead exceeds the broadcast
# build it saves (A/B at the 21.5k-page bench shape: broadcast 25.5s vs
# SPJ 26.1s best-of-4; at the 489k-page/2.6GB scaling corpus the kernel
# measured SPJ 62s vs broadcast 84s at local[4]). Inert at cluster
# scale, where pages always clears it.
_SPJ_MIN_BYTES = 512 << 20


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _sub, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def register_bucketed_pages(store: FrontierStore, path: str, buckets: int = PAGE_BUCKETS) -> None:
    """Point the store at an EXISTING url-bucketed copy of the current
    pages snapshot (rows must match ``store.read('pages')``; the caller
    certifies that). The fetch superstep then runs its join as a
    storage-partitioned bucket join (Iceberg ``bucket(N, url)`` analog):
    pages scanned in place, only the bounded work side shuffles, no
    driver-built broadcast relation — the join shape whose 1->4-core
    scaling measured 0.88-0.95 vs 0.74 for the broadcast build
    (bench.run_fetch_kernel A/B)."""
    path = os.path.abspath(path)
    store.put_meta(
        "pages_bucketed",
        {"path": path, "buckets": buckets,
         "pages_version": store.version("pages"),
         "bytes": _dir_bytes(path)},
    )


def build_bucketed_pages(store: FrontierStore, buckets: int = PAGE_BUCKETS) -> str:
    """Write/refresh the url-bucketed pages copy from the store's
    current pages snapshot and register it. One full rewrite per pages
    snapshot — the analog of an Iceberg table whose spec bucket(N, url)
    clusters data at write time; supersteps never pay it."""
    import shutil

    path = os.path.join(store.root, "pages_bucketed")
    meta = store.get_meta("pages_bucketed")
    version = store.version("pages")
    if (
        meta
        and meta.get("pages_version") == version
        and meta.get("path") == os.path.abspath(path)
        and os.path.isdir(path)
    ):
        return path
    name = _bucketed_pages_name(os.path.abspath(path))
    store.spark.sql(f"DROP TABLE IF EXISTS {name}")
    shutil.rmtree(path, ignore_errors=True)
    (
        store.read("pages")
        .write.mode("overwrite")
        .bucketBy(buckets, "url")
        .sortBy("url")
        .option("path", path)
        .saveAsTable(name)
    )
    register_bucketed_pages(store, path, buckets)
    return path


def _bucketed_pages_table(store: FrontierStore) -> DataFrame | None:
    """The registered bucketed pages copy as a catalog table (bucket
    metadata only flows through the catalog), or None when absent/stale
    (pages version moved since registration)."""
    meta = store.get_meta("pages_bucketed")
    if not meta or meta.get("pages_version") != store.version("pages"):
        return None
    if meta.get("bytes", 0) < _SPJ_MIN_BYTES:
        return None  # broadcast wins below the crossover (gate above)
    path = meta["path"]
    if not os.path.isdir(path):
        return None
    spark = store.spark
    name = _bucketed_pages_name(path)
    if not spark.catalog.tableExists(name):
        schema = spark.read.parquet(path).schema
        ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)
        spark.sql(
            f"CREATE TABLE {name} ({ddl}) USING PARQUET "
            f"CLUSTERED BY (url) SORTED BY (url) INTO {meta['buckets']} BUCKETS "
            f"LOCATION '{path}'"
        )
    return spark.table(name)


def run_fetch(
    store: FrontierStore,
    cfg: WalkerConfig,
    now_ms: int,
    iteration: int = 0,
    handler: Callable[[DataFrame], None] | None = None,
) -> dict:
    """One fetch iteration over all claimable domains. ``handler`` is
    the user content hook (Handler.HandleResponse, interfaces.go:5-12):
    called with the handleable results DataFrame (2xx/304, not
    robots-excluded, mime-accepted, not noindex-suppressed)."""
    claim_tok = f"it-{iteration:06d}"
    timings: dict[str, float] = {}
    _t0 = time.time()

    def _mark(stage: str) -> None:
        nonlocal _t0
        timings[stage] = round(time.time() - _t0, 2)
        _t0 = time.time()

    # Claim as a pure plan over the superstep's domain_info snapshot:
    # the post-claim state stays in memory and is committed ONCE at the
    # end of the superstep together with the unclaim bookkeeping and any
    # new domains — one domain_info write per iteration instead of
    # three, and no read-after-write (the MERGE-INTO shape the Iceberg
    # DDL path uses at scale).
    di = store.read("domain_info")
    # A1 max priority rides the claim plan as a broadcast scalar agg —
    # the claim checkpoint below is the superstep's FIRST job; no
    # separate agg().collect() round trip (default-volume supersteps are
    # per-job-constant-dominated, so every fused job is throughput).
    # The ranking runs once: the post-claim state is derived from the
    # checkpointed choice, and the claim count is observed on the same
    # job instead of a count() of its own.
    claim_obs = Observation()
    claimed = (
        choose_claims(di, cfg)
        .observe(claim_obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    n_claimed = int(claim_obs.get["n"])
    di_claimed = apply_claims(di, claimed, now_ms, claim_tok)
    _mark("claim")
    metrics = {"claimed_domains": n_claimed, "now_ms": now_ms}
    if n_claimed == 0:
        # nothing fetched, but the weighted-fair credit advance must
        # still commit (next_crawl accumulation is the scheduler state)
        store.overwrite("domain_info", di_claimed)
        store.record_run("fetch", iteration, {"metrics": metrics})
        return {**metrics, "fetched": 0, "outlinks_new": 0}

    # Every superstep-bounded side is broadcast explicitly: a checkpoint
    # scan carries no size statistics, so Catalyst would plan a
    # sort-merge join and AQE switch it to broadcast only after both
    # sides have been shuffled.
    segs = store.read("segments").join(
        F.broadcast(claimed.select("dom")), "dom", "left_semi"
    )
    work = segs.withColumn("host", host_col(F.col("subdom"), F.col("dom")))

    # robots rules per host, broadcast (J3). The rules table carries the
    # host's eTLD+1, so the superstep's rules are pruned by the BOUNDED
    # claimed-domain set directly — no dedup pass over the work rows
    # inside the broadcast build (hosts come from normalized keys, so a
    # work host's dom always matches the build-time derivation). Hosts
    # with no rules row fall back to allow-all + default crawl delay
    # via the null-handling in the UDF and the politeness coalesce.
    rules = (
        _robots_rules_table(store, cfg)
        .join(F.broadcast(claimed.select("dom")), "dom", "left_semi")
        .select("host", "rules_json", "crawl_delay")
    )
    work = work.join(F.broadcast(rules), "host", "left")

    robots_allowed = make_robots_allowed_udf()
    work = work.withColumn("allowed", robots_allowed(F.col("rules_json"), F.col("path")))

    # politeness budget (ST3): cumulative delay of prior fetched links
    budget_ms = int(cfg.frontier.iteration_time_budget * 1000)
    default_delay_ms = int(cfg.fetcher.default_crawl_delay * 1000)
    w_order = Window.partitionBy("dom").orderBy("subdom", "path", "proto")
    delay = F.coalesce(F.col("crawl_delay"), F.lit(default_delay_ms))
    spend = F.when(F.col("allowed"), delay).otherwise(F.lit(0))
    work = work.withColumn(
        "cum_before",
        F.coalesce(
            F.sum(spend).over(w_order.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    )
    work = work.withColumn("in_budget", F.col("cum_before") < F.lit(budget_ms))
    work = work.localCheckpoint()  # one robots/budget pass, three consumers
    _mark("robots_budget")

    processed = work.filter(F.col("in_budget"))

    # robots-excluded rows: stored at time=epoch with robot_ex=true,
    # fnv/fnv_txt zero (fetchAndHandle early return, fetcher.go:531-536)
    excluded = processed.filter(~F.col("allowed"))

    fetchable = processed.filter(F.col("allowed")).withColumn(
        "url",
        F.concat(
            F.col("proto"),
            F.lit("://"),
            F.col("host"),
            F.col("path"),
        ),
    )

    # Fetch join (J2). Per-iteration work is structurally bounded —
    # claim_limit domains x max_links_per_segment links — independent of
    # frontier scale, so the WORK side is normally the broadcastable
    # one. Broadcasting it keeps the pages scan narrow (no shuffle of
    # html bytes, the dominant volume); the not-found complement is a
    # column-pruned anti-join on url only. Guard: if a mis-set
    # claim_limit lets an iteration's work grow past broadcastable size
    # (counted on the already-checkpointed work table — one cheap job),
    # fall back to letting Catalyst/AQE plan the join rather than
    # force-feeding the driver a multi-GB hash relation; at that size
    # the right plan is the storage-partitioned join against
    # url-bucketed pages that bench.run_fetch_kernel demonstrates
    # (Iceberg bucket(N, url)).
    # The count job only runs when the static bound cannot certify the
    # broadcast (normal configs skip it — no extra superstep action).
    pages = store.read("pages").select("url", "warc_ts", "html")
    # Broadcast only the columns the fetch/parse path consumes (the
    # hash relation serializes once per executor), and gate on BYTES,
    # not rows: 4 short key strings + the reassembled url + a
    # timestamp ≈ 200 B/row conservatively, so the 256 MB relation
    # ceiling ≈ 1.3M rows — a mis-set claim_limit can no longer pass a
    # row guard yet still hand the driver a multi-GB build.
    work_slim = fetchable.select("dom", "subdom", "path", "proto", "url", "time")
    est_row_bytes = 200
    max_broadcast_rows = (256 << 20) // est_row_bytes
    static_bound = cfg.frontier.claim_limit * cfg.dispatcher.max_links_per_segment
    if static_bound <= max_broadcast_rows:
        small_work = True
    else:
        # counts every processed row (robots-excluded too): the segments
        # cleanup broadcasts that set under the same certificate
        small_work = work.filter(F.col("in_budget")).count() <= max_broadcast_rows
    pages_bucketed = _bucketed_pages_table(store)
    parse_fn = _make_parse_fn(cfg, now_ms, emit_text=handler is not None)
    parse_cols = [
        "dom", "subdom", "path", "proto", "url", "html", "mime", "found", "not_modified"
    ]
    if pages_bucketed is not None:
        # Storage-partitioned bucket join (Iceberg bucket(N, url)): ONE
        # left-outer SMJ — pages scanned IN PLACE (bucketed + sorted by
        # url, zero exchange of html bytes), only the bounded work side
        # shuffles, and there is NO driver-built broadcast relation (the
        # serial term the kernel A/B measured: 1->4-core eff 0.88-0.95
        # bucketed vs 0.74 broadcast). Missing rows fall out of the SAME
        # join as found=false and take the parse fn's constant-column
        # fetch-error path (fetcher.go:540-545) — no anti-join.
        page_flagged = (
            pages_bucketed.select("url", "warc_ts", "html")
            .withColumn("found", F.lit(True))
            .hint("merge")
        )
        found_src = (
            work_slim.join(page_flagged, "url", "left")
            .withColumn("found", F.coalesce(F.col("found"), F.lit(False)))
            .withColumn("mime", mime_from_path(F.col("path")))
            .withColumn(
                "not_modified",
                F.coalesce(
                    (F.unix_millis(F.col("time")) > 0)
                    & (F.unix_millis(F.col("warc_ts")) <= F.unix_millis(F.col("time"))),
                    F.lit(False),
                ),
            )
        )
    else:
        work_join_side = F.broadcast(work_slim) if small_work else work_slim
        # ONE pages scan per superstep, html bytes NEVER materialized:
        # the fetch join streams straight into the parse kernel, and the
        # only checkpoint on this path holds the SLIM parse output
        # (fingerprints, outlinks, status — no html, no text unless a
        # handler consumes it). Round 3's earlier shape checkpointed the
        # joined (url, html) rows first — a full materialization of the
        # claimed pages' bytes every superstep, pure memory-bandwidth
        # cost that scales worse than the parse itself. The not-found
        # complement anti-joins the bounded parsed-key set broadcast
        # executor-side (found ⊆ work, bounded by claim_limit x segment
        # cap), so pages is still touched exactly once and no
        # corpus-sized url column is ever exchanged.
        found_src = (
            pages.join(work_join_side, "url", "inner")
            .withColumn("mime", mime_from_path(F.col("path")))
            .withColumn("found", F.lit(True))
            .withColumn(
                "not_modified",
                (F.unix_millis(F.col("time")) > 0)
                & (F.unix_millis(F.col("warc_ts")) <= F.unix_millis(F.col("time"))),
            )
        )
    parsed = (
        found_src.select(*parse_cols).mapInPandas(parse_fn, _PARSE_OUT).localCheckpoint()
    )
    results = parsed
    if pages_bucketed is None:
        # not-found rows need no parse: their result row is a constant-
        # column fetch-error record (fetcher.go:540-545), synthesized
        # relationally on top of the checkpointed work set. They carry
        # no links, so only the links sink reads them (no checkpoint:
        # its one consumer evaluates the anti-join once).
        # Broadcast hint only while small_work certifies the bound: on
        # the oversized-claim fallback path, parsed ⊆ work also exceeded
        # the 256 MB guard, and a forced broadcast would hand the driver
        # exactly the build the guard exists to avoid — let Catalyst/AQE
        # plan it.
        parsed_keys = parsed.select("dom", "subdom", "path", "proto")
        missing_rows = fetchable.join(
            F.broadcast(parsed_keys) if small_work else parsed_keys,
            ["dom", "subdom", "path", "proto"],
            "left_anti",
        ).select(
            "dom",
            "subdom",
            "path",
            "proto",
            F.lit(now_ms).cast("long").alias("time_ms"),
            F.lit(None).cast("int").alias("stat"),
            F.lit("fetch error: host unreachable (not in pages table)").alias("err"),
            F.lit(None).cast("string").alias("mime"),
            F.lit(0).cast("long").alias("fnv"),
            F.lit(0).cast("long").alias("fnv_txt"),
            F.lit(None).cast("string").alias("body"),
            F.lit(None).cast("string").alias("redirect_to"),
            F.lit(None).cast("map<string,string>").alias("headers"),
        )
        results = parsed.select(*missing_rows.columns).unionByName(missing_rows)
    _mark("fetch_parse")

    # ---- links sink (S5) --------------------------------------------------
    write_seq = store.version("links") + 1
    nulls = {
        "robot_ex": F.lit(None).cast("boolean"),
        "redto_url": F.lit(None).cast("string"),
        "getnow": F.lit(None).cast("boolean"),
        "headers": F.lit(None).cast("map<string,string>"),
    }
    result_rows = results.select(
        "dom",
        "subdom",
        "path",
        "proto",
        F.timestamp_millis(F.col("time_ms")).alias("time"),
        "stat",
        "err",
        nulls["robot_ex"].alias("robot_ex"),
        F.col("redirect_to").alias("redto_url"),  # hop rows (J6/S5)
        nulls["getnow"].alias("getnow"),
        "mime",
        "fnv",
        "fnv_txt",
        "body",
        F.col("headers").alias("headers"),  # gated by store_response_headers
        F.lit(write_seq).cast("long").alias("write_seq"),
    )
    excluded_rows = excluded.select(
        "dom",
        "subdom",
        "path",
        "proto",
        F.timestamp_millis(F.lit(0)).alias("time"),
        F.lit(None).cast("int").alias("stat"),
        F.lit(None).cast("string").alias("err"),
        F.lit(True).alias("robot_ex"),
        nulls["redto_url"].alias("redto_url"),
        nulls["getnow"].alias("getnow"),
        F.lit(None).cast("string").alias("mime"),
        F.lit(0).cast("long").alias("fnv"),
        F.lit(0).cast("long").alias("fnv_txt"),
        F.lit(None).cast("string").alias("body"),
        nulls["headers"].alias("headers"),
        F.lit(write_seq).cast("long").alias("write_seq"),
    )
    link_sink_rows = result_rows.unionByName(excluded_rows)
    _mark("links_sink")

    # ---- outlinks sink (S6 + J1) ------------------------------------------
    # Missing rows carry no links: parsed is the whole candidate source.
    keys = outlink_keys(parsed, cfg)
    unseen = urlseen.filter_unseen(store, keys).localCheckpoint()
    _mark("outlinks_unseen")
    # same write_seq as the result rows is safe: an outlink row is
    # only written for keys with NO existing links row, so it can
    # never collide with a result/excluded row at the same (key, time)
    outlink_rows = seed_ops.new_link_rows(unseen).withColumn(
        "write_seq", F.lit(write_seq).cast("long")
    )
    link_sink_rows = link_sink_rows.unionByName(
        outlink_rows.select(*[f.name for f in schemas.LINKS.fields])
    )
    # new domains ride the end-of-superstep domain_info commit (no
    # separate append, no checkpoint: consumed exactly once there, with
    # the count observed on that commit); di is the pre-superstep
    # snapshot, which claim neither adds to nor removes from
    if cfg.frontier.add_new_domains:
        fresh_domains = seed_ops.new_domain_rows(unseen, cfg, di)
    else:
        fresh_domains = di.limit(0)
    _mark("outlinks_domains")
    # fetch/robots/outlink counters ride the links commit as an
    # Observation (zero extra jobs; the row classes are disjoint by
    # construction: result rows carry stat or err, robots-excluded rows
    # carry robot_ex, frontier rows carry neither). The observe node
    # sits at the TOP of the written plan — see the dispatch metrics
    # note on Catalyst pruning CollectMetrics under folded joins.
    links_obs = Observation()
    link_sink_rows = link_sink_rows.observe(
        links_obs,
        F.count(
            F.when(F.col("stat").isNotNull() | F.col("err").isNotNull(), True)
        ).alias("fetched"),
        F.count(F.when(F.col("robot_ex"), True)).alias("robots_excluded"),
        F.count(
            F.when(
                F.col("stat").isNull() & F.col("err").isNull() & F.col("robot_ex").isNull(),
                True,
            )
        ).alias("outlinks_new"),
    )
    # ---- segments cleanup + unclaim plans (datastore.go:276-291) -----------
    # remaining = segments ∖ processed is written lazily (the overwrite
    # is its only consumer); the finished-domain set is derived from the
    # already-checkpointed work table instead — a claimed domain is
    # finished exactly when none of its segment rows fell outside the
    # politeness budget, so no second segments read and no checkpoint.
    # processed ⊆ work is bounded exactly when small_work certifies it.
    processed_keys = processed.select(*schemas.LINK_KEY)
    remaining = (
        store.read("segments")
        .join(
            F.broadcast(processed_keys) if small_work else processed_keys,
            schemas.LINK_KEY,
            "left_anti",
        )
        .select(*[f.name for f in schemas.SEGMENTS.fields])
    )
    leftover_doms = (
        work.filter(~F.col("in_budget")).select("dom").dropDuplicates()
    )
    # leftover_doms ⊆ claimed after the dedup: bounded by claim_limit
    finished = claimed.select("dom").join(
        F.broadcast(leftover_doms), "dom", "left_anti"
    )
    # ONE domain_info commit per superstep: unclaim bookkeeping applied
    # to the in-memory post-claim state, new domains unioned in; the
    # new-domain count rides the commit as an Observation (top of the
    # written plan, above the union — see the dispatch metrics note)
    final_di = (
        unclaim_plan(di_claimed, claim_tok, finished)
        .withColumn("_new", F.lit(False))
        .unionByName(fresh_domains.withColumn("_new", F.lit(True)))
    )
    di_obs = Observation()
    final_di = final_di.observe(
        di_obs, F.count(F.when(F.col("_new"), True)).alias("new_domains")
    ).drop("_new")

    # ---- end-of-superstep commits, submitted CONCURRENTLY ------------------
    # The three sink jobs touch disjoint tables and read only
    # checkpointed inputs or pre-overwrite snapshots (the store is
    # snapshot-versioned: an overwrite never deletes the delta files a
    # built plan references), so they are independent — and each is a
    # small fixed-latency job (scheduling + bucketed write + manifest
    # swap) that dominates the superstep at default volume. Overlapping
    # them pays max() instead of sum() of the three commit walls; on a
    # real cluster the same three Iceberg commits would be issued
    # concurrently by the driver.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_links = pool.submit(store.append, "links", link_sink_rows)
        f_segments = pool.submit(store.overwrite, "segments", remaining)
        f_di = pool.submit(store.overwrite, "domain_info", final_di)
        f_links.result()
        links_counts = links_obs.get
        _mark("links_append")

        # ---- handler hook (S9) ----------------------------------------
        # runs once the links rows are durable, overlapping the two
        # bookkeeping commits; it only reads the parse checkpoint
        # (missing rows are never handleable)
        if handler is not None:
            handleable = parsed.drop("link_keys").filter(
                (F.col("stat") == 304)
                | (
                    (F.col("stat") >= 200)
                    & (F.col("stat") < 300)
                    & F.col("err").isNull()
                    & mime_accept_condition(F.col("mime"), cfg.fetcher.accept_formats)
                    & ~(F.lit(cfg.fetcher.honor_meta_noindex) & F.col("meta_noindex"))
                )
            )
            handler(handleable)
        f_segments.result()
        f_di.result()
    new_domain_count = int(di_obs.get["new_domains"])
    _mark("segments_unclaim")

    metrics.update(
        {
            "fetched": int(links_counts["fetched"]),
            "robots_excluded": int(links_counts["robots_excluded"]),
            "outlinks_new": int(links_counts["outlinks_new"]),
            "new_domains": new_domain_count,
            "timings": timings,
        }
    )
    store.record_run("fetch", iteration, {"metrics": metrics})
    return metrics
