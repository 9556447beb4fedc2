"""Engine configuration.

Mirrors the reference's config surface (reference: config.go:36-177,
walker.yaml) so a walker user can carry their settings across. Only the
knobs that affect data semantics are kept; connection/process knobs
(Cassandra pool sizes, HTTP keep-alive, DNS cache) have no meaning in a
Spark engine and are dropped.

Durations are plain seconds (float) rather than Go duration strings.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace


def _go_duration_seconds(s: str) -> float:
    """Parse a Go-style duration string ("1s", "5m", "49h", "15m30s")."""
    units = {"h": 3600.0, "m": 60.0, "s": 1.0, "ms": 0.001}
    total = 0.0
    num = ""
    i = 0
    while i < len(s):
        c = s[i]
        if c.isdigit() or c in ".-":
            num += c
            i += 1
        else:
            unit = c
            if s[i : i + 2] == "ms":
                unit, i = "ms", i + 1
            i += 1
            total += float(num) * units[unit]
            num = ""
    return total


@dataclass
class FetcherConfig:
    """Fetch-stage knobs (reference: config.go:40-64, defaults 115-146)."""

    user_agent: str = "Walker (http://github.com/iParadigms/walker)"
    accept_formats: tuple[str, ...] = ("text/html", "text/*;")
    accept_protocols: tuple[str, ...] = ("http", "https")
    store_response_body: bool = False
    # store response headers on result rows (datastore.go:389-395;
    # multi-valued headers are \0-joined like the reference)
    store_response_headers: bool = False
    # F5 — drop links whose host is an IP literal in a private range
    # (config.go:131 defaults true; fetcher.go:882-918 ranges). The
    # reference checks the POST-DNS dialed address; a table-driven
    # engine has no resolver, so the predicate covers IP-literal hosts.
    blacklist_private_ips: bool = True
    max_http_content_size_bytes: int = 20 * 1024 * 1024
    ignore_tags: tuple[str, ...] = ("script", "img", "link")
    max_links_per_page: int = 1000
    honor_meta_noindex: bool = True
    honor_meta_nofollow: bool = False
    exclude_link_patterns: tuple[str, ...] = ()
    include_link_patterns: tuple[str, ...] = ()
    default_crawl_delay: float = 1.0
    max_crawl_delay: float = 300.0
    purge_sid_list: tuple[str, ...] = ("jsessionid", "phpsessid", "aspsessionid")
    max_path_length: int = 2048


@dataclass
class DispatcherConfig:
    """Dispatch-stage knobs (reference: config.go:66-75, defaults 148-155)."""

    max_links_per_segment: int = 500
    refresh_percentage: float = 25.0
    min_link_refresh_time: float = 0.0
    empty_dispatch_retry_interval: float = 0.0


@dataclass
class FrontierConfig:
    """Frontier-table layout + scheduling knobs (ours, not walker's —
    these exist because Spark makes partitioning/claiming explicit)."""

    # Number of hash buckets for the `links`/`segments` tables. At
    # 10^10 URLs pick ~8192; for local tests small values are fine.
    num_domain_buckets: int = 32
    # Max domains claimed per crawl iteration (reference:
    # datastore.go:118 `limitPerClaimCycle` = 50 per claimant cycle).
    claim_limit: int = 50
    default_domain_priority: int = 1
    add_new_domains: bool = True
    # Per-domain cap on already-crawled dispatch candidates (oldest
    # first). The reference loads every refresh-eligible crawled link
    # into memory (dispatcher.go:617-620) which cannot survive a
    # mega-domain; capping >= max_links_per_segment preserves the
    # selection exactly and only narrows duplicate-content evidence.
    max_crawled_candidates: int = 5000
    # Politeness: wall-time budget (seconds) one iteration represents.
    # Each domain may fetch at most floor(budget / crawl_delay) URLs
    # per iteration (reference sleeps crawl_delay between same-host
    # fetches, fetcher.go:510-519 — same crawl set under same budget).
    iteration_time_budget: float = 500.0
    # Compact (rewrite) the append-heavy links table every N crawl
    # iterations so snapshot read fan-in stays bounded (Iceberg
    # rewrite_data_files analog). 0 disables.
    compact_links_every: int = 8


_DURATION_KEYS = {
    "default_crawl_delay",
    "max_crawl_delay",
    "min_link_refresh_time",
    "empty_dispatch_retry_interval",
    "iteration_time_budget",
}


@dataclass
class WalkerConfig:
    fetcher: FetcherConfig = field(default_factory=FetcherConfig)
    dispatcher: DispatcherConfig = field(default_factory=DispatcherConfig)
    frontier: FrontierConfig = field(default_factory=FrontierConfig)

    def with_(self, **sections) -> "WalkerConfig":
        return replace(self, **sections)

    @classmethod
    def from_dict(cls, d: dict) -> "WalkerConfig":
        """Build from a walker.yaml-shaped dict (sections ``fetcher``,
        ``dispatcher``, plus our ``frontier``); Go duration strings
        ("49h", "15m", "1s") are accepted for the duration knobs
        (reference: config.go readConfig + walker.yaml)."""

        def section(klass, values: dict):
            kwargs = {}
            for k, v in (values or {}).items():
                if k in _DURATION_KEYS and isinstance(v, str):
                    v = _go_duration_seconds(v)
                elif isinstance(v, list):
                    v = tuple(v)
                kwargs[k] = v
            return klass(**kwargs)

        return cls(
            fetcher=section(FetcherConfig, d.get("fetcher", {})),
            dispatcher=section(DispatcherConfig, d.get("dispatcher", {})),
            frontier=section(FrontierConfig, d.get("frontier", {})),
        )


DEFAULT_CONFIG = WalkerConfig()
