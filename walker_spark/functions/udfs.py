"""Arrow-vectorized pandas UDF wrappers over the pure kernels.

Every Python computation in the engine flows through these (or through
``mapInPandas`` stages built on the same kernels) — no row-at-a-time
Python UDFs anywhere (north_rule: "vectorized pandas/Arrow UDF batch
jobs — no per-row Python"). Kernels: :mod:`urlkernel` (url.go parity),
:mod:`fnv` (fetcher.go:585-589), :mod:`psl` (url.go:169-208).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from walker_spark.functions import fnv as _fnv
from walker_spark.functions import urlkernel

# ---------------------------------------------------------------------------
# URL normalization / primary key
# ---------------------------------------------------------------------------

URL_KEY_TYPE = StructType(
    [
        StructField("dom", StringType(), True),
        StructField("subdom", StringType(), True),
        StructField("path", StringType(), True),
        StructField("proto", StringType(), True),
        StructField("norm_url", StringType(), True),
    ]
)


def _normalize_series(urls: pd.Series, purge_sids) -> pd.Series:
    return urls.map(
        lambda u: urlkernel.normalize_url(u, purge_sids) if isinstance(u, str) else None
    )


def _url_key_frame(urls: pd.Series, purge_sids) -> pd.DataFrame:
    keys = [
        (urlkernel.url_key(u, purge_sids) if isinstance(u, str) else None)
        or (None,) * 5
        for u in urls
    ]
    return pd.DataFrame(keys, columns=["dom", "subdom", "path", "proto", "norm_url"])


def make_normalize_udf(purge_sids=urlkernel.DEFAULT_PURGE_SIDS):
    @F.pandas_udf(StringType())
    def normalize_udf(urls: pd.Series) -> pd.Series:
        return _normalize_series(urls, purge_sids)

    return normalize_udf


def make_url_key_udf(purge_sids=urlkernel.DEFAULT_PURGE_SIDS):
    """url -> struct(dom, subdom, path, proto, norm_url); nulls when the
    URL fails to parse or eTLD+1 cannot be derived (url.go:210-228).

    Marked nondeterministic so Catalyst keeps it in its own projection:
    a deterministic struct UDF gets inlined into every filter pushed
    below the field projection (``dom IS NOT NULL``, private-IP, ...),
    and each inlined copy plans a separate Python evaluation."""

    @F.pandas_udf(URL_KEY_TYPE)
    def url_key_udf(urls: pd.Series) -> pd.DataFrame:
        return _url_key_frame(urls, purge_sids)

    return url_key_udf.asNondeterministic()


@F.pandas_udf(StringType())
def url_from_key_udf(
    dom: pd.Series, subdom: pd.Series, path: pd.Series, proto: pd.Series
) -> pd.Series:
    return pd.DataFrame({"d": dom, "s": subdom, "p": path, "pr": proto}).apply(
        lambda r: urlkernel.url_from_key(r["d"], r["s"], r["p"], r["pr"]), axis=1
    )


# ---------------------------------------------------------------------------
# FNV-1/64 fingerprints (fetcher.go:585-589, 774-776)
# ---------------------------------------------------------------------------


@F.pandas_udf(LongType())
def fnv64_binary_udf(body: pd.Series) -> pd.Series:
    return pd.Series(_fnv.fnv1_64_batch(list(body)), dtype="int64")


@F.pandas_udf(LongType())
def fnv64_text_udf(text: pd.Series) -> pd.Series:
    return pd.Series(_fnv.fnv1_64_batch(list(text)), dtype="int64")


# ---------------------------------------------------------------------------
# Host helpers (JVM-side; no Python)
# ---------------------------------------------------------------------------


def host_col(subdom_col, dom_col):
    """Full hostname from (subdom, dom) — concat with dot only when a
    subdomain is present (CreateURL, url.go:29-44)."""
    return F.when(
        (subdom_col.isNotNull()) & (subdom_col != ""), F.concat(subdom_col, F.lit("."), dom_col)
    ).otherwise(dom_col)
