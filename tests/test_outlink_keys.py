"""Outlink keys from the parse kernel equal the url-key UDF's keys.

The fetch superstep keys outlinks inside the parse kernel
(``link_keys``) instead of re-running the url-key UDF over the exploded
``links``. These tests pin the two derivations together: the url.go
goldens and randomized links (redirects, session ids, private-IP hosts,
mixed-case hosts, default ports, fragments) must produce the same
frontier candidates both ways. The ingest paths that still run the UDF
must plan it exactly once.
"""

from __future__ import annotations

import html

import pandas as pd
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from crawlfix import NOW_MS
from test_urlkernel import GOLDEN
from walker_spark.config import WalkerConfig
from walker_spark.functions.udfs import _url_key_frame
from walker_spark.operators.fetch import (
    _PARSE_OUT,
    _make_parse_fn,
    link_accept_condition,
    outlink_keys,
    redirect_link_rows,
)
from walker_spark.operators.seed import normalize_to_keys
from walker_spark.plans.schemas import LINK_KEY

PARSE_IN = ["dom", "subdom", "path", "proto", "url", "html", "mime", "found", "not_modified"]


def _pages(pages) -> pd.DataFrame:
    """``pages`` = [(redirect, [href, ...])]: html pages linking every
    href, or (redirect=True) an immediate meta refresh to the first."""
    rows = []
    for i, (redirect, hrefs) in enumerate(pages):
        if redirect:
            body = (
                '<meta http-equiv="refresh" content="0; url=%s">'
                % html.escape(hrefs[0], quote=True)
            )
        else:
            body = "<html><body>%s</body></html>" % "".join(
                '<a href="%s">l</a>' % html.escape(h, quote=True) for h in hrefs
            )
        url = f"http://Site.Example.com/dir/p{i}.html"
        rows.append(("example.com", "site", f"/dir/p{i}.html", "http", url,
                     body.encode(), "text/html", True, False))
    return pd.DataFrame(rows, columns=PARSE_IN)


def _parse_local(pdf: pd.DataFrame, cfg: WalkerConfig) -> pd.DataFrame:
    return pd.concat(list(_make_parse_fn(cfg, NOW_MS)(iter([pdf]))), ignore_index=True)


def _check_parity(spark, pages, cfg=None):
    cfg = cfg or WalkerConfig()
    pdf = _pages(pages)

    # kernel: each page's link_keys are the url-key UDF's frame over its
    # links, minus the unkeyable ones, in link order
    out = _parse_local(pdf, cfg)
    for links, keys in zip(out["links"], out["link_keys"]):
        frame = _url_key_frame(pd.Series(links or [], dtype=object), cfg.fetcher.purge_sid_list)
        frame = frame[frame["dom"].notna()]
        expect = [tuple(r) for r in frame[LINK_KEY].itertuples(index=False)]
        assert [tuple(k) for k in (keys or [])] == expect

    # engine: the native candidate plan over link_keys equals the
    # UDF pipeline over the exploded links (normalize, F5, F2)
    parsed = spark.createDataFrame(pdf).mapInPandas(
        _make_parse_fn(cfg, NOW_MS), _PARSE_OUT
    ).localCheckpoint()
    got = {tuple(r) for r in outlink_keys(parsed, cfg).collect()}
    follow = parsed.filter(~F.col("meta_nofollow")) if cfg.fetcher.honor_meta_nofollow else parsed
    udf_keys = normalize_to_keys(
        follow.select(F.explode("links").alias("url")), cfg
    ).filter(link_accept_condition(cfg))
    assert got == {tuple(r) for r in udf_keys.select(*LINK_KEY).collect()}
    return got


def test_outlink_keys_golden_parity(spark):
    hrefs = [inp for _tag, inp, _expect in GOLDEN]
    got = _check_parity(spark, [(False, hrefs), (True, [hrefs[0]])])
    # every golden's normalized form is a candidate under its own key
    for _tag, _inp, expect in GOLDEN:
        (key,) = _url_key_frame(pd.Series([expect]), WalkerConfig().fetcher.purge_sid_list)[
            LINK_KEY
        ].itertuples(index=False)
        assert tuple(key) in got


_HOSTS = ["a.com", "A.CoM", "WWW.Example.co.uk", "sub.Example.org", "10.0.0.5",
          "192.168.1.1", "172.20.3.4", "127.0.0.1", "8.8.8.8", "localhost", "co.uk"]
_SEGS = ["a", "B", "..", ".", "x y", "%7euser", "p.html", "%2F", "dir"]
_QKEYS = ["q", "jsessionid", "PHPSESSID", "aspsessionid", "z"]

_query = st.lists(
    st.tuples(st.sampled_from(_QKEYS), st.sampled_from(["1", "ABC", ""])), max_size=3
).map(lambda kv: "?" + "&".join(f"{k}={v}" for k, v in kv) if kv else "")
_tail = st.tuples(
    st.lists(st.sampled_from(_SEGS), max_size=4).map("/".join),
    st.sampled_from(["", ";jsessionid=ABC", ";phpsessid=9"]),
    _query,
    st.sampled_from(["", "#top", "#Frag"]),
).map("".join)
_absolute = st.tuples(
    st.sampled_from(["http", "https", "HTTP", "ftp"]),
    st.sampled_from(_HOSTS),
    st.sampled_from(["", ":80", ":443", ":8080"]),
    _tail,
).map(lambda t: f"{t[0]}://{t[1]}{t[2]}/{t[3]}")
_relative = st.tuples(st.sampled_from(["", "/", "../", "./"]), _tail).map("".join)
_href = st.one_of(_absolute, _relative)


@settings(max_examples=6, deadline=None)
@given(pages=st.lists(
    st.tuples(st.booleans(), st.lists(_href, min_size=1, max_size=8)),
    min_size=1, max_size=10,
))
def test_outlink_keys_random_parity(spark, pages):
    _check_parity(spark, pages)


def test_ingest_paths_plan_one_python_eval(spark):
    """The url-key UDF runs once per row: the filters on its struct
    fields must not be pushed below the projection and re-plan it."""

    def python_nodes(df):
        return df._jdf.queryExecution().executedPlan().toString().count("ArrowEvalPython")

    cfg = WalkerConfig()
    urls = spark.createDataFrame([("http://a.com/x",), ("http://10.0.0.1/y",)], "url string")
    assert python_nodes(normalize_to_keys(urls, cfg)) == 1
    hops = spark.createDataFrame(
        [("http://a.com/s.html", ["http://a.com/h.html"], NOW_MS)],
        "url string, redirected_from array<string>, time_ms long",
    )
    assert python_nodes(redirect_link_rows(hops, cfg, write_seq=1)) == 1
