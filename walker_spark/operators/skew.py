"""Shuffle-skew toolkit: diagnose hot keys, then join through them.

At cluster scale the failure mode of a keyed shuffle is ONE key
(the mega-host, the empty-string language tag, the null user) pinning
one task while a thousand idle. The engine already defends its own
hot paths structurally (two-level salted top-k windows, (dst, anchor)
reduce keys, AQE skew-join for sort-merge); this module packages the
same medicine for ad-hoc pipelines:

- :func:`key_skew_report` — the diagnosis: exact top-k heavy keys
  with ppm shares (integer law, oracle-exact). Its output is
  human/planner-scale regardless of input volume (TakeOrdered top-k,
  never a global sort).
- :func:`salted_join` — the fix for a skewed EQUI-join against a
  broadcastable-ish dimension that is still too big to broadcast:
  fact rows scatter over ``n_salts`` sub-keys (deterministic md5 of
  a caller-named scatter column), the dim side replicates
  ``n_salts``-fold, and the join runs on (keys, salt) — the hot key's
  rows now land on ``n_salts`` tasks. Result row-identical to the
  plain join (pytest + plain-SQL oracle).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def key_skew_report(
    df: DataFrame, key_cols: Sequence[str], top_k: int = 10
) -> DataFrame:
    """Exact top-``top_k`` heaviest key values of a prospective
    shuffle key: ``(key..., n_rows, share_ppm, cum_share_ppm, rank)``,
    all BIGINT (``share_ppm = n * 10^6 div total``). Shape: one
    two-phase count aggregate, total as a broadcast one-row scalar,
    top-k via sort-limit (TakeOrdered — bounded result, no global
    exchange), rank/cumulative over the k-row frame only."""
    if top_k < 1:
        raise ValueError(f"top_k must be positive: {top_k}")
    keys = list(key_cols)
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    total = counts.agg(F.sum("n_rows").cast("long").alias("_total"))
    top = (
        counts.orderBy(F.col("n_rows").desc(), *[F.col(k) for k in keys])
        .limit(top_k)
        .crossJoin(F.broadcast(total))
    )
    w = Window.orderBy(F.col("n_rows").desc(), *[F.col(k) for k in keys])
    share = F.expr("n_rows * CAST(1000000 AS BIGINT) div _total")
    return (
        top.withColumn("share_ppm", share.cast("long"))
        .withColumn(
            "cum_share_ppm",
            F.sum("share_ppm")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .select(*keys, "n_rows", "share_ppm", "cum_share_ppm", "rank")
    )


def salted_join(
    facts: DataFrame,
    dims: DataFrame,
    on: Sequence[str],
    scatter_col: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: row-identical to ``facts.join(dims, on,
    how)`` (keys + dim payload appended), but a hot key's fact rows
    spread over ``n_salts`` reduce tasks instead of one.

    ``scatter_col`` names a fact column whose md5 scatters that key's
    rows (any high-cardinality column — an id, a URL; constant values
    defeat the spread but never the correctness). The dim side
    replicates ``n_salts``-fold — size it accordingly (this is the
    regime where the dim is too big to broadcast but far smaller than
    the facts). ``how`` in {inner, left}: each fact row carries
    exactly ONE salt and its dim replica exists by construction, so
    left semantics are exact. Dim keys must be unique per key tuple
    (the dimension contract) for row-identity with the plain join."""
    from walker_spark.operators.sketches import _md5_u32

    keys = list(on)
    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner/left: {how}")
    if n_salts < 1:
        raise ValueError(f"n_salts must be positive: {n_salts}")
    f_salted = facts.withColumn(
        "_salt", (_md5_u32(F.col(scatter_col)) % n_salts).cast("int")
    )
    d_salted = dims.withColumn(
        "_salt",
        F.explode(F.array(*[F.lit(i).cast("int") for i in range(n_salts)])),
    )
    return f_salted.join(d_salted, keys + ["_salt"], how).drop("_salt")


def fairness_index(
    df: DataFrame,
    key_cols: "Sequence[str]",
    group_cols: "Sequence[str]" = (),
) -> DataFrame:
    """Jain's fairness index over per-key load (Jain et al. 1984) —
    the one-number companion to :func:`key_skew_report`'s top-k
    diagnosis: with x_k the per-key row counts,

        J = (sum x)^2 / (n * sum x^2)     in (0, 1]

    J = 1 means perfectly even keys, J -> 1/n means one key carries
    everything — the number a crawl operator watches per domain (is
    the frontier wave spread across hosts?) and a shuffle doctor
    watches per reduce key. Emitted as exact-integer
    ``jain_ppm = (sum)^2 * 1e6 div (n * sumsq)`` in DECIMAL(38,0)
    (squares overflow BIGINT at web scale), one row per group:
    ``(group..., n_keys, total, max_key, jain_ppm)``.

    Scale shape: one two-phase agg on (group, key) — map-side
    partials collapse the raw volume — then a group-level rollup of
    the count table; both exchanges move counts, never payloads."""
    counts = df.groupBy(*group_cols, *key_cols).agg(
        F.count(F.lit(1)).cast("long").alias("_x")
    )
    return _jain_rollup(counts, group_cols)


def _jain_rollup(counts: DataFrame, group_cols: "Sequence[str]") -> DataFrame:
    """:func:`fairness_index`'s group rollup over a per-key count table
    ``(group..., _x)``. Squares are taken in DECIMAL(38,0): one key past
    ~3.04e9 rows squares beyond BIGINT."""
    gb = counts.groupBy(*group_cols) if group_cols else counts.groupBy()
    return gb.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("_x").cast("long").alias("total"),
        F.max("_x").cast("long").alias("max_key"),
        F.expr(
            "CAST((CAST(sum(_x) AS DECIMAL(38,0)) * sum(_x) * 1000000)"
            " div (count(*) * sum(CAST(_x AS DECIMAL(38,0)) * _x))"
            " AS BIGINT)"
        ).alias("jain_ppm"),
    )
