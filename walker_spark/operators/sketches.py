"""Mergeable distinct-count sketches (HyperLogLog, Flajolet et al.
2007) built from deterministic md5 hashing so the sketch itself is
cross-engine reproducible: DuckDB replays the identical registers and
estimate, giving an EXACT oracle for an approximate operator.

Why not ``approx_count_distinct``: Spark's built-in HLL++ is opaque
(no register access, engine-private hashing), so its results can't be
oracle-checked, merged outside Spark, or persisted as a sketch table.
Here the registers are plain rows — the canonical 100 TB pattern of a
per-partition sketch TABLE that later rolls up by ``max`` (register
merge) instead of re-scanning raw data.

Shapes:
- the register build is a two-phase hash aggregate on
  (group, bucket): map-side partial ``max`` collapses each task's
  items to at most ``m`` rows per group BEFORE the exchange, so the
  shuffle is O(groups x m), never O(distinct items);
- the estimate is a per-group rollup of the m-row register sets
  (integer S = sum 2^(K-M) — exact BIGINT — plus the standard
  linear-counting small-range correction).

All math is integer except the final alpha*m^2*2^K/S division and the
linear-counting ln — both deterministic IEEE double ops, emitted
rounded(3) (the cosine precedent for cross-engine float columns).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# alpha_m bias-correction constants from Flajolet et al. 2007 §4
_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}


def _alpha(m: int) -> float:
    return _ALPHA.get(m, 0.7213 / (1 + 1.079 / m))


def hll_registers(
    df: DataFrame,
    group_cols: Sequence[str],
    item_col: str,
    b: int = 6,
) -> DataFrame:
    """Per-group HyperLogLog registers: ``(group..., bucket, reg)``
    with ``bucket`` the top ``b`` bits of the 32-bit md5 prefix of the
    item and ``reg = max(rho)`` where rho is the 1-based position of
    the leading set bit of the remaining ``32-b`` bits (``32-b+1``
    when they are all zero). Buckets no item hashed into are ABSENT
    (register 0) — :func:`hll_estimate` accounts for them.

    Registers are the mergeable form: ``max(reg)`` over any union of
    register sets (per-day sketches, per-partition sketches) is the
    sketch of the union — pytest asserts this. Cross-engine exact:
    bucket/rho are pure integer functions of md5 hex.
    """
    if not 4 <= b <= 16:
        raise ValueError(f"b must be in [4, 16]: {b}")
    rem_bits = 32 - b
    h32 = _md5_u32(F.col(item_col))
    bucket = F.floor(h32 / F.lit(1 << rem_bits)).cast("int")
    rem = h32 % F.lit(1 << rem_bits)
    # bin() drops leading zeros, so bit-length == length(bin(x)); the
    # all-zero remainder maps to rho = rem_bits + 1 by convention
    rho = F.when(rem == 0, F.lit(rem_bits + 1)).otherwise(
        F.lit(rem_bits + 1) - F.length(F.bin(rem))
    ).cast("int")
    return (
        df.select(*group_cols, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("reg"))
    )


def hll_estimate(
    registers: DataFrame, group_cols: Sequence[str], b: int = 6
) -> DataFrame:
    """Roll per-group registers up to the cardinality estimate:
    ``(group..., hll_s, hll_zero_regs, est_r3)`` where ``hll_s`` is
    the exact integer ``sum_j 2^(K - M_j)`` over all ``m = 2^b``
    buckets (absent bucket => M=0 => 2^K) with ``K = 32 - b + 1``,
    ``hll_zero_regs`` the number of zero registers, and ``est_r3`` the
    HLL estimate (linear counting when raw <= 2.5m and zeros exist),
    rounded to 3 decimals. ``hll_s``/``hll_zero_regs`` are BIGINT and
    bit-exact cross-engine; the estimate's two float ops are
    deterministic IEEE doubles."""
    m = 1 << b
    k = 32 - b + 1
    # variable-shift shiftleft must go through expr (CLAUDE.md gotcha:
    # F.shiftleft only takes a literal shift) — keeps S pure integer
    rolled = registers.groupBy(*group_cols).agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {k} - reg)")).alias("_sp"),
        F.count(F.lit(1)).alias("_nb"),
    )
    v = (F.lit(m) - F.col("_nb")).cast("long")
    s = (F.col("_sp") + v * F.lit(1 << k)).cast("long")
    raw = F.lit(_alpha(m) * m * m * (1 << k)) / s.cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
    ).otherwise(raw)
    return rolled.select(
        *group_cols,
        s.alias("hll_s"),
        v.alias("hll_zero_regs"),
        F.round(est, 3).alias("est_r3"),
    )


def cms_counts(
    df: DataFrame,
    group_cols: Sequence[str],
    item_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Per-group Count-Min sketch (Cormode & Muthukrishnan 2005):
    ``(group..., d, bucket, cnt)`` — for each of ``depth`` independent
    md5 hash rows, the number of items that hashed into each of
    ``width`` buckets. Mergeable by ``sum(cnt)`` over any union of
    sketch tables (per-day/per-partition sketches) — pytest asserts
    the merge law. Cells no item hashed into are ABSENT (cnt 0);
    :func:`cms_lookup` coalesces them.

    Scale shape: the item fan-out (x depth) happens in the scan task
    and the two-phase hash agg collapses each task map-side to at most
    ``depth x width`` rows per group BEFORE the exchange — the shuffle
    is O(groups x d x w), never O(items). Hash d of an item is the
    32-bit md5 prefix of ``item || '#' || d`` mod width: pure integer,
    replayed bit-exactly by the DuckDB oracle."""
    if depth < 1 or width < 2:
        raise ValueError(f"bad CMS shape: depth={depth} width={width}")
    rows = F.array(
        *[
            F.struct(
                F.lit(j).alias("d"),
                _md5_u32(F.concat(F.col(item_col), F.lit(f"#{j}")))
                .__mod__(F.lit(width))
                .cast("int")
                .alias("bucket"),
            )
            for j in range(depth)
        ]
    )
    return (
        df.select(*group_cols, F.explode(rows).alias("h"))
        .select(*group_cols, "h.d", "h.bucket")
        .groupBy(*group_cols, "d", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_lookup(
    cms: DataFrame,
    candidates: DataFrame,
    group_cols: Sequence[str],
    item_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-query the sketch: for each candidate row (which must
    carry the group columns plus ``item_col``) return
    ``(group..., item, est_cnt)`` = min over the ``depth`` rows of the
    candidate's bucket count (absent cell => 0). CMS guarantees
    ``est_cnt >= true count`` always and ``<= true + eps*N`` w.h.p.
    (eps ~ e/width). The candidate side is the small side — the join
    is a plain equi-join on (group, d, bucket) so Catalyst/AQE picks
    broadcast when candidates are tiny and a co-partitioned hash join
    when both sides are big."""
    expanded = candidates.select(
        *group_cols,
        F.col(item_col).alias("item"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("d"),
                        _md5_u32(F.concat(F.col(item_col), F.lit(f"#{j}")))
                        .__mod__(F.lit(width))
                        .cast("int")
                        .alias("bucket"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("h"),
    ).select(*group_cols, "item", "h.d", "h.bucket")
    joined = expanded.join(cms, [*group_cols, "d", "bucket"], "left")
    return joined.groupBy(*group_cols, "item").agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("est_cnt")
    )


def _md5_u32(col) -> F.Column:
    """First 8 hex digits of md5 as an unsigned 32-bit integer — the
    repo-wide deterministic hash (same construction as the DuckDB
    oracle's _md5_hex_int_sql)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast(
        "long"
    )


def hll_distinct(
    df: DataFrame,
    group_cols: Sequence[str],
    item_col: str,
    b: int = 6,
) -> DataFrame:
    """One-shot per-group distinct-count estimate (registers +
    estimate). ``b=6`` (64 buckets) gives ~13% standard error — the
    register table is what you'd persist at scale and re-merge."""
    return hll_estimate(
        hll_registers(df, group_cols, item_col, b=b), group_cols, b=b
    )


def log_histogram(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    mantissa_bits: int = 5,
) -> DataFrame:
    """Per-group mergeable log-bucket histogram (the DDSketch /
    HdrHistogram family — Masson et al. 2019): non-negative integer
    values map to buckets with bounded RELATIVE width 2^-s (s =
    ``mantissa_bits``), so a single tiny table covers values from 0 to
    2^63 with ~s*64 buckets per group. ``(group..., bucket, cnt)``,
    mergeable by ``sum(cnt)`` (pytest asserts the law) — the quantile
    tier you can persist per day/partition and roll up without
    re-scanning, unlike ``approx_percentile`` whose state is opaque.

    Bucket index (monotone in v, contiguous, pure integer bit math —
    the oracle replays it exactly):

        v < 2^(s+1):  bucket = v                      (small values exact)
        else:         bucket = ((e - s) << s) + (v >> (e - s))
                      with e = bit_length(v) - 1

    Negative values raise at query time (raise_error branch); use an
    offset upstream for signed data."""
    s = mantissa_bits
    if not 1 <= s <= 16:
        raise ValueError(f"mantissa_bits must be in [1, 16]: {s}")
    v = F.col(value_col).cast("long")
    e = (F.length(F.bin(v)) - 1).cast("long")  # floor(log2(v)) for v>=1
    big = (
        ((e - s) * F.lit(1 << s))
        + F.expr(f"shiftright(CAST(`{value_col}` AS BIGINT), "
                 f"CAST(length(bin(CAST(`{value_col}` AS BIGINT))) - 1 - {s} AS INT))")
    )
    bucket = (
        F.when(
            v < 0,
            F.raise_error(
                F.lit("log_histogram: negative value — offset signed data upstream")
            ).cast("long"),
        )
        .when(v < F.lit(1 << (s + 1)), v)
        .otherwise(big)
        .cast("long")
    )
    return (
        df.select(*group_cols, bucket.alias("bucket"))
        .groupBy(*group_cols, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def log_histogram_quantiles(
    hist: DataFrame,
    group_cols: Sequence[str],
    qs: Sequence[float],
    mantissa_bits: int = 5,
) -> DataFrame:
    """Per-group type-1 (nearest-rank) quantile ESTIMATES from the
    merged histogram: for each q, the LOWER BOUND of the bucket
    holding rank ceil(q*n) — an integer within relative 2^-s of the
    true value. ``(group..., q_ppm, est)``; q rides as integer
    parts-per-million and the rank is ``(q_ppm*n + 999999) div 1e6``,
    so there is NO float anywhere and the oracle is bit-exact.

    The rank walk is a window cumulative sum over the per-group bucket
    rows — partitions are bounded by the bucket count (~64*s), never
    by data volume, so this tiny rollup is the only post-sketch work."""
    from pyspark.sql import Window

    s = mantissa_bits
    w = Window.partitionBy(*group_cols).orderBy("bucket")
    cum = hist.select(
        *group_cols,
        "bucket",
        F.sum("cnt").over(w).cast("long").alias("_cum"),
        F.sum("cnt")
        .over(
            Window.partitionBy(*group_cols).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("long")
        .alias("_n"),
    )
    qdf = cum.sparkSession.createDataFrame(
        [(int(round(q * 1_000_000)),) for q in qs], "q_ppm long"
    )
    ranked = cum.crossJoin(F.broadcast(qdf)).filter(
        F.col("_cum")
        >= F.expr("(q_ppm * _n + 999999) div 1000000")
    )
    # bucket lower bound inverts the index map: bucket = ((e-s)<<s)+m
    # with m in [2^s, 2^(s+1)), so bucket div 2^s = e-s+1 and the
    # smallest v in the bucket is m << (e-s)
    lb = F.when(
        F.col("bucket") < F.lit(1 << (s + 1)), F.col("bucket")
    ).otherwise(
        F.expr(
            f"shiftleft((bucket % {1 << s}) + {1 << s}, "
            f"CAST(bucket div {1 << s} AS INT) - 1)"
        )
    )
    return (
        ranked.groupBy(*group_cols, "q_ppm")
        .agg(F.min("bucket").alias("bucket"))
        .select(*group_cols, "q_ppm", lb.cast("long").alias("est"))
    )


def kmv_sketch(
    df: DataFrame,
    group_cols: Sequence[str],
    item_col: str,
    k: int = 256,
) -> DataFrame:
    """Per-group KMV ("k minimum values" / theta) sketch (Bar-Yossef
    et al. 2002; Beyer et al. 2007): the ``k`` smallest DISTINCT
    md5-u32 hashes of the items — ``(group..., h, rn)`` with ``rn``
    the 1-based rank. Unlike HLL this sketch supports SET ALGEBRA:
    the union sketch is the k smallest of the concatenation (pytest
    asserts the merge law), and intersections estimate via matching
    values (:func:`kmv_overlap`).

    Scale shape: distinct is a two-phase agg on (group, h); the top-k
    selection is TWO bounded window passes — first within
    (group, salt-of-h) so no single task ever ranks more than one
    salt-shard of a group's distinct set, then over the <= 64*k
    survivors per group. Deterministic (salt is a hash of h), so the
    oracle replays rows exactly."""
    from pyspark.sql import Window

    if k < 2:
        raise ValueError(f"k must be >= 2: {k}")
    h = _md5_u32(F.col(item_col))
    dist = (
        df.select(*group_cols, h.alias("h"))
        .groupBy(*group_cols, "h")
        .agg(F.lit(1).alias("_one"))
        .drop("_one")
    )
    salt = (F.col("h") % F.lit(64)).alias("_salt")
    w1 = Window.partitionBy(*group_cols, "_salt").orderBy("h")
    w2 = Window.partitionBy(*group_cols).orderBy("h")
    return (
        dist.select(*group_cols, "h", salt)
        .withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k)
        .select(*group_cols, "h", F.col("rn").cast("int").alias("rn"))
    )


def kmv_estimate(
    sketch: DataFrame, group_cols: Sequence[str], k: int = 256
) -> DataFrame:
    """Distinct-count estimate from a KMV sketch: if the group holds
    fewer than ``k`` values the count is EXACT (the sketch is the
    whole hash set); else ``est = (k-1) * 2^32 div h_k`` (the k-th
    smallest hash), pure BIGINT. ``(group..., kmv_n, est)``."""
    rolled = sketch.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("kmv_n"),
        F.max(F.when(F.col("rn") == k, F.col("h"))).alias("_hk"),
    )
    return rolled.select(
        *group_cols,
        "kmv_n",
        F.when(F.col("kmv_n") < k, F.col("kmv_n"))
        .otherwise(F.expr(f"CAST(({k} - 1) * 4294967296 div _hk AS BIGINT)"))
        .cast("long")
        .alias("est"),
    )


def kmv_overlap(
    sketch: DataFrame,
    group_cols: Sequence[str],
    k: int = 256,
) -> DataFrame:
    """Pairwise set overlap between groups from their KMV sketches
    (Beyer et al. 2007 §4): for each unordered group pair, build the
    union KMV (k smallest of both sketches' values), count how many of
    those are present in BOTH sketches, and estimate

        jaccard_ppm = matches * 1e6 div ku
        inter_est   = matches * union_est div ku

    with ku the union sketch size and union_est from
    :func:`kmv_estimate`'s formula. Sparse contract: pairs whose union
    sketch shares nothing are omitted. Only sketch rows move — the
    pair join is O(groups^2 * k) WITHOUT touching raw data, which is
    the point: cross-corpus overlap matrices at 100 TB run entirely on
    KB-sized sketch tables. Single group column only (``g``)."""
    from pyspark.sql import Window

    if len(group_cols) != 1:
        raise ValueError("kmv_overlap takes exactly one group column")
    g = group_cols[0]
    a = sketch.select(F.col(g).alias("ga"), "h")
    b = sketch.select(F.col(g).alias("gb"), "h")
    both = a.join(b, "h").filter(F.col("ga") < F.col("gb"))
    un = (
        a.join(b.select("gb").distinct(), F.lit(True))
        .filter(F.col("ga") < F.col("gb"))
        .select("ga", "gb", "h")
        .unionByName(
            b.join(a.select("ga").distinct(), F.lit(True))
            .filter(F.col("ga") < F.col("gb"))
            .select("ga", "gb", "h")
        )
        .distinct()
    )
    w = Window.partitionBy("ga", "gb").orderBy("h")
    union_k = un.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )
    matched = union_k.join(
        both.select("ga", "gb", "h", F.lit(1).alias("_m")),
        ["ga", "gb", "h"],
        "left",
    )
    rolled = matched.groupBy("ga", "gb").agg(
        F.count(F.lit(1)).cast("long").alias("ku"),
        F.sum(F.coalesce(F.col("_m"), F.lit(0))).cast("long").alias("matches"),
        F.max(F.when(F.col("rn") == k, F.col("h"))).alias("_hk"),
    )
    union_est = (
        F.when(F.col("ku") < k, F.col("ku"))
        .otherwise(F.expr(f"CAST(({k} - 1) * 4294967296 div _hk AS BIGINT)"))
        .cast("long")
    )
    return (
        rolled.filter(F.col("matches") > 0)
        .select(
            F.col("ga").alias(g),
            F.col("gb").alias(f"{g}_2"),
            "ku",
            "matches",
            F.expr("CAST(matches * 1000000 div ku AS BIGINT)").alias(
                "jaccard_ppm"
            ),
            union_est.alias("union_est"),
            F.expr(
                f"CAST(matches * (CASE WHEN ku < {k} THEN ku"
                f" ELSE CAST(({k} - 1) * 4294967296 div _hk AS BIGINT) END)"
                f" div ku AS BIGINT)"
            ).alias("inter_est"),
        )
    )


def bloom_bits(
    df: DataFrame,
    item_col: str,
    m_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """Bloom filter as a plain-row sketch table: the DISTINCT set bit
    positions ``(bit)`` of every item's ``k`` md5-derived hash
    positions (``bit_j(x) = md5_u32(x || ':' || j) mod m_bits``).

    Same tier contract as the HLL/CMS/KMV sketches: rows instead of
    packed bitmaps, so the sketch is mergeable by plain
    UNION-DISTINCT (bloom OR-law), persistable as a table, and
    cross-engine exact — DuckDB replays the identical positions, an
    exact oracle for the approximate operator including its false
    positives. (urlseen.py keeps its bloom as packed per-bucket
    bitmaps for probe bandwidth; this is the queryable/mergeable form
    of the same structure.)

    Build shape: one k-way projection fan-out then a distinct keyed on
    the bit position — map-side partials collapse repeats before the
    exchange; the table is at most ``m_bits`` rows regardless of input
    size."""
    if m_bits < 2 or k < 1:
        raise ValueError("need m_bits >= 2 and k >= 1")
    item = F.col(item_col).cast("string")
    return (
        df.select(
            F.explode(
                F.array(*[
                    (_md5_u32(F.concat(item, F.lit(f":{j}"))) % m_bits)
                    for j in range(k)
                ])
            ).alias("bit")
        )
        .distinct()
    )


def bloom_probe(
    bits: DataFrame,
    keys: DataFrame,
    item_col: str,
    m_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """Probe a :func:`bloom_bits` sketch: ``(item..., maybe)`` with
    ``maybe = 1`` iff ALL ``k`` positions of the item are set (BIGINT
    0/1 — never a false negative, false positives at the standard
    ``(1 - e^(-kn/m))^k`` rate, and deterministic here because the
    hash is md5).

    Probe shape: k-way position fan-out, one hash join against the bit
    table (at most ``m_bits`` rows — AQE broadcasts it when small),
    then a per-item count: ``maybe = (hits == k)``. All columns of
    ``keys`` pass through."""
    item = F.col(item_col).cast("string")
    fan = keys.select(
        "*",
        F.explode(
            F.array(*[
                (_md5_u32(F.concat(item, F.lit(f":{j}"))) % m_bits)
                for j in range(k)
            ])
        ).alias("bit"),
    )
    hit = bits.select("bit", F.lit(1).alias("_hit"))
    return (
        fan.join(hit, "bit", "left")
        .groupBy(*keys.columns)
        .agg(
            (F.sum(F.coalesce(F.col("_hit"), F.lit(0))) == F.lit(k))
            .cast("long")
            .alias("maybe")
        )
    )


# ---------------------------------------------------------------------------
# SpaceSaving / mergeable heavy-hitter summaries
# ---------------------------------------------------------------------------


def space_saving_summaries(
    df: DataFrame,
    slice_cols: Sequence[str],
    item_col: str,
    k: int = 8,
    buckets: int = 4,
) -> DataFrame:
    """Per-(slice, bucket) truncated-count heavy-hitter summaries
    (Metwally et al. 2005 SpaceSaving, in the mergeable-summaries
    formulation of Agarwal et al. 2013): ``bucket = md5_u32(item) %
    buckets`` is a CONTENT-derived logical partition (never a Spark
    physical partition — the summary is reproducible on any engine),
    items rank within their bucket by exact count (``cnt desc, item
    asc`` — deterministic tie-break), the top ``k`` per bucket are
    kept, and ``bucket_err`` (the rank-``k+1`` count, 0 when the
    bucket holds <= k items) rides every kept row as the bucket's
    point-query error bound for ABSENT items: any dropped item's true
    count is <= bucket_err by construction.

    Output: ``(slice..., bucket, item, cnt, rn, bucket_err)`` — at
    most ``k`` rows per (slice, bucket). This is the persistable
    artifact of the tier: per-day / per-shard summaries merge by
    :func:`space_saving_estimates` WITHOUT re-reading raw data, the
    100 TB shape (same motivation as :func:`kmv_sketch`).

    Scale shape: counts are a two-phase hash agg on (slice, bucket,
    item) — map-side partials collapse each task before the ONE
    exchange; the top-(k+1) selection is the kmv two-level salted
    window (salt = a second slice of the same md5 u32), so no task
    ever ranks more than one salt-shard of a bucket. The salted pass
    keeps per-salt top-(k+1) — a superset of the bucket top-(k+1)
    under the shared tie-break — so the final rank is exact and the
    DuckDB oracle replays rows identically with a direct row_number.
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1: {buckets}")
    h = _md5_u32(F.col(item_col))
    counts = (
        df.select(
            *slice_cols,
            F.col(item_col).alias("item"),
            (h % buckets).cast("int").alias("bucket"),
            ((h / F.lit(buckets)).cast("long") % 64).alias("_salt"),
        )
        .groupBy(*slice_cols, "bucket", "item", "_salt")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    order = [F.col("cnt").desc(), F.col("item").asc()]
    w1 = Window.partitionBy(*slice_cols, "bucket", "_salt").orderBy(*order)
    w2 = Window.partitionBy(*slice_cols, "bucket").orderBy(*order)
    wb = Window.partitionBy(*slice_cols, "bucket")
    return (
        counts.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k + 1)
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k + 1)
        .withColumn(
            "bucket_err",
            F.coalesce(
                F.max(
                    F.when(F.col("rn") == k + 1, F.col("cnt"))
                ).over(wb),
                F.lit(0),
            ).cast("long"),
        )
        .filter(F.col("rn") <= k)
        .select(
            *slice_cols,
            "bucket",
            "item",
            "cnt",
            F.col("rn").cast("int").alias("rn"),
            "bucket_err",
        )
    )


def space_saving_estimates(
    summary: DataFrame,
    slice_cols: Sequence[str],
) -> DataFrame:
    """Merge per-slice SpaceSaving summaries into global point
    estimates (Agarwal et al. 2013 merge law): for every item kept by
    ANY slice,

        est_cnt   = sum over slices of (cnt if present
                                        else bucket_err(slice, bucket))
        err_slack = the part of est_cnt contributed by bucket_err

    so ``exact <= est_cnt`` and ``est_cnt - err_slack <= exact`` —
    both bounds are certificates, and an item whose summaries cover
    every slice has ``err_slack = 0`` (exactly counted). Each item's
    bucket is read from the summary rows that keep it, so the merge
    cannot disagree with the bucket count the summaries were built
    with. Output: ``(item, est_cnt, err_slack)``.

    Scale shape: the merged item universe is bounded by ``slices x
    buckets x k`` rows — the grid (items x slices) and the per-bucket
    error table are sketch-sized, so the merge NEVER touches raw
    data; everything here broadcasts under AQE. The input summary is
    localCheckpointed first (sketch-sized by contract): the merge
    reads it through four branches, and if the summary arrives as a
    live build pipeline each branch would otherwise re-run the
    corpus aggregation."""
    summary = summary.localCheckpoint()
    items = summary.select("item", "bucket").distinct()
    slices = summary.select(*slice_cols).distinct()
    errs = summary.groupBy(*slice_cols, "bucket").agg(
        F.max("bucket_err").alias("_berr")
    )
    grid = items.join(slices, F.lit(True))
    got = grid.join(
        summary.select(*slice_cols, "bucket", "item", "cnt"),
        [*slice_cols, "bucket", "item"],
        "left",
    ).join(errs, [*slice_cols, "bucket"], "left")
    fallback = F.coalesce(F.col("_berr"), F.lit(0))
    return got.groupBy("item").agg(
        F.sum(F.coalesce(F.col("cnt"), fallback)).cast("long").alias(
            "est_cnt"
        ),
        F.sum(F.when(F.col("cnt").isNull(), fallback).otherwise(F.lit(0)))
        .cast("long")
        .alias("err_slack"),
    )


def space_saving_compact(
    summary: DataFrame,
    slice_cols: Sequence[str],
    k: int = 8,
) -> DataFrame:
    """Collapse per-slice SpaceSaving summaries into ONE summary —
    the compaction half of the merge law (Agarwal et al. 2013): per
    bucket, every item kept by any slice gets the merged count
    ``c' = sum over slices of (cnt if present else bucket_err)``,
    the top ``k`` by (c' desc, item asc) survive, and the new bucket
    error is

        bucket_err' = max(c' at rank k+1, sum of slice bucket_errs)

    — the first term covers items dropped NOW, the second items that
    were already absent from every slice summary. Two invariants ride
    this (pytest-asserted): estimates of SURVIVING items are
    preserved bit-for-bit (c' IS the pre-compaction estimate), and
    every post-compaction point estimate stays a true upper bound.
    Output has no slice columns — tag one on (e.g. a batch id) to
    merge the compacted summary with newer slices. Buckets come from
    the summary rows, as in :func:`space_saving_estimates`.

    Scale shape: input is already sketch-sized (slices x buckets x k
    rows), so the grid/rank passes here are driver-trivial by
    construction; this is the job that keeps a per-batch summary
    store's read fan-in constant, the FrontierStore-compaction role
    for the sketch tier. The input is localCheckpointed (sketch-sized
    by contract) — see :func:`space_saving_estimates`."""
    from pyspark.sql import Window

    summary = summary.localCheckpoint()
    items = summary.select("item", "bucket").distinct()
    slices = summary.select(*slice_cols).distinct()
    errs = summary.groupBy(*slice_cols, "bucket").agg(
        F.max("bucket_err").alias("_berr")
    )
    err_tot = errs.groupBy("bucket").agg(
        F.sum("_berr").cast("long").alias("_err_sum")
    )
    grid = items.join(slices, F.lit(True))
    merged = (
        grid.join(
            summary.select(*slice_cols, "bucket", "item", "cnt"),
            [*slice_cols, "bucket", "item"],
            "left",
        )
        .join(errs, [*slice_cols, "bucket"], "left")
        .groupBy("bucket", "item")
        .agg(
            F.sum(F.coalesce(F.col("cnt"), F.col("_berr"), F.lit(0)))
            .cast("long")
            .alias("cnt")
        )
    )
    order = [F.col("cnt").desc(), F.col("item").asc()]
    w = Window.partitionBy("bucket").orderBy(*order)
    wb = Window.partitionBy("bucket")
    return (
        merged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k + 1)
        .withColumn(
            "_cut",
            F.coalesce(
                F.max(F.when(F.col("rn") == k + 1, F.col("cnt"))).over(wb),
                F.lit(0),
            ),
        )
        .filter(F.col("rn") <= k)
        .join(err_tot, "bucket", "left")
        .select(
            "bucket",
            "item",
            "cnt",
            F.col("rn").cast("int").alias("rn"),
            F.greatest(
                F.col("_cut"), F.coalesce(F.col("_err_sum"), F.lit(0))
            )
            .cast("long")
            .alias("bucket_err"),
        )
    )
