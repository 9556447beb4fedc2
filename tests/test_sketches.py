"""HyperLogLog sketch: exact register parity with a pure-Python
replay (same md5 math), merge-by-max law, estimate formula pins."""

import hashlib
import math
import random

import pytest
from pyspark.sql import functions as F

from walker_spark.operators.sketches import (
    cms_counts,
    cms_lookup,
    hll_distinct,
    hll_estimate,
    hll_registers,
)

B = 6
M = 1 << B
K = 32 - B + 1


def _py_registers(items):
    regs = {}
    for it in items:
        h32 = int(hashlib.md5(str(it).encode()).hexdigest()[:8], 16)
        bucket = h32 >> (32 - B)
        rem = h32 & ((1 << (32 - B)) - 1)
        rho = (32 - B) + 1 if rem == 0 else (32 - B) + 1 - rem.bit_length()
        regs[bucket] = max(regs.get(bucket, 0), rho)
    return regs


def _py_estimate(regs):
    v = M - len(regs)
    s = sum(1 << (K - r) for r in regs.values()) + v * (1 << K)
    raw = 0.709 * M * M * (1 << K) / float(s)
    if raw <= 2.5 * M and v > 0:
        return s, v, round(float(M) * math.log(float(M) / v), 3)
    return s, v, round(raw, 3)


def test_hll_registers_and_estimate_vs_python(spark):
    rng = random.Random(3)
    rows = [
        (g, f"tok{rng.randint(0, int(true))}")
        for g, true in (("a", 2000), ("b", 40), ("c", 900))
        for _ in range(int(true) * 3)
    ]
    df = spark.createDataFrame(rows, "g string, item string")
    got_regs = {
        (r["g"], r["bucket"]): r["reg"]
        for r in hll_registers(df, ["g"], "item", b=B).collect()
    }
    by_group = {}
    for g, item in rows:
        by_group.setdefault(g, []).append(item)
    want_regs = {
        (g, b): r
        for g, items in by_group.items()
        for b, r in _py_registers(items).items()
    }
    assert got_regs == want_regs

    got_est = {
        r["g"]: (r["hll_s"], r["hll_zero_regs"], r["est_r3"])
        for r in hll_distinct(df, ["g"], "item", b=B).collect()
    }
    want_est = {g: _py_estimate(_py_registers(it)) for g, it in by_group.items()}
    assert got_est == want_est
    # sanity: estimates within ~3 sigma (1.04/sqrt(64) ~ 13%) of truth
    for g, items in by_group.items():
        true = len(set(items))
        assert abs(got_est[g][2] - true) / true < 0.4, (g, got_est[g], true)


def test_hll_merge_by_max(spark):
    rows = [("g", f"i{i % 700}") for i in range(4000)]
    df = spark.createDataFrame(rows, "g string, item string")
    h1 = hll_registers(df.filter(F.crc32("item") % 3 == 0), ["g"], "item")
    h2 = hll_registers(df.filter(F.crc32("item") % 3 != 0), ["g"], "item")
    merged = (
        h1.unionByName(h2).groupBy("g", "bucket").agg(F.max("reg").alias("reg"))
    )
    whole = sorted(map(tuple, hll_distinct(df, ["g"], "item").collect()))
    assert sorted(map(tuple, hll_estimate(merged, ["g"]).collect())) == whole


DEPTH, WIDTH = 4, 64


def _cms_hash(item, d):
    return int(
        hashlib.md5(f"{item}#{d}".encode()).hexdigest()[:8], 16
    ) % WIDTH


def _py_cms(items):
    cells = {}
    for it in items:
        for d in range(DEPTH):
            key = (d, _cms_hash(it, d))
            cells[key] = cells.get(key, 0) + 1
    return cells


def test_cms_counts_and_lookup_vs_python(spark):
    rng = random.Random(7)
    # zipf-ish: token i appears ~ 1000/i times
    items = [f"w{i}" for i in range(1, 60) for _ in range(1000 // i)]
    rng.shuffle(items)
    df = spark.createDataFrame(
        [("g", it) for it in items], "g string, item string"
    )
    cms = cms_counts(df, ["g"], "item", depth=DEPTH, width=WIDTH)
    got_cells = {
        (r["d"], r["bucket"]): r["cnt"] for r in cms.collect()
    }
    assert got_cells == _py_cms(items)

    cands = spark.createDataFrame(
        [("g", f"w{i}") for i in (1, 2, 7, 30, 59)] + [("g", "absent")],
        "g string, item string",
    )
    got_est = {
        r["item"]: r["est_cnt"]
        for r in cms_lookup(
            cms, cands, ["g"], "item", depth=DEPTH, width=WIDTH
        ).collect()
    }
    cells = _py_cms(items)
    from collections import Counter

    exact = Counter(items)
    for it, est in got_est.items():
        want = min(
            cells.get((d, _cms_hash(it, d)), 0) for d in range(DEPTH)
        )
        assert est == want, (it, est, want)
        assert est >= exact.get(it, 0)  # CMS never underestimates


def test_cms_merge_by_sum(spark):
    rows = [("g", f"i{i % 300}") for i in range(2000)]
    df = spark.createDataFrame(rows, "g string, item string")
    c1 = cms_counts(df.filter(F.crc32("item") % 2 == 0), ["g"], "item")
    c2 = cms_counts(df.filter(F.crc32("item") % 2 != 0), ["g"], "item")
    merged = (
        c1.unionByName(c2)
        .groupBy("g", "d", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = sorted(map(tuple, cms_counts(df, ["g"], "item").collect()))
    assert sorted(map(tuple, merged.collect())) == whole


def test_cms_bad_shape_raises(spark):
    df = spark.createDataFrame([("g", "x")], "g string, item string")
    with pytest.raises(ValueError):
        cms_counts(df, ["g"], "item", depth=0)


def test_hll_bad_b_raises(spark):
    df = spark.createDataFrame([("g", "x")], "g string, item string")
    with pytest.raises(ValueError):
        hll_registers(df, ["g"], "item", b=2)


S = 5  # mantissa bits for log_histogram tests


def _py_bucket(v):
    if v < (1 << (S + 1)):
        return v
    e = v.bit_length() - 1
    return ((e - S) << S) + (v >> (e - S))


def _py_lb(b):
    if b < (1 << (S + 1)):
        return b
    return ((b % (1 << S)) + (1 << S)) << ((b // (1 << S)) - 1)


def test_log_histogram_vs_python(spark):
    import random

    from walker_spark.operators.sketches import (
        log_histogram,
        log_histogram_quantiles,
    )

    rng = random.Random(13)
    vals = (
        [0, 1, 2, (1 << (S + 1)) - 1, 1 << (S + 1), (1 << 62) - 7]
        + [rng.randint(0, 10**9) for _ in range(3000)]
        + [rng.randint(0, 200) for _ in range(1000)]
    )
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v long")
    hist = log_histogram(df, ["g"], "v", mantissa_bits=S)
    got = {r["bucket"]: r["cnt"] for r in hist.collect()}
    want = {}
    for v in vals:
        want[_py_bucket(v)] = want.get(_py_bucket(v), 0) + 1
    assert got == want

    qs = (0.01, 0.25, 0.5, 0.9, 0.99)
    ests = {
        r["q_ppm"]: r["est"]
        for r in log_histogram_quantiles(hist, ["g"], qs, mantissa_bits=S).collect()
    }
    sv = sorted(vals)
    for q in qs:
        rank = -(-int(q * 1_000_000) * len(sv) // 1_000_000)  # ceil
        true = sv[max(rank - 1, 0)]
        est = ests[int(q * 1_000_000)]
        # est is the lower bound of true's bucket: within relative 2^-S
        assert est == _py_lb(_py_bucket(true))
        if true > 0:
            assert est <= true and true - est <= max(true >> S, 1)


def test_log_histogram_merge_by_sum(spark):
    from pyspark.sql import functions as FF

    from walker_spark.operators.sketches import log_histogram

    df = spark.createDataFrame(
        [("g", (i * 2654435761) % 100_000) for i in range(3000)],
        "g string, v long",
    )
    h1 = log_histogram(df.filter(FF.col("v") % 3 == 0), ["g"], "v", mantissa_bits=S)
    h2 = log_histogram(df.filter(FF.col("v") % 3 != 0), ["g"], "v", mantissa_bits=S)
    merged = (
        h1.unionByName(h2)
        .groupBy("g", "bucket")
        .agg(FF.sum("cnt").alias("cnt"))
    )
    whole = sorted(map(tuple, log_histogram(df, ["g"], "v", mantissa_bits=S).collect()))
    assert sorted(map(tuple, merged.collect())) == whole


def test_log_histogram_negative_raises(spark):
    from walker_spark.operators.sketches import log_histogram

    df = spark.createDataFrame([("g", -1)], "g string, v long")
    with pytest.raises(Exception, match="negative value"):
        log_histogram(df, ["g"], "v").collect()
    with pytest.raises(ValueError):
        log_histogram(df, ["g"], "v", mantissa_bits=0)


KMV_K = 64


def _py_kmv(items, k=KMV_K):
    hs = sorted(
        {int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) for i in items}
    )
    return hs[:k]


def test_kmv_sketch_and_estimate_vs_python(spark):
    from walker_spark.operators.sketches import kmv_estimate, kmv_sketch

    rng = random.Random(17)
    rows = [
        (g, f"t{rng.randint(0, n)}")
        for g, n in (("a", 5000), ("b", 30))
        for _ in range(3 * n)
    ]
    df = spark.createDataFrame(rows, "g string, item string")
    sk = kmv_sketch(df, ["g"], "item", k=KMV_K)
    got = {}
    for r in sk.collect():
        got.setdefault(r["g"], []).append((r["rn"], r["h"]))
    by_g = {}
    for g, it in rows:
        by_g.setdefault(g, []).append(it)
    for g, items in by_g.items():
        want = [(i + 1, h) for i, h in enumerate(_py_kmv(items))]
        assert sorted(got[g]) == want, g

    est = {
        r["g"]: (r["kmv_n"], r["est"])
        for r in kmv_estimate(sk, ["g"], k=KMV_K).collect()
    }
    for g, items in by_g.items():
        true = len(set(items))
        hs = _py_kmv(items)
        if len(hs) < KMV_K:
            assert est[g] == (len(hs), len(hs))  # exact below k
        else:
            want = (KMV_K - 1) * (1 << 32) // hs[KMV_K - 1]
            assert est[g] == (KMV_K, want)
            assert abs(want - true) / true < 0.5  # ~1/sqrt(k) sigma
    assert est["b"][1] == len(set(by_g["b"]))


def test_kmv_merge_law(spark):
    from pyspark.sql import Window

    from walker_spark.operators.sketches import kmv_sketch

    rows = [("g", f"i{i % 900}") for i in range(4000)]
    df = spark.createDataFrame(rows, "g string, item string")
    s1 = kmv_sketch(df.filter(F.crc32("item") % 2 == 0), ["g"], "item", k=KMV_K)
    s2 = kmv_sketch(df.filter(F.crc32("item") % 2 != 0), ["g"], "item", k=KMV_K)
    w = Window.partitionBy("g").orderBy("h")
    merged = (
        s1.select("g", "h")
        .unionByName(s2.select("g", "h"))
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
        .select("g", "h", F.col("rn").cast("int").alias("rn"))
    )
    whole = sorted(map(tuple, kmv_sketch(df, ["g"], "item", k=KMV_K).collect()))
    assert sorted(map(tuple, merged.collect())) == whole


def test_kmv_overlap_planted(spark):
    from walker_spark.operators.sketches import kmv_overlap, kmv_sketch

    # a and b share exactly half their items; c is disjoint from both
    rows = (
        [("a", f"s{i}") for i in range(600)]
        + [("a", f"ax{i}") for i in range(600)]
        + [("b", f"s{i}") for i in range(600)]
        + [("b", f"bx{i}") for i in range(600)]
        + [("c", f"cx{i}") for i in range(600)]
    )
    df = spark.createDataFrame(rows, "g string, item string")
    sk = kmv_sketch(df, ["g"], "item", k=KMV_K)
    got = {
        (r["g"], r["g_2"]): r
        for r in kmv_overlap(sk, ["g"], k=KMV_K).collect()
    }
    ab = got[("a", "b")]
    # true jaccard = 600/1800 = 1/3; KMV sigma ~ 1/sqrt(64) => loose band
    assert 150_000 < ab["jaccard_ppm"] < 520_000, ab
    assert 1000 < ab["union_est"] < 2800, ab
    assert 250 < ab["inter_est"] < 1100, ab
    # sparse contract: disjoint pairs omitted (no shared union-k match)
    assert ("a", "c") not in got and ("b", "c") not in got


def test_kmv_validates(spark):
    from walker_spark.operators.sketches import kmv_overlap, kmv_sketch

    df = spark.createDataFrame([("g", "x")], "g string, item string")
    with pytest.raises(ValueError):
        kmv_sketch(df, ["g"], "item", k=1)
    with pytest.raises(ValueError):
        kmv_overlap(df, ["g", "h"])


# ---------------------------------------------------------------------------
# bloom filter (plain-row bit-position sketch)
# ---------------------------------------------------------------------------


def _py_bloom_bits(items, m_bits, k):
    import hashlib

    return {
        int(hashlib.md5(f"{x}:{j}".encode()).hexdigest()[:8], 16) % m_bits
        for x in items
        for j in range(k)
    }


def test_bloom_bits_and_probe_vs_python(spark):
    from walker_spark.operators.sketches import bloom_bits, bloom_probe

    m, k = 256, 3
    inserted = [f"url-{i}" for i in range(60)]
    bits = bloom_bits(
        spark.createDataFrame([(x,) for x in inserted], "item string"),
        "item",
        m_bits=m,
        k=k,
    )
    got_bits = {r["bit"] for r in bits.collect()}
    ref = _py_bloom_bits(inserted, m, k)
    assert got_bits == ref

    probes = [f"url-{i}" for i in range(0, 120)]
    got = {
        r["item"]: r["maybe"]
        for r in bloom_probe(
            bits,
            spark.createDataFrame([(x,) for x in probes], "item string"),
            "item",
            m_bits=m,
            k=k,
        ).collect()
    }
    fps = 0
    for x in probes:
        expect = int(
            all(
                int(__import__("hashlib").md5(f"{x}:{j}".encode()).hexdigest()[:8], 16) % m
                in ref
                for j in range(k)
            )
        )
        assert got[x] == expect
        if expect and x not in inserted:
            fps += 1
    # never a false negative; at this load (60*3/256) FPs must exist
    assert all(got[x] == 1 for x in inserted)
    assert fps > 0


def test_bloom_merge_by_union(spark):
    from walker_spark.operators.sketches import bloom_bits

    m, k = 512, 4
    a = [f"a{i}" for i in range(40)]
    b = [f"b{i}" for i in range(40)]
    df_a = spark.createDataFrame([(x,) for x in a], "item string")
    df_b = spark.createDataFrame([(x,) for x in b], "item string")
    merged = (
        bloom_bits(df_a, "item", m_bits=m, k=k)
        .unionAll(bloom_bits(df_b, "item", m_bits=m, k=k))
        .distinct()
    )
    whole = bloom_bits(df_a.unionAll(df_b), "item", m_bits=m, k=k)
    assert {r["bit"] for r in merged.collect()} == {
        r["bit"] for r in whole.collect()
    }


def test_bloom_bad_params_raise(spark):
    import pytest

    from walker_spark.operators.sketches import bloom_bits

    df = spark.createDataFrame([("x",)], "item string")
    with pytest.raises(ValueError):
        bloom_bits(df, "item", m_bits=1)
    with pytest.raises(ValueError):
        bloom_bits(df, "item", k=0)


# ---------------------------------------------------------------------------
# SpaceSaving heavy-hitter summaries
# ---------------------------------------------------------------------------


def _ss_py(rows, k, buckets):
    """Pure-Python replay of space_saving_summaries over (slice, item)
    rows: returns {(slice, bucket): (kept {item: cnt}, err)}."""
    counts = {}
    for sl, it in rows:
        h = int(hashlib.md5(str(it).encode()).hexdigest()[:8], 16)
        b = h % buckets
        counts.setdefault((sl, b), {}).setdefault(it, 0)
        counts[(sl, b)][it] += 1
    out = {}
    for key, d in counts.items():
        ranked = sorted(d.items(), key=lambda kv: (-kv[1], kv[0]))
        kept = dict(ranked[:k])
        err = ranked[k][1] if len(ranked) > k else 0
        out[key] = (kept, err)
    return out


def test_space_saving_summary_vs_python(spark):
    from walker_spark.operators.sketches import space_saving_summaries

    rng = random.Random(7)
    rows = []
    for sl in (0, 1, 2):
        # skewed: item f"w{j}" appears ~ proportional to 40-j
        for j in range(40):
            for _ in range(1 + rng.randrange(40 - j)):
                rows.append((sl, f"w{j}"))
    df = spark.createDataFrame(rows, "shard int, item string")
    k, buckets = 5, 3
    summ = space_saving_summaries(df, ["shard"], "item", k=k, buckets=buckets)
    ref = _ss_py(rows, k, buckets)
    by_key = {}
    for r in summ.collect():
        by_key.setdefault((r["shard"], r["bucket"]), {})[r["item"]] = (
            r["cnt"],
            r["bucket_err"],
        )
        assert 1 <= r["rn"] <= k
    assert set(by_key) == set(ref)
    for key, (kept, err) in ref.items():
        got_items = by_key[key]
        assert {i: c for i, (c, _) in got_items.items()} == kept
        assert all(e == err for _, e in got_items.values())


def test_space_saving_estimate_bounds_and_merge(spark):
    from walker_spark.operators.sketches import (
        space_saving_estimates,
        space_saving_summaries,
    )

    rng = random.Random(11)
    rows = []
    exact = {}
    for sl in range(4):
        for j in range(60):
            it = f"t{j}"
            n = 1 + rng.randrange(8) + (200 if j < 3 else 0)
            exact[it] = exact.get(it, 0) + n
            rows.extend((sl, it) for _ in range(n))
    df = spark.createDataFrame(rows, "shard int, item string")
    k, buckets = 6, 4
    summ = space_saving_summaries(df, ["shard"], "item", k=k, buckets=buckets)
    est = {
        r["item"]: (r["est_cnt"], r["err_slack"])
        for r in space_saving_estimates(summ, ["shard"])
        .collect()
    }
    # every kept item: exact <= est and est - err_slack <= exact
    for it, (e, slack) in est.items():
        assert exact[it] <= e, it
        assert e - slack <= exact[it], it
    # the planted mega-heavy items are kept in EVERY slice => exact
    for j in range(3):
        e, slack = est[f"t{j}"]
        assert slack == 0 and e == exact[f"t{j}"]


def test_space_saving_merge_reads_buckets_from_summary(spark):
    """Summaries built with 8 buckets merge and compact without being
    told the bucket count: each item's bucket comes from the summary
    rows, so both SpaceSaving certificates hold."""
    from walker_spark.operators.sketches import (
        space_saving_compact,
        space_saving_estimates,
        space_saving_summaries,
    )

    rng = random.Random(5)
    rows = []
    exact = {}
    for sl in range(3):
        for j in range(80):
            it = f"w{j}"
            n = 1 + rng.randrange(6) + (300 if j < 8 else 0)
            exact[it] = exact.get(it, 0) + n
            rows.extend((sl, it) for _ in range(n))
    df = spark.createDataFrame(rows, "shard int, item string")
    summ = space_saving_summaries(df, ["shard"], "item", k=4, buckets=8)
    assert summ.select("bucket").distinct().count() > 4
    est = {
        r["item"]: (r["est_cnt"], r["err_slack"])
        for r in space_saving_estimates(summ, ["shard"]).collect()
    }
    for it, (e, slack) in est.items():
        assert exact[it] <= e, it
        assert e - slack <= exact[it], it
    compacted = {
        r["item"]: (r["cnt"], r["bucket_err"])
        for r in space_saving_compact(summ, ["shard"], k=4).collect()
    }
    for it, (c, _) in compacted.items():
        assert c == est[it][0] and exact[it] <= c, it

def test_space_saving_validates(spark):
    from walker_spark.operators.sketches import space_saving_summaries

    df = spark.createDataFrame([(0, "a")], "shard int, item string")
    with pytest.raises(ValueError):
        space_saving_summaries(df, ["shard"], "item", k=0)
    with pytest.raises(ValueError):
        space_saving_summaries(df, ["shard"], "item", buckets=0)
