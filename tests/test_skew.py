"""Skew toolkit: exact report laws on a planted mega-key; salted join
row-identical to the plain join (inner + left) while actually
spreading the hot key over multiple salts."""


def test_key_skew_report_laws(spark):
    from walker_spark.operators.skew import key_skew_report

    rows = [("hot",)] * 70 + [("warm",)] * 20 + [("a",)] * 5 + [("b",)] * 5
    df = spark.createDataFrame(rows, "k string")
    got = [tuple(r) for r in key_skew_report(df, ["k"], top_k=3).collect()]
    got.sort(key=lambda r: r[-1])
    assert got == [
        ("hot", 70, 700000, 700000, 1),
        ("warm", 20, 200000, 900000, 2),
        ("a", 5, 50000, 950000, 3),
    ]


def test_salted_join_identical_to_plain_and_spreads(spark):
    from pyspark.sql import functions as F

    from walker_spark.operators.skew import salted_join
    from walker_spark.operators.sketches import _md5_u32

    facts = spark.createDataFrame(
        [(i, "hot" if i % 10 else f"k{i}") for i in range(200)],
        "fid long, k string",
    )
    dims = facts.select("k").distinct().withColumn(
        "payload", F.length("k").cast("long")
    )
    for how in ("inner", "left"):
        plain = sorted(
            map(tuple, facts.join(dims, ["k"], how).select("k", "fid", "payload").collect())
        )
        salted = sorted(
            map(
                tuple,
                salted_join(facts, dims, ["k"], scatter_col="fid", n_salts=4, how=how)
                .select("k", "fid", "payload")
                .collect(),
            )
        )
        assert salted == plain

    # left with an unmatched fact key keeps the row with null payload
    extra = facts.union(spark.createDataFrame([(999, "nokey")], "fid long, k string"))
    lj = salted_join(extra, dims, ["k"], scatter_col="fid", n_salts=4, how="left")
    assert lj.filter("k = 'nokey'").collect()[0]["payload"] is None

    # the hot key's rows really scatter: >1 distinct salt value
    n_salts = (
        facts.filter("k = 'hot'")
        .select((_md5_u32(F.col("fid")) % 4).alias("s"))
        .distinct()
        .count()
    )
    assert n_salts > 1


def test_fairness_index_known_values(spark):
    from walker_spark.operators.skew import fairness_index

    # group g0: keys with loads 1,1,1,1 -> J = 1.0; g1: 9,1 -> J =
    # 100 / (2 * 82) = 0.6097.. -> 609756 ppm
    rows = [("g0", k) for k in range(4)] + [("g1", 0)] * 9 + [("g1", 1)]
    df = spark.createDataFrame(rows, "g string, k long")
    got = {
        r["g"]: (r["n_keys"], r["total"], r["max_key"], r["jain_ppm"])
        for r in fairness_index(df, ["k"], ["g"]).collect()
    }
    assert got["g0"] == (4, 4, 1, 1_000_000)
    assert got["g1"] == (2, 10, 9, 100 * 1_000_000 // (2 * 82))
    # ungrouped: one global row
    row = fairness_index(df, ["g", "k"]).collect()[0]
    assert row["n_keys"] == 6 and row["total"] == 14


def test_fairness_rollup_squares_past_bigint(spark):
    """One key counted above sqrt(2^63) ~ 3.04e9 squares past BIGINT;
    under ANSI a BIGINT square raises. The rollup squares in
    DECIMAL(38,0) and matches exact integer math."""
    from walker_spark.operators.skew import _jain_rollup

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    xs = [3_100_000_000, 5, 1]
    counts = spark.createDataFrame([("g", x) for x in xs], "g string, _x long")
    row = _jain_rollup(counts, ["g"]).collect()[0]
    total = sum(xs)
    expect = total * total * 1_000_000 // (len(xs) * sum(x * x for x in xs))
    assert tuple(row) == ("g", len(xs), total, max(xs), expect)
