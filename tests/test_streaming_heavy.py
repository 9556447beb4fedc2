"""Streaming heavy-hitter maintenance (streaming/heavy_stream.py):
per-batch SpaceSaving summary commits are idempotent (batch-path
overwrite), merged estimates keep both SpaceSaving certificates
across batches, compaction preserves surviving items' estimates
bit-for-bit, and the readStream leg matches direct commits."""

from __future__ import annotations

import os

from walker_spark.streaming.heavy_stream import (
    commit_batch,
    compact_store,
    heavy_hitter_estimates,
    read_summaries,
    stream_heavy_hitters,
)

K, B = 4, 3


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, ts_ms long, text string")


def _batches(spark):
    # skewed stream: 'hot' dominates every batch; tails differ
    mk = lambda d, t, text: (d, t, text)  # noqa: E731
    b0 = _docs(
        spark,
        [
            mk(1, 100, "hot " * 30 + "warm warm cold0 cold1 cold2"),
            mk(2, 200, "hot hot warm cold3"),
        ],
    )
    b1 = _docs(
        spark,
        [
            mk(3, 300, "hot " * 20 + "warm warm warm cold4 cold5"),
            mk(4, 400, "cold6 cold7 cold8 cold9 warm"),
        ],
    )
    b2 = _docs(spark, [mk(5, 500, "hot hot hot tepid tepid cold0")])
    return [b0, b1, b2]


def _exact_counts(batches):
    from collections import Counter

    c = Counter()
    for b in batches:
        for r in b.collect():
            c.update(t for t in r["text"].split() if t)
    return c


def test_heavy_stream_certificates_and_idempotency(spark, tmp_path):
    store = str(tmp_path / "store")
    batches = _batches(spark)
    for i, b in enumerate(batches):
        commit_batch(b, i, store, k=K, buckets=B)
    exact = _exact_counts(batches)
    est = {
        r["item"]: (r["est_cnt"], r["err_slack"])
        for r in heavy_hitter_estimates(spark, store).collect()
    }
    for item, (e, slack) in est.items():
        assert exact[item] <= e, item
        assert e - slack <= exact[item], item
    # the dominant item is kept in every batch summary => exact
    assert est["hot"] == (exact["hot"], 0)

    before = sorted(map(tuple, read_summaries(spark, store).collect()))
    commit_batch(batches[1], 1, store, k=K, buckets=B)  # redelivery
    assert sorted(map(tuple, read_summaries(spark, store).collect())) == before


def test_heavy_stream_compaction_preserves_survivors(spark, tmp_path):
    store = str(tmp_path / "store")
    new_store = str(tmp_path / "store2")
    batches = _batches(spark)
    for i, b in enumerate(batches):
        commit_batch(b, i, store, k=K, buckets=B)
    pre = {
        r["item"]: (r["est_cnt"], r["err_slack"])
        for r in heavy_hitter_estimates(spark, store).collect()
    }
    compact_store(spark, store, new_store, k=K)
    os.rename(str(tmp_path / "store"), str(tmp_path / "store_old"))
    os.rename(new_store, store)
    post = {
        r["item"]: (r["est_cnt"], r["err_slack"])
        for r in heavy_hitter_estimates(spark, store).collect()
    }
    exact = _exact_counts(batches)
    # survivors keep their pre-compaction estimate bit-for-bit
    for item, (e, _) in post.items():
        assert pre[item][0] == e, item
    # certificates still hold after compaction
    for item, (e, slack) in post.items():
        assert exact[item] <= e and e - slack <= exact[item], item
    assert "hot" in post


def test_heavy_stream_readstream_matches_direct(spark, tmp_path):
    inbox = str(tmp_path / "inbox")
    s1 = str(tmp_path / "s1")
    s2 = str(tmp_path / "s2")
    ckpt = str(tmp_path / "ckpt")
    batches = _batches(spark)
    union = batches[0]
    for b in batches[1:]:
        union = union.unionByName(b)
    union.coalesce(1).write.mode("append").parquet(inbox)
    stream_heavy_hitters(spark, inbox, s1, ckpt, k=K, buckets=B)
    commit_batch(union, 0, s2, k=K, buckets=B)
    # one availableNow batch == one direct commit of the union
    got1 = sorted(
        (r["bucket"], r["item"], r["cnt"], r["rn"], r["bucket_err"])
        for r in read_summaries(spark, s1).collect()
    )
    got2 = sorted(
        (r["bucket"], r["item"], r["cnt"], r["rn"], r["bucket_err"])
        for r in read_summaries(spark, s2).collect()
    )
    assert got1 == got2 and got1
