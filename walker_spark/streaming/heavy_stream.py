"""Streaming heavy-hitter maintenance over a persisted SpaceSaving
summary store — the operational use of the sketch tier's merge law
(operators/sketches.space_saving_*), the trending.py idiom applied to
summaries instead of Count-Min cells.

Each micro-batch reduces to its per-bucket SpaceSaving summary
(top-k truncated counts + error bound) committed under ``batch=<id>``
with OVERWRITE semantics — counts have no semantic identity, so
path-per-batch is the idempotency tool (the trending.py precedent;
an at-least-once redelivery rewrites the same rows). Query time never
replays raw text: estimates merge the batch summaries by the Agarwal
merge law (``space_saving_estimates`` with batch as the slice), with
both certificates intact — ``exact <= est`` and ``est - err_slack <=
exact`` — across any number of batches.

Compaction (``compact_store``) collapses all committed batches into
one summary in a NEW store directory; the caller swaps directories
atomically (rename), the FrontierStore manifest-swap discipline —
writing the compacted summary into the SAME directory would
double-count against the originals if a crash left both. Estimates of
items surviving compaction are preserved bit-for-bit
(space_saving_compact's invariant, asserted in pytest).

At 100 TB/day the queryable state is slices x buckets x k rows —
KB per batch — and the error budget grows only with the number of
uncompacted slices, which compaction resets to one.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from walker_spark.operators.sketches import (
    space_saving_compact,
    space_saving_estimates,
    space_saving_summaries,
)

DOC_SCHEMA = "doc_id long, ts_ms long, text string"


def _batch_tokens(batch_df: DataFrame) -> DataFrame:
    from walker_spark.operators.dedup import tokens

    return batch_df.select(
        F.explode(
            F.filter(tokens(F.col("text")), lambda s: F.length(s) > 0)
        ).alias("item")
    )


def commit_batch(
    batch_df: DataFrame,
    batch_id: int,
    summary_dir: str,
    k: int = 8,
    buckets: int = 4,
) -> None:
    """Reduce one micro-batch to its SpaceSaving summary and commit
    it under ``batch=<batch_id>`` with overwrite — redelivery of the
    same batch id rewrites identical rows (asserted in pytest)."""
    toks = _batch_tokens(batch_df).withColumn(
        "batch", F.lit(int(batch_id)).cast("long")
    )
    summ = space_saving_summaries(toks, ["batch"], "item", k=k, buckets=buckets)
    summ.write.mode("overwrite").parquet(
        os.path.join(summary_dir, f"batch={batch_id}")
    )


def read_summaries(spark: SparkSession, summary_dir: str) -> DataFrame:
    """All committed batch summaries (the ``batch`` column was written
    explicitly, so plain recursive read works)."""
    return spark.read.option("recursiveFileLookup", "true").parquet(
        summary_dir
    )


def heavy_hitter_estimates(spark: SparkSession, summary_dir: str) -> DataFrame:
    """Merged point estimates over every committed batch:
    ``(item, est_cnt, err_slack)`` with both SpaceSaving certificates
    intact. Touches only summary rows — never raw batches."""
    return space_saving_estimates(read_summaries(spark, summary_dir), ["batch"])


def compact_store(
    spark: SparkSession,
    summary_dir: str,
    dst_dir: str,
    k: int = 8,
) -> None:
    """Collapse all committed batch summaries into one (tagged
    ``batch=0``) in ``dst_dir``. The caller swaps ``dst_dir`` into
    place with an atomic rename and discards the old store; never
    write the compacted summary next to its inputs (double-count on
    crash)."""
    compacted = space_saving_compact(
        read_summaries(spark, summary_dir), ["batch"], k=k
    ).withColumn("batch", F.lit(0).cast("long"))
    compacted.write.mode("overwrite").parquet(
        os.path.join(dst_dir, "batch=0")
    )


def stream_heavy_hitters(
    spark: SparkSession,
    input_dir: str,
    summary_dir: str,
    checkpoint_dir: str,
    k: int = 8,
    buckets: int = 4,
    available_now: bool = True,
):
    """Run the ingestion leg: parquet drops stream in, per-batch
    summary commits stream out. Returns the StreamingQuery."""
    docs = spark.readStream.schema(DOC_SCHEMA).parquet(input_dir)
    writer = (
        docs.writeStream.foreachBatch(
            lambda df, bid: commit_batch(df, bid, summary_dir, k, buckets)
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    if available_now:
        query.awaitTermination()
    return query
