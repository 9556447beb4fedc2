"""Structured Streaming frontier ingestion (the streaming form of S8).

Walker ingests seeds via CLI/console inserts; at 100 TB scale seed and
outlink feeds arrive continuously (Kafka topics, S3 drops). This wires
the same normalize -> URL-seen -> append pipeline behind a
`readStream`:

    text files (one URL per line) --readStream--> foreachBatch(ingest)

* `foreachBatch` reuses the exact batch operator
  (:func:`walker_spark.operators.seed.ingest_urls`), so streaming and
  batch ingestion cannot diverge;
* exactly-once is double-ended: the streaming checkpoint gives
  at-least-once batch delivery, and the URL-seen anti-join makes
  re-delivery idempotent (duplicate URLs simply dedupe);
* `Trigger.AvailableNow` drains everything present then stops — the
  test/CI mode; production drops the trigger for continuous tailing.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from walker_spark.config import WalkerConfig
from walker_spark.operators.seed import ingest_urls
from walker_spark.sources.store import FrontierStore


def stream_seed_urls(
    store: FrontierStore,
    cfg: WalkerConfig,
    input_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Start (and with ``available_now`` run to completion) a streaming
    ingestion of seed-url text files. Returns the StreamingQuery."""
    lines = store.spark.readStream.format("text").load(input_dir)
    urls = lines.select(F.trim(F.col("value")).alias("url")).filter(
        F.length("url") > 0
    )

    def handle_batch(batch_df, batch_id: int):
        ingest_urls(store, batch_df, cfg)

    writer = (
        urls.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    if available_now:
        query.awaitTermination()
    return query


def stream_cdx_captures(
    store: FrontierStore,
    cfg: WalkerConfig,
    input_dir: str,
    checkpoint_dir: str,
    statuses: tuple = (200,),
    mime_prefix: str = "text/html",
    available_now: bool = True,
):
    """Streaming capture-index ingestion — the "daily cc-index drop"
    shape: CDX-J files land in a directory, `readStream` tails them,
    and every batch runs the SAME parse → status/MIME filter →
    distinct-URL → seed path as the batch source
    (:func:`walker_spark.sources.cdx.seed_from_cdx`), so batch and
    stream cannot diverge and re-delivered batches dedupe through
    URL-seen exactly like re-seeded sitemaps/feeds. Malformed lines
    follow the audit contract (typed `_error` rows are filtered by
    the seed path, never crash the stream). Returns the
    StreamingQuery."""
    from walker_spark.sources.cdx import parse_cdx_lines, seed_from_cdx

    lines = store.spark.readStream.format("text").load(input_dir)

    def handle_batch(batch_df, batch_id: int):
        seed_from_cdx(
            store,
            cfg,
            parse_cdx_lines(batch_df),
            statuses=statuses,
            mime_prefix=mime_prefix,
        )

    writer = (
        lines.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    if available_now:
        query.awaitTermination()
    return query
