"""URL-seen set: exact anti-join with a bloom pre-filter (J1/M6).

The reference gets URL dedup for free from the links-table primary key
(schema.go:13-15, 85; datastore.go:461-463). Here "seen" is an explicit
operator:

* exact path: candidates ``LEFT ANTI JOIN`` links on
  (dom, subdom, path, proto);
* scale path (north_rule's per-partition bloom): a per-domain-bucket
  bloom filter built from the links table. Probing partitions the
  candidates into *definitely-new* (bloom says no — skip the anti-join
  entirely) and *maybe-seen* (bloom says maybe — verified by the exact
  anti-join). False positives only send extra rows to the verify join;
  nothing is ever dropped on the bloom alone, so results are exact.

Hashes are JVM-side ``xxhash64`` with two seeds; the probe is a
vectorized numpy double-hash over an Arrow batch, delivered by one of
two size-gated paths:

* **broadcast** (total bitmap set ≤ ``SPARK_GRAFT_BLOOM_BROADCAST_MAX``,
  default 128 MB): the bucket→bitmap map is collected once per bloom
  snapshot and Spark-broadcast, then probed in a ZERO-exchange
  ``mapInPandas`` riding whatever distribution the candidates already
  have. The driver does hold the bitmaps during the build — the same
  bounded role it has in any broadcast-join build — gated by size and
  cached per snapshot.
* **cogrouped** (above the gate — the 10^10-key regime: ~12.5 GB of
  bitmaps at 8192 buckets / 10 bits per key): a cogrouped
  ``applyInPandas`` where candidates hash-partitioned by ``_bucket``
  meet exactly their bucket's bloom row; no bitmap travels to the
  driver and no task reads a bucket it doesn't own.

Both paths are parity-asserted by pytest.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BooleanType

from walker_spark.plans.schemas import LINK_KEY
from walker_spark.sources.store import FrontierStore, bucket_col

_H1_SEED = 42  # spark xxhash64 default seed
_H2_SEED = 1099511628211


def _with_hashes(df: DataFrame, num_buckets: int) -> DataFrame:
    key_cols = [F.col(c) for c in LINK_KEY]
    return (
        df.withColumn("_h1", F.xxhash64(*key_cols))
        .withColumn("_h2", F.xxhash64(F.lit(_H2_SEED), *key_cols))
        .withColumn("_bucket", bucket_col(F.col("dom"), num_buckets))
    )


def bloom_params(n_keys: int, num_buckets: int, fpp: float) -> tuple[int, int]:
    """(bits per bucket, num hashes) sized for n_keys total keys."""
    per_bucket = max(1, n_keys // max(1, num_buckets))
    bits_per_key = max(1.0, -1.44 * math.log2(max(fpp, 1e-12)))
    m = 1 << max(10, int(per_bucket * bits_per_key).bit_length())
    k = max(1, round(0.7 * m / max(1, per_bucket)))
    return m, min(k, 16)


def build_bloom(store: FrontierStore, fpp: float = 0.01) -> dict:
    """(Re)build per-bucket blooms from the current links table."""
    links = store.read("links").select(*LINK_KEY).dropDuplicates()
    n_keys = links.count()
    num_buckets = store.num_buckets
    m, k = bloom_params(n_keys, num_buckets, fpp)

    hashed = _with_hashes(links, num_buckets).select("_bucket", "_h1", "_h2")

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(m // 8, dtype=np.uint8)
        h1 = pdf["_h1"].to_numpy(dtype=np.int64).view(np.uint64)
        h2 = pdf["_h2"].to_numpy(dtype=np.int64).view(np.uint64)
        mask = np.uint64(m - 1)
        for i in range(k):
            idx = (h1 + np.uint64(i) * h2) & mask
            np.bitwise_or.at(bits, (idx >> np.uint64(3)).astype(np.int64),
                             np.left_shift(np.uint8(1), (idx & np.uint64(7)).astype(np.uint8)))
        return pd.DataFrame(
            {
                "bucket": [int(pdf["_bucket"].iloc[0])],
                "num_bits": [m],
                "num_hashes": [k],
                "bitmap": [bits.tobytes()],
            }
        )

    from walker_spark.plans.schemas import URL_SEEN_BLOOM

    blooms = hashed.groupBy("_bucket").applyInPandas(build, URL_SEEN_BLOOM)
    store.overwrite("url_seen_bloom", blooms)
    # lineage: the bloom covers links up to exactly this version; the
    # probe path falls back to the exact anti-join when it's stale.
    store.put_meta(
        "url_seen_bloom",
        {"links_version": store.version("links"), "bits": m, "hashes": k},
    )
    # warm the executor-side broadcast now (when the size-adaptive
    # probe would use it) so the first superstep's probe does not pay
    # the bitmap-collect job — same amortization as the robots cache
    if num_buckets * (m // 8) <= _BLOOM_BROADCAST_MAX:
        _bloom_broadcast(store, store.version("links"))
    return {"n_keys": n_keys, "bits_per_bucket": m, "num_hashes": k}


def update_bloom(store: FrontierStore, new_keys: DataFrame) -> None:
    """OR newly appended link keys into the per-bucket bitmaps —
    incremental, fully distributed maintenance so every links append
    keeps the bloom fresh. Full rebuild when no bloom exists yet."""
    meta = store.get_meta("url_seen_bloom")
    if meta is None or not store.exists("url_seen_bloom"):
        build_bloom(store)
        return
    m, k = meta["bits"], meta["hashes"]

    hashed = _with_hashes(
        new_keys.select(*LINK_KEY).dropDuplicates(), store.num_buckets
    ).select("_bucket", "_h1", "_h2")

    def build_delta(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(m // 8, dtype=np.uint8)
        h1 = pdf["_h1"].to_numpy(dtype=np.int64).view(np.uint64)
        h2 = pdf["_h2"].to_numpy(dtype=np.int64).view(np.uint64)
        mask = np.uint64(m - 1)
        for i in range(k):
            idx = (h1 + np.uint64(i) * h2) & mask
            np.bitwise_or.at(bits, (idx >> np.uint64(3)).astype(np.int64),
                             np.left_shift(np.uint8(1), (idx & np.uint64(7)).astype(np.uint8)))
        return pd.DataFrame(
            {"bucket": [int(pdf["_bucket"].iloc[0])], "num_bits": [m],
             "num_hashes": [k], "bitmap": [bits.tobytes()]}
        )

    from walker_spark.plans.schemas import URL_SEEN_BLOOM

    delta = hashed.groupBy("_bucket").applyInPandas(build_delta, URL_SEEN_BLOOM)

    def or_bitmaps(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = np.zeros(m // 8, dtype=np.uint8)
        for raw in pdf["bitmap"]:
            acc |= np.frombuffer(raw, dtype=np.uint8)
        return pd.DataFrame(
            {"bucket": [int(pdf["bucket"].iloc[0])], "num_bits": [m],
             "num_hashes": [k], "bitmap": [acc.tobytes()]}
        )

    merged = (
        store.read("url_seen_bloom")
        .unionByName(delta)
        .groupBy("bucket")
        .applyInPandas(or_bitmaps, URL_SEEN_BLOOM)
    )
    store.overwrite("url_seen_bloom", merged)
    store.put_meta(
        "url_seen_bloom",
        {"links_version": store.version("links"), "bits": m, "hashes": k},
    )


# Bitmap sets at or below this total size are probed via an
# executor-side Spark broadcast of the bucket->bitmap map (one bounded
# build pass per bloom snapshot — the same driver role a broadcast-join
# build has); larger sets use the cogrouped per-bucket delivery where
# no task ever holds more than its own bucket's bitmap.
_BLOOM_BROADCAST_MAX = int(
    os.environ.get("SPARK_GRAFT_BLOOM_BROADCAST_MAX", str(128 << 20))
)

# one broadcast per (store root, bloom snapshot): the bloom only
# changes at rebuild (compaction), so supersteps between rebuilds reuse
# the same broadcast instead of re-collecting the table every probe
_bloom_bc_cache: dict[str, tuple[int, object]] = {}


def _bloom_broadcast(store: FrontierStore, links_version: int):
    cached = _bloom_bc_cache.get(store.root)
    if cached is not None and cached[0] == links_version:
        return cached[1]
    table = {
        int(r["bucket"]): (
            int(r["num_bits"]),
            int(r["num_hashes"]),
            np.frombuffer(r["bitmap"], dtype=np.uint8),
        )
        for r in store.read("url_seen_bloom").collect()
    }
    bc = store.spark.sparkContext.broadcast(table)
    if cached is not None:
        try:
            cached[1].unpersist()
        except Exception:
            pass
    _bloom_bc_cache[store.root] = (links_version, bc)
    return bc


def _probe_broadcast(hashed: DataFrame, bc) -> DataFrame:
    """Tag candidates with ``_maybe`` via mapInPandas against the
    broadcast bucket->bitmap map: ZERO exchanges — the probe rides
    whatever distribution the candidate pipeline already has (in the
    outlink path that is the dom-keyed flow), instead of forcing two
    bucket exchanges plus a cogroup sort. This is the right plan while
    the whole bitmap set is broadcastable; past
    SPARK_GRAFT_BLOOM_BROADCAST_MAX the cogrouped delivery takes over."""
    from pyspark.sql.types import StructField, StructType

    out_schema = StructType(
        list(hashed.schema.fields) + [StructField("_maybe", BooleanType())]
    )

    def probe(it):
        table = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            h1 = pdf["_h1"].to_numpy(dtype=np.int64).view(np.uint64)
            h2 = pdf["_h2"].to_numpy(dtype=np.int64).view(np.uint64)
            buckets = pdf["_bucket"].to_numpy()
            maybe = np.zeros(len(pdf), dtype=bool)
            for b in np.unique(buckets):
                ent = table.get(int(b))
                if ent is None:
                    continue  # no keys were built there -> nothing seen
                m, kk, bits = ent
                sel = buckets == b
                sh1, sh2 = h1[sel], h2[sel]
                mask = np.uint64(m - 1)
                hit = np.ones(int(sel.sum()), dtype=bool)
                for i in range(kk):
                    idx = (sh1 + np.uint64(i) * sh2) & mask
                    byte = bits[(idx >> np.uint64(3)).astype(np.int64)]
                    hit &= (byte >> (idx & np.uint64(7)).astype(np.uint8)) & 1 > 0
                maybe[sel] = hit
            pdf = pdf.copy()
            pdf["_maybe"] = maybe
            yield pdf

    return hashed.mapInPandas(probe, out_schema)


def _probe_cogrouped(hashed: DataFrame, blooms: DataFrame) -> DataFrame:
    """Tag each candidate row with ``_maybe`` (bloom says maybe-seen)
    via a cogrouped applyInPandas: candidates hash-partitioned on
    ``_bucket`` meet only their own bucket's bitmap row. Buckets with
    no bloom row (or with candidates only) mark every row maybe=False
    — the build covered no keys there, so nothing can be seen.

    This is the 10^10-key-safe delivery: each task materializes exactly
    one ~1.5 MB bitmap; the driver never sees any bitmap."""
    from pyspark.sql.types import StructField, StructType

    out_schema = StructType(
        list(hashed.schema.fields) + [StructField("_maybe", BooleanType())]
    )

    def probe(cand: pd.DataFrame, bloom: pd.DataFrame) -> pd.DataFrame:
        if len(cand) == 0:
            return pd.DataFrame(columns=list(cand.columns) + ["_maybe"])
        if len(bloom) == 0:
            cand = cand.copy()
            cand["_maybe"] = False
            return cand
        m = int(bloom["num_bits"].iloc[0])
        kk = int(bloom["num_hashes"].iloc[0])
        bits = np.frombuffer(bloom["bitmap"].iloc[0], dtype=np.uint8)
        mask = np.uint64(m - 1)
        h1 = cand["_h1"].to_numpy(dtype=np.int64).view(np.uint64)
        h2 = cand["_h2"].to_numpy(dtype=np.int64).view(np.uint64)
        hit = np.ones(len(cand), dtype=bool)
        for i in range(kk):
            idx = (h1 + np.uint64(i) * h2) & mask
            byte = bits[(idx >> np.uint64(3)).astype(np.int64)]
            hit &= (byte >> (idx & np.uint64(7)).astype(np.uint8)) & 1 > 0
        cand = cand.copy()
        cand["_maybe"] = hit
        return cand

    return (
        hashed.groupBy("_bucket")
        .cogroup(blooms.groupBy("bucket"))
        .applyInPandas(probe, out_schema)
    )


def filter_unseen(
    store: FrontierStore,
    candidates: DataFrame,
    use_bloom: bool = False,
    probe_strategy: str | None = None,
    bounded_candidates: bool = False,
) -> DataFrame:
    """Rows of ``candidates`` whose (dom, subdom, path, proto) is not in
    the links table. Exact regardless of ``use_bloom``.

    ``probe_strategy``: None = size-adaptive (broadcast the bitmap map
    while the whole set fits SPARK_GRAFT_BLOOM_BROADCAST_MAX, cogrouped
    per-bucket delivery above — the 10^10-key plan); "broadcast" or
    "cogroup" force a path (tests assert their parity).

    ``bounded_candidates``: the caller certifies the candidate set is
    per-superstep-bounded (fetch outlinks under a claim budget). The
    maybe-seen verify then runs as two broadcast joins against the
    links scan — ``seen LEFT SEMI broadcast(maybe)`` to pull the
    confirmed keys, ``maybe LEFT ANTI broadcast(confirmed)`` — so the
    links table is scanned in place and its key columns are NEVER
    exchanged. The default SMJ anti-join shuffles the full seen side,
    which is the wrong plan against a 10^10-row table (the Iceberg
    analog is a storage-partitioned join against bucket(dom)-clustered
    links; the broadcast pair is the sandbox equivalent)."""
    candidates = candidates.dropDuplicates(LINK_KEY)
    seen = store.read("links").select(*LINK_KEY)
    meta = store.get_meta("url_seen_bloom")
    if not use_bloom or meta is None or not store.exists("url_seen_bloom"):
        return candidates.join(seen, LINK_KEY, "left_anti")

    if probe_strategy is None:
        total_bytes = store.num_buckets * (int(meta["bits"]) // 8)
        probe_strategy = (
            "broadcast" if total_bytes <= _BLOOM_BROADCAST_MAX else "cogroup"
        )
    hashed_in = _with_hashes(candidates, store.num_buckets)
    if probe_strategy == "broadcast":
        bc = _bloom_broadcast(store, int(meta["links_version"]))
        # no checkpoint: the probe is a zero-exchange map over the
        # dropDuplicates shuffle, which the two consumer branches share
        # via ReusedExchange — evaluating the cheap probe twice inside
        # the one consuming job beats paying a separate checkpoint job
        # every superstep
        hashed = _probe_broadcast(hashed_in, bc)
    else:
        blooms = store.read("url_seen_bloom")
        # the cogrouped probe carries its own exchanges — materialize
        # once rather than duplicating shuffles into both branches
        hashed = _probe_cogrouped(hashed_in, blooms).localCheckpoint()
    definitely_new = hashed.filter(~F.col("_maybe")).drop("_h1", "_h2", "_bucket", "_maybe")
    needs_verify = hashed.filter(F.col("_maybe")).drop("_h1", "_h2", "_bucket", "_maybe")
    # The bloom covers links up to meta["links_version"] (its build
    # snapshot). A "definitely new" verdict is only valid against that
    # snapshot, so those keys are still exact-checked against the small
    # incremental deltas appended since (Iceberg incremental scan
    # analog) — no per-append bloom maintenance needed. "Maybe seen"
    # keys (bloom hit or false positive) verify against the full table;
    # nothing is ever dropped on the bloom alone.
    recent = store.read_since("links", int(meta["links_version"])).select(*LINK_KEY)
    definitely_new = definitely_new.join(recent, LINK_KEY, "left_anti")
    if bounded_candidates:
        # seen holds one row per (key, time) crawl event, so the raw
        # semi output repeats frequently-recrawled keys — dedup before
        # broadcasting (a bounded exchange beats an inflated driver
        # build; |confirmed| <= |needs_verify| after dedup).
        confirmed = seen.join(
            F.broadcast(needs_verify.select(*LINK_KEY)), LINK_KEY, "left_semi"
        ).dropDuplicates(LINK_KEY)
        # Both broadcasts stay forced. Only the first (needs_verify into
        # the links scan) is essential for scale — it keeps the links
        # table unexchanged — but the second was A/B-measured on the
        # outlink stage in isolation (since removed with the UDF-keyed
        # outlink pipeline it profiled; perfbench's traced run reports
        # fetch.outlinks_unseen_s per superstep): letting Catalyst/AQE
        # plan the anti-join instead made the full stage ~1.5 s SLOWER at
        # local[4] (8.8 -> 10.3 s; AQE shuffles both bounded sides and
        # pays an extra sort/exchange that costs more than the ~300k-row
        # driver build). confirmed is bounded by |needs_verify| after
        # the dedup, so the build stays certified.
        verified_new = needs_verify.join(F.broadcast(confirmed), LINK_KEY, "left_anti")
    else:
        verified_new = needs_verify.join(seen, LINK_KEY, "left_anti")
    return definitely_new.unionByName(verified_new)
