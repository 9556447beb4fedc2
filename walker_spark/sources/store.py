"""Snapshot-versioned parquet table store (Iceberg stand-in).

Replaces walker's Cassandra tables (reference: cassandra/schema.go,
cassandra/datastore.go) with append/overwrite/truncate semantics over
parquet delta directories + an atomically-swapped JSON manifest per
table. Readers always see a committed snapshot; a crashed writer leaves
only orphaned (unreferenced) delta dirs, so every iteration is
resumable — the checkpoint/lineage story north_rule asks for.

On a real cluster, swap this for the Iceberg DDL in
:func:`walker_spark.plans.schemas.iceberg_ddl`; the operator layer only
uses ``read/append/overwrite/truncate``, which map 1:1 onto Iceberg.

Layout::

    root/<table>/manifest.json      {"version": N, "deltas": [...], ...}
    root/<table>/d-000001/          parquet delta (one commit)
    root/manifests/run-*.json       per-iteration lineage + metrics

Bucketing: tables in ``schemas.BUCKETED_BY_DOM`` get a persisted
``bucket`` column = ``pmod(xxhash64(dom), num_buckets)`` and are
directory-partitioned by it, so per-domain scans prune to one bucket
(walker's hot path is always ``WHERE dom = ?`` — schema.go:85).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from walker_spark.plans import schemas


def _has_parquet(path: str) -> bool:
    """True when the delta dir holds at least one parquet file (a 0-row
    write leaves only _SUCCESS, which the reader cannot infer from)."""
    for _dir, _sub, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def bucket_col(dom_col, num_buckets: int):
    """Deterministic domain bucket: pmod(xxhash64(dom), B) — JVM-side."""
    return F.pmod(F.xxhash64(dom_col), F.lit(num_buckets)).cast("int")


class FrontierStore:
    def __init__(self, spark: SparkSession, root: str, num_buckets: int = 32):
        self.spark = spark
        self.root = root
        self.num_buckets = num_buckets
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)

    # ---- manifest plumbing -------------------------------------------------

    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self._tdir(table), "manifest.json")

    def _load_manifest(self, table: str) -> dict:
        path = self._manifest_path(table)
        if not os.path.exists(path):
            return {"version": 0, "deltas": []}
        with open(path, encoding="utf-8") as f:
            return json.load(f)

    def _commit(self, table: str, manifest: dict) -> None:
        manifest["committed_at"] = time.time()
        tmp = self._manifest_path(table) + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path(table))  # atomic snapshot swap

    def version(self, table: str) -> int:
        return self._load_manifest(table)["version"]

    def versions(self) -> dict[str, int]:
        return {t: self.version(t) for t in schemas.TABLES}

    # ---- read/write --------------------------------------------------------

    def _write_delta(self, table: str, df: DataFrame, version: int) -> str:
        delta = f"d-{version:06d}-{uuid.uuid4().hex[:8]}"
        path = os.path.join(self._tdir(table), delta)
        bucketed = table in schemas.BUCKETED_BY_DOM
        if bucketed:
            df = df.withColumn("bucket", bucket_col(F.col("dom"), self.num_buckets))
            # hash-distribute on the partition column before the
            # partitioned write (Iceberg write.distribution-mode=hash):
            # one file per bucket instead of tasks x buckets files —
            # the commit's file operations are serial driver work, so
            # file count is the write's non-scaling term
            df = df.repartition(self.num_buckets, "bucket")
            df.write.partitionBy("bucket").parquet(path)
        else:
            df.write.parquet(path)
        return delta

    def exists(self, table: str) -> bool:
        return os.path.exists(self._manifest_path(table))

    def read(self, table: str) -> DataFrame:
        """Committed snapshot of ``table`` (empty DF if never written)."""
        man = self._load_manifest(table)
        schema = schemas.TABLES.get(table)
        paths = [
            p
            for d in man["deltas"]
            if _has_parquet(p := os.path.join(self._tdir(table), d))
        ]
        if not paths:
            if schema is None:
                raise KeyError(f"unknown empty table {table}")
            return self.spark.createDataFrame([], schema)
        return self._scan(table, paths)

    def read_since(self, table: str, version: int) -> DataFrame:
        """Rows of ``table`` appended in deltas committed after
        ``version`` (delta names embed their commit version); an empty
        frame when there are none (Iceberg incremental-scan analog)."""
        man = self._load_manifest(table)
        schema = schemas.TABLES.get(table)
        paths = []
        for d in man["deltas"]:
            ver = int(d.split("-")[1])
            p = os.path.join(self._tdir(table), d)
            if ver > version and _has_parquet(p):
                paths.append(p)
        if not paths:
            return self.spark.createDataFrame([], schema)
        return self._scan(table, paths)

    def _scan(self, table: str, paths: list[str]) -> DataFrame:
        """Union of one reader per delta (each delta has its own
        bucket=N partition dirs, which a single multi-path reader
        rejects) — Catalyst still prunes partitions/filters per child
        scan. Known tables are read with their declared schema: schema
        inference would run a one-task job per delta."""
        schema = schemas.TABLES.get(table)
        reader = self.spark.read
        if schema is not None:
            fields = schema.fields
            if table in schemas.BUCKETED_BY_DOM:
                fields = fields + [StructField("bucket", IntegerType())]
            reader = reader.schema(StructType(fields))
        dfs = [reader.parquet(p) for p in paths]
        df = dfs[0]
        for other in dfs[1:]:
            df = df.unionByName(other, allowMissingColumns=True)
        if schema is not None:
            df = df.select(*schema.fieldNames())
        return df

    def append(self, table: str, df: DataFrame) -> int:
        man = self._load_manifest(table)
        version = man["version"] + 1
        delta = self._write_delta(table, df, version)
        man["version"] = version
        man["deltas"].append(delta)
        self._commit(table, man)
        return version

    def overwrite(self, table: str, df: DataFrame) -> int:
        man = self._load_manifest(table)
        version = man["version"] + 1
        delta = self._write_delta(table, df, version)
        self._commit(table, {"version": version, "deltas": [delta]})
        return version

    def truncate(self, table: str) -> int:
        man = self._load_manifest(table)
        version = man["version"] + 1
        self._commit(table, {"version": version, "deltas": []})
        return version

    def compact(self, table: str) -> int:
        """Rewrite all deltas as one (Iceberg rewrite_data_files analog).
        Run periodically on append-heavy tables so read fan-in stays
        bounded; old deltas become unreferenced and can be GC'd."""
        return self.overwrite(table, self.read(table))

    # ---- orphan GC (Iceberg expire_snapshots / remove_orphan_files) --------

    def gc_plan(
        self, table: str | None = None, min_age_s: float = 3600.0
    ) -> list[dict]:
        """List UNREFERENCED delta directories: present on disk but
        absent from the table's committed manifest — what overwrite/
        truncate/compact leave behind, plus the partial delta of a
        writer that crashed before its manifest swap. ``min_age_s``
        is the standard safety margin (Iceberg's
        ``older_than``): an in-flight writer's delta is unreferenced
        too, so only dirs whose newest file is older than the margin
        are collectable. Returns ``[{table, delta, bytes, age_s}]``
        sorted by (table, delta) — a pure manifest/filesystem walk,
        no Spark job, safe to run any time."""
        tables = [table] if table else sorted(schemas.TABLES)
        now = time.time()
        out = []
        for t in tables:
            tdir = self._tdir(t)
            if not os.path.isdir(tdir):
                continue
            live = set(self._load_manifest(t)["deltas"])
            for name in sorted(os.listdir(tdir)):
                path = os.path.join(tdir, name)
                if not name.startswith("d-") or not os.path.isdir(path):
                    continue
                if name in live:
                    continue
                newest, nbytes = 0.0, 0
                for d, _s, files in os.walk(path):
                    for fn in files:
                        st = os.stat(os.path.join(d, fn))
                        newest = max(newest, st.st_mtime)
                        nbytes += st.st_size
                age = now - newest if newest else float("inf")
                if age >= min_age_s:
                    out.append(
                        {"table": t, "delta": name, "bytes": nbytes, "age_s": age}
                    )
        return out

    def gc_orphans(
        self, table: str | None = None, min_age_s: float = 3600.0
    ) -> list[dict]:
        """Delete what :meth:`gc_plan` lists and return it. Committed
        snapshots are untouched by construction (the plan only ever
        contains dirs the manifest does not reference), so readers are
        never affected — asserted in pytest."""
        import shutil as _shutil

        plan = self.gc_plan(table, min_age_s)
        for item in plan:
            _shutil.rmtree(
                os.path.join(self._tdir(item["table"]), item["delta"]),
                ignore_errors=True,
            )
        return plan

    # ---- small key/value metadata (e.g. cache-build lineage) ---------------

    def put_meta(self, key: str, value: dict) -> None:
        path = os.path.join(self.root, f"meta-{key}.json")
        tmp = path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(value, f)
        os.replace(tmp, path)

    def get_meta(self, key: str) -> dict | None:
        path = os.path.join(self.root, f"meta-{key}.json")
        if not os.path.exists(path):
            return None
        with open(path, encoding="utf-8") as f:
            return json.load(f)

    # ---- run manifests (checkpoint / lineage) ------------------------------

    def record_run(self, kind: str, iteration: int, payload: dict) -> str:
        """Persist per-iteration lineage: table versions + metrics
        (replaces walker's active_fetchers heartbeats, SURVEY §2.10/ST2)."""
        rec = {
            "kind": kind,
            "iteration": iteration,
            "table_versions": self.versions(),
            **payload,
        }
        path = os.path.join(self.root, "manifests", f"run-{kind}-{iteration:06d}.json")
        tmp = path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(rec, f)
        os.replace(tmp, path)
        return path

    def last_run(self, kind: str | None = None) -> dict | None:
        mdir = os.path.join(self.root, "manifests")
        names = sorted(
            n
            for n in os.listdir(mdir)
            if n.startswith("run-") and (kind is None or n.startswith(f"run-{kind}-"))
        )
        if not names:
            return None
        with open(os.path.join(mdir, names[-1]), encoding="utf-8") as f:
            return json.load(f)

    def runs(self) -> list[dict]:
        mdir = os.path.join(self.root, "manifests")
        out = []
        for n in sorted(os.listdir(mdir)):
            if n.startswith("run-"):
                with open(os.path.join(mdir, n), encoding="utf-8") as f:
                    out.append(json.load(f))
        return out
