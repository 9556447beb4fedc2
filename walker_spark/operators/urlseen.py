"""URL-seen set: exact anti-join against the links table (J1/M6).

The reference gets URL dedup for free from the links-table primary key
(schema.go:13-15, 85; datastore.go:461-463). Here "seen" is an explicit
operator: candidates ``LEFT ANTI JOIN`` links on (dom, subdom, path,
proto), so the unseen set is exactly the complement of that key set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from walker_spark.plans.schemas import LINK_KEY
from walker_spark.sources.store import FrontierStore


def filter_unseen(store: FrontierStore, candidates: DataFrame) -> DataFrame:
    """Rows of ``candidates`` whose (dom, subdom, path, proto) is not in
    the links table, one row per key."""
    seen = store.read("links").select(*LINK_KEY)
    return candidates.dropDuplicates(LINK_KEY).join(seen, LINK_KEY, "left_anti")
