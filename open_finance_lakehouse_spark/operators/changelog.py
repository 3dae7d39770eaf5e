"""Row-level change capture between snapshots (CDC) — the frost-format
analogue of Delta's Change Data Feed / Iceberg's changelog scan.

The reference's consumers re-derive downstream state by re-reading whole
silver tables (/root/reference/ofl/transform/gold/runner.py:165-203 rebuilds
every mart from a full scan); the incremental consumer
(``streaming/table_source.py``) improves on that for APPEND-only intervals
but must fall back to a full recompute the moment a MERGE or replace lands.
``table_changes`` closes that gap: it returns the exact row-level delta of
ANY commit interval, so a downstream job can apply updates and deletes
incrementally instead of recomputing.

Semantics (Iceberg changelog without identifier columns): every change is an
``insert`` or a ``delete``; an update surfaces as the delete of the old row
plus the insert of the new one, stamped with the committing snapshot.

Scale shape — cost ∝ CHANGE VOLUME, never O(table):

- **append** commits contribute their added files as inserts — a plain
  parquet scan of exactly those files, no comparison work (this also covers
  ``merge_into``'s insert-only batches, which land as appends).
- **Row-preserving maintenance** (compact / cluster / rewrite, including
  partition-spec rewrites, which re-route bytes but change no logical row)
  contributes NOTHING and reads NOTHING — maintenance stays invisible to
  CDC consumers, the same contract the incremental source keeps
  (``format.plan.commit_kind``). Those ops' own parity gates
  (``operators/audit.scan_parity``) are what make the skip sound. A schema
  rewrite is skipped when it opens the interval and refused when rows
  precede it: those rows cannot be read under the post-rewrite schema.
- **Row-changing** commits (merge / replace / overwrite) diff ONLY the files
  the commit touched: added-minus-removed rows are inserts, removed-minus-
  added are deletes, via ``exceptAll`` (multiset semantics, so duplicate
  rows cancel exactly).  One hash-aggregate shuffle over the touched files'
  rows — a MERGE that rewrote 10 files out of 10 million costs 10 files'
  worth of CDC, not a table scan.

All reads use the END snapshot's schema (same projection rule as
``LakeTable.scan``): files written before an ``update_schema`` project the
added columns as NULL, so a mid-interval schema evolution cannot split the
union.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from open_finance_lakehouse_spark.format import plan
from open_finance_lakehouse_spark.format.metadata import Snapshot
from open_finance_lakehouse_spark.format.table import LakeTable

CHANGE_TYPE_COL = "_change_type"
COMMIT_SNAPSHOT_COL = "_commit_snapshot_id"
COMMIT_TIMESTAMP_COL = "_commit_timestamp_ms"

INSERT = "insert"
DELETE = "delete"


def table_changes(
    table: LakeTable,
    from_snapshot_id: int | None,
    to_snapshot_id: int | None = None,
) -> DataFrame:
    """Row-level changes committed AFTER ``from_snapshot_id`` up to and
    including ``to_snapshot_id`` (default: the current snapshot), as the
    table's columns plus ``_change_type`` ('insert' | 'delete'),
    ``_commit_snapshot_id`` and ``_commit_timestamp_ms``.

    ``from_snapshot_id=None`` means "since genesis" — the whole table's
    history as inserts (plus whatever later commits deleted).  Raises
    ``ValueError`` when the interval is not on the current ancestry chain
    (the cursor expired, or a rollback crossed it) — refusing loudly beats
    silently skipping dropped history, the incremental source's rule."""
    meta = table.meta
    end_id = (to_snapshot_id if to_snapshot_id is not None
              else meta.current_snapshot_id)
    units = plan.plan_changes(meta, table.location, from_snapshot_id, end_id)

    end_snap = meta.snapshot(end_id) if end_id is not None else None
    ddl = (end_snap.schema_ddl if end_snap is not None and end_snap.schema_ddl
           else meta.schema_ddl)
    spark = table.spark

    def read(paths) -> DataFrame:
        if not paths:
            return spark.createDataFrame([], ddl)
        return spark.read.schema(ddl).parquet(
            *[os.path.join(table.location, p) for p in paths])

    def stamp(df: DataFrame, change: str, snap: Snapshot) -> DataFrame:
        return df.select(
            "*",
            F.lit(change).alias(CHANGE_TYPE_COL),
            F.lit(snap.snapshot_id).cast("long").alias(COMMIT_SNAPSHOT_COL),
            F.lit(snap.timestamp_ms).cast("long").alias(COMMIT_TIMESTAMP_COL),
        )

    parts: list[DataFrame] = []
    for u in units:
        if u.kind == "insert":
            parts.append(stamp(read(u.added), INSERT, u.snapshot))
            continue
        # a row-changing commit: diff the rows of only the files it touched
        added, removed = read(u.added), read(u.removed)
        parts.append(stamp(added.exceptAll(removed), INSERT, u.snapshot))
        parts.append(stamp(removed.exceptAll(added), DELETE, u.snapshot))

    if not parts:
        empty = spark.createDataFrame([], ddl)
        return empty.select(
            "*",
            F.lit(None).cast("string").alias(CHANGE_TYPE_COL),
            F.lit(None).cast("long").alias(COMMIT_SNAPSHOT_COL),
            F.lit(None).cast("long").alias(COMMIT_TIMESTAMP_COL),
        ).limit(0)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def changes_summary(changes: DataFrame) -> DataFrame:
    """Per-commit change counts — the CLI's display relation."""
    return (
        changes.groupBy(COMMIT_SNAPSHOT_COL, COMMIT_TIMESTAMP_COL)
        .agg(
            F.sum(F.when(F.col(CHANGE_TYPE_COL) == INSERT, 1).otherwise(0))
            .alias("inserts"),
            F.sum(F.when(F.col(CHANGE_TYPE_COL) == DELETE, 1).otherwise(0))
            .alias("deletes"),
        )
        .orderBy(COMMIT_SNAPSHOT_COL)
    )
