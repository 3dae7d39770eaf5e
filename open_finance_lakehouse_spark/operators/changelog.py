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
  partition-spec and schema rewrites, which relabel or re-route bytes but
  change no logical row) contributes NOTHING and reads NOTHING — maintenance
  stays invisible to CDC consumers, the same contract the incremental source
  enforces via ``ROW_PRESERVING_OPS``. Those ops' own parity gates
  (``operators/audit.scan_parity``) are what make the skip sound.
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

from open_finance_lakehouse_spark.format.metadata import Snapshot
from open_finance_lakehouse_spark.format.table import LakeTable
from open_finance_lakehouse_spark.streaming.table_source import (
    ROW_PRESERVING_OPS,
    ancestry_interval,
    added_entries,
)

CHANGE_TYPE_COL = "_change_type"
COMMIT_SNAPSHOT_COL = "_commit_snapshot_id"
COMMIT_TIMESTAMP_COL = "_commit_timestamp_ms"

INSERT = "insert"
DELETE = "delete"


def _is_row_preserving(snap: Snapshot) -> bool:
    """Commits whose added files carry only rows the table already had.

    ``rewrite_schema`` commits as ``replace`` and ``rewrite_partitioning``
    as ``rewrite``, both flagged in the summary — a column rename/drop or a
    re-bucket changes METADATA, not logical rows, so CDC skips them like
    any other maintenance. ``expire`` never lands in the log (its marker is
    unpersisted) but is listed defensively."""
    if snap.operation in ROW_PRESERVING_OPS or snap.operation == "expire":
        return True
    summary = snap.summary or {}
    return (summary.get("schema_rewrite") == "true"
            or summary.get("partition_rewrite") == "true")


def _live_paths(table: LakeTable, snapshot_id: int | None) -> set[str]:
    if snapshot_id is None:
        return set()  # genesis: the table had no files before its first commit
    return {f.file_path for f in table.live_files(snapshot_id)}


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
    chain = ancestry_interval(meta, from_snapshot_id, end_id)

    end_snap = meta.snapshot(end_id) if end_id is not None else None
    ddl = (end_snap.schema_ddl if end_snap is not None and end_snap.schema_ddl
           else meta.schema_ddl)
    spark = table.spark

    def read(paths: list[str]) -> DataFrame:
        if not paths:
            return spark.createDataFrame([], ddl)
        return spark.read.schema(ddl).parquet(
            *[os.path.join(table.location, p) for p in sorted(paths)])

    def stamp(df: DataFrame, change: str, snap: Snapshot) -> DataFrame:
        return df.select(
            "*",
            F.lit(change).alias(CHANGE_TYPE_COL),
            F.lit(snap.snapshot_id).cast("long").alias(COMMIT_SNAPSHOT_COL),
            F.lit(snap.timestamp_ms).cast("long").alias(COMMIT_TIMESTAMP_COL),
        )

    parts: list[DataFrame] = []
    # consecutive commits share a boundary: snapshot i's live set IS
    # snapshot i+1's parent set — carry it forward instead of reading
    # every manifest twice per row-changing commit
    carried_id, carried = object(), None
    for snap in chain:
        if (snap.summary or {}).get("schema_rewrite") == "true":
            if parts:
                # rows committed BEFORE a rename/drop cannot be expressed
                # in the post-rewrite schema: reading their files with the
                # end DDL would silently project the renamed columns as
                # NULL — corrupt change rows. The rewrite is row-changing
                # to consumers by contract (rewrite_schema's docstring):
                # refuse and make them recompute from a post-rewrite
                # cursor.
                raise ValueError(
                    f"change interval crosses schema rewrite "
                    f"{snap.snapshot_id}: rows committed before it cannot "
                    "be read under the post-rewrite schema — restart the "
                    f"consumer from snapshot {snap.snapshot_id} or later")
            continue
        if _is_row_preserving(snap):
            continue
        if snap.operation == "append":
            files = added_entries(table.location, meta, snap)
            if files:
                parts.append(stamp(read([f.file_path for f in files]),
                                   INSERT, snap))
            continue
        # generic row-changing commit: diff the live-file sets, then the
        # rows — both sides bounded by what the commit actually touched
        prev = (carried if carried_id == snap.parent_id
                else _live_paths(table, snap.parent_id))
        cur = _live_paths(table, snap.snapshot_id)
        carried_id, carried = snap.snapshot_id, cur
        added = read(list(cur - prev))
        removed = read(list(prev - cur))
        parts.append(stamp(added.exceptAll(removed), INSERT, snap))
        parts.append(stamp(removed.exceptAll(added), DELETE, snap))

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
