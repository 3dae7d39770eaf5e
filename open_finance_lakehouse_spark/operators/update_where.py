"""Predicate UPDATE: ``SET col = expr WHERE ...`` as one atomic snapshot.

Completes the DML triad next to MERGE (keyed change batches,
``operators/merge_into.py``) and DELETE (``operators/delete_where.py``).
The reference updates rows only through MERGE's ``whenMatchedUpdate`` arm
(/root/reference/ofl/transform/spark/silver.py:94-101); a predicate
UPDATE — "re-tag every clip with codec X", "normalize sr_hz for one
source" — has no keyed source batch to merge from.

Planning reuses the delete planner's stats tiers: files no conjunct can
match are never read (bucket-value pruning + min/max overlap); every
other candidate rewrites copy-on-write — there is no metadata-only tier
for UPDATE since matched rows change bytes.  Matched rows get the SET
expressions (cast back to the column's declared type so the table schema
is invariant), unmatched and NULL-outcome rows pass through byte-equal.

Updating the bucket-partition column is allowed and stays correct by
construction: the staged rewrite routes every row through the same
bucket hash the original writer used, computed on the NEW value, so
moved keys land in their new bucket and point-lookup pruning keeps
working.

``rows_updated`` costs one extra pass over the CANDIDATE files only,
with the predicate pushed down and columns pruned to the predicate
columns — at scale this reads a sliver of the bytes the rewrite itself
must read anyway.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import Column
from pyspark.sql import functions as F

from open_finance_lakehouse_spark.format.table import ColumnRange, LakeTable
from open_finance_lakehouse_spark.operators.delete_where import (
    plan_delete,
    row_condition,
)
from open_finance_lakehouse_spark.plans.ledger import (
    STATUS_COMMITTED,
    CheckpointLedger,
    CheckpointRecord,
    file_set_hash,
)


def update_where(
    table: LakeTable,
    ledger: CheckpointLedger,
    job_id: str,
    set: "dict[str, str | Column]",
    predicates: list[ColumnRange] | None = None,
    residual: "str | Column | None" = None,
    max_records_per_file: int | None = None,
    retries: int = 2,
    any_of: "list[list[ColumnRange]] | None" = None,
) -> dict:
    """``retries``: replan-and-retry on CommitConflict (Iceberg's
    commit.retry discipline — see ``delete_where``); 0 = raise on the
    first conflict.  ``any_of``: disjunctive pruning arms (``WHERE ...
    OR ...``) — see ``plan_delete``."""
    if not set:
        raise ValueError("update_where requires at least one SET column")
    from open_finance_lakehouse_spark.format.table import CommitConflict

    for attempt in range(retries + 1):
        try:
            return _update_once(table, ledger, job_id, set, predicates,
                                residual, max_records_per_file, any_of)
        except CommitConflict:
            if attempt == retries:
                raise


def _update_once(
    table: LakeTable,
    ledger: CheckpointLedger,
    job_id: str,
    set: "dict[str, str | Column]",
    predicates=None,
    residual=None,
    max_records_per_file=None,
    any_of=None,
) -> dict:
    t0 = time.monotonic()
    table.refresh()  # plan against the current head
    predicates = predicates or []
    schema = {f.name: f.dataType for f in table.schema().fields}
    unknown = [c for c in set if c not in schema]
    if unknown:
        raise ValueError(f"SET columns not in table schema: {unknown}")

    if predicates or any_of or residual is not None:
        plan = plan_delete(table, predicates, residual, any_of=any_of)
        candidates = plan["full"] + plan["rewrite"]  # both rewrite here
        untouched = plan["untouched"]
    else:
        # UPDATE without WHERE is legal SQL (unlike an unbounded DELETE,
        # which delete_where refuses as a disguised truncate)
        candidates, _total = table.plan_files()
        untouched = 0

    totals = {
        "job_id": job_id, "operation": "update",
        "files_untouched": untouched,
        "files_rewritten": len(candidates), "files_out": 0,
        "rows_updated": 0, "rows_scanned": 0,
        "bytes_in": sum(f.file_size_bytes for f in candidates),
        "bytes_out": 0, "engine_ms": 0,
    }
    if not candidates:
        totals["engine_ms"] = int((time.monotonic() - t0) * 1000)
        return totals

    cond = (row_condition(predicates, residual, any_of)
            if (predicates or any_of or residual is not None)
            else F.lit(True))  # unbounded UPDATE: every row matches
    matched = cond.eqNullSafe(F.lit(True))  # NULL outcome -> unchanged row

    paths = [os.path.join(table.location, f.file_path) for f in candidates]
    df = table.spark.read.schema(table.meta.schema_ddl).parquet(*paths)
    # pushdown count pass: predicate columns only cross the scan
    rows_updated = df.filter(matched).count()
    if rows_updated == 0:
        # stats-overlap without row matches: rewriting every candidate
        # byte to change nothing would also cost incremental consumers
        # their append-only fast path (a row-changing snapshot forces
        # the CDC drain) — mirror delete_where's no-match early return
        totals["files_rewritten"] = 0
        totals["files_untouched"] = untouched + len(candidates)
        totals["bytes_in"] = 0
        totals["engine_ms"] = int((time.monotonic() - t0) * 1000)
        return totals

    # ONE select over the source frame: SQL UPDATE evaluates every SET
    # expression AND the WHERE against the PRE-update row. Sequential
    # withColumn calls would re-resolve `matched` and later SET
    # expressions against already-updated columns (SET codec='x' with
    # WHERE codec='flac' would stop matching before the second SET ran;
    # SET a=a+1, b=a would write b = old_a + 1).
    def out_col(c: str) -> Column:
        if c not in set:
            return F.col(c)
        expr = set[c]
        new_val = F.expr(expr) if isinstance(expr, str) else expr
        return (F.when(matched, new_val.cast(schema[c]))
                .otherwise(F.col(c)).alias(c))

    out = df.select([out_col(c) for c in df.columns])
    part_col = (table.meta.partition_spec or {}).get("column")
    added = table.stage_dataframe(
        out, max_records_per_file=max_records_per_file,
        # shuffle on the routing key only when rows can MOVE between
        # buckets (the partition column is among the SET targets) or the
        # candidates already span partitions; a single-partition UPDATE
        # otherwise pays a full shuffle of every survivor byte for
        # nothing (delete_where makes the same call)
        repartition_by_partition=(part_col in set) or
        len({f.partition for f in candidates}) > 1)

    removed = {f.file_path for f in candidates}
    try:
        snap = table.commit_rewrite(
            removed, added, operation="update",
            summary={"job_id": job_id, "rows_updated": rows_updated,
                     "set_columns": sorted(set)})
    except Exception:
        table._discard_staged(added, [])
        raise

    totals["files_out"] = len(added)
    totals["rows_updated"] = rows_updated
    totals["rows_scanned"] = sum(f.record_count for f in candidates)
    totals["bytes_out"] = sum(a.file_size_bytes for a in added)
    totals["engine_ms"] = int((time.monotonic() - t0) * 1000)
    totals["snapshot_id"] = snap.snapshot_id

    in_paths = sorted(removed)
    ledger.append_lineage(job_id, "__update__", in_paths,
                          [a.file_path for a in added], "update")
    ledger.upsert(CheckpointRecord(
        job_id=job_id, table=table.meta.name, partition_id="__update__",
        file_set_hash=file_set_hash(in_paths), status=STATUS_COMMITTED,
        rows=rows_updated, bytes_in=totals["bytes_in"],
        bytes_out=totals["bytes_out"], files_in=len(in_paths),
        files_out=len(added), engine_ms=totals["engine_ms"],
        committed_snapshot_id=snap.snapshot_id,
    ))
    return totals
