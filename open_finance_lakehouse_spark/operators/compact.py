"""Bin-packing small-file compaction over LakeTable snapshots.

The reference compacts with one proprietary SQL call
(``OPTIMIZE delta.`uri``` — /root/reference/ofl/transform/spark/silver.py:368-371);
we build the whole mechanism: a driver-side planner over the snapshot's file
inventory (SURVEY.md §4: "a maintenance engine's optimizer is a driver-side
metadata planner plus ordinary Catalyst execution"), one rewrite job that
moves bytes exactly once (read → write, no exchange — the binary audio
payload dominates IO, SURVEY.md §7.3), and one atomic commit.

Row-preservation contract: compaction re-writes bytes verbatim — scans over
the compacted snapshot return byte-identical row sets (verified by
``operators.audit.scan_parity``) and decoded-PCM SNR is untouched.

Execution shape:
  1. plan bins per partition on the driver over ``live_files()`` with the
     unit-tested ``binpack.plan_bins``; skip partitions whose ``part=<p>``
     ledger record is committed for the same input fingerprint;
  2. read ONLY the binned files, one frame per partition, each coalesced
     to its own output count and tagged with a literal ``__part``; the
     union stages as ONE write job routed by that column (no shuffle);
  3. ONE ``commit_rewrite`` removes every binned file (snapshot isolation:
     concurrent readers of the old snapshot still see the old files); on a
     conflict the whole job surrenders and nothing lands;
  4. per-partition checkpoint + lineage records.
"""

from __future__ import annotations

import math
import os
import time
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from open_finance_lakehouse_spark.format.table import CommitConflict, LakeTable
from open_finance_lakehouse_spark.operators import binpack
from open_finance_lakehouse_spark.plans.ledger import (
    STATUS_COMMITTED,
    STATUS_CONFLICTED,
    STATUS_REWRITING,
    CheckpointLedger,
    CheckpointRecord,
    file_set_hash,
)


def plan_compaction(
    table: LakeTable,
    target_bytes: int = binpack.DEFAULT_TARGET_FILE_BYTES,
    small_file_ratio: float = binpack.DEFAULT_SMALL_FILE_RATIO,
    min_files_per_bin: int = 2,
) -> dict[str, list[binpack.Bin]]:
    """Partition → rewrite bins, planned on the driver over ``live_files()``
    (a manifest read, no Spark job). Partitions without a bin are absent."""
    by_part: dict[str, list[tuple[str, int, int]]] = {}
    for f in table.live_files():
        by_part.setdefault(f.partition, []).append(
            (f.file_path, f.file_size_bytes, f.record_count))
    plan: dict[str, list[binpack.Bin]] = {}
    for part, files in sorted(by_part.items()):
        bins = binpack.plan_bins(files, target_bytes, small_file_ratio,
                                 min_files_per_bin)
        if bins:
            plan[part] = bins
    return plan


def compact(
    table: LakeTable,
    ledger: CheckpointLedger,
    job_id: str,
    target_bytes: int = binpack.DEFAULT_TARGET_FILE_BYTES,
    small_file_ratio: float = binpack.DEFAULT_SMALL_FILE_RATIO,
    min_files_per_bin: int = 2,
) -> dict:
    """Run compaction; returns job metrics. Safe to re-run: committed
    partitions with unchanged inputs are skipped (measured no-op).

    Every partition that needs work is rewritten by one write job and
    lands in one snapshot. ``engine_ms`` is the wall time of the execute
    phase (JVM/session startup excluded — the reference's trigger-time
    discipline, ``ofl/streaming/metrics.py:53-62``)."""
    # plan against the CURRENT head: a stale handle's plan would remove
    # files a concurrent writer already rewrote — the commit conflicts
    # (correctly), but a replay from the same stale handle re-conflicts
    # forever; refreshing makes run-after-conflict converge
    table.refresh()
    plan = plan_compaction(table, target_bytes, small_file_ratio,
                           min_files_per_bin)
    totals = {
        "job_id": job_id, "operation": "compact",
        "partitions_planned": len(plan), "partitions_rewritten": 0,
        "partitions_skipped": 0, "partitions_conflicted": 0,
        "files_in": 0, "files_out": 0,
        "bytes_in": 0, "bytes_out": 0, "rows": 0, "engine_ms": 0,
    }
    # part -> (input paths, fingerprint, bytes in, records in)
    todo: dict[str, tuple[list[str], str, int, int]] = {}
    for part, bins in plan.items():
        paths = [p for b in bins for p in b.paths]
        fingerprint = file_set_hash(paths)
        if ledger.is_committed(job_id, f"part={part}", fingerprint):
            totals["partitions_skipped"] += 1
            continue
        todo[part] = (paths, fingerprint,
                      sum(b.total_bytes for b in bins),
                      sum(b.total_records for b in bins))
    if not todo:
        return totals

    def record(part, status, **kw):
        paths, fingerprint, bytes_in, _ = todo[part]
        ledger.upsert(CheckpointRecord(
            job_id=job_id, table=table.meta.name, partition_id=f"part={part}",
            file_set_hash=fingerprint, status=status,
            files_in=len(paths), bytes_in=bytes_in, **kw))

    t0 = time.monotonic()
    for part in todo:
        record(part, STATUS_REWRITING)
    # the row cap comes from the WIDEST-row partition so no output file
    # exceeds target_bytes (maxRecordsPerFile is one value per write job)
    rpf = min(binpack.records_per_file(b, r, target_bytes)
              for _, _, b, r in todo.values())
    ddl = table.meta.schema_ddl
    frames = []
    for part, (paths, _, _, records_in) in sorted(todo.items()):
        df = table.spark.read.schema(ddl).parquet(
            *[os.path.join(table.location, p) for p in paths])
        # coalesce caps tiny-task overhead without an exchange; the
        # literal __part routes the write with no shuffle either
        frames.append(df.coalesce(max(1, math.ceil(records_in / rpf)))
                      .withColumn("__part", F.lit(part)))
    added = table.stage_dataframe(
        reduce(DataFrame.union, frames),
        max_records_per_file=rpf, repartition_by_partition=False,
        partition_value=F.col("__part"))
    removed = {p for paths, _, _, _ in todo.values() for p in paths}
    try:
        snap = table.commit_rewrite(
            removed, added, operation="compact",
            summary={"job_id": job_id, "partitions": len(todo)})
    except CommitConflict:
        # a concurrent writer (MERGE, another compact job, a replace) took
        # some binned files out of the live set between planning and
        # commit. Snapshot isolation held — the table is untouched — so
        # the whole job surrenders like cluster_global: discard the staged
        # output instead of orphaning it until GC, record the conflict,
        # and let the next run replan against the new head (the ledger
        # only skips STATUS_COMMITTED).
        table._discard_staged(added, [])
        for part in todo:
            record(part, STATUS_CONFLICTED)
        totals["partitions_conflicted"] = len(todo)
        totals["engine_ms"] = int((time.monotonic() - t0) * 1000)
        return totals
    engine_ms = int((time.monotonic() - t0) * 1000)

    by_out: dict[str, list] = {}
    for a in added:
        by_out.setdefault(a.partition, []).append(a)
    for part in sorted(todo):
        paths = todo[part][0]
        outs = by_out.get(part, [])
        ledger.append_lineage(job_id, f"part={part}", paths,
                              [a.file_path for a in outs], "compact")
        record(part, STATUS_COMMITTED,
               rows=sum(a.record_count for a in outs),
               bytes_out=sum(a.file_size_bytes for a in outs),
               files_out=len(outs), engine_ms=engine_ms,
               committed_snapshot_id=snap.snapshot_id)
    totals.update(
        partitions_rewritten=len(todo), files_in=len(removed),
        files_out=len(added),
        bytes_in=sum(b for _, _, b, _ in todo.values()),
        bytes_out=sum(a.file_size_bytes for a in added),
        rows=sum(a.record_count for a in added), engine_ms=engine_ms)
    return totals
