"""Z-order / Hilbert clustering rewrite.

Replaces the reference's proprietary ``OPTIMIZE ... ZORDER BY (series_id,
date)`` (``ofl/transform/spark/silver.py``) with one explicit whole-table
Spark plan, ``cluster_global``:

  plan: on the driver over ``live_files()`` (no Spark job) — per
        partition, its sorted path list and byte/record totals, plus the
        curve axes' manifest min/max (input fingerprint, row cap and
        curve bounds all derive from those)
  scan the planned snapshot
    → curve key via vectorized Arrow UDF (``functions.curves`` — the only
      Python in the plan, batch-vectorized)
    → ``repartitionByRange(n_out, __part, __zval)`` (ONE shuffle; the
      partition value leads, so output files never span partitions and
      tile the curve within each)
    → ``sortWithinPartitions(__part, __zval, clip_id)`` (deterministic
      tie-break — SURVEY.md §7.3 determinism-under-shuffle)
    → write ~target-size files; footer min/max stats on the clustered
      dimensions become tight, which is what makes manifest-level file
      skipping selective (measured by ``tests/test_maintenance.py``
      before/after files-read counts)
  commit: ONE atomic snapshot.

The curve key is a derived column dropped before write — the table schema
never changes; clustering is purely a physical-layout operation. Range
boundaries come from Spark's range-partition sampling, so skewed curve-key
densities still yield balanced output files; AQE handles residual skew.
"""

from __future__ import annotations

import math
import time

from open_finance_lakehouse_spark.format.table import CommitConflict, LakeTable
from open_finance_lakehouse_spark.functions.curves import (
    CLIP_DIM_BOUNDS,
    curve_key_col,
)
from open_finance_lakehouse_spark.operators import binpack
from open_finance_lakehouse_spark.plans.ledger import (
    STATUS_COMMITTED,
    STATUS_CONFLICTED,
    STATUS_REWRITING,
    CheckpointLedger,
    CheckpointRecord,
)


def _xor_fingerprint_py(curve: str, paths: list[str]) -> str:
    """Order-insensitive fingerprint of a file set: ``curve:count:xor``,
    the XOR of per-path ``xxhash64(f"{curve}:{path}")`` (the count hardens
    it against the XOR's even-multiset blind spot). Built on the numpy
    XXH64 kernel, bit-exact with Spark's
    ``bit_xor(xxhash64(concat(lit(f"{curve}:"), file_path)))`` — so ledger
    records written by a Spark-side fingerprint still match."""
    import numpy as np

    from open_finance_lakehouse_spark.functions.xxh64 import (
        xxh64_spark_column,
    )

    x = 0
    if paths:
        h = xxh64_spark_column([f"{curve}:{p}" for p in paths], "string")
        x = int(np.bitwise_xor.reduce(h.view(np.uint64)))
    return f"{curve}:{len(paths)}:{x & 0xFFFFFFFFFFFFFFFF:016x}"


def cluster_global(
    table: LakeTable,
    ledger: CheckpointLedger,
    job_id: str,
    curve: str = "zorder",
    target_bytes: int = binpack.DEFAULT_TARGET_FILE_BYTES,
) -> dict:
    """Whole-table clustering as ONE Spark job: scan all live files → curve
    key → one range exchange on (partition, zval) → sorted write → one
    atomic commit.

    Fixed per-job costs (range-sampling pass, stage scheduling, JIT
    warm-up) are paid once for the table, so wall time tracks bytes/cores.
    Resume granularity is the whole job; per-partition lineage still lands
    in the ledger. Equivalent to the reference's single table-wide
    ``OPTIMIZE ... ZORDER BY`` call.

    Planning runs on the driver over ``live_files()`` (no Spark job):
    per partition, its sorted path list and byte/record totals, plus the
    curve axes' manifest min/max. Everything else derives from those —
    the input fingerprint, the output row cap, the curve normalization
    bounds and the file-grain lineage inputs."""
    # plan against the CURRENT head, not whatever snapshot this handle
    # last saw: a stale plan's removal set conflicts on commit (correct but
    # wasted work), and a retried run would re-conflict forever
    table.refresh()
    files = table.live_files()
    by_part: dict[str, list] = {}
    for f in files:
        by_part.setdefault(f.partition, []).append(f)
    paths = [f.file_path for f in files]
    bytes_in = sum(f.file_size_bytes for f in files)
    records_in = sum(f.record_count for f in files)
    totals = {
        "job_id": job_id, "operation": f"cluster_global[{curve}]",
        "partitions_planned": len(by_part),
        "partitions_rewritten": 0, "partitions_skipped": 0,
        "files_in": len(paths), "files_out": 0, "bytes_in": bytes_in,
        "bytes_out": 0, "rows": 0, "engine_ms": 0,
    }
    if not paths:
        return totals
    pre_snap = table.meta.snapshot()  # plan-time head (CAS guard)
    pre_snapshot = pre_snap.snapshot_id
    pre_manifests = set(pre_snap.manifests)
    # order-insensitive input fingerprint: a replay over the same file set
    # (or over this job's own output) is skipped
    fingerprint = _xor_fingerprint_py(curve, paths)
    if ledger.is_committed(job_id, "__table__", fingerprint):
        totals["partitions_skipped"] = totals["partitions_planned"]
        return totals

    t0 = time.monotonic()
    # normalize each curve axis to its OBSERVED range (manifest min/max, no
    # data scan): every dimension gets full bit-resolution in the
    # interleave — a fixed global range would leave narrow-domain
    # dimensions with constant high bits and no sort influence
    bounds = dict(CLIP_DIM_BOUNDS)
    for c in CLIP_DIM_BOUNDS:
        los = [f.min_long[c] for f in files if c in f.min_long]
        his = [f.max_long[c] for f in files if c in f.max_long]
        if los:
            lo, hi = float(min(los)), float(max(his))
            bounds[c] = (lo, hi if hi > lo else lo + 1.0)
    ledger.upsert(CheckpointRecord(
        job_id=job_id, table=table.meta.name, partition_id="__table__",
        file_set_hash=fingerprint, status=STATUS_REWRITING,
        files_in=totals["files_in"], bytes_in=bytes_in,
    ))
    n_out = max(1, math.ceil(bytes_in / target_bytes))
    # the row cap comes from the WIDEST-row partition so no partition's
    # files exceed target_bytes — a single table-wide average would let a
    # partition with 2×-wide rows (codec/duration mix) emit 2×-target
    # files while narrow partitions emit half-size ones
    rpf = min(
        (binpack.records_per_file(sum(f.file_size_bytes for f in fs),
                                  sum(f.record_count for f in fs),
                                  target_bytes)
         for fs in by_part.values() if any(f.record_count for f in fs)),
        default=binpack.records_per_file(bytes_in, records_in, target_bytes),
    )
    # read the planned snapshot through the format's one scan seam (pinned
    # to the plan-time head); __part leads the range key, so output files
    # never span table partitions
    clustered = (
        table.scan(snapshot_id=pre_snapshot)
        .withColumn("__part", table.partition_value_col())
        .withColumn("__zval", curve_key_col(curve, bounds))
        .repartitionByRange(n_out, "__part", "__zval")
        .sortWithinPartitions("__part", "__zval", "clip_id")
        .drop("__zval")
        .drop("__part")
    )
    added = table.stage_dataframe(
        clustered, max_records_per_file=rpf,
        repartition_by_partition=False)
    # fast path: conditional replace — the rewrite covers every live file,
    # so "head unchanged since planning" proves the removal set at O(1)
    # metadata cost (no manifest re-read at any inventory size). If a
    # CONCURRENT APPEND moved the head, its rows are not in the clustered
    # output, so a replace would drop them — fall back to a
    # MANIFEST-granularity rewrite: remove exactly the plan-time
    # manifests (their continued presence in the head proves every
    # planned file is still live, at O(manifests) cost — the driver
    # never enumerates file paths) and PRESERVE the concurrent append's
    # manifests. operation="cluster" keeps the snapshot skippable by
    # incremental consumers on either path.
    cluster_summary = {"job_id": job_id, "curve": curve}
    try:
        snap = table.commit_replace(
            added, operation="cluster",
            expect_current_snapshot_id=pre_snapshot,
            summary=cluster_summary)
    except CommitConflict:
        try:
            snap = table.commit_rewrite_manifests(
                pre_manifests, added, operation="cluster",
                summary=cluster_summary)
        except CommitConflict:
            # a concurrent REWRITE (compact/MERGE/DML) replaced a planned
            # manifest, so neither commit path can prove the removal set.
            # Surrender like compact() does: discard the staged
            # whole-table copy (else it sits orphaned until GC grace),
            # record the conflict, and return — a replay replans against
            # the new head (the ledger only skips STATUS_COMMITTED).
            table._discard_staged(added, [])
            ledger.upsert(CheckpointRecord(
                job_id=job_id, table=table.meta.name,
                partition_id="__table__", file_set_hash=fingerprint,
                status=STATUS_CONFLICTED,
                files_in=totals["files_in"], bytes_in=bytes_in,
                engine_ms=int((time.monotonic() - t0) * 1000),
            ))
            totals["partitions_skipped"] = totals["partitions_planned"]
            totals["conflicted"] = True
            totals["engine_ms"] = int((time.monotonic() - t0) * 1000)
            return totals
    engine_ms = int((time.monotonic() - t0) * 1000)

    # per-partition ledger records (metrics grain preserved) + job record
    by_out: dict[str, list] = {}
    for a in added:
        by_out.setdefault(a.partition, []).append(a)
    # lineage inputs are the PARTITION's own files — rows never cross
    # partitions (the range key leads with __part), and whole-table
    # inputs would make the log O(partitions × files) and provenance
    # queries useless
    for part, outs in sorted(by_out.items()):
        ledger.append_lineage(job_id, f"part={part}",
                              sorted(f.file_path
                                     for f in by_part.get(part, [])),
                              [a.file_path for a in outs], "cluster")
    ledger.upsert(CheckpointRecord(
        job_id=job_id, table=table.meta.name, partition_id="__table__",
        file_set_hash=fingerprint, status=STATUS_COMMITTED,
        rows=sum(a.record_count for a in added),
        bytes_in=bytes_in, bytes_out=sum(a.file_size_bytes for a in added),
        files_in=totals["files_in"], files_out=len(added),
        engine_ms=engine_ms, committed_snapshot_id=snap.snapshot_id,
        # a re-run whose input IS this output set is recognized as
        # already-clustered
        output_file_set_hash=_xor_fingerprint_py(
            curve, [a.file_path for a in added]),
    ))
    totals.update(
        partitions_rewritten=totals["partitions_planned"],
        files_out=len(added),
        bytes_out=sum(a.file_size_bytes for a in added),
        rows=sum(a.record_count for a in added),
        engine_ms=engine_ms,
    )
    return totals


def clustering_quality(table: LakeTable, column: str = "dur_ms") -> float:
    """Mean pairwise min/max overlap fraction across files — lower = better
    clustered. Used by tests to assert clustering actually tightened stats."""
    files = table.live_files()
    bounds = [f.bounds(column) for f in files]
    bounds = [b for b in bounds if b is not None]
    if len(bounds) < 2:
        return 0.0
    overlaps = 0
    pairs = 0
    for i in range(len(bounds)):
        for j in range(i + 1, len(bounds)):
            pairs += 1
            lo = max(bounds[i][0], bounds[j][0])
            hi = min(bounds[i][1], bounds[j][1])
            if lo <= hi:
                overlaps += 1
    return overlaps / pairs if pairs else 0.0
