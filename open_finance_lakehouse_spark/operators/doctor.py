"""Table-health advisor: one read-only report + recommended actions.

The reference's operators learn table health from Grafana panels fed by
its metrics lane (/root/reference/ofl/streaming/metrics.py:97-126 reads
row counts and freshness per table); this engine folds the same signals
— plus the format-level ones only the table format can see — into one
callable report so "what maintenance does this table need?" is one
command, not a dashboard safari.

Everything is metadata-only (manifest parquet + snapshot log): no data
bytes are read, so the doctor is safe to run on a 10^12-row table.  The
file-level aggregates are driver-side sums over the manifest entries
(``live_files()``, no Spark job); the snapshot log and ledger reads are
O(snapshots)/O(records), driver-side too.
"""

from __future__ import annotations

import time

from open_finance_lakehouse_spark.format.table import LakeTable
from open_finance_lakehouse_spark.operators import binpack

# advisory thresholds (doc'd in the report; conservative defaults)
SMALL_FILE_RATIO_WARN = 0.5   # >50% of files under the small threshold
SNAPSHOT_DEBT_WARN = 50       # unexpired snapshots
OVERLAP_WARN = 0.5            # mean pairwise stat-overlap fraction


def doctor(
    table: LakeTable,
    target_bytes: int = binpack.DEFAULT_TARGET_FILE_BYTES,
    cluster_column: str | None = None,
) -> dict:
    """Return ``{"signals": {...}, "advice": [...]}`` — read-only."""
    t0 = time.monotonic()
    table.refresh()
    meta = table.meta
    small_threshold = int(target_bytes * binpack.DEFAULT_SMALL_FILE_RATIO)

    live = table.live_files()
    files = len(live)
    total_bytes = sum(f.file_size_bytes for f in live)
    small_files = sum(f.file_size_bytes < small_threshold for f in live)

    snaps = table.snapshots()
    cur = meta.current_snapshot_id
    by_id = {s.snapshot_id: s for s in snaps}
    chain = set()
    c = cur
    while c is not None and c in by_id:
        chain.add(c)
        c = by_id[c].parent_id
    staged_pending = [s.snapshot_id for s in snaps
                      if s.summary.get("staged") == "true"]
    off_ancestry = [s.snapshot_id for s in snaps
                    if s.snapshot_id not in chain
                    and s.summary.get("staged") != "true"]

    signals = {
        "table": meta.name,
        "files": files,
        "rows": sum(f.record_count for f in live),
        "bytes": total_bytes,
        "partitions": len({f.partition for f in live}),
        "avg_file_mb": round(total_bytes / files / 1048576, 2) if files
        else 0.0,
        "small_files": small_files,
        "small_file_fraction": round(small_files / files, 3) if files
        else 0.0,
        "snapshots": len(snaps),
        "snapshots_off_ancestry": len(off_ancestry),
        "staged_pending": staged_pending,
        "partition_spec": meta.partition_spec,
        "engine_ms": None,  # filled at the end
    }
    if cluster_column:
        from open_finance_lakehouse_spark.operators.cluster import (
            clustering_quality,
        )

        signals["stat_overlap"] = round(
            clustering_quality(table, cluster_column), 3)

    advice: list[str] = []
    if files and signals["small_file_fraction"] > SMALL_FILE_RATIO_WARN:
        advice.append(
            f"compact: {signals['small_files']}/{files} files are under "
            f"{small_threshold // 1048576} MiB — run `compact` "
            f"(target {target_bytes // 1048576} MiB)")
    if cluster_column and signals.get("stat_overlap", 0) > OVERLAP_WARN:
        advice.append(
            f"cluster: mean min/max overlap on {cluster_column!r} is "
            f"{signals['stat_overlap']} — Z-order/Hilbert clustering "
            "would tighten file skipping")
    if len(snaps) > SNAPSHOT_DEBT_WARN or off_ancestry:
        advice.append(
            f"expire: {len(snaps)} snapshots in the log "
            f"({len(off_ancestry)} off-ancestry, immediately expirable) — "
            "run `expire` + orphan GC")
    if staged_pending:
        advice.append(
            f"audit: {len(staged_pending)} staged snapshot(s) pending "
            f"publish/drop: {staged_pending} — they pin files until "
            "decided")
    if meta.partition_spec is None and files > 64:
        advice.append(
            "partitioning: table is unpartitioned — bucket-partitioning "
            "the natural key enables point-lookup pruning and co-located "
            "MERGE (`rewrite-partitioning`)")
    if not advice:
        advice.append("healthy: no maintenance indicated")

    signals["engine_ms"] = int((time.monotonic() - t0) * 1000)
    return {"operation": "doctor", "signals": signals, "advice": advice}
