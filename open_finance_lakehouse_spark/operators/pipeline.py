"""The full maintenance pipeline: compact → cluster → expire (+ gates).

This is the product surface the north_rule names — "maintenance implemented
and callable" (the reference's stance, /root/reference/README.md:314-317) —
with throughput measured the reference's way: clips/sec divides the live row
count by *engine-measured* stage time, never JVM startup
(/root/reference/ofl/streaming/metrics.py:17-20,53-62 divides by trigger
execution time); run metrics and table-state metrics are reported separately
(metrics.py:1-26).

Post-maintenance gates (BASELINE.json invariants) are pipeline stages, not
afterthoughts, and they are scheduled for the cluster's benefit:

- the per-row decoded-PCM **SNR audit** is CPU-bound; the clustering rewrite
  is IO-wall-bound. ``snr_gate="overlap"`` runs the audit as a CONCURRENT
  Spark job over the pre-rewrite snapshot (snapshot isolation keeps those
  files live until expire, which runs after the join) — the audit soaks the
  cores the rewrite leaves idle, so the blend scales like the CPU-bound
  stage (the r1 scaling-efficiency lever).
- the **parity gate** (byte-identical row sets, before vs after) runs
  BEFORE expire/GC so both sides' files are guaranteed on disk — never a
  cache-resurrected read of deleted paths (r1 ADVICE).
- auditing the BEFORE image + byte-parity TOGETHER imply the after-image
  SNR invariant (rows are byte-identical), so no decode pass depends on the
  rewrite finishing.
"""

from __future__ import annotations

import threading
import time
import uuid

from pyspark.sql import SparkSession

from open_finance_lakehouse_spark.format.table import LakeTable
from open_finance_lakehouse_spark.operators import audit as audit_ops
from open_finance_lakehouse_spark.operators.cluster import cluster_global
from open_finance_lakehouse_spark.operators.compact import compact
from open_finance_lakehouse_spark.operators.expire import expire
from open_finance_lakehouse_spark.plans.ledger import CheckpointLedger

# "not passed" sentinel: these knobs default to the TABLE's declared
# maintenance.* properties (operators/config.py), explicit args override
_UNSET = object()


def run_maintenance(
    table: LakeTable,
    ledger: CheckpointLedger,
    job_id: str | None = None,
    target_bytes=_UNSET,
    curve=_UNSET,
    retain_last=_UNSET,
    with_audit: bool = True,
    spark_for_audit: SparkSession | None = None,
    subsume_compaction: bool = True,
    gc_grace_ms=_UNSET,
    snr_gate=_UNSET,
    parity_gate=_UNSET,
) -> dict:
    """compact → cluster → (SNR/parity gates) → expire; returns run metrics
    + (optionally) an independently-read table audit.

    Tuning knobs left unset resolve from the table's declared
    ``maintenance.*`` properties (the reference's registry-drives-everything
    discipline, /root/reference/ofl/registry.py:19-111): a bare
    ``run_maintenance(table, ledger)`` honors the per-table config.

    ``subsume_compaction`` (default): when clustering runs, the separate
    compaction pass is skipped — the clustering rewrite already re-packs
    every partition into target-size files, so a prior compaction would
    move every byte twice. This mirrors the reference, whose single
    ``OPTIMIZE ... ZORDER BY`` call IS compaction+clustering in one rewrite
    (/root/reference/ofl/transform/spark/silver.py:368-371). Set
    ``curve=None`` for compaction-only maintenance.

    ``snr_gate``: "off" | "serial" | "overlap" — per-row decoded-PCM SNR
    check (≥30 dB) over the pre-rewrite snapshot; "overlap" runs it
    concurrently with the rewrite (FAIR scheduler shares the cluster).
    ``parity_gate``: byte-identity check before vs after the rewrite, run
    pre-expire. ``engine_ms`` is the wall time of the whole execute phase
    (gates included), so overlapped work counts once."""
    from open_finance_lakehouse_spark.operators.audit import (
        scan_parity,
        snr_violations,
    )
    from open_finance_lakehouse_spark.operators.config import (
        maintenance_config,
    )

    cfg = maintenance_config(table)
    target_bytes = cfg["target_bytes"] if target_bytes is _UNSET else target_bytes
    curve = cfg["curve"] if curve is _UNSET else curve
    retain_last = cfg["retain_last"] if retain_last is _UNSET else retain_last
    gc_grace_ms = cfg["gc_grace_ms"] if gc_grace_ms is _UNSET else gc_grace_ms
    snr_gate = cfg["snr_gate"] if snr_gate is _UNSET else snr_gate
    parity_gate = cfg["parity_gate"] if parity_gate is _UNSET else parity_gate

    # mode knobs refuse unknown values LOUDLY (the engine-wide
    # no-silent-fallback discipline): a typo'd snr_gate would silently
    # disable the corruption gate and then expire the rollback snapshot
    if snr_gate not in (None, "off", "overlap", "serial"):
        raise ValueError(
            f"snr_gate={snr_gate!r}: expected 'off', 'overlap', or "
            "'serial'")

    job_id = job_id or f"maint-{uuid.uuid4().hex[:12]}"
    # manifest record counts: a driver-side sum, no Spark job
    clip_count = sum(f.record_count for f in table.live_files())
    pre_snapshot = table.current_snapshot_id()

    t_start = time.monotonic()
    stages: dict = {}
    gates: dict = {}

    audit_result: dict = {}

    def run_snr_audit():
        t0 = time.monotonic()
        try:
            bad = snr_violations(table.scan(snapshot_id=pre_snapshot)).count()
            audit_result["snr_violations"] = int(bad)
        except Exception as e:  # surfaced in metrics, never swallowed
            audit_result["snr_error"] = repr(e)
        audit_result["snr_audit_ms"] = int((time.monotonic() - t0) * 1000)

    audit_thread = None
    if snr_gate == "overlap":
        audit_thread = threading.Thread(target=run_snr_audit, daemon=True)
        audit_thread.start()

    if curve is None or not subsume_compaction:
        stages["compact"] = compact(
            table, ledger, f"{job_id}/compact", target_bytes=target_bytes)
    if curve is not None:
        stages["cluster"] = cluster_global(
            table, ledger, f"{job_id}/cluster", curve=curve,
            target_bytes=target_bytes)

    if snr_gate == "serial":
        run_snr_audit()
    if audit_thread is not None:
        audit_thread.join()
    gates.update(audit_result)

    if parity_gate:
        # BEFORE expire: both snapshots' files are still live on disk
        t0 = time.monotonic()
        bad = scan_parity(table.scan(snapshot_id=pre_snapshot),
                          table.scan()).count()
        gates["parity_violations"] = int(bad)
        gates["parity_ms"] = int((time.monotonic() - t0) * 1000)

    # the gates GATE: a violation means the rewrite is suspect, and the
    # pre-rewrite snapshot is the only rollback path — expire + orphan GC
    # (which would destroy it) are WITHHELD, exactly like publish_overwrite
    # withholds on a failed check. The caller gets the evidence + a flag.
    gate_failed = bool(gates.get("parity_violations")
                       or gates.get("snr_violations")
                       or gates.get("snr_error"))
    if gate_failed:
        stages["expire"] = {"skipped": "gate_failure",
                            "rollback_to": pre_snapshot}
    else:
        gc_kw = {} if gc_grace_ms is None else {"gc_grace_ms": gc_grace_ms}
        stages["expire"] = expire(
            table, ledger, f"{job_id}/expire", retain_last=retain_last,
            **gc_kw)

    engine_ms = int((time.monotonic() - t_start) * 1000)
    metrics = {
        "job_id": job_id,
        "clips": clip_count,
        "engine_ms": engine_ms,
        "clips_per_sec": (clip_count / (engine_ms / 1000.0)) if engine_ms else 0.0,
        "stages": stages,
        "gates": gates,
        "gate_failed": gate_failed,
    }
    if with_audit:
        # table state witnessed by a fresh metadata read, not writer state
        metrics["table_audit"] = audit_ops.independent_audit(
            table.location, spark_for_audit or table.spark)
    return metrics
