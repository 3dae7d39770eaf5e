"""Check-then-overwrite gold publish: full-rebuild sink with
withhold-on-breach.

The reference's gold runner materializes each mart, runs its checks, and
PUBLISHES ONLY IF every check returns zero rows — a breach withholds the
overwrite and the previous published state stays current
(/root/reference/ofl/transform/gold/runner.py:82-107,165-203). Re-expressed
on the frost format: the candidate DataFrame is staged once, every check
(a callable returning VIOLATING rows — empty means pass) runs against the
staged files, and only a fully-green candidate gets the ``replace`` commit.

Running checks against the *staged parquet* rather than the logical plan
means (a) the candidate is computed exactly once however many checks read
it, and (b) what was checked is byte-for-byte what gets published. A
withheld publish leaves only unreferenced staged files, which orphan GC
sweeps after the grace window.
"""

from __future__ import annotations

import os
import time
from typing import Callable

from pyspark.sql import DataFrame

from open_finance_lakehouse_spark.format.table import LakeTable

Check = Callable[[DataFrame], DataFrame]


def publish_overwrite(
    table: LakeTable,
    candidate: DataFrame,
    checks: dict[str, Check] | None = None,
    max_records_per_file: int | None = None,
    max_violations_shown: int = 20,
    summary: dict | None = None,
) -> dict:
    """Stage → check → replace-or-withhold. Returns a report:

    ``{"published": bool, "snapshot_id": int | None,
       "violations": {check_name: [row dicts]}, "rows": int, "engine_ms": int}``
    """
    from pyspark.sql import functions as F

    from open_finance_lakehouse_spark.quality import contracts as qc

    t0 = time.monotonic()
    # the same write gates every append enforces (a publish is a write):
    # a misnamed/mistyped candidate column would stage fine and read back
    # all-NULL under the table schema — published silent corruption
    schema = table.schema()
    qc.check_schema(candidate, schema)
    contract = qc.Contract.from_properties(table.meta.properties)
    staged_spec = table.meta.partition_spec  # commit is conditional on it
    added = table.stage_dataframe(candidate,
                                  max_records_per_file=max_records_per_file)
    staged_paths = [os.path.join(table.location, a.file_path) for a in added]
    staged = (
        table.spark.read.schema(schema).parquet(*staged_paths)
        if staged_paths else table._empty_df()
    )

    violations: dict[str, list[dict]] = {}
    if contract is not None:
        # the table contract is a check every writer runs — the publish
        # lane expresses a breach as a withheld publish (its native
        # failure mode) instead of append's reject/dead-letter
        bad = [r.asDict() for r in
               qc.tag_violations(staged, contract)
               .filter(F.col(qc.VIOLATION_COL).isNotNull())
               .limit(max_violations_shown).collect()]
        if bad:
            violations["_contract"] = bad
    for name, check in (checks or {}).items():
        bad = [r.asDict() for r in
               check(staged).limit(max_violations_shown).collect()]
        if bad:
            violations[name] = bad

    if violations:
        # withhold: staged files stay unreferenced; orphan GC collects them
        return {
            "published": False, "snapshot_id": None,
            "violations": violations,
            "rows": sum(a.record_count for a in added),
            "engine_ms": int((time.monotonic() - t0) * 1000),
        }
    snap = table.commit_replace(added, summary=summary,
                                expect_partition_spec=staged_spec)
    return {
        "published": True, "snapshot_id": snap.snapshot_id, "violations": {},
        "rows": sum(a.record_count for a in added),
        "engine_ms": int((time.monotonic() - t0) * 1000),
    }


def append_audited(
    table: LakeTable,
    batch: DataFrame,
    checks: dict[str, Check] | None = None,
    max_records_per_file: int | None = None,
    max_violations_shown: int = 20,
    summary: dict | None = None,
) -> dict:
    """Write-audit-publish for APPENDS (Iceberg wap.id workflow), the
    incremental sibling of ``publish_overwrite``'s full-rebuild gate:
    stage the batch as an off-ancestry snapshot, run every check against
    the FULL WOULD-BE TABLE STATE at that snapshot (so global invariants
    — cross-batch uniqueness, referential counts — are auditable, not
    just batch-local rules), then publish (fast-forward or cherry-pick
    if other commits landed meanwhile) or drop. Readers never observe an
    unaudited row; a dropped batch leaves only GC-able orphans.
    Schema/contract gates ride ``append_staged``/the checks — the staged
    write is an append and gets every append-path write gate.

    Returns ``{"published": bool, "snapshot_id": int | None,
    "staged_snapshot_id": int, "violations": {...}, "rows": int,
    "engine_ms": int}``."""
    t0 = time.monotonic()
    snap = table.append_staged(batch, max_records_per_file, summary)
    out = audit_staged(table, snap.snapshot_id, checks,
                       max_violations_shown=max_violations_shown)
    out["engine_ms"] = int((time.monotonic() - t0) * 1000)
    return out


def audit_staged(
    table: LakeTable,
    snapshot_id: int,
    checks: dict[str, Check] | None = None,
    max_violations_shown: int = 20,
    drop_on_breach: bool = True,
) -> dict:
    """Audit an EXISTING staged snapshot and decide it: checks run on the
    full would-be state; green → ``publish_staged``, breach →
    ``drop_staged`` (or keep it pending when ``drop_on_breach=False`` so
    the caller can dead-letter the batch's rows first). The resume half
    of write-audit-publish: a crash between stage and decision replays
    into this function with the already-staged snapshot id — INCLUDING a
    crash after the decision: an already-published snapshot (fast-forward
    keeps it with ``staged='false'``; cherry-pick consumes it, leaving a
    twin stamped ``cherry_picked_from``) returns the prior outcome with
    ``replayed=True``, and a vanished snapshot with no published twin
    reports the drop. (Caveat: if the published twin has itself been
    EXPIRED, the replay reads as dropped — retention must exceed replay
    lag, the engine-wide cursor rule.)"""
    t0 = time.monotonic()
    meta = table.refresh().meta
    snap = next((s for s in meta.snapshots
                 if s.snapshot_id == snapshot_id), None)
    if snap is None or snap.summary.get("staged") != "true":
        if snap is not None:  # fast-forward published, still in the log
            pub = snap
        else:
            pub = next(
                (s for s in meta.snapshots
                 if s.summary.get("cherry_picked_from") == snapshot_id),
                None)
        if pub is not None:
            return {
                "published": True, "snapshot_id": pub.snapshot_id,
                "staged_snapshot_id": snapshot_id, "violations": {},
                "rows": int(pub.summary.get("added_records", 0)),
                "replayed": True,
                "engine_ms": int((time.monotonic() - t0) * 1000),
            }
        return {
            "published": False, "snapshot_id": None,
            "staged_snapshot_id": snapshot_id, "dropped": True,
            "violations": {}, "rows": 0, "replayed": True,
            "engine_ms": int((time.monotonic() - t0) * 1000),
        }
    staged_state = table.scan(snapshot_id=snapshot_id)

    violations: dict[str, list[dict]] = {}
    for name, check in (checks or {}).items():
        bad = [r.asDict() for r in
               check(staged_state).limit(max_violations_shown).collect()]
        if bad:
            violations[name] = bad

    rows = int(snap.summary.get("added_records", 0))
    if violations:
        if drop_on_breach:
            table.drop_staged(snapshot_id)
        return {
            "published": False, "snapshot_id": None,
            "staged_snapshot_id": snapshot_id,
            "dropped": drop_on_breach,
            "violations": violations, "rows": rows,
            "engine_ms": int((time.monotonic() - t0) * 1000),
        }
    pub = table.publish_staged(snapshot_id)
    return {
        "published": True, "snapshot_id": pub.snapshot_id,
        "staged_snapshot_id": snapshot_id,
        "violations": {}, "rows": rows,
        "engine_ms": int((time.monotonic() - t0) * 1000),
    }
