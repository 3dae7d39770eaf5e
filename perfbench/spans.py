"""Span recorder for the traced run, built only from the benchmark's files.

``install()`` replaces the engine's public functions with wrappers, in the
namespaces their callers resolve them from (a module attribute, or the name
a caller imported), and ``uninstall()`` puts the originals back; the package
itself is never edited.  Each span records its name, start, end, thread,
parent span and the trace id of the benchmark operation that caused it.
Spans stay in memory; ``self_times`` turns them into self time per span
name (duration minus the part of it covered by child spans).

A span times the call, not the Spark work the call plans.  Functions that
return a lazy DataFrame (``LakeTable.scan`` past its planning,
``snr_violations``, ``scan_parity``) only build the plan inside their span;
the ``count()``/``collect()`` that runs it is charged to the caller.  So
the traced run reports no self time for the audit spans (the gates' time
comes from the engine's own ``snr_audit_ms`` / ``parity_ms``), and the
self time of ``format.scan`` is DataFrame construction only.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    parent: int | None
    trace: int | None
    name: str
    start: float
    end: float = 0.0
    error: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Recorder:
    def __init__(self):
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._local = threading.local()
        # spans opened on engine worker threads (merge partition pool, the
        # overlapped SNR audit) have no stack of their own: they attach to
        # the innermost open span of the thread running the operation,
        # which waits inside the call that started the workers
        self._op_stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, op: bool = False) -> Span:
        stack = self._stack()
        parent = (stack or self._op_stack or [None])[-1]
        sp = Span(next(self._ids), parent.sid if parent else None,
                  parent.trace if parent else None, name, time.perf_counter())
        if op:
            sp.trace = sp.sid
            self._op_stack = stack
        stack.append(sp)
        self.spans.append(sp)
        return sp

    def close(self, sp: Span, error: BaseException | None = None) -> None:
        sp.end = time.perf_counter()
        if error is not None:
            sp.error = type(error).__name__
        stack = self._stack()
        if stack and stack[-1] is sp:
            stack.pop()
        if sp.sid == sp.trace:  # an operation ended
            self._op_stack = []

    # ---------------------------------------------------------- patching

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        orig = getattr(owner, attr)
        rec = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            sp = rec.open(name)
            try:
                out = orig(*args, **kwargs)
            except BaseException as e:
                rec.close(sp, e)
                raise
            if on_result is not None:
                on_result(sp, args, out)
            rec.close(sp)
            return out

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # ---------------------------------------------------------- analysis

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def under(self, op_name: str, name: str) -> list[Span]:
        """Spans called ``name`` inside operations called ``op_name``."""
        ops = {s.sid for s in self.spans if s.name == op_name}
        return [s for s in self.spans if s.name == name and s.trace in ops]

    def count_within(self, name: str, ancestor: str) -> int:
        """Spans called ``name`` with an ancestor span called ``ancestor``."""
        by_id = {s.sid: s for s in self.spans}
        n = 0
        for s in self.named(name):
            p = by_id.get(s.parent)
            while p is not None and p.name != ancestor:
                p = by_id.get(p.parent)
            n += p is not None
        return n

    def self_times(self) -> dict[str, float]:
        """Total self time in ms per span name; overlapping children (the
        engine's worker threads) are merged before subtracting."""
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(kids[s.sid], key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s.name] += (s.end - s.start - covered) * 1000.0
        return dict(out)


def install(rec: Recorder) -> None:
    """Wrap each layer's public entry points (see README for the map)."""
    from open_finance_lakehouse_spark.format import manifests, metadata
    from open_finance_lakehouse_spark.format.table import LakeTable
    from open_finance_lakehouse_spark.plans.ledger import CheckpointLedger

    # the operators package re-exports functions under their modules' names
    audit, cluster, delete_where, expire, merge_into, pipeline = (
        importlib.import_module(f"open_finance_lakehouse_spark.operators.{m}")
        for m in ("audit", "cluster", "delete_where", "expire", "merge_into",
                  "pipeline"))

    def planned(sp, args, out):
        sp.attrs["selected"], sp.attrs["total"] = len(out[0]), out[1]

    def orphans(sp, args, out):
        rec.counts["orphans_deleted"] += len(out)

    def metadata_written(sp, args, out):
        rec.counts["metadata_json_bytes"] = os.path.getsize(out)

    rec.wrap(LakeTable, "plan_files", "format.plan_files", planned)
    rec.wrap(LakeTable, "scan", "format.scan")
    rec.wrap(LakeTable, "stage_dataframe", "format.stage")
    for commit in ("commit_append", "commit_rewrite", "commit_replace",
                   "commit_rewrite_manifests"):
        rec.wrap(LakeTable, commit, "format.commit")
    rec.wrap(LakeTable, "expire_snapshots", "format.expire_snapshots")
    rec.wrap(LakeTable, "delete_orphans", "format.delete_orphans", orphans)
    rec.wrap(LakeTable, "append", "operators.append")
    rec.wrap(manifests, "read_manifest", "format.read_manifest")
    rec.wrap(metadata, "write_metadata_exclusive", "format.write_metadata",
             metadata_written)
    # pipeline imported these names itself: patch where it resolves them
    rec.wrap(cluster, "cluster_global", "operators.cluster")
    rec.wrap(pipeline, "cluster_global", "operators.cluster")
    rec.wrap(pipeline, "expire", "operators.expire")
    rec.wrap(expire, "expire", "operators.expire")
    rec.wrap(pipeline, "run_maintenance", "operators.run_maintenance")
    rec.wrap(audit, "snr_violations", "operators.audit.snr")
    rec.wrap(audit, "scan_parity", "operators.audit.parity")
    rec.wrap(merge_into, "merge_into", "operators.merge_into")
    rec.wrap(delete_where, "delete_where", "operators.delete_where")
    rec.wrap(CheckpointLedger, "upsert", "plans.ledger.upsert")


# span names whose self time the traced run reports (BENCHMARK.json lists
# each as ``self_ms.<name>``)
SELF_TIME_SPANS = (
    "op.setup", "op.maintenance", "op.lookup", "op.range", "op.scan",
    "op.append", "op.merge", "op.delete", "op.verify",
    "format.plan_files", "format.scan", "format.stage", "format.commit",
    "format.expire_snapshots", "format.delete_orphans",
    "format.read_manifest", "format.write_metadata",
    "operators.append", "operators.cluster", "operators.expire",
    "operators.run_maintenance", "operators.merge_into",
    "operators.delete_where", "plans.ledger.upsert",
)
