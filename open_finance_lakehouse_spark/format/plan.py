"""The one planner over the snapshot log.

Every read of a frost table is planned here, from metadata alone (the
snapshot chain and the manifests; no Spark session, so the Python
DataSource's planning worker calls it too):

- ``plan_scan``: the files a read of one snapshot opens, after null-count,
  bucket-value and min/max pruning (``LakeTable.plan_files`` and the
  ``format("frost")`` batch reader);
- ``plan_appends``: the files an append-only consumer reads to move its
  cursor across an interval (the ``format("frost")`` stream and
  ``streaming.table_source.incremental_scan``);
- ``plan_changes``: an interval's change units, the inserts of one append
  or the diff of one row-changing commit (``operators.changelog`` and the
  ``format("frost")`` change feed).

An interval is always the parent-chain walk ``ancestry_interval``, and
each commit is classified once, by ``commit_kind``.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass

from open_finance_lakehouse_spark.format import manifests as mf
from open_finance_lakehouse_spark.format import metadata as md

# commit kinds (``commit_kind``)
APPEND, PRESERVE, SCHEMA, CHANGE = "append", "preserve", "schema", "change"

# byte-moving maintenance: the added files carry only rows the table
# already had (the parity gates prove it), so consumers skip these commits
ROW_PRESERVING_OPS = {"rewrite", "cluster", "compact"}


class NonAppendInterval(Exception):
    """A non-append snapshot sits between the cursor and the head — the
    interval has no pure row-delta; consumers must recompute fully."""


def commit_kind(snap: md.Snapshot) -> str:
    """How a commit changed the table's rows.

    ``SCHEMA``: ``rewrite_schema`` (a ``replace``) — the same rows under
    renamed or dropped columns, which earlier rows cannot be read under.
    ``APPEND``: added files only. ``PRESERVE``: compaction, clustering and
    ``rewrite_partitioning`` (a ``rewrite``) — the same rows in new files;
    ``expire`` never lands in the log but is listed defensively.
    ``CHANGE``: anything else (merge, replace, update, delete)."""
    summary = snap.summary or {}
    if summary.get("schema_rewrite") == "true":
        return SCHEMA
    if snap.operation == "append":
        return APPEND
    if (snap.operation in ROW_PRESERVING_OPS or snap.operation == "expire"
            or summary.get("partition_rewrite") == "true"):
        return PRESERVE
    return CHANGE


def ancestry_interval(meta, start_id: int | None, end_id: int | None
                      ) -> list[md.Snapshot]:
    """Snapshots on the CURRENT ancestry chain in (start, end], oldest
    first — the parent-chain walk, NOT a raw id range: snapshots on a
    branch abandoned by rollback stay in the log until expire, and an
    id-range scan would deliver their rows as if committed (phantom
    reads). Raises when the start cursor is not an ancestor of ``end``
    (expired from the log, or a rollback crossed it) — refusing loudly
    beats silently skipping whatever history was dropped."""
    if end_id is None or end_id == start_id:
        return []
    by_id = {s.snapshot_id: s for s in meta.snapshots}
    chain: list[md.Snapshot] = []
    cur = end_id
    while cur is not None and cur != start_id:
        snap = by_id.get(cur)
        if snap is None:
            raise ValueError(
                f"snapshot {cur} missing from the log while walking "
                f"{end_id} -> {start_id}: the cursor expired or a rollback "
                "crossed it — retention must exceed the consumer lag")
        chain.append(snap)
        cur = snap.parent_id
    if cur != start_id and not (cur is None and not start_id):
        raise ValueError(
            f"cursor snapshot {start_id} is not an ancestor of {end_id}")
    return list(reversed(chain))


def live_files(meta, location: str, snapshot_id: int | None = None
               ) -> list[mf.DataFile]:
    """The data files of a snapshot (default: the current one)."""
    snap = meta.snapshot(snapshot_id)
    if snap is None:
        return []
    return [e for m in snap.manifests for e in mf.read_manifest(location, m)]


def added_entries(meta, location: str, snap: md.Snapshot,
                  read=None) -> list[mf.DataFile]:
    """Files a snapshot added = entries of manifests not in its parent.
    Manifests are immutable and reused by path across commits, so the
    path-set diff is exact. ``read`` maps a manifest path to its entries
    (default: read it)."""
    parent = next((s for s in meta.snapshots
                   if s.snapshot_id == snap.parent_id), None)
    if snap.parent_id is not None and parent is None:
        # the parent expired while this child stayed retained (expire
        # keeps the last K chain ancestors): with no parent manifests to
        # diff against, EVERY manifest would read as 'added' and the
        # consumer would silently re-deliver the whole table state —
        # the worst failure a changelog can have. Refuse loudly.
        raise ValueError(
            f"snapshot {snap.snapshot_id}'s parent {snap.parent_id} has "
            "been expired from the log — the added-files diff cannot be "
            "computed exactly; the retention window must exceed the "
            "consumer lag")
    if read is None:
        read = functools.partial(mf.read_manifest, location)
    parent_manifests = set(parent.manifests) if parent else set()
    return [e for m in snap.manifests if m not in parent_manifests
            for e in read(m)]


# ------------------------------------------------------------------ scans


def _prune_buckets(meta, files: list, predicates: list) -> list:
    """Equality/IN predicates on the bucket-partition column keep only the
    buckets their literals hash to: ``pmod(xxhash64(v), num_buckets)``
    (numpy twin, ``functions/xxh64.py`` — bit-exact with the routing
    writer). Min/max stats can't express this — hashing scatters the
    keyspace, so within any one bucket the column's range spans
    ~everything."""
    spec = meta.partition_spec
    if not spec or spec.get("kind") != "bucket" or not files:
        return files
    col = spec["column"]
    cand: set | None = None  # conjunctive: intersect across predicates
    for p in predicates:
        if p.column != col:
            continue
        if p.values is not None:
            vals = {v for v in p.values if v is not None}
        elif p.lo is not None and p.lo == p.hi:
            vals = {p.lo}
        else:
            continue
        cand = vals if cand is None else cand & vals
    if cand is None:
        return files
    from open_finance_lakehouse_spark.functions.xxh64 import buckets_for

    dtype = dict(md.ddl_columns(meta.schema_ddl)).get(col)  # ~20 us
    buckets = buckets_for(cand, dtype, int(spec["num_buckets"]))
    if buckets is None:  # mis-typed literal: hashing would mis-prune
        return files
    return [f for f in files if f.partition in buckets]


def plan_scan(meta, location: str, snapshot_id: int | None = None,
              predicates: list | None = None,
              files: list[mf.DataFile] | None = None,
              ) -> tuple[list[mf.DataFile], int]:
    """Stats-pruned file planning for a read of ``snapshot_id`` (default
    current) under conjunctive ``ColumnRange`` predicates. Returns
    (selected, total_live).

    IS [NOT] NULL tests prune by per-column null counts, equality and IN
    on the bucket column by bucket value (``_prune_buckets``), and every
    other predicate by the files' [min, max] bounds. ``files``: a
    pre-listed inventory (one ``live_files`` read shared across several
    pruning passes)."""
    if files is None:
        files = live_files(meta, location, snapshot_id)
    total = len(files)
    if not predicates:
        return files, total
    null_preds = [p for p in predicates if p.null_test is not None]
    predicates = [p for p in predicates if p.null_test is None]
    if null_preds:
        files = [f for f in files
                 if all(p.matches_nulls(f.nulls(p.column), f.record_count)
                        for p in null_preds)]
    if not predicates:
        return files, total
    # bucket pruning is CURRENT-snapshot only: rewrite_partitioning is
    # copy-on-write, so the head's files are always routed under the
    # current spec — but a time-traveled snapshot may predate a spec
    # flip and its files' routing is unknowable from current metadata
    if snapshot_id is None or snapshot_id == meta.current_snapshot_id:
        files = _prune_buckets(meta, files, predicates)
    kept = [f for f in files
            if all(p.overlaps(f.bounds(p.column)) for p in predicates)]
    return kept, total


# -------------------------------------------------------------- intervals


def plan_appends(meta, location: str, start_id: int | None,
                 end_id: int | None, skip_rewrites: bool = True,
                 initial_live_load: bool = False) -> list[mf.DataFile]:
    """Data files a consumer at cursor ``start_id`` reads to reach
    ``end_id``.

    ``initial_live_load``: the LIVE files of ``end_id`` — the table's
    materialized state, not a log replay (replaying appends would deliver
    nothing once expire has truncated the history behind a rewrite), and
    what Delta's readStream delivers as its first batch.

    Otherwise the ancestry walk: appends contribute their added files,
    row-preserving maintenance is skipped (``skip_rewrites``) or refused,
    and a row-changing or schema-rewriting commit raises
    ``NonAppendInterval``: the interval has no append-only delta."""
    if initial_live_load:
        return live_files(meta, location, end_id) if end_id else []
    snaps = ancestry_interval(meta, start_id, end_id)
    bad = [s for s in snaps if commit_kind(s) in (SCHEMA, CHANGE)]
    if bad:
        raise NonAppendInterval(
            f"snapshots {[s.snapshot_id for s in bad]} are "
            f"{sorted({s.operation for s in bad})}, not append — the "
            "interval has no append-only row delta; recompute the consumer")
    out: list[mf.DataFile] = []
    for s in snaps:
        if commit_kind(s) == APPEND:
            out.extend(added_entries(meta, location, s))
        elif not skip_rewrites:
            raise NonAppendInterval(
                f"snapshot {s.snapshot_id} is a {s.operation} and "
                "skipRewrites=false")
    return out


@dataclass(frozen=True)
class ChangeUnit:
    """One commit's share of a change feed. ``kind="insert"``: every row
    of ``added`` is an insert (an append, or an initial live load).
    ``kind="diff"``: a row-changing commit — ``added`` rows minus
    ``removed`` rows are inserts and the reverse are deletes, as multisets
    (an update is a delete plus an insert; duplicate rows cancel copy for
    copy). Paths are table-relative and sorted."""
    kind: str
    snapshot: md.Snapshot
    added: tuple[str, ...]
    removed: tuple[str, ...] = ()


def plan_changes(meta, location: str, start_id: int | None,
                 end_id: int | None, initial_live_load: bool = False,
                 ) -> list[ChangeUnit]:
    """The change units of the commits after ``start_id`` (exclusive;
    ``None`` = genesis) up to ``end_id`` on the current ancestry.

    Appends are insert units, row-changing commits diff units over only
    the files they touched, and row-preserving maintenance contributes
    nothing. A schema rewrite that opens the interval is skipped; one that
    follows rows refuses (those rows cannot be read under the post-rewrite
    schema). ``initial_live_load``: one insert unit of ``end_id``'s live
    files, stamped with ``end_id`` (a stream start from the beginning).

    Each manifest is read at most once per plan: consecutive commits share
    their boundary live set instead of re-reading it."""
    if initial_live_load:
        if not end_id:
            return []
        added = tuple(sorted(f.file_path
                             for f in live_files(meta, location, end_id)))
        return [ChangeUnit("insert", meta.snapshot(end_id), added)] \
            if added else []

    @functools.lru_cache(maxsize=None)
    def read(manifest: str) -> list[mf.DataFile]:
        return mf.read_manifest(location, manifest)

    def live(snapshot_id: int | None) -> set[str]:
        if snapshot_id is None:
            return set()  # genesis: no files before the first commit
        return {e.file_path for m in meta.snapshot(snapshot_id).manifests
                for e in read(m)}

    units: list[ChangeUnit] = []
    for snap in ancestry_interval(meta, start_id, end_id):
        kind = commit_kind(snap)
        if kind == SCHEMA:
            if units:
                raise ValueError(
                    f"change interval crosses schema rewrite "
                    f"{snap.snapshot_id}: rows committed before it cannot "
                    "be read under the post-rewrite schema — restart the "
                    f"consumer from snapshot {snap.snapshot_id} or later")
            continue
        if kind == PRESERVE:
            continue
        if kind == APPEND:
            unit = ChangeUnit("insert", snap, tuple(sorted(
                e.file_path for e in added_entries(meta, location, snap,
                                                   read))))
        else:
            prev, cur = live(snap.parent_id), live(snap.snapshot_id)
            unit = ChangeUnit("diff", snap, tuple(sorted(cur - prev)),
                              tuple(sorted(prev - cur)))
        if unit.added or unit.removed:
            units.append(unit)
    return units
