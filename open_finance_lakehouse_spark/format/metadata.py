"""Table metadata: versioned JSON documents + snapshot log.

Model (a deliberately small subset of the public Apache Iceberg spec,
reimplemented from the spec's ideas, not its code):

- ``metadata/v{N}.metadata.json`` — immutable, atomically created with
  O_EXCL; the table's current state is the highest N present. Concurrent
  committers race on creating v{N+1}; the loser re-reads and revalidates
  (optimistic concurrency). On a local/NFS/HDFS filesystem exclusive create
  is atomic; on S3-style object stores a catalog swap would replace this —
  the commit protocol is isolated in ``LakeTable._try_commit`` so only that
  seam changes at deployment scale.
- each snapshot points at a list of immutable manifest Parquet files; a
  manifest lists data files with per-file stats (see ``manifests.py``).

The reference's analogue is the Delta transaction log it leans on for
idempotence and time travel (/root/reference/ofl/streaming/bronze.py:185-194);
ours is built from scratch because the environment has no table-format jar.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from dataclasses import asdict, dataclass, field, replace

_VERSION_RE = re.compile(r"^v(\d+)\.metadata\.json$")


class AncestryTruncated(ValueError):
    """The parent-chain walk hit an EXPIRED snapshot: the state the caller
    asked for is no longer reproducible.  A distinct type (not message
    text) because callers must tell this apart from the benign 'oldest
    commit is newer than the timestamp' miss — frost's
    ``startingTimestampMs`` refuses the former and falls back to the
    initial load for the latter."""


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    sequence_number: int
    timestamp_ms: int
    operation: str  # append | rewrite | overwrite | merge | expire
    manifests: list[str]  # paths relative to the table root
    summary: dict = field(default_factory=dict)
    # The table schema AT COMMIT TIME (Iceberg's schema-per-snapshot idea):
    # time travel reads a snapshot with the schema it was committed under,
    # not the table's current one. None = legacy snapshot predating schema
    # evolution; readers fall back to the current schema.
    schema_ddl: str | None = None


@dataclass
class TableMetadata:
    table_uuid: str
    name: str
    location: str
    schema_ddl: str
    partition_spec: dict | None  # {"kind": "bucket", "column": c, "num_buckets": n}
    properties: dict
    current_snapshot_id: int | None
    snapshots: list[Snapshot]
    version: int = 0
    # Highest snapshot id EVER issued for this table — monotone for the
    # table's lifetime, never reset by expire. Without it, expiring an
    # abandoned rollback branch would let ``next_snapshot`` (which used to
    # derive the id from the surviving log) re-issue an expired snapshot's
    # id, silently re-binding every held reference (scan(snapshot_id=...),
    # incremental cursors, ledger committed_snapshot_id) to different data.
    last_snapshot_id: int = 0

    # -- snapshot helpers ---------------------------------------------------

    def snapshot(self, snapshot_id: int | None = None) -> Snapshot | None:
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id
        if sid is None:
            return None
        for s in self.snapshots:
            if s.snapshot_id == sid:
                return s
        raise ValueError(f"snapshot {sid} not found in {self.name}")

    def snapshot_as_of(self, ts_ms: int) -> "Snapshot":
        """Newest snapshot on the CURRENT ancestry chain with
        ``timestamp_ms <= ts_ms`` — Iceberg ``TIMESTAMP AS OF`` semantics
        over the main lineage (the reference time-travels Delta the same
        way, "timestampAsOf" in /root/reference/ofl/io/delta.py).  The
        parent-chain walk, not a log scan: snapshots abandoned by rollback
        are not candidates, exactly like ``ancestry_interval``."""
        by_id = {s.snapshot_id: s for s in self.snapshots}
        cur = self.current_snapshot_id
        while cur is not None:
            snap = by_id.get(cur)
            if snap is None:
                raise AncestryTruncated(
                    f"ancestry of {self.name} is truncated at snapshot "
                    f"{cur} (expired): no readable snapshot at or before "
                    f"timestamp {ts_ms}")
            if snap.timestamp_ms <= ts_ms:
                return snap
            cur = snap.parent_id
        raise ValueError(
            f"no snapshot at or before timestamp {ts_ms} on the current "
            f"lineage of {self.name} — the oldest commit is newer")

    def next_snapshot(
        self, operation: str, manifests: list[str], summary: dict
    ) -> Snapshot:
        # id source is last_snapshot_id (lifetime-monotone), guarded by the
        # in-log maximum for metadata written before the counter existed
        sid = max(self.last_snapshot_id,
                  max((s.snapshot_id for s in self.snapshots), default=0)) + 1
        return Snapshot(
            snapshot_id=sid,
            parent_id=self.current_snapshot_id,
            sequence_number=sid,
            timestamp_ms=int(time.time() * 1000),
            operation=operation,
            manifests=manifests,
            summary=summary,
            schema_ddl=self.schema_ddl,
        )

    def with_snapshot(self, snap: Snapshot) -> "TableMetadata":
        return replace(
            self,
            properties=dict(self.properties),
            current_snapshot_id=snap.snapshot_id,
            snapshots=[*self.snapshots, snap],
            last_snapshot_id=max(self.last_snapshot_id, snap.snapshot_id),
        )

    def with_staged_snapshot(self, snap: Snapshot) -> "TableMetadata":
        """Record the snapshot in the log WITHOUT making it current —
        Iceberg's write-audit-publish staging (``wap.id`` commits): the
        snapshot is readable by id for auditing, its files are reachable
        (GC-safe), but the table's readers don't see it until
        ``LakeTable.publish_staged``."""
        return replace(
            self,
            properties=dict(self.properties),
            snapshots=[*self.snapshots, snap],
            last_snapshot_id=max(self.last_snapshot_id, snap.snapshot_id),
        )

    # -- (de)serialization ----------------------------------------------------

    def to_json(self) -> str:
        doc = asdict(self)
        doc.pop("version")
        doc["format_version"] = 1
        return json.dumps(doc, indent=1, sort_keys=True)

    @staticmethod
    def from_json(text: str, version: int) -> "TableMetadata":
        doc = json.loads(text)
        doc.pop("format_version", None)
        snaps = [Snapshot(**s) for s in doc.pop("snapshots")]
        # pre-counter metadata: seed from the surviving log (best available)
        doc.setdefault("last_snapshot_id",
                       max((s.snapshot_id for s in snaps), default=0))
        return TableMetadata(snapshots=snaps, version=version, **doc)


def new_table_metadata(
    name: str,
    location: str,
    schema_ddl: str,
    partition_spec: dict | None,
    properties: dict | None,
) -> TableMetadata:
    return TableMetadata(
        table_uuid=str(uuid.uuid4()),
        name=name,
        location=location,
        schema_ddl=schema_ddl,
        partition_spec=partition_spec,
        properties=properties or {},
        current_snapshot_id=None,
        snapshots=[],
        version=0,
    )


# ---------------------------------------------------------------------------
# filesystem IO
# ---------------------------------------------------------------------------


def metadata_dir(location: str) -> str:
    return os.path.join(location, "metadata")


def list_metadata_versions(location: str) -> list[int]:
    try:
        names = os.listdir(metadata_dir(location))
    except FileNotFoundError:
        return []
    return sorted(
        int(m.group(1)) for n in names if (m := _VERSION_RE.match(n)) is not None
    )


# how old an EMPTY head version file must be before readers treat it as
# the corpse of a writer that died between the O_EXCL claim and
# os.replace (no-hardlink fallback) and remove it — generous versus the
# sub-millisecond claim->replace window, same bounded-staleness
# assumption object-store CAS fallbacks make
DEAD_CLAIM_AGE_MS = 60_000


def read_current_metadata(location: str) -> TableMetadata:
    versions = list_metadata_versions(location)
    if not versions:
        raise FileNotFoundError(f"no table metadata at {location}")
    v = versions[-1]
    path = os.path.join(metadata_dir(location), f"v{v}.metadata.json")
    # On filesystems without hard-link support the writer falls back to
    # O_EXCL-claim + atomic replace (see write_metadata_exclusive), which
    # exposes an empty head for a moment between the two steps — retry
    # briefly before declaring the document corrupt.
    for _ in range(5):
        with open(path, encoding="utf-8") as f:
            text = f.read()
        try:
            return TableMetadata.from_json(text, version=v)
        except (json.JSONDecodeError, ValueError, KeyError, TypeError):
            time.sleep(0.01)
    # dead-claim recovery: content lands atomically (link/replace), so a
    # still-EMPTY head this old is the corpse of a fallback writer that
    # died after claiming the name — without recovery it bricks the
    # table forever (readers always pick the highest version; committers
    # can never re-claim the name). Non-empty-but-unparseable stays a
    # hard error: that is real corruption, not a known crash window.
    try:
        dead = (os.path.getsize(path) == 0
                and (time.time() - os.path.getmtime(path)) * 1000
                >= DEAD_CLAIM_AGE_MS)
    except OSError:
        dead = False
    if dead:
        try:
            os.unlink(path)
        except OSError:
            pass  # a concurrent reader already recovered it
        # recurse only once the corpse is gone: an unlink that keeps
        # failing (permissions, read-only mount) must surface as the
        # unreadable-head error, not as unbounded recursion
        if not os.path.exists(path):
            return read_current_metadata(location)
    raise ValueError(f"unreadable table metadata document: {path}")


def write_metadata_exclusive(meta: TableMetadata, version: int) -> str:
    """Atomically create v{version}; raises FileExistsError on a lost race.

    Content atomicity matters as much as existence: an O_EXCL create
    followed by the write would let a concurrent reader observe a
    partially-written document (caught by the cross-process race test).
    So the document is fully written + fsync'd to a temp file first, then
    ``os.link``ed into place — link is the CAS (EEXIST → FileExistsError)
    and the file is never visible with incomplete content.

    Filesystems without hard-link support (some network mounts) get a
    degraded-but-still-CAS fallback: claim the version name with O_EXCL
    (losers still get FileExistsError), then atomically swap the fsync'd
    content in with ``os.replace``; readers that hit the sub-millisecond
    claim→replace window retry (``read_current_metadata``). A writer whose
    claim was recovered as dead meanwhile no longer owns the path's inode
    and raises FileExistsError instead of replacing."""
    d = metadata_dir(meta.location)
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"v{version}.metadata.json")
    tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(meta.to_json())
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, path)
    except FileExistsError:
        os.unlink(tmp)
        raise
    except OSError:
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            os.unlink(tmp)
            raise
        try:
            # a stall past DEAD_CLAIM_AGE_MS lets a reader recover this
            # (still empty) claim and another committer take the version:
            # replacing then would overwrite that commit, so the claim
            # must still be ours — same inode at the path — or we lost
            try:
                ours = os.fstat(fd).st_ino == os.stat(path).st_ino
            except FileNotFoundError:
                ours = False
        finally:
            os.close(fd)
        if not ours:
            os.unlink(tmp)
            raise FileExistsError(
                f"claim on {path} was recovered by a reader (writer "
                "stalled past the dead-claim age)")
        try:
            os.replace(tmp, path)  # consumes tmp
        except OSError:
            # the claim must not outlive a failed content swap (e.g. the
            # tmp file was swept): an empty head file at the highest
            # version would brick every reader AND block this version id
            # for every future committer
            try:
                os.unlink(path)
            except OSError:
                pass
            raise
        return path
    os.unlink(tmp)
    return path


def sweep_stale_tmp(location: str, max_age_ms: int = 3_600_000) -> list[str]:
    """Remove ``.tmp-*`` litter in metadata/ left by writers that died
    between fsync and the link CAS (orphan GC sweeps only data/, so these
    would otherwise accumulate forever). The age gate keeps a live
    writer's in-flight temp file safe; called from ``delete_orphans``."""
    d = metadata_dir(location)
    removed: list[str] = []
    try:
        names = os.listdir(d)
    except FileNotFoundError:
        return removed
    now_ms = time.time() * 1000
    for n in names:
        if not n.startswith(".tmp-"):
            continue
        p = os.path.join(d, n)
        try:
            if now_ms - os.path.getmtime(p) * 1000 >= max_age_ms:
                os.unlink(p)
                removed.append(p)
        except FileNotFoundError:
            pass  # a concurrent sweep or the owning writer finished
    return removed


# ------------------------------------------------------- DDL parsing

_TYPE_ALIASES = {"integer": "int", "long": "bigint", "short": "smallint",
                 "byte": "tinyint", "real": "float", "bool": "boolean"}


def norm_ddl_type(typ: str) -> str:
    t = "".join(typ.split()).lower()
    return _TYPE_ALIASES.get(t, t)


def ddl_columns(ddl: str) -> list[tuple[str, str]]:
    """Top-level ``(name, normalized_type)`` pairs of a DDL string, no
    SparkContext needed: depth-aware split (map<k,v>/struct<...> commas
    don't break it) and backtick-quoted names are opaque spans (names
    containing commas/spaces parse whole).  THE one DDL parser — the
    frost data source and the table format both resolve column names
    through it, so they can never disagree."""
    cols, depth, cur, in_bt = [], 0, [], False

    def emit(tok: str):
        tok = tok.strip()
        if not tok:
            return
        if tok.startswith("`"):
            # a literal backtick inside a quoted name is escaped by
            # doubling (Spark's quoteIfNeeded) — skip `` pairs when
            # looking for the closing quote
            name_chars, i = [], 1
            while i < len(tok):
                if tok[i] == "`":
                    if i + 1 < len(tok) and tok[i + 1] == "`":
                        name_chars.append("`")
                        i += 2
                        continue
                    break
                name_chars.append(tok[i])
                i += 1
            name, typ = "".join(name_chars), tok[i + 1:]
        else:
            parts = tok.split(None, 1)
            name, typ = parts[0], parts[1] if len(parts) > 1 else ""
        cols.append((name, norm_ddl_type(typ)))

    for ch in ddl:
        if ch == "`":
            in_bt = not in_bt
        if not in_bt:
            if ch in "<(":
                depth += 1
            elif ch in ">)":
                depth -= 1
            if ch == "," and depth == 0:
                emit("".join(cur))
                cur = []
                continue
        cur.append(ch)
    emit("".join(cur))
    return cols
