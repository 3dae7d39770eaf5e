"""``spark.readStream.format("frost")`` — push-mode streaming FROM a frost
table via Spark 4's Python Data Source API (closes VERDICT r2 missing #4:
the silver hop could only consume the table through batch ``drain()``
calls; a ``trigger(processingTime)`` consumer was not expressible).

Semantics mirror Delta's table-as-stream-source, rebuilt on the snapshot
log (reference: silver streams from bronze inheriting exactly-once,
/root/reference/ofl/streaming/silver.py:186-233):

- **Offsets are snapshot ids.** ``latestOffset`` refreshes the metadata and
  returns the current snapshot; Spark checkpoints the offset range per
  micro-batch, so restarts resume exactly where the log position says —
  the engine's own WAL replaces our ledger cursor for this consumer.
- **A micro-batch's partitions are the files its snapshot range ADDED**
  (``format.plan.plan_appends``: the manifest path-set diff against each
  parent), one InputPartition per file: reads scale with the delta and
  parallelize across executors, never re-reading consumed history.
- **Row-preserving rewrites are skipped** (``skipRewrites``, default on):
  compaction/clustering snapshots rewrite bytes, not rows (the parity gate
  proves it), so their added files would DUPLICATE already-delivered rows —
  exactly Delta's ``skipChangeCommits``. Row-CHANGING operations in the
  interval (merge/replace/overwrite) raise: an append-only delta no longer
  exists and the consumer must recompute (Delta fails these the same way).
- **The change feed** (``readChangeFeed``) plans with
  ``format.plan.plan_changes``, the planner ``operators.changelog`` uses:
  an append's added files stream as inserts, and each row-changing commit
  is one partition that diffs the commit's added and removed rows.

Executor-side ``read`` is pyarrow (``format.reader``, the same reader
``LakeTable.scan`` uses for small reads) and yields Arrow record batches
cast to the table schema — the vectorized path end to end.

Batch reads additionally take part in FILTER PUSHDOWN
(``spark.sql.python.filterPushdown.enabled``, pinned on by
``build_session``): ``pushFilters`` turns each pushed filter into a
``ColumnRange`` and ``partitions()`` plans with ``format.plan.plan_scan``,
the planner ``LakeTable.scan`` uses — Spark's pushdown worker calls both
on the SAME reader instance. Every filter is also returned as unsupported
so Spark re-applies it row-level above the scan (pruning only skips files
that cannot match — never a correctness dependency).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType


@dataclass
class FrostFilePartition(InputPartition):
    path: str            # absolute parquet path
    arrow_schema: object  # pyarrow schema the batches must match


def _read_file_batches(part: FrostFilePartition):
    """Executor-side: one file -> Arrow batches cast to the read schema
    (``format.reader.read_file``, the reader ``LakeTable.scan`` shares).
    The Python DataSource API has no column-pruning hook, so the pruning
    rides on the user-supplied read schema."""
    from open_finance_lakehouse_spark.format.reader import read_file

    yield from read_file(part.path, part.arrow_schema).to_batches()


# the canonical DDL parser lives in format/metadata.py (one parser, one
# behavior — a drifting twin here would disagree on backticked names);
# these aliases keep this module's historical call sites working
from open_finance_lakehouse_spark.format.metadata import (  # noqa: E402
    ddl_columns as _ddl_columns,
    norm_ddl_type as _norm_type,
)


def _load_meta(location: str):
    from open_finance_lakehouse_spark.format import metadata as md

    meta = md.read_current_metadata(location)
    meta.location = location
    return meta


def _file_partitions(location: str, files, arrow_schema) -> list:
    """One partition per planned file; one empty placeholder when the plan
    is empty (Spark needs at least one)."""
    return [FrostFilePartition(os.path.join(location, f.file_path),
                               arrow_schema) for f in files] or \
        [FrostFilePartition("", arrow_schema)]


class FrostStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, location: str,
                 skip_rewrites: bool, starting: str | None):
        from pyspark.sql.pandas.types import to_arrow_schema

        self.location = location
        self.skip_rewrites = skip_rewrites
        self.starting = starting
        self.arrow_schema = to_arrow_schema(schema)

    def initialOffset(self) -> dict:
        # default: start BEFORE the log — the first micro-batch delivers
        # the table's existing rows (Delta readStream semantics).
        # startingSnapshotId="latest" consumes only NEW commits (Delta's
        # startingVersion=latest); an integer starts just after that id.
        if self.starting is None:
            return {"snapshot_id": 0}
        if str(self.starting).lower() == "latest":
            meta = _load_meta(self.location)
            return {"snapshot_id": int(meta.current_snapshot_id or 0)}
        return {"snapshot_id": int(self.starting)}

    def latestOffset(self) -> dict:
        meta = _load_meta(self.location)
        return {"snapshot_id": int(meta.current_snapshot_id or 0)}

    def partitions(self, start: dict, end: dict):
        from open_finance_lakehouse_spark.format.plan import plan_appends

        s = int(start["snapshot_id"])
        files = plan_appends(_load_meta(self.location), self.location, s,
                             int(end["snapshot_id"]), self.skip_rewrites,
                             initial_live_load=not s)
        return _file_partitions(self.location, files, self.arrow_schema)

    def read(self, partition: FrostFilePartition):
        if not partition.path:  # empty micro-batch placeholder
            return iter(())
        return _read_file_batches(partition)

    def commit(self, end: dict) -> None:
        pass  # Spark's checkpoint owns the offset; nothing table-side


# ------------------------------------------------------- change feed (CDC)

# must stay name-identical with operators.changelog's stamp columns — the
# streamed feed and the Spark-side batch changelog are two code paths over
# one contract (tests assert multiset equality between them)
CHANGE_COLS = ("_change_type", "_commit_snapshot_id", "_commit_timestamp_ms")
CHANGE_COLS_DDL = (", _change_type string, _commit_snapshot_id bigint,"
                   " _commit_timestamp_ms bigint")


@dataclass
class FrostChangePartition(InputPartition):
    """One unit of change-feed work (``format.plan.ChangeUnit``).

    ``kind="insert"``: one ADDED file of an insert unit — reads scale with
    the delta and parallelize per file, no comparison work.
    ``kind="diff"``: one row-changing commit's touched files (added and
    removed read together for the multiset diff)."""
    kind: str
    added: tuple
    removed: tuple
    snapshot_id: int
    timestamp_ms: int
    table_schema: object   # pyarrow schema of the requested TABLE columns
    arrow_schema: object   # full requested output schema (incl. change cols)


def _canon_val(v):
    """Canonical comparison value: floats by repr (NaN == NaN, the multiset
    semantics ``exceptAll`` uses), containers recursively hashable."""
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, list):
        return tuple(_canon_val(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon_val(x)) for k, x in v.items()))
    return v


def _change_partitions(location: str, meta, start_id, end_id: int,
                       req_schema, initial_live_load: bool) -> list:
    """Driver-side CDC planning: ``format.plan.plan_changes`` (the planner
    ``operators.changelog.table_changes`` uses too), turned into
    InputPartitions — one per added file of an insert unit, one per diff
    unit; an empty plan is one empty placeholder."""
    import pyarrow as pa

    from open_finance_lakehouse_spark.format.plan import plan_changes

    tschema = pa.schema([f for f in req_schema if f.name not in CHANGE_COLS])
    parts: list = []
    for u in plan_changes(meta, location, start_id, end_id,
                          initial_live_load):
        added = tuple(os.path.join(location, p) for p in u.added)
        removed = tuple(os.path.join(location, p) for p in u.removed)
        groups = [(p,) for p in added] if u.kind == "insert" else [added]
        parts.extend(FrostChangePartition(
            u.kind, g, removed, u.snapshot.snapshot_id,
            u.snapshot.timestamp_ms, tschema, req_schema) for g in groups)
    return parts or [FrostFilePartition("", req_schema)]


def _read_side(paths, tschema):
    """Executor-side: read one side of a diff. Returns (pa.Table, the
    aligned canonical row keys)."""
    import pyarrow as pa

    names = tschema.names
    pieces, keys = [], []
    for p in paths:
        for batch in _read_file_batches(FrostFilePartition(p, tschema)):
            keys.extend(tuple(_canon_val(r[n]) for n in names)
                        for r in batch.to_pylist())
            pieces.append(batch)
    if pieces:
        return pa.Table.from_batches(pieces, schema=tschema), keys
    empty = pa.table({f.name: pa.nulls(0, f.type) for f in tschema},
                     schema=tschema)
    return empty, keys


def _stamp_batch(batch, change: str, part: FrostChangePartition):
    """Project a table-columns batch to the full requested output schema,
    filling the change columns with this partition's constants."""
    import pyarrow as pa

    n = batch.num_rows
    cols = []
    for f in part.arrow_schema:
        if f.name == CHANGE_COLS[0]:
            cols.append(pa.array([change] * n, f.type))
        elif f.name == CHANGE_COLS[1]:
            cols.append(pa.array([part.snapshot_id] * n, f.type))
        elif f.name == CHANGE_COLS[2]:
            cols.append(pa.array([part.timestamp_ms] * n, f.type))
        else:
            cols.append(batch.column(batch.schema.get_field_index(f.name)))
    yield pa.RecordBatch.from_arrays(cols, schema=part.arrow_schema)


def _read_change_partition(part: FrostChangePartition):
    """Executor-side CDC read (pyarrow + stdlib only).

    insert: stream the file's batches stamped 'insert'. diff: exact
    multiset diff of the commit's rows — surplus occurrences are selected
    by INDEX and ``take``n from the original Arrow data, so values pass
    through byte-exact (never rebuilt from Python objects); an update
    surfaces as delete(old)+insert(new), duplicate rows cancel copy for
    copy (``exceptAll`` parity with operators.changelog)."""
    from collections import Counter

    import pyarrow as pa

    if not isinstance(part, FrostChangePartition):
        return  # empty plan placeholder
    if part.kind == "insert":
        for batch in _read_file_batches(
                FrostFilePartition(part.added[0], part.table_schema)):
            yield from _stamp_batch(batch, "insert", part)
        return
    atab, akeys = _read_side(part.added, part.table_schema)
    rtab, rkeys = _read_side(part.removed, part.table_schema)
    ca, cr = Counter(akeys), Counter(rkeys)
    for tab, keys, surplus, change in (
            (atab, akeys, ca - cr, "insert"),
            (rtab, rkeys, cr - ca, "delete")):
        need = dict(surplus)
        idx = []
        for i, k in enumerate(keys):
            c = need.get(k, 0)
            if c:
                need[k] = c - 1
                idx.append(i)
        if idx:
            for b in tab.take(pa.array(idx, pa.int64())).to_batches():
                yield from _stamp_batch(b, change, part)


class FrostChangeFeedStreamReader(FrostStreamReader):
    """``readStream.format("frost").option("readChangeFeed", "true")`` —
    the Delta-CDF-shaped streaming read. Offsets are snapshot ids (same
    checkpoint discipline as the plain stream); each micro-batch delivers
    the interval's row-level changes, so row-changing commits no longer
    kill the stream — they arrive as delete+insert pairs."""

    def partitions(self, start: dict, end: dict):
        s = int(start["snapshot_id"])
        return _change_partitions(
            self.location, _load_meta(self.location), s or None,
            int(end["snapshot_id"]), self.arrow_schema,
            initial_live_load=not s)

    def read(self, partition):
        return _read_change_partition(partition)


class FrostChangeFeedBatchReader(DataSourceReader):
    """Batch CDC: ``read.format("frost").option("readChangeFeed", "true")``
    with ``startingSnapshotId`` (exclusive; omit = since genesis, a full
    log replay — ``table_changes(None)`` parity) and optional
    ``endingSnapshotId`` (inclusive; default current)."""

    def __init__(self, schema: StructType, location: str,
                 from_id: int | None, to_id: int | None):
        from pyspark.sql.pandas.types import to_arrow_schema

        self.location = location
        self.from_id = from_id
        self.to_id = to_id
        self.arrow_schema = to_arrow_schema(schema)

    def partitions(self):
        meta = _load_meta(self.location)
        end = (self.to_id if self.to_id is not None
               else meta.current_snapshot_id)
        return _change_partitions(self.location, meta, self.from_id,
                                  end or None, self.arrow_schema,
                                  initial_live_load=False)

    def read(self, partition):
        return _read_change_partition(partition)


class FrostBatchReader(DataSourceReader):
    def __init__(self, schema: StructType, location: str,
                 snapshot_id: int | None = None):
        from pyspark.sql.pandas.types import to_arrow_schema

        self.location = location
        self.snapshot_id = snapshot_id  # None = current (time travel)
        self.arrow_schema = to_arrow_schema(schema)
        self._preds: list = []  # pushed filters as ColumnRanges

    def pushFilters(self, filters):
        """Comparison filters on top-level columns become ``ColumnRange``s
        for ``format.plan.plan_scan``, the planner ``LakeTable.scan`` uses:
        EqualTo and In prune by value (and by bucket on the bucket column),
        comparisons by bounds, IsNull/IsNotNull by null counts. Every
        filter is returned as unsupported: pruning only skips whole files
        that cannot match — Spark still applies the row-level predicate
        above the scan, so correctness never depends on the stats."""
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            IsNotNull,
            IsNull,
            LessThan,
            LessThanOrEqual,
        )

        from open_finance_lakehouse_spark.format.table import ColumnRange

        for f in filters:
            attr = getattr(f, "attribute", None)
            if not attr or len(attr) != 1:
                continue
            col = attr[0]
            if isinstance(f, (EqualTo, In)):
                vals = (f.value,) if isinstance(f, EqualTo) else f.value
                # a NULL literal matches no row: leave it to Spark
                vals = tuple(v for v in vals if v is not None)
                if vals:
                    self._preds.append(ColumnRange(col, values=vals))
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                self._preds.append(ColumnRange(col, lo=f.value))
            elif isinstance(f, (LessThan, LessThanOrEqual)):
                self._preds.append(ColumnRange(col, hi=f.value))
            elif isinstance(f, (IsNull, IsNotNull)):
                self._preds.append(ColumnRange(
                    col, null_test="null" if isinstance(f, IsNull)
                    else "notnull"))
        return filters  # all re-applied by Spark post-scan

    def partitions(self):
        from open_finance_lakehouse_spark.format.plan import plan_scan

        files, _ = plan_scan(_load_meta(self.location), self.location,
                             self.snapshot_id, self._preds)
        return _file_partitions(self.location, files, self.arrow_schema)

    def read(self, partition: FrostFilePartition):
        if not partition.path:
            return iter(())
        return _read_file_batches(partition)


class FrostDataSource(DataSource):
    """``format("frost")`` batch + streaming source. Options:
    ``location`` (or ``path``) — the table root;
    ``skipRewrites`` — skip row-preserving rewrite snapshots (default true);
    ``startingSnapshotId`` — stream start: unset = beginning of the table,
    ``"latest"`` = only commits after the query starts, an id = just
    after that snapshot;
    ``startingTimestampMs`` — stream start by wall time (Delta's
    startingTimestamp): commits with timestamp >= the given epoch-ms are
    delivered; mutually exclusive with ``startingSnapshotId``;
    ``snapshotId`` — batch TIME TRAVEL: read the table as of that
    snapshot, with its commit-time schema (scan(snapshot_id=...) parity);
    ``asOfTimestampMs`` — TIMESTAMP AS OF travel: resolve an epoch-ms
    wall time to the snapshot current then (current-ancestry walk,
    ``TableMetadata.snapshot_as_of``); mutually exclusive with
    ``snapshotId``;
    ``readChangeFeed`` — CDC mode (Delta CDF shape): rows are the
    interval's row-level changes with ``_change_type`` /
    ``_commit_snapshot_id`` / ``_commit_timestamp_ms`` appended. Batch:
    ``startingSnapshotId`` (exclusive; omit = genesis log replay) +
    optional ``endingSnapshotId``. Streaming: same starting options as
    the plain stream; row-changing commits arrive as delete+insert pairs
    instead of killing the query. One partition reads each added file of
    an append, and one diffs each row-changing commit (the removed
    ``changeShardBytes`` option refuses).

    Delta-compat aliases (frost snapshot ids ARE the table's versions,
    so these are exact synonyms, not approximations): ``startingVersion``
    = ``startingSnapshotId``, ``endingVersion`` = ``endingSnapshotId``,
    ``versionAsOf`` = ``snapshotId``.
    """

    @classmethod
    def name(cls) -> str:
        return "frost"

    def _location(self) -> str:
        loc = self.options.get("location") or self.options.get("path")
        if not loc:
            raise ValueError("frost source requires option('location', ...)")
        return loc

    def _opt(self, canonical: str, alias: str):
        """Resolve an option that also has a Delta-compat spelling.

        Frost snapshot ids ARE the table's versions (RESTORE/time travel
        use them interchangeably), so Delta's ``endingVersion`` /
        ``versionAsOf`` are EXACT aliases of the ``*SnapshotId`` options
        (both inclusive/point-in-time on both sides) — a Delta user's
        muscle-memory read works unchanged. Giving both spellings with
        different values is ambiguous and refuses.  ``startingVersion``
        is NOT routed here: it differs by one commit (inclusive vs
        frost's exclusive cursor) — see ``_starting_cursor``."""
        v, a = self.options.get(canonical), self.options.get(alias)
        if v is not None and a is not None and str(v) != str(a):
            raise ValueError(
                f"{canonical}={v!r} and its alias {alias}={a!r} disagree "
                "— give one (they are the same option: frost snapshot "
                "ids are the table's versions)")
        return v if v is not None else a

    def _starting_cursor(self, stream_cdc: bool = False) -> str | None:
        """Resolve the stream/CDC start cursor, translating Delta's
        ``startingVersion`` to the frost cursor convention.

        NOT an exact synonym: frost's ``startingSnapshotId`` is EXCLUSIVE
        (deliver commits strictly after it) while Delta defines
        ``startingVersion=N`` as INCLUSIVE (deliver version N onward) —
        a pass-through alias would silently drop version N's changes,
        the worst failure mode a CDC consumer can have.  The alias
        therefore resolves to N's PARENT on the ancestry (0 = genesis
        replay when N is the first commit); ``'latest'`` means the same
        thing on both sides and passes through.  A version ahead of the
        table or expired from the log refuses loudly (Delta's batch-CDF
        behavior) instead of guessing a cursor, and so does a retained
        version whose parent has expired: the message names the earliest
        version that works."""
        v = self.options.get("startingSnapshotId")
        a = self.options.get("startingVersion")
        if v is not None and a is not None:
            raise ValueError(
                "startingSnapshotId and startingVersion are both set — "
                "they differ by one commit (frost's startingSnapshotId "
                "is exclusive; Delta's startingVersion is inclusive): "
                "give one")
        if a is None:
            return v
        s = str(a)
        if s.lower() == "latest":
            return s
        n = int(s)
        meta = _load_meta(self._location())
        by_id = {x.snapshot_id: x for x in meta.snapshots}
        snap = by_id.get(n)
        if snap is None:
            if n > meta.last_snapshot_id:
                raise ValueError(
                    f"startingVersion={n} is ahead of the table's latest "
                    f"version ({meta.last_snapshot_id}); give an existing "
                    "version or 'latest'")
            raise ValueError(
                f"startingVersion={n} has been expired from the log — "
                "the retention window must exceed the consumer lag")
        if snap.parent_id is None and stream_cdc:
            # cursor 0 means 'initial live load' to the CDC STREAM (its
            # documented expired-history-robust start), NOT a genesis log
            # replay — silently delivering current state as inserts
            # stamped with the end snapshot would lose every historical
            # delete/update a Delta CDF consumer expects from
            # startingVersion=<first commit>
            raise ValueError(
                f"startingVersion={n} names the table's first commit: a "
                "streaming change feed starts from the current live "
                "state (omit the option) or from a later version; use "
                "the BATCH change feed (read, not readStream) for a "
                "full historical replay")
        if snap.parent_id is not None and snap.parent_id not in by_id:
            # version N's delta is its manifests against its parent's:
            # without the parent it cannot be computed exactly
            earliest, cur = None, by_id.get(meta.current_snapshot_id)
            while cur is not None and cur.parent_id in by_id:
                earliest, cur = cur, by_id[cur.parent_id]
            hint = (f"the earliest startingVersion that works is "
                    f"{earliest.snapshot_id}" if earliest is not None
                    else "only startingVersion='latest' works")
            raise ValueError(
                f"startingVersion={n}: its parent snapshot {snap.parent_id} "
                f"has been expired from the log, and version {n}'s changes "
                f"are computed against it — {hint}")
        return str(snap.parent_id if snap.parent_id is not None else 0)

    def _cdc(self) -> bool:
        self._check_removed_options()
        return (str(self.options.get("readChangeFeed", "false")).lower()
                in ("true", "1", "yes"))

    def _check_removed_options(self) -> None:
        if self.options.get("changeShardBytes") is not None:
            # one diff partition now covers one row-changing commit; a
            # caller relying on the old per-task memory bound must know
            raise ValueError(
                "the changeShardBytes option was removed: a change feed "
                "diffs each row-changing commit in one partition")

    def _snapshot_id(self) -> int | None:
        sid = self._opt("snapshotId", "versionAsOf")
        ts = self.options.get("asOfTimestampMs")
        if sid is not None and ts is not None:
            raise ValueError(
                "snapshotId and asOfTimestampMs are mutually exclusive "
                "(Iceberg's VERSION AS OF vs TIMESTAMP AS OF rule)")
        if sid is not None:
            return int(sid)
        if ts is not None:
            meta = _load_meta(self._location())
            return meta.snapshot_as_of(int(ts)).snapshot_id
        return None

    def schema(self) -> str:
        meta = _load_meta(self._location())
        if self._cdc():
            if self._snapshot_id() is not None:
                raise ValueError(
                    "readChangeFeed and snapshotId/asOfTimestampMs are "
                    "mutually exclusive: the change feed is an interval, "
                    "not a point-in-time state")
            return meta.schema_ddl + CHANGE_COLS_DDL
        sid = self._snapshot_id()
        if sid is not None:
            # schema-per-snapshot time travel, same rule as LakeTable.scan
            snap = meta.snapshot(sid)
            if snap is not None and snap.schema_ddl:
                return snap.schema_ddl
        return meta.schema_ddl

    def reader(self, schema: StructType):
        if self._cdc():
            # also enforced in schema(), but Spark SKIPS schema() when
            # the user supplies .schema(...) — without this twin check a
            # CDC read would silently ignore snapshotId/asOfTimestampMs
            if self._snapshot_id() is not None:
                raise ValueError(
                    "readChangeFeed and snapshotId/asOfTimestampMs are "
                    "mutually exclusive: the change feed is an interval, "
                    "not a point-in-time state")
            start = self._starting_cursor()
            if start is not None and str(start).lower() == "latest":
                raise ValueError(
                    "startingSnapshotId='latest' is a STREAM start; a "
                    "batch change feed needs a concrete id (or omit for "
                    "a genesis replay)")
            end = self._opt("endingSnapshotId", "endingVersion")
            return FrostChangeFeedBatchReader(
                schema, self._location(),
                int(start) if start is not None else None,
                int(end) if end is not None else None)
        return FrostBatchReader(schema, self._location(),
                                self._snapshot_id())

    def streamReader(self, schema: StructType) -> FrostStreamReader:
        skip = str(self.options.get("skipRewrites", "true")).lower() != "false"
        starting = self._resolve_starting()
        if self._cdc():
            return FrostChangeFeedStreamReader(
                schema, self._location(), True, starting)
        return FrostStreamReader(schema, self._location(), skip, starting)

    def _resolve_starting(self) -> str | None:
        starting = self._starting_cursor(stream_cdc=self._cdc())
        ts = self.options.get("startingTimestampMs")
        if ts is not None:
            if starting is not None:
                raise ValueError(
                    "startingSnapshotId and startingTimestampMs are "
                    "mutually exclusive")
            # Delta startingTimestamp semantics: deliver commits with
            # timestamp >= ts. The cursor must sit on the latest ancestor
            # STRICTLY BEFORE ts. Two distinct miss cases (snapshot_as_of
            # raises differently for each): the whole retained lineage is
            # newer AND reaches back to the table's first commit — start
            # from the beginning, the initial load is exactly 'everything
            # committed >= ts'; but if the pre-ts ancestry has EXPIRED,
            # starting from the oldest retained state would deliver rows
            # committed before ts — broader than the contract — so refuse,
            # like Delta does for a timestamp before the earliest
            # reproducible state.
            from open_finance_lakehouse_spark.format.metadata import (
                AncestryTruncated,
            )

            meta = _load_meta(self._location())
            ts_ms = int(ts)  # a malformed option must raise, not fall back
            try:
                starting = str(meta.snapshot_as_of(ts_ms - 1).snapshot_id)
            except AncestryTruncated as e:
                raise ValueError(
                    f"startingTimestampMs={ts}: the ancestry before "
                    "that timestamp has been expired — the stream "
                    "cannot reproduce 'commits with timestamp >= ts' "
                    "exactly; start from a snapshot id or omit the "
                    "option to load current state") from e
            except ValueError:
                # 'oldest commit is newer than ts': the initial load is
                # exactly 'everything committed >= ts'
                starting = None
        return starting

    def _check_writable(self, schema: StructType) -> tuple[str, str, int] | None:
        """Validate the write target; return the bucket routing triple
        ``(column, spark_type, num_buckets)`` for bucket-partitioned
        tables (rows are routed executor-side with the numpy XXH64 —
        bit-exact with ``F.xxhash64``, see ``functions/xxh64.py``),
        ``None`` for unpartitioned ones."""
        meta = _load_meta(self._location())
        spec = meta.partition_spec
        routing = None
        if spec:
            if spec.get("kind") != "bucket":
                raise ValueError(
                    f"format('frost') writes do not support partition spec "
                    f"{spec!r}; use LakeTable.append")
            col = spec["column"]
            col_type = dict(_ddl_columns(meta.schema_ddl)).get(col)
            if col_type not in ("string", "int", "smallint", "tinyint",
                                "bigint", "boolean"):
                raise ValueError(
                    f"format('frost') writes cannot bucket-route type "
                    f"{col_type!r} of column {col!r}; use LakeTable.append")
            routing = (col, col_type, int(spec["num_buckets"]))
        if (meta.properties or {}).get("contract"):
            # LakeTable.append is the contract-enforcing write path; a
            # direct commit here would silently void the table's declared
            # write-time contract
            raise ValueError(
                "table declares a write-time contract; format('frost') "
                "writes bypass enforcement — use LakeTable.append")
        # context-free DDL parse (names AND types): the writer-init worker
        # has no SparkContext, so pyspark's DDL parser is unavailable, and
        # a type-mismatched write would poison every later schema'd read
        expect = _ddl_columns(meta.schema_ddl)
        got = [(f.name, _norm_type(f.dataType.simpleString()))
               for f in schema.fields]
        if got != expect:
            raise ValueError(
                f"schema mismatch: table {expect} vs dataframe {got}")
        return routing

    def writer(self, schema: StructType, overwrite: bool) -> FrostBatchWriter:
        routing = self._check_writable(schema)
        return FrostBatchWriter(self._location(), overwrite, routing)

    def streamWriter(self, schema: StructType,
                     overwrite: bool) -> FrostStreamWriter:
        routing = self._check_writable(schema)
        app = self.options.get("txnAppId")
        if not app:
            # a shared default would make two queries' batchIds collide in
            # committed_txn and silently discard one query's batches as
            # replays — the exactly-once marker needs a per-query identity
            raise ValueError(
                "writeStream.format('frost') requires "
                ".option('txnAppId', <unique-per-query id>): it keys the "
                "exactly-once replay marker")
        return FrostStreamWriter(self._location(), app, overwrite, routing)


def register_frost_source(spark) -> None:
    spark.dataSource.register(FrostDataSource)


# ---------------------------------------------------------------- writers


@dataclass
class FrostCommitMessage(WriterCommitMessage):
    """Per-task commit message: the DataFile entries the task landed."""

    entries: list  # list[manifests.DataFile]


def _write_task_file(location: str, batches,
                     routing: tuple[str, str, int] | None = None,
                     ) -> "FrostCommitMessage":
    """Executor-side: one task's Arrow batches → parquet files landed
    directly in the table's data dir (uncommitted until the driver's
    commit — orphan GC's grace window protects them meanwhile; abort
    removes them). Batches stream through incremental ParquetWriters —
    the task's partition is never buffered whole in memory. Returns the
    footer-derived DataFile entries.

    ``routing``: ``None`` for unpartitioned tables (everything lands in
    ``part=0``); ``(column, spark_type, num_buckets)`` for bucket tables —
    rows are routed with the JVM-free numpy XXH64 (bit-exact with
    ``F.xxhash64``, so the layout matches ``LakeTable.append`` exactly),
    one file per bucket the task touches."""
    import uuid as _uuid

    import pyarrow.parquet as pq

    from open_finance_lakehouse_spark.format import manifests as mf

    writers: dict[str, tuple] = {}  # partition value -> (writer, rel, ap)

    def sink(part: str, schema):
        if part not in writers:
            part_dir = os.path.join(location, "data", f"part={part}")
            os.makedirs(part_dir, exist_ok=True)
            rel = os.path.join("data", f"part={part}",
                               f"{_uuid.uuid4().hex}.parquet")
            ap = os.path.join(location, rel)
            writers[part] = (pq.ParquetWriter(ap, schema), rel, ap)
        return writers[part][0]

    if routing is not None:
        import numpy as np
        import pyarrow as pa

        from open_finance_lakehouse_spark.functions.xxh64 import bucket_of

        col, dtype, num_buckets = routing
        for b in batches:
            if not b.num_rows:
                continue
            vals = b.column(b.schema.get_field_index(col)).to_pylist()
            buckets = bucket_of(vals, dtype, num_buckets)
            for bk in np.unique(buckets):
                rows = np.flatnonzero(buckets == bk)
                sub = b.take(pa.array(rows, type=pa.int64()))
                sink(str(int(bk)), b.schema).write_batch(sub)
    else:
        for b in batches:
            if not b.num_rows:
                continue
            sink("0", b.schema).write_batch(b)

    entries = []
    for part, (writer, rel, ap) in writers.items():
        writer.close()
        entries.append(mf.collect_file_stats(ap, rel, part))
    return FrostCommitMessage(entries=entries)


def _spec_of(routing: tuple[str, str, int] | None) -> dict | None:
    """The partition spec the writer's rows were routed under — the
    commit is conditional on it still being the table's spec (a
    rewrite_partitioning racing the stream must conflict, not land
    stale-routed files)."""
    if routing is None:
        return None
    col, _dtype, n = routing
    return {"kind": "bucket", "column": col, "num_buckets": n}


def _abort_files(location: str, messages) -> None:
    for m in messages:
        for e in getattr(m, "entries", []) or []:
            try:
                os.remove(os.path.join(location, e.file_path))
            except FileNotFoundError:
                pass


class FrostStreamWriter(DataSourceStreamArrowWriter):
    """``writeStream.format("frost")`` — exactly-once streaming sink.

    Tasks land parquet files (Arrow-native, no row loop); the driver's
    ``commit(messages, batchId)`` publishes ONE snapshot whose summary
    carries the ``(txnAppId, batchId)`` marker ATOMICALLY with the data —
    the same idempotence contract as the foreachBatch lane
    (``streaming/ingest.py``): a Spark-replayed micro-batch finds the
    marker, deletes its re-staged files, and no-ops. Bucket-partitioned
    tables route rows executor-side via the numpy XXH64 (bit-exact with
    ``F.xxhash64``, ``functions/xxh64.py``) — the layout matches
    ``LakeTable.append`` byte for byte."""

    def __init__(self, location: str, txn_app_id: str, overwrite: bool,
                 routing: tuple[str, str, int] | None = None):
        self.location = location
        self.txn_app_id = txn_app_id
        self.overwrite = overwrite
        self.routing = routing

    def write(self, iterator):
        return _write_task_file(self.location, iterator, self.routing)

    def commit(self, messages, batchId: int) -> None:
        from open_finance_lakehouse_spark.format.table import LakeTable

        t = LakeTable.load(None, self.location)
        entries = [e for m in messages if m
                   for e in m.entries]
        if t.committed_txn(self.txn_app_id, int(batchId)):
            _abort_files(self.location, messages)  # replayed batch: no-op
            return
        txn = {"txn_app_id": self.txn_app_id, "txn_id": int(batchId)}
        if self.overwrite:
            # outputMode("complete"): every micro-batch REPLACES the table
            # with the recomputed result (truncate-then-write semantics)
            t.commit_replace(entries, summary=txn,
                             expect_partition_spec=_spec_of(self.routing))
            return
        if not entries:
            # empty micro-batch (watermark-advance triggers): nothing to
            # commit and nothing a replay could double-apply — committing
            # a marker-only snapshot per trigger would bloat the log
            return
        t.commit_append(entries, summary=txn,
                        expect_partition_spec=_spec_of(self.routing))

    def abort(self, messages, batchId: int) -> None:
        _abort_files(self.location, messages)


class FrostBatchWriter(DataSourceArrowWriter):
    """``df.write.format("frost")`` — append or overwrite publish."""

    def __init__(self, location: str, overwrite: bool,
                 routing: tuple[str, str, int] | None = None):
        self.location = location
        self.overwrite = overwrite
        self.routing = routing

    def write(self, iterator):
        return _write_task_file(self.location, iterator, self.routing)

    def commit(self, messages) -> None:
        from open_finance_lakehouse_spark.format.table import LakeTable

        t = LakeTable.load(None, self.location)
        entries = [e for m in messages if m for e in m.entries]
        if self.overwrite:
            t.commit_replace(entries,
                             expect_partition_spec=_spec_of(self.routing))
        else:
            t.commit_append(entries,
                            expect_partition_spec=_spec_of(self.routing))

    def abort(self, messages) -> None:
        _abort_files(self.location, messages)
