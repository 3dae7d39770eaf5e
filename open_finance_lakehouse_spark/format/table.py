"""LakeTable: the engine's table abstraction over the frost format.

Responsibilities: staged Parquet writes, per-file stats, snapshot commits
with optimistic concurrency, stats-pruned scans, time travel, snapshot
expiry and orphan GC. Writes and large reads are Spark DataFrame plans;
all metadata is driver-side (the "optimizer is a driver-side metadata
planner" architecture, SURVEY.md §4):

- manifests are Parquet and reused across commits untouched-partition-wise,
  so a commit is O(files touched), not O(files total);
- planning reads the file inventory on the driver (``live_files`` /
  ``plan_files``, both through ``format.plan``: a manifest read, no Spark
  job);
- a scan whose planned files sum to at most ``SMALL_READ_BYTES`` is read on
  the driver with pyarrow and reaches Spark as a local relation (no Spark
  job); larger scans pass explicit file lists to the Parquet reader, and
  Catalyst applies row-group pushdown and column pruning inside each file;
- each schema DDL is parsed into a ``StructType`` once per process
  (``schema_struct``), so no plan pays an analyzer round trip for it.
"""

from __future__ import annotations

import copy
import os
import shutil
import threading
import time
import uuid
from dataclasses import dataclass, replace as dc_replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from open_finance_lakehouse_spark.format import manifests as mf
from open_finance_lakehouse_spark.format import metadata as md
from open_finance_lakehouse_spark.format import plan


# a scan whose planned files sum to at most this many bytes is read on the
# driver (``LakeTable.scan``); 8 MiB is the benchmark tables' target file
# size, so a one-bucket point lookup qualifies and range or payload scans
# over several files stay on Spark
SMALL_READ_BYTES = 8 << 20

# StructType per schema DDL. The analyzer round trip behind it (a Py4J
# ``createDataFrame([], ddl)``, ~20 ms) used to run on every bucket-pruned
# plan, append and merge. A DDL string parses to the same types as long as
# ``spark.sql.timestampType`` stays at its default, which the engine never
# changes; an evolved schema is a new key.
_STRUCTS: dict[str, StructType] = {}


def schema_struct(spark: SparkSession, ddl: str) -> StructType:
    """The ``StructType`` Spark's analyzer gives ``ddl``, parsed once per
    process. Returns a copy: callers may ``add`` to what they get."""
    struct = _STRUCTS.get(ddl)
    if struct is None:
        struct = _STRUCTS[ddl] = spark.createDataFrame([], ddl).schema
    return copy.deepcopy(struct)


class CommitConflict(Exception):
    """A concurrent commit invalidated this one (removed files not live)."""


class CommitRetriesExhausted(CommitConflict):
    """The optimistic commit loop lost every CAS race — pure contention,
    NOT a semantic conflict: the caller's staged work is still valid and
    retrying the COMMIT alone (later, under less contention) can succeed.
    Subclasses CommitConflict so existing conflict handling still fires
    for callers that don't care about the distinction."""


class SchemaEvolutionError(ValueError):
    """A proposed schema change is not add-column / widen-type."""


# integer widening lattice for update_schema; parquet's reader upcasts
# these natively when handed the wider read schema (verified on Spark 4.1)
_INT_RANK = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}


def _widenable(old: str, new: str) -> bool:
    if old == new:
        return True
    if old in _INT_RANK and new in _INT_RANK:
        return _INT_RANK[old] < _INT_RANK[new]
    if old in _INT_RANK and new == "double":
        # parquet reader upcasts int32-and-below to double, but REFUSES
        # int64 -> double (verified on this Spark: the scan of old files
        # would throw SchemaColumnConvertNotSupported forever, and the
        # change is irreversible since double -> bigint is narrowing);
        # bigint -> double is also lossy above 2^53
        return _INT_RANK[old] <= _INT_RANK["int"]
    return old == "float" and new == "double"


# column names the write/maintenance plans claim for themselves (the
# staging router, the clustering key, merge internals): a user column
# with one of these names would pass schema checks and then be silently
# overwritten/stripped mid-plan — refuse at the schema front doors
RESERVED_COLUMNS = frozenset({"__part", "__zval", "__salt", "__s_op"})


def _ddl_column_names(ddl: str) -> list[str]:
    """Top-level column names from a DDL string, no analyzer needed
    (``create`` must work with ``spark=None`` in JVM-free workers).
    Delegates to THE canonical parser in ``format.metadata`` so the
    table format and the frost source can never disagree on names."""
    return [n for n, _ in md.ddl_columns(ddl)]


def _check_reserved(names) -> None:
    bad = sorted(n for n in names if n in RESERVED_COLUMNS)
    if bad:
        raise ValueError(
            f"column name(s) {bad} are reserved by the engine's write "
            "and maintenance plans (staging router / clustering key / "
            "merge internals) — rename them")


@dataclass
class ColumnRange:
    """Conjunctive predicate used for manifest-level file pruning: either a
    [lo, hi] range or an explicit IN-list (``values``).  An IN-list on the
    table's bucket-partition column additionally drives bucket-value
    pruning (``format.plan.plan_scan``) — the hash router maps each
    literal straight to its partition, which stats never can."""

    column: str
    lo: object | None = None  # inclusive
    hi: object | None = None  # inclusive
    values: tuple | None = None  # IN-list; takes precedence over lo/hi
    # "null" / "notnull": an IS [NOT] NULL test. Pruned via manifest
    # null COUNTS, not min/max bounds (takes precedence over lo/hi/values
    # — the SQL grammar never produces both on one ColumnRange)
    null_test: str | None = None

    def overlaps(self, bounds) -> bool:
        if bounds is None:
            return True  # no stats -> cannot prune
        fmin, fmax = bounds
        if self.values is not None:
            try:
                return any(
                    (fmin is None or self._canon(v) >= fmin)
                    and (fmax is None or self._canon(v) <= fmax)
                    for v in self.values)
            except TypeError:
                return True  # incomparable stat/value domain: never prune
        lo, hi = self._canon(self.lo), self._canon(self.hi)
        try:
            if lo is not None and fmax is not None and fmax < lo:
                return False
            if hi is not None and fmin is not None and fmin > hi:
                return False
        except TypeError:
            return True  # incomparable stat/value domain: never prune
        return True

    def proves_all(self, bounds) -> bool:
        """True when the file's [min, max] PROVES every non-null value
        satisfies this predicate — the metadata-only DELETE containment
        check (the caller must separately prove null_count == 0; nulls
        never satisfy a predicate). Parquet writers may truncate string
        stats, but always conservatively (stored min <= true min, stored
        max >= true max), so containment here implies true containment
        and a truncated pair can never fake the min == max equality
        proof."""
        if bounds is None:
            return False
        fmin, fmax = bounds
        if fmin is None or fmax is None:
            return False
        try:
            if self.values is not None:
                return fmin == fmax and any(
                    self._canon(v) == fmin
                    for v in self.values if v is not None)
            lo, hi = self._canon(self.lo), self._canon(self.hi)
            if lo is not None and fmin < lo:
                return False
            if hi is not None and fmax > hi:
                return False
            return True
        except TypeError:
            return False  # incomparable domains: never prove

    @staticmethod
    def _canon(v):
        """Temporal predicate values → epoch-micros, the domain manifest
        long stats store timestamps/dates in (an int < datetime comparison
        would throw and fail the whole scan)."""
        import datetime

        if isinstance(v, (datetime.datetime, datetime.date)):
            return mf.temporal_to_micros(v)
        return v

    def matches_nulls(self, null_count, record_count) -> bool:
        """File-level null-stats pruning for a null test: False when the
        counts PROVE no row can match (conservative on unknown counts)."""
        if self.null_test is None or null_count is None:
            return True
        if self.null_test == "null":
            return null_count > 0
        return null_count < record_count  # notnull: all-null can't match

    def proves_all_nulls(self, null_count, record_count) -> bool:
        """Counts prove EVERY row satisfies the null test."""
        if null_count is None:
            return False
        if self.null_test == "null":
            return null_count == record_count
        return null_count == 0

    def to_spark_filter(self):
        if self.null_test is not None:
            col = F.col(self.column)
            return col.isNull() if self.null_test == "null" \
                else col.isNotNull()
        if self.values is not None:
            return F.col(self.column).isin(list(self.values))
        cond = F.lit(True)
        if self.lo is not None:
            cond = cond & (F.col(self.column) >= F.lit(self.lo))
        if self.hi is not None:
            cond = cond & (F.col(self.column) <= F.lit(self.hi))
        return cond


def _arrow_literal_ok(v, typ) -> bool:
    """Whether Arrow can compare ``v`` with a ``typ`` column exactly as
    Spark does: an int literal within an integer column's range, or a str
    literal on a string column (both compare bytes of UTF-8)."""
    import pyarrow as pa

    if pa.types.is_integer(typ):
        ok = isinstance(v, int) and not isinstance(v, bool)
    else:
        ok = isinstance(v, str) and (pa.types.is_string(typ)
                                     or pa.types.is_large_string(typ))
    if not ok:
        return False
    try:
        pa.scalar(v, typ)
    except (OverflowError, ValueError, TypeError):
        return False  # outside the column type's range, or not encodable
    return True


def _arrow_prefilter(tab, predicates: list[ColumnRange]):
    """Drop the rows an integer or string IN-list or bound provably
    rejects. Only a pre-filter: ``to_spark_filter`` runs above it and
    defines the result, so nulls are kept here, and a null test, a
    predicate on any other type, or a literal ``_arrow_literal_ok``
    refuses keeps every row."""
    import pyarrow as pa
    import pyarrow.compute as pc

    keep = None
    for p in predicates:
        if p.null_test is not None or p.column not in tab.column_names:
            continue
        col = tab.column(p.column)
        lits = [v for v in (p.values if p.values is not None
                            else (p.lo, p.hi)) if v is not None]
        if not all(_arrow_literal_ok(v, col.type) for v in lits):
            continue
        if p.values is not None:
            hits = [pc.is_in(col, value_set=pa.array(lits, col.type))]
        else:
            hits = [cmp(col, pa.scalar(v, col.type))
                    for cmp, v in ((pc.greater_equal, p.lo),
                                   (pc.less_equal, p.hi)) if v is not None]
        for hit in hits:
            hit = pc.or_kleene(hit, pc.is_null(col))
            keep = hit if keep is None else pc.and_(keep, hit)
    return tab if keep is None else tab.filter(keep)


class LakeTable:
    def __init__(self, spark: SparkSession, location: str, meta: md.TableMetadata):
        self.spark = spark
        self.location = location
        self.meta = meta
        # serializes commits from threads sharing this handle, so they
        # queue instead of losing CAS races to each other; commits are
        # O(ms) metadata ops
        self._commit_lock = threading.Lock()

    # ------------------------------------------------------------------ init

    @staticmethod
    def create(
        spark: SparkSession,
        location: str,
        name: str,
        schema_ddl: str,
        partition_spec: dict | None = None,
        properties: dict | None = None,
        contract=None,
        maintenance: dict | None = None,
    ) -> "LakeTable":
        """``contract`` (a ``quality.contracts.Contract``) is serialized
        into the table properties so every writer enforces it at append;
        ``maintenance`` (e.g. ``{"target_bytes": ..., "curve": "hilbert"}``)
        declares the table's maintenance config the same way — see
        ``operators.config``."""
        if contract is not None:
            properties = {**(properties or {}),
                          "contract": contract.to_property()}
        if maintenance is not None:
            from open_finance_lakehouse_spark.operators.config import (
                maintenance_properties,
            )

            properties = {**(properties or {}),
                          **maintenance_properties(maintenance)}
        _check_reserved(_ddl_column_names(schema_ddl))
        os.makedirs(os.path.join(location, "data"), exist_ok=True)
        meta = md.new_table_metadata(name, location, schema_ddl, partition_spec,
                                     properties)
        md.write_metadata_exclusive(meta, version=1)
        meta.version = 1
        return LakeTable(spark, location, meta)

    @staticmethod
    def load(spark: SparkSession, location: str) -> "LakeTable":
        meta = md.read_current_metadata(location)
        # tables are relocatable (all internal paths are root-relative):
        # the actual load path wins over the recorded location, so a copied
        # or moved table commits to ITS OWN metadata dir
        meta.location = location
        return LakeTable(spark, location, meta)

    def refresh(self) -> "LakeTable":
        self.meta = md.read_current_metadata(self.location)
        self.meta.location = self.location  # relocatable (see load)
        return self

    # ---------------------------------------------------------------- files

    def live_files(self, snapshot_id: int | None = None) -> list[mf.DataFile]:
        return plan.live_files(self.meta, self.location, snapshot_id)

    def plan_files(
        self,
        snapshot_id: int | None = None,
        predicates: list[ColumnRange] | None = None,
        files: "list[mf.DataFile] | None" = None,
    ) -> tuple[list[mf.DataFile], int]:
        """Stats-pruned file planning (``format.plan.plan_scan``). Returns
        (selected, total_live).

        Equality/IN predicates on the bucket-partition column also prune
        by bucket value, cutting a point lookup to 1/num_buckets of the
        live files — the partition pruning the reference gets from
        Delta's ``partitionBy("source")``
        (/root/reference/ofl/transform/spark/silver.py:91).

        ``files``: pre-listed inventory (one ``live_files`` read shared
        across several pruning passes — disjunctive DML arms re-plan K
        times; without this each pass re-reads every manifest)."""
        return plan.plan_scan(self.meta, self.location, snapshot_id,
                              predicates, files)

    # ---------------------------------------------------------------- scans

    def schema(self, snapshot_id: int | None = None) -> StructType:
        """The read schema (``schema_struct``, no analyzer round trip).
        Current reads use the CURRENT schema, so evolution applies at
        once; explicit time travel uses the target snapshot's commit-time
        schema."""
        snap = self.meta.snapshot(snapshot_id)
        if snapshot_id is None or snap is None or not snap.schema_ddl:
            return schema_struct(self.spark, self.meta.schema_ddl)
        return schema_struct(self.spark, snap.schema_ddl)

    def _empty_df(self) -> DataFrame:
        """An empty frame of the current schema, built from the cached
        struct; schema-only callers read ``schema()`` instead."""
        return self.spark.createDataFrame([], self.schema())

    def scan(
        self,
        snapshot_id: int | None = None,
        predicates: list[ColumnRange] | None = None,
        with_file_path: bool = False,
    ) -> DataFrame:
        """Read the table at a snapshot; manifest stats prune whole files,
        and ``ColumnRange.to_spark_filter`` selects the rows of the files
        that survive.

        The read schema is the SNAPSHOT's schema (``schema``): after
        ``update_schema`` added or widened columns, files written under the
        old schema project missing columns as NULL and upcast widened ones.

        A plan whose files sum to at most ``SMALL_READ_BYTES`` (without
        ``with_file_path``) is read on the driver at ``scan()`` time, not
        lazily: pyarrow reads the files, drops the rows an integer or
        string predicate provably rejects, and Spark gets the rest as a
        local relation, so collecting the result runs no Spark job.
        Larger plans are a lazy Parquet scan of the planned files, where
        Catalyst pushes the predicates into each file."""
        struct = self.schema(snapshot_id)
        files, _ = self.plan_files(snapshot_id, predicates)
        if not with_file_path and \
                sum(f.file_size_bytes for f in files) <= SMALL_READ_BYTES:
            df = self._read_small(files, struct, predicates or [])
        elif files:
            df = self.spark.read.schema(struct).parquet(
                *[os.path.join(self.location, f.file_path) for f in files])
        else:
            df = self.spark.createDataFrame([], struct)
        for p in predicates or []:
            df = df.filter(p.to_spark_filter())
        if with_file_path:
            df = df.withColumn("_file", F.input_file_name())
        return df

    def _read_small(self, files: list, struct: StructType,
                    predicates: list[ColumnRange]) -> DataFrame:
        """The planned files as one driver-side Arrow table, pre-filtered,
        handed to Spark without pandas."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        from open_finance_lakehouse_spark.format.reader import read_file

        schema = to_arrow_schema(struct)
        tab = pa.concat_tables(
            [read_file(os.path.join(self.location, f.file_path), schema)
             for f in files]) if files else schema.empty_table()
        return self.spark.createDataFrame(_arrow_prefilter(tab, predicates),
                                          schema=struct)

    # ---------------------------------------------------------------- writes

    def partition_value_col(self, spec: dict | None = None):
        """Column computing the partition value for a row, per the spec
        (default: the table's own — ``rewrite_schema`` passes the
        post-rewrite spec while staging under a renamed partition column)."""
        spec = spec if spec is not None else self.meta.partition_spec
        if not spec:
            return F.lit("0")
        if spec["kind"] == "bucket":
            return F.pmod(
                F.xxhash64(F.col(spec["column"])), F.lit(spec["num_buckets"])
            ).cast("string")
        raise ValueError(f"unknown partition spec {spec}")

    def stage_dataframe(
        self,
        df: DataFrame,
        max_records_per_file: int | None = None,
        repartition_by_partition: bool = True,
        fixed_partition: str | None = None,
        partition_value=None,
    ) -> list[mf.DataFile]:
        """Write ``df`` as immutable data files + collect footer stats.

        No snapshot commit happens here — callers stage, then commit, so a
        maintenance job can stage many rewrite batches and publish one
        atomic snapshot (or resume from staged files after a crash).

        ``fixed_partition``: when the caller KNOWS every row belongs to one
        partition (per-partition rewrite tasks), the write skips dynamic
        partitioning entirely. Besides being cheaper, this preserves the
        frame's row order exactly: a ``partitionBy`` write makes Spark
        insert its own (unstable) sort on the partition column, which
        would scramble a clustering sort that isn't led by that column.

        ``partition_value``: override Column for the routing expression
        (``rewrite_schema`` stages under the POST-rewrite spec, whose
        partition column name may differ from the current metadata's).
        """
        staging = os.path.join(self.location, "_staging", uuid.uuid4().hex)
        try:
            spec = self.meta.partition_spec
            if fixed_partition is not None:
                writer = df.write.mode("overwrite")
                if max_records_per_file:
                    writer = writer.option("maxRecordsPerFile",
                                           str(max_records_per_file))
                writer.parquet(staging)
            else:
                writer_df = df.withColumn(
                    "__part",
                    partition_value if partition_value is not None
                    else self.partition_value_col())
                if spec and repartition_by_partition:
                    writer_df = writer_df.repartition("__part")
                writer = writer_df.write.mode("overwrite")
                if max_records_per_file:
                    writer = writer.option("maxRecordsPerFile",
                                           str(max_records_per_file))
                writer.partitionBy("__part").parquet(staging)

            entries: list[mf.DataFile] = []
            for root, _dirs, names in os.walk(staging):
                for n in sorted(names):
                    if not n.endswith(".parquet"):
                        continue
                    part = (fixed_partition
                            if fixed_partition is not None else "0")
                    base = os.path.basename(root)
                    if base.startswith("__part="):
                        part = base.split("=", 1)[1]
                    part_dir = os.path.join(self.location, "data",
                                            f"part={part}")
                    os.makedirs(part_dir, exist_ok=True)
                    rel = os.path.join("data", f"part={part}",
                                       f"{uuid.uuid4().hex}.parquet")
                    abs_dst = os.path.join(self.location, rel)
                    os.replace(os.path.join(root, n), abs_dst)
                    entries.append(mf.collect_file_stats(abs_dst, rel, part))
        except BaseException:
            # a failed write (executor OOM, task failure) must not leak
            # its half-materialized _staging tree: no GC path walks
            # _staging for anything but age-gated corpse sweeps, so
            # repeated failing jobs would accumulate unbounded parquet.
            # Files already moved into data/ become plain orphans the
            # regular GC reclaims.
            shutil.rmtree(staging, ignore_errors=True)
            raise
        shutil.rmtree(staging, ignore_errors=True)
        return entries

    # --------------------------------------------------------------- commits

    def _try_commit(self, build) -> md.Snapshot:
        """Optimistic-concurrency commit loop: read latest, build, CAS-write.

        Thread-safe for threads sharing one handle (the lock), and
        process-safe across writers (the O_EXCL version-file CAS — a loser
        re-reads and revalidates)."""
        import random

        with self._commit_lock:
            # generous retry budget with jittered backoff: losing a CAS
            # race is cheap (re-read + rebuild is ms), and under N-writer
            # contention a fixed 10-try cap starves unlucky writers even
            # though the system as a whole is making progress
            for _ in range(50):
                meta = md.read_current_metadata(self.location)
                meta.location = self.location  # relocatable (see load)
                snap, new_meta = build(meta)
                try:
                    md.write_metadata_exclusive(new_meta, meta.version + 1)
                    new_meta.version = meta.version + 1
                    self.meta = new_meta
                    return snap
                except FileExistsError:
                    # lost the race; re-read and revalidate (jitter breaks
                    # lockstep retry storms across processes)
                    time.sleep(0.01 + random.random() * 0.04)
            raise CommitRetriesExhausted(
                "gave up after 50 commit attempts")

    def commit_append(self, added: list[mf.DataFile], summary: dict | None = None,
                      expect_partition_spec: "dict | None | object" = "__any__",
                      staged: bool = False,
                      ) -> md.Snapshot:
        # a marker-only append (e.g. a txn marker for a zero-row batch)
        # carries NO manifest: long-running streams would otherwise grow
        # one empty manifest parquet per trigger, and every later scan
        # opens them all
        manifest = mf.write_manifest(self.location, added) if added else None

        class _TxnAlreadyCommitted(Exception):
            def __init__(self, snap):
                self.snap = snap

        def build(meta: md.TableMetadata):
            # idempotent-write fence, checked INSIDE the CAS (Delta
            # validates txnAppId within the transaction for the same
            # reason — a check-then-act committed_txn lookup leaves a
            # window where a zombie driver and its restarted query both
            # pass and double-land the batch): a NON-staged append whose
            # marker already committed SKIPS silently, returning the
            # original snapshot (Delta's idempotent-write behavior); a
            # marker sitting on a PENDING staged snapshot conflicts
            # loudly — the caller is mixing WAP and plain appends and the
            # data is not decided yet
            # the fence needs the FULL (app, txn) pair: an app id alone is
            # inert annotation (pre-fence behavior) — fencing on it would
            # make every append after the first silently skip (None==None)
            app = (summary or {}).get("txn_app_id")
            txn = (summary or {}).get("txn_id")
            if app is not None and txn is not None and not staged:
                for s in meta.snapshots:
                    if (s.summary.get("txn_app_id") == app
                            and s.summary.get("txn_id") == txn):
                        if s.summary.get("staged") == "true":
                            raise CommitConflict(
                                f"txn marker ({app!r}, {txn!r}) sits on a "
                                f"PENDING staged snapshot of {meta.name} — "
                                "publish or drop it before appending the "
                                "batch through the plain path")
                        raise _TxnAlreadyCommitted(s)
            # files were ROUTED under the spec the writer captured at
            # staging time; if rewrite_partitioning (or a bucket-column
            # rename) committed since, their partition values are stale —
            # landing them would silently break every per-bucket
            # co-location assumption downstream (MERGE upserts, compaction
            # groups). Conflict loudly; the writer restages.
            self._check_spec_unchanged(meta, expect_partition_spec)
            parent = meta.snapshot()
            manifests = [*(parent.manifests if parent else [])]
            if manifest is not None:
                manifests.append(manifest)
            extra = dict(summary or {})
            if staged:
                # duplicate-run fence, checked INSIDE the CAS (Delta
                # validates txnAppId within the transaction for the same
                # reason): two concurrent executors of the same batch — a
                # zombie driver plus its restarted query — would otherwise
                # both pass a check-then-act marker lookup and double-stage
                app, txn = extra.get("txn_app_id"), extra.get("txn_id")
                if app is not None and txn is not None and any(
                        s.summary.get("txn_app_id") == app
                        and s.summary.get("txn_id") == txn
                        for s in meta.snapshots):
                    raise CommitConflict(
                        f"txn marker ({app!r}, {txn!r}) already exists in "
                        f"the snapshot log of {meta.name} — a concurrent "
                        "or earlier run of this batch staged first")
                # write-audit-publish: the snapshot enters the log readable
                # by id but NOT current; "staged_added" records exactly the
                # manifests this append contributed so publish_staged can
                # cherry-pick onto a moved head (Iceberg wap.id commits)
                extra["staged"] = "true"
                extra["staged_added"] = [manifest] if manifest else []
                # the spec these files were ROUTED under: publish_staged's
                # cherry-pick path re-validates it against the head at
                # publish time (the stage-time _check_spec_unchanged above
                # cannot see a rewrite_partitioning landing BETWEEN stage
                # and publish — off-ancestry staged files are not part of
                # the rewrite's copy-on-write)
                extra["staged_spec"] = meta.partition_spec
            snap = meta.next_snapshot(
                "append",
                manifests,
                {"added_files": len(added),
                 "added_records": sum(e.record_count for e in added),
                 **extra},
            )
            if staged:
                return snap, meta.with_staged_snapshot(snap)
            return snap, meta.with_snapshot(snap)

        try:
            return self._try_commit(build)
        except _TxnAlreadyCommitted as e:
            # the replayed attempt's freshly-written manifest is litter;
            # its data files become GC orphans (Delta leaves a skipped
            # idempotent write's files behind the same way)
            if manifest is not None:
                self._discard_staged([], [manifest])
            # every other commit path leaves self.meta at the head the
            # caller's write is visible in — the skip must too, or a scan
            # on this handle wouldn't show the rows just reported committed
            self.refresh()
            return e.snap
        except CommitConflict:
            # spec-changed conflict: this append's manifest is litter (the
            # caller discards/restages the data files themselves)
            if manifest is not None:
                self._discard_staged([], [manifest])
            raise

    def commit_rewrite(
        self,
        removed_paths: set[str],
        added: list[mf.DataFile],
        operation: str = "rewrite",
        summary: dict | None = None,
    ) -> md.Snapshot:
        """Atomically replace ``removed_paths`` with ``added`` files.

        Manifest handling is incremental: untouched manifests are reused
        by path; only manifests intersecting the removal set are rewritten.
        Validates (under the commit loop) that every removed file is still
        live — the snapshot-isolation guard against concurrent rewrites.
        """
        added_manifest = mf.write_manifest(self.location, added) if added else None
        # memoize per-source-manifest survivor rewrites across CAS retries:
        # manifests are immutable by path and the removal set is fixed, so
        # a lost commit race re-USES the survivor files already written
        # instead of re-reading every manifest and orphaning last
        # attempt's output (up to 50x under the retry budget)
        # (survivor manifest path or None, hit path set) per source manifest
        survivor_cache: dict[str, tuple[str | None, frozenset]] = {}

        def build(meta: md.TableMetadata):
            parent = meta.snapshot()
            if parent is None:
                raise CommitConflict("rewrite on empty table")
            new_manifests: list[str] = []
            seen: set[str] = set()
            for m in parent.manifests:
                if m not in survivor_cache:
                    entries = mf.read_manifest(self.location, m)
                    hit = frozenset(e.file_path for e in entries
                                    if e.file_path in removed_paths)
                    if not hit:
                        survivor_cache[m] = (m, hit)  # reuse untouched
                    else:
                        survivors = [e for e in entries
                                     if e.file_path not in removed_paths]
                        survivor_cache[m] = (
                            mf.write_manifest(self.location, survivors)
                            if survivors else None,
                            hit,
                        )
                path, hit = survivor_cache[m]
                seen.update(hit)
                if path is not None:
                    new_manifests.append(path)
            if seen != removed_paths:
                raise CommitConflict(
                    f"{len(removed_paths - seen)} files to remove are no "
                    "longer live (concurrent rewrite?)")
            if added_manifest:
                new_manifests.append(added_manifest)
            snap = meta.next_snapshot(
                operation,
                new_manifests,
                {"removed_files": len(removed_paths), "added_files": len(added),
                 **(summary or {})},
            )
            return snap, meta.with_snapshot(snap)

        try:
            return self._try_commit(build)
        except CommitConflict:
            # a real conflict (removed file no longer live): the added
            # manifest and any survivor rewrites staged above are litter —
            # delete them now instead of waiting for GC's grace window
            # (the caller separately discards the staged DATA files;
            # rewrite_schema/rewrite_partitioning discipline)
            litter = [added_manifest] if added_manifest else []
            litter += [p for m, (p, _h) in survivor_cache.items()
                       if p is not None and p != m]
            self._discard_staged([], litter)
            raise

    def commit_rewrite_manifests(
        self,
        removed_manifests: set[str],
        added: list[mf.DataFile],
        operation: str = "rewrite",
        summary: dict | None = None,
    ) -> md.Snapshot:
        """Rewrite commit whose removal set is WHOLE MANIFESTS: the new
        snapshot's manifest list = parent's − ``removed_manifests`` + one
        new manifest for ``added``.

        The isolation guard is O(manifests), never O(files): manifests are
        immutable by path, so the parent still *referencing* a removed
        manifest proves every file it lists is still live — the same
        validation ``commit_rewrite`` performs per file, without the
        driver ever materializing a path list (at 10⁷ files the path
        strings alone are ~GB). A concurrent ``commit_rewrite`` that
        replaced one of these manifests with a survivor manifest drops it
        from the parent list → CommitConflict here, exactly as the
        per-file check would have conflicted. Concurrent APPENDS add new
        manifests, which pass through untouched."""
        added_manifest = (mf.write_manifest(self.location, added)
                          if added else None)

        def build(meta: md.TableMetadata):
            parent = meta.snapshot()
            if parent is None:
                raise CommitConflict("rewrite on empty table")
            missing = removed_manifests - set(parent.manifests)
            if missing:
                raise CommitConflict(
                    f"{len(missing)} manifests to remove are no longer "
                    "referenced by the head (concurrent rewrite?)")
            new_manifests = [m for m in parent.manifests
                             if m not in removed_manifests]
            if added_manifest:
                new_manifests.append(added_manifest)
            snap = meta.next_snapshot(
                operation, new_manifests,
                {"removed_manifests": len(removed_manifests),
                 "added_files": len(added),
                 **(summary or {})},
            )
            return snap, meta.with_snapshot(snap)

        return self._try_commit(build)

    def append(self, df: DataFrame, max_records_per_file: int | None = None,
               summary: dict | None = None, on_violation: str = "reject",
               dead_letter: "LakeTable | None" = None) -> md.Snapshot:
        """Append with write-time contract enforcement.

        If the table's properties carry a ``contract`` (declared at create
        time), the batch is validated BEFORE anything commits: schema
        conformance at plan time, then row rules in one tagging job.
        ``on_violation='reject'`` (default) raises with a violator sample
        and commits nothing; ``'dead_letter'`` appends violators (plus
        their ``_violation`` reason) to ``dead_letter`` when given — good
        rows proceed. Mirrors the reference's validate-before-landing gate
        (/root/reference/ofl/quality/contracts.py:11-33,
        ofl/ingestion/landing.py:60-70)."""
        from open_finance_lakehouse_spark.quality import contracts as qc

        if on_violation not in ("reject", "dead_letter"):
            # a typo'd mode must not silently drop violators (quiet data
            # loss); fail loudly before anything is staged
            raise ValueError(
                f"on_violation={on_violation!r} — expected 'reject' or "
                "'dead_letter'")
        if on_violation == "dead_letter" and dead_letter is None:
            # without a destination, "dead_letter" would silently DISCARD
            # every violating row — the same quiet loss the mode guard
            # above exists to prevent
            raise ValueError(
                "on_violation='dead_letter' requires a dead_letter table "
                "(violators would otherwise be silently dropped)")
        # replayed idempotent batch: skip BEFORE staging so the common
        # replay path writes zero bytes (a 10 GB batch replay would
        # otherwise rewrite all its parquet just for the in-CAS fence to
        # orphan it); the fence below remains the race-window backstop
        app = (summary or {}).get("txn_app_id")
        txn = (summary or {}).get("txn_id")
        if app is not None and txn is not None:
            prior = self.find_txn(app, txn)
            if prior is not None and prior.summary.get("staged") != "true":
                return prior
        # write-schema conformance ALWAYS (Delta/Iceberg discipline, not
        # just on contract tables): a misnamed column would otherwise
        # commit fine and read back as all-NULL under the table schema
        qc.check_schema(df, self.schema())
        # the spec the rows are ROUTED under while staging; the commit is
        # conditional on it (rewrite_partitioning racing this append must
        # conflict, not land stale-routed files)
        staged_spec = self.meta.partition_spec
        contract = qc.Contract.from_properties(self.meta.properties)
        if contract is None:
            return self.commit_append(
                self.stage_dataframe(df, max_records_per_file), summary,
                expect_partition_spec=staged_spec)

        tagged = qc.tag_violations(df, contract).persist()
        try:
            bad = tagged.filter(F.col(qc.VIOLATION_COL).isNotNull())
            sample = [r.asDict() for r in bad.limit(5).collect()]
            n_bad = 0
            if sample:
                if on_violation == "reject":
                    raise qc.ContractViolation(
                        f"append to {self.meta.name} rejected: contract "
                        f"violations (sample of ≤5): "
                        f"{[r[qc.VIOLATION_COL] for r in sample]}",
                        sample)
                n_bad = bad.count()
                if dead_letter is not None:
                    # replay-safe when the caller's summary carries txn
                    # markers (the streaming lane always does): a retried
                    # batch whose dead-letter commit already landed skips
                    # it instead of duplicating the violators
                    app = (summary or {}).get("txn_app_id")
                    txn = (summary or {}).get("txn_id")
                    if app is None or not dead_letter.committed_txn(app, txn):
                        dead_letter.append(
                            bad, summary={**(summary or {}),
                                          "source": self.meta.name})
            good = tagged.filter(F.col(qc.VIOLATION_COL).isNull()) \
                         .drop(qc.VIOLATION_COL)
            return self.commit_append(
                self.stage_dataframe(good, max_records_per_file),
                {**(summary or {}), "contract_violations": n_bad},
                expect_partition_spec=staged_spec)
        finally:
            tagged.unpersist()

    def _discard_staged(self, entries: "list[mf.DataFile]",
                        manifests: "list[str]") -> None:
        """Best-effort delete of a failed copy-on-write's staged data files
        and manifest(s) — a conflicted rewrite_schema / rewrite_partitioning
        would otherwise orphan a full table copy until GC's grace window
        expires (publish_overwrite's withheld stage relies on GC because its
        stage is a normal-sized candidate; a whole-table copy is not)."""
        for rel in [e.file_path for e in entries] + list(manifests):
            try:
                os.remove(os.path.join(self.location, rel))
            except OSError:
                pass

    def _check_spec_unchanged(self, meta: "md.TableMetadata",
                              expect: "dict | None | object") -> None:
        if expect != "__any__" and meta.partition_spec != expect:
            raise CommitConflict(
                f"partition spec changed ({expect} -> "
                f"{meta.partition_spec}) since these files were staged — "
                "their partition routing is stale; restage against the "
                "current spec")

    def commit_replace(self, added: list[mf.DataFile],
                       summary: dict | None = None,
                       operation: str = "replace",
                       expect_current_snapshot_id: "int | None | object"
                       = "__any__",
                       expect_partition_spec: "dict | None | object"
                       = "__any__") -> md.Snapshot:
        """Full-rebuild publish: the new snapshot references ONLY ``added``
        — every prior file becomes unreachable from the new current
        snapshot while remaining readable through retained history
        (snapshot isolation). The reference's gold lane publishes marts this
        way: check, then overwrite the whole table
        (/root/reference/ofl/transform/gold/runner.py:165-203).

        ``expect_current_snapshot_id`` turns this into a CONDITIONAL
        replace: the commit refuses (CommitConflict) unless the table head
        is still the given snapshot — the whole-table-rewrite analogue of
        ``commit_rewrite``'s files-still-live check, at O(added) cost
        instead of re-reading every live manifest (any concurrent commit
        moves the head, so the guard is strictly as strong).
        ``operation`` lets row-preserving whole-table rewrites label
        themselves (e.g. ``cluster``) so incremental consumers skip them."""
        manifests = [mf.write_manifest(self.location, added)] if added else []

        class _TxnAlreadyCommitted(Exception):
            def __init__(self, snap):
                self.snap = snap

        def build(meta: md.TableMetadata):
            # idempotent-write fence INSIDE the CAS, same as
            # commit_append's: a complete-mode stream replaying batch N
            # after its restarted query already committed N (and N+1)
            # would otherwise re-commit N's replace and REGRESS the
            # table to the stale state — a check-then-act committed_txn
            # lookup outside the CAS cannot close that zombie window
            app = (summary or {}).get("txn_app_id")
            txn = (summary or {}).get("txn_id")
            if app is not None and txn is not None:
                for s in meta.snapshots:
                    if (s.summary.get("txn_app_id") == app
                            and s.summary.get("txn_id") == txn):
                        raise _TxnAlreadyCommitted(s)
            if (expect_current_snapshot_id != "__any__"
                    and meta.current_snapshot_id
                    != expect_current_snapshot_id):
                raise CommitConflict(
                    f"table head moved ({expect_current_snapshot_id} -> "
                    f"{meta.current_snapshot_id}) since this rewrite was "
                    "planned")
            self._check_spec_unchanged(meta, expect_partition_spec)
            snap = meta.next_snapshot(
                operation, manifests,
                {"added_files": len(added),
                 "added_records": sum(e.record_count for e in added),
                 **(summary or {})},
            )
            return snap, meta.with_snapshot(snap)

        try:
            return self._try_commit(build)
        except _TxnAlreadyCommitted as done:
            return done.snap

    def replace(self, df: DataFrame, max_records_per_file: int | None = None,
                summary: dict | None = None) -> md.Snapshot:
        staged_spec = self.meta.partition_spec
        return self.commit_replace(
            self.stage_dataframe(df, max_records_per_file), summary,
            expect_partition_spec=staged_spec)

    # ------------------------------------------------------- transactions

    # ------------------------------------------------ write-audit-publish

    def append_staged(self, df: DataFrame,
                      max_records_per_file: int | None = None,
                      summary: dict | None = None) -> md.Snapshot:
        """Stage an append for write-audit-publish (Iceberg ``wap.id``
        commits): the snapshot enters the log readable by id —
        ``scan(snapshot_id=...)`` audits exactly the bytes that would
        publish — but the table's readers see nothing until
        ``publish_staged``.  Staged snapshots are immune to expire and
        their files are GC-reachable; ``drop_staged`` abandons one."""
        from open_finance_lakehouse_spark.quality import contracts as qc

        qc.check_schema(df, self.schema())
        staged_spec = self.meta.partition_spec
        return self.commit_append(
            self.stage_dataframe(df, max_records_per_file), summary,
            expect_partition_spec=staged_spec, staged=True)

    def publish_staged(self, snapshot_id: int) -> md.Snapshot:
        """Make a staged append visible.

        Fast-forward when the head hasn't moved since staging (the
        snapshot becomes current as-is, marker cleared so normal expire
        applies from here).  If other commits landed in between, the
        staged append's own manifests are CHERRY-PICKED onto the current
        head as a new snapshot and the staged entry is consumed — safe
        for appends (pure manifest union); anything else conflicts."""

        def build(meta: md.TableMetadata):
            snap = meta.snapshot(snapshot_id)
            if snap.summary.get("staged") != "true":
                raise ValueError(
                    f"snapshot {snapshot_id} of {meta.name} is not an "
                    "unpublished staged snapshot")
            if meta.current_snapshot_id == snap.parent_id:
                pub = dc_replace(
                    snap, summary={**snap.summary, "staged": "false",
                                   "published": "fast_forward"})
                snaps = [pub if s.snapshot_id == snapshot_id else s
                         for s in meta.snapshots]
                return pub, dc_replace(
                    meta, properties=dict(meta.properties), snapshots=snaps,
                    current_snapshot_id=snapshot_id)
            if snap.operation != "append":
                raise CommitConflict(
                    f"staged snapshot {snapshot_id} is a "
                    f"{snap.operation} and the head moved since staging — "
                    "only appends cherry-pick; re-run the operation")
            head = meta.snapshot()
            # the staged files were routed/written under the spec and
            # schema captured at staging; a rewrite_partitioning or
            # rewrite_schema landing since rewrote every LIVE file but
            # not these off-ancestry ones — a pure manifest union would
            # land stale-routed (bucket pruning and per-bucket MERGE
            # would silently miss their rows) or stale-shaped files.
            # Conflict loudly; the writer drops and re-stages.
            if ("staged_spec" in snap.summary
                    and snap.summary["staged_spec"] != meta.partition_spec):
                raise CommitConflict(
                    f"staged snapshot {snapshot_id} was routed under "
                    f"partition spec {snap.summary['staged_spec']} but the "
                    f"table's spec is now {meta.partition_spec} — drop the "
                    "staged snapshot and re-stage under the current spec")
            if (snap.schema_ddl and meta.schema_ddl
                    and snap.schema_ddl != meta.schema_ddl):
                # additive update_schema (ADD/WIDEN) keeps old files
                # valid — scan projects missing columns as NULL — so only
                # a DESTRUCTIVE change (a staged column dropped, renamed,
                # or retyped in the current schema) conflicts; this
                # matches the fast-forward path, which publishes
                # pre-evolution files after an additive change too
                cur = {f.name: f.dataType for f in
                       schema_struct(self.spark, meta.schema_ddl).fields}
                stale = [f.name for f in
                         schema_struct(self.spark, snap.schema_ddl).fields
                         if cur.get(f.name) != f.dataType]
                if stale:
                    raise CommitConflict(
                        f"staged snapshot {snapshot_id} was written under "
                        f"a schema whose columns {stale} have since been "
                        "dropped, renamed, or retyped — drop the staged "
                        "snapshot and re-stage under the current schema")
            added = list(snap.summary.get("staged_added") or [])
            # carry the staged snapshot's USER summary over (minus the
            # staging bookkeeping): txn markers (txn_app_id/txn_id) must
            # survive publication or a replayed streaming batch would
            # re-stage data whose cherry-picked publish already landed
            carried = {k: v for k, v in snap.summary.items()
                       if k not in ("staged", "staged_added", "staged_spec")}
            new = meta.next_snapshot(
                "append",
                [*(head.manifests if head else []), *added],
                {**carried,
                 "published": "cherry_pick",
                 "cherry_picked_from": snapshot_id},
            )
            # consume the staged entry: its files are now referenced by
            # the cherry-picked snapshot (ids are lifetime-unique, so the
            # removal can never be confused with a re-issue)
            meta2 = dc_replace(
                meta, properties=dict(meta.properties),
                snapshots=[s for s in meta.snapshots
                           if s.snapshot_id != snapshot_id])
            return new, meta2.with_snapshot(new)

        return self._try_commit(build)

    def drop_staged(self, snapshot_id: int) -> md.Snapshot:
        """Abandon an unpublished staged snapshot (audit failed): the
        entry leaves the log and its files become GC orphans after the
        grace window."""

        def build(meta: md.TableMetadata):
            snap = meta.snapshot(snapshot_id)
            if snap.summary.get("staged") != "true":
                raise ValueError(
                    f"snapshot {snapshot_id} of {meta.name} is not an "
                    "unpublished staged snapshot")
            return snap, dc_replace(
                meta, properties=dict(meta.properties),
                snapshots=[s for s in meta.snapshots
                           if s.snapshot_id != snapshot_id])

        return self._try_commit(build)

    def committed_txn(self, app_id: str, txn_id: object) -> bool:
        """True iff some snapshot carries this (txn_app_id, txn_id) marker.

        The Delta ``txnAppId``/``txnVersion`` idempotence contract
        (/root/reference/ofl/streaming/bronze.py:185-194) rebuilt on the
        snapshot log: callers pass ``summary={"txn_app_id": ..., "txn_id":
        ...}`` to ``append``/``commit_append`` so the marker commits
        ATOMICALLY with the data — a replay after any crash either sees the
        marker (data is in) or not (data is not). Markers live as long as
        their snapshot log entry: the expire retention window must exceed
        the replay horizon (same rule as Delta txn retention)."""
        return self.find_txn(app_id, txn_id) is not None

    def find_txn(self, app_id: str, txn_id: object) -> "md.Snapshot | None":
        """The snapshot carrying this (txn_app_id, txn_id) marker, else
        None.  Callers that must tell a PENDING staged marker apart from
        a published one (streaming write-audit-publish) read the
        snapshot's ``staged`` summary flag off the returned object."""
        self.refresh()
        for s in self.meta.snapshots:
            if (s.summary.get("txn_app_id") == app_id
                    and s.summary.get("txn_id") == txn_id):
                return s
        return None

    # ---------------------------------------------------------- maintenance

    @staticmethod
    def _select_expirable(
        meta: md.TableMetadata,
        retain_last: int,
        older_than_ms: "int | None",
    ) -> "tuple[list[md.Snapshot], list[int]]":
        """The expire-snapshots keep/drop decision as a pure function of
        the metadata — shared by the committing ``expire_snapshots`` and
        the read-only ``would_expire`` preview so the two can never
        disagree (the VACUUM DRY RUN contract depends on that)."""
        ordered = sorted(meta.snapshots, key=lambda s: s.sequence_number)
        by_id = {s.snapshot_id: s for s in meta.snapshots}
        chain: list[int] = []
        cur = meta.current_snapshot_id
        while cur is not None and cur in by_id:
            chain.append(cur)
            cur = by_id[cur].parent_id
        keep_ids = set(chain[: max(retain_last, 1)])
        if meta.current_snapshot_id is not None:
            keep_ids.add(meta.current_snapshot_id)
        kept, dropped = [], []
        for s in ordered:
            old_enough = (older_than_ms is None
                          or s.timestamp_ms < older_than_ms)
            # unpublished write-audit-publish snapshots are immune:
            # they are off-ancestry BY DESIGN while awaiting audit
            # (publish clears the marker or consumes the entry, drop
            # removes it — "staged" in the log always means pending)
            awaiting_audit = s.summary.get("staged") == "true"
            if s.snapshot_id in keep_ids or not old_enough \
                    or awaiting_audit:
                kept.append(s)
            else:
                dropped.append(s.snapshot_id)
        return kept, dropped

    def would_expire(
        self,
        retain_last: int = 1,
        older_than_ms: int | None = None,
    ) -> list[int]:
        """Snapshot ids ``expire_snapshots`` WOULD drop, without
        committing anything — the expiry half of a VACUUM dry run."""
        self.refresh()
        return self._select_expirable(self.meta, retain_last,
                                      older_than_ms)[1]

    def expire_snapshots(
        self,
        retain_last: int = 1,
        older_than_ms: int | None = None,
    ) -> list[int]:
        """Drop snapshots from the log (current snapshot always survives).

        A snapshot is expired if it is NOT among the ``retain_last`` most
        recent ANCESTORS of the current snapshot AND (when given) is older
        than ``older_than_ms``. Retention follows the parent chain — not
        raw commit order — so a branch abandoned by ``rollback`` is
        expirable immediately even though its head is the newest commit
        (Iceberg's reachability rule). Returns the expired snapshot ids.
        File deletion is ``delete_orphans``'s job — split so readers of
        retained snapshots never lose files (snapshot isolation),
        mirroring Iceberg's expire/remove-orphans split.
        """

        def build(meta: md.TableMetadata):
            kept, dropped = self._select_expirable(meta, retain_last,
                                                   older_than_ms)
            # last_snapshot_id survives the expire untouched — expired ids
            # are never re-issued (snapshot ids are lifetime-unique)
            snap_meta = dc_replace(meta, properties=dict(meta.properties),
                                   snapshots=kept)
            marker = meta.next_snapshot("expire", [], {})  # unused, api shape
            marker.manifests = []
            self._expired = dropped
            return marker, snap_meta

        self._expired: list[int] = []
        self._try_commit(build)
        return self._expired

    def reachable_paths(
            self, exclude_snapshots: "set[int] | None" = None) -> set[str]:
        """All file paths (data + manifests) referenced by any live
        snapshot — minus ``exclude_snapshots``, which lets a VACUUM
        preview compute reachability AS IF those snapshots had already
        expired (files shared with a kept snapshot stay reachable)."""
        reach: set[str] = set()
        skip = exclude_snapshots or ()
        for s in self.meta.snapshots:
            if s.snapshot_id in skip:
                continue
            for m in s.manifests:
                if m in reach:
                    # appends inherit the parent's full manifest list, so
                    # retained snapshots share most manifests — without
                    # this guard the walk reads O(snapshots x manifests)
                    continue
                reach.add(m)
                reach.update(e.file_path for e in mf.read_manifest(self.location, m))
        return reach

    def delete_orphans(self, grace_ms: int = 0, dry_run: bool = False,
                       exclude_snapshots: "set[int] | None" = None,
                       ) -> list[str]:
        """Delete data/manifest files unreachable from any live snapshot.

        ``grace_ms`` protects in-flight staged files (a writer may have
        staged data not yet committed) — the standard orphan-GC safety
        window. ``exclude_snapshots`` drops the named snapshots from the
        reachability walk — used ONLY by dry runs to preview what a
        subsequent expire+GC would remove (a mutating call with it set
        would break snapshot isolation for readers of those snapshots,
        so it is refused). Reachability and the listing are a walk on the
        driver."""
        if exclude_snapshots and not dry_run:
            raise ValueError(
                "exclude_snapshots is a dry-run-only preview knob; a "
                "mutating GC that skipped live snapshots would delete "
                "files their readers can still reach")
        self.refresh()
        victims = self._find_orphans_walk(grace_ms, time.time(),
                                          exclude_snapshots)
        if not dry_run:
            for rel in victims:
                # overlapping GCs (cron + manual) compute the same
                # victims; losing the unlink race is success, not a
                # reason to abort the rest of the sweep
                try:
                    os.remove(os.path.join(self.location, rel))
                except FileNotFoundError:
                    pass
            # metadata/ .tmp-* litter from writers that died mid-commit
            # lives outside data/ — sweep it under the grace window, but
            # never below the dead-claim age: at grace 0 (tests/benches)
            # an age of ~0 would unlink a LIVE committer's in-flight tmp
            # between its fsync and link, failing that commit
            md.sweep_stale_tmp(
                self.location,
                max_age_ms=max(grace_ms, md.DEAD_CLAIM_AGE_MS))
            # a _staging tree lives for a whole Spark write (minutes on a
            # big rewrite), not a sub-second commit window: floor its age
            # gate at the stale-tmp default so grace 0 never rmtrees a
            # live writer's output mid-job
            self._sweep_dead_staging(max_age_ms=max(grace_ms, 3_600_000))
        return sorted(victims)

    def _sweep_dead_staging(self, max_age_ms: int) -> list[str]:
        """Remove ``_staging/<uuid>`` trees abandoned by writers that
        died mid-write (the orphan walk covers only data/ and
        metadata/manifests, so these would accumulate forever).
        Age-gated like the metadata tmp sweep: a live writer's staging
        directory survives."""
        import shutil

        base = os.path.join(self.location, "_staging")
        removed: list[str] = []
        try:
            names = os.listdir(base)
        except FileNotFoundError:
            return removed
        now_ms = time.time() * 1000
        for n in names:
            p = os.path.join(base, n)
            try:
                if now_ms - os.path.getmtime(p) * 1000 >= max_age_ms:
                    shutil.rmtree(p, ignore_errors=True)
                    removed.append(p)
            except FileNotFoundError:
                pass  # concurrent sweep won
        return removed

    def _find_orphans_walk(self, grace_ms: int, now: float,
                           exclude_snapshots: "set[int] | None" = None,
                           ) -> list[str]:
        reach = self.reachable_paths(exclude_snapshots)
        victims: list[str] = []
        for sub in ("data", os.path.join("metadata", "manifests")):
            base = os.path.join(self.location, sub)
            for root, _d, names in os.walk(base):
                for n in names:
                    ap = os.path.join(root, n)
                    rel = os.path.relpath(ap, self.location)
                    if rel in reach:
                        continue
                    if grace_ms and (now - os.path.getmtime(ap)) * 1000 < grace_ms:
                        continue
                    victims.append(rel)
        return victims

    def rollback(self, snapshot_id: int) -> md.Snapshot:
        """Point the table back at an earlier snapshot (Iceberg
        rollback-to-snapshot): the recovery path after a bad rewrite —
        MERGE applied the wrong batch, clustering with a broken kernel —
        without copying any data. The rollback is itself a NEW metadata
        version (CAS-committed), so it is concurrency-safe and itself
        revertable; the abandoned snapshots stay readable until expire
        drops them and GC collects their files."""

        def build(meta: md.TableMetadata):
            target = meta.snapshot(snapshot_id)  # raises if unknown
            if target.summary.get("staged") == "true":
                # a staged WAP snapshot is pre-audit by definition: making
                # it current would expose unaudited rows AND corrupt a
                # later publish_staged (its cherry-pick adds the staged
                # manifests onto a head that already holds them — every
                # scan would read those files twice)
                raise ValueError(
                    f"snapshot {snapshot_id} is a STAGED write-audit-"
                    "publish snapshot — publish or drop it "
                    "(publish_staged / drop_staged), don't restore to it")
            rolled = dc_replace(meta, properties=dict(meta.properties),
                                current_snapshot_id=target.snapshot_id,
                                snapshots=list(meta.snapshots))
            return target, rolled

        return self._try_commit(build)

    def set_properties(self, set_props: "dict | None" = None,
                       unset: "list[str] | None" = None,
                       transform=None) -> None:
        """Table-property evolution as a CAS metadata commit — the
        ``ALTER TABLE SET/UNSET TBLPROPERTIES`` primitive. Values store
        as given (the readers parse: ``operators/config.py`` coerces
        ``maintenance.*`` strings, contract enforcement reads
        ``contract``); KEY validation is the SQL front door's job so
        this primitive stays namespace-agnostic like Delta's.

        ``transform(props, meta) -> dict`` runs INSIDE the CAS against
        the commit-time properties/metadata (re-run on every retry) —
        the read-modify-write hook for callers that must merge into a
        structured property (the contract's constraint list): composing
        the merged value outside the CAS would silently drop a
        concurrent editor's keys when this commit wins the retry."""

        set_props = dict(set_props or {})
        unset = list(unset or [])

        def build(meta: md.TableMetadata):
            props = dict(meta.properties)
            for k in unset:
                props.pop(k, None)
            props.update(set_props)
            if transform is not None:
                props = transform(props, meta)
            return meta.snapshot(), dc_replace(meta, properties=props)

        self._try_commit(build)

    def update_schema(self, new_ddl: str) -> None:
        """Schema evolution as a CAS metadata commit: ADD COLUMN and WIDEN
        TYPE only (the safe subset — drops/renames/narrowing refuse).

        No data moves: old files stay as written; every scan passes the
        snapshot's schema to the parquet reader, which projects missing
        columns as NULL and upcasts widened ints/floats natively. Snapshots
        record their commit-time schema, so time travel to a pre-evolution
        snapshot still reads the OLD shape. The reference gets this from
        Delta's ``overwriteSchema`` full rebuilds
        (/root/reference/ofl/transform/spark/dimensions.py:39-44,
        ofl/transform/spark/silver.py:363); frost evolves in place.
        """

        def build(meta: md.TableMetadata):
            old = {f.name: f.dataType.simpleString() for f in
                   schema_struct(self.spark, meta.schema_ddl).fields}
            new = {f.name: f.dataType.simpleString() for f in
                   schema_struct(self.spark, new_ddl).fields}
            _check_reserved(new)
            dropped = [c for c in old if c not in new]
            if dropped:
                raise SchemaEvolutionError(
                    f"columns {dropped} missing from the new schema — "
                    "drop/rename is not supported (add/widen only)")
            part_col = (meta.partition_spec or {}).get("column")
            for name, ot in old.items():
                nt = new[name]
                if name == part_col and nt != ot:
                    # xxhash64 hashes ints and longs differently: widening
                    # the bucket column would silently re-route every row
                    # to a different partition than its files live in
                    raise SchemaEvolutionError(
                        f"cannot change type of partition column {name!r} "
                        f"({ot} -> {nt}): bucket routing would diverge "
                        "from existing file layout")
                if not _widenable(ot, nt):
                    raise SchemaEvolutionError(
                        f"column {name!r}: {ot} -> {nt} is not a widening "
                        "(allowed: int family upward, int->double, "
                        "float->double)")
            evolved = dc_replace(meta, properties=dict(meta.properties),
                                 schema_ddl=new_ddl)
            return meta.snapshot(), evolved

        self._try_commit(build)

    def rewrite_schema(self, new_ddl: str,
                       mapping: dict[str, str] | None = None,
                       max_records_per_file: int | None = None
                       ) -> md.Snapshot:
        """DROP/RENAME schema evolution via copy-on-write — the shapes
        ``update_schema``'s metadata-only path refuses (frost's name-keyed
        schema has no Iceberg field-ids, so a rename cannot be expressed
        without rewriting bytes; Iceberg exposes the same capability
        through its rewrite machinery, and the reference reaches it via
        Delta's ``overwriteSchema`` full rebuilds,
        /root/reference/ofl/transform/spark/dimensions.py:39-44).

        ``mapping``: ``{new_name: old_name}`` for renames; new columns
        absent from both the old schema and the mapping fill with NULL;
        old columns not carried into ``new_ddl`` are dropped.

        Every live row is re-staged under the new shape and published as
        ONE ``replace`` snapshot that atomically flips ``schema_ddl`` (and
        the partition spec, if the bucket column was renamed) — the commit
        is conditional on the head the rewrite scanned, so a concurrent
        append under the old shape conflicts instead of vanishing.  The
        snapshot is ROW-CHANGING by label: incremental consumers refuse
        and recompute (a renamed column is a different relation to them).
        Old snapshots keep time-traveling with their commit-time schema.
        """
        mapping = dict(mapping or {})
        new_fields = schema_struct(self.spark, new_ddl).fields
        _check_reserved(f.name for f in new_fields)
        old_fields = self.schema().fields
        old_names = [f.name for f in old_fields]
        old_types = {f.name: f.dataType.simpleString() for f in old_fields}
        unknown = [s for s in mapping.values() if s not in old_names]
        if unknown:
            raise SchemaEvolutionError(
                f"mapping sources {unknown} not in the current schema "
                f"{old_names}")
        # retypes ride the same cast the rename/drop staging applies, so
        # they must obey update_schema's widening rule: a narrowing cast
        # (bigint -> int) silently wraps/nulls row-by-row under default
        # Spark semantics — table-wide data corruption, not evolution
        for f in new_fields:
            src = mapping.get(f.name,
                              f.name if f.name in old_types else None)
            if src is None:
                continue
            ot, nt = old_types[src], f.dataType.simpleString()
            if ot != nt and not _widenable(ot, nt):
                raise SchemaEvolutionError(
                    f"column {src!r} -> {f.name!r}: {ot} -> {nt} is not a "
                    "widening change — a rewrite cast would corrupt "
                    "values silently (export + re-import to narrow)")
        # fail fast BEFORE staging: a contract rule referencing a column
        # this rewrite drops would otherwise break every later write,
        # statements away from the cause (the in-build call below is the
        # authoritative one — it reads the properties at commit time)
        self._carry_contract(self.meta.properties, new_ddl, mapping)

        def source_of(name: str) -> str | None:
            if name in mapping:
                return mapping[name]
            return name if name in old_names else None

        exprs = []
        for f in new_fields:
            src = source_of(f.name)
            if src is None:
                exprs.append(F.lit(None).cast(f.dataType).alias(f.name))
            else:
                exprs.append(F.col(src).cast(f.dataType).alias(f.name))

        spec = self.meta.partition_spec
        new_spec = spec
        if spec:
            carriers = [f.name for f in new_fields
                        if source_of(f.name) == spec["column"]]
            if not carriers:
                raise SchemaEvolutionError(
                    f"partition column {spec['column']!r} has no successor "
                    "in the new schema — dropping the bucket column would "
                    "leave the table unroutable")
            # prefer the identity name if it survives, else the rename
            new_col = (spec["column"] if spec["column"] in carriers
                       else carriers[0])
            new_spec = {**spec, "column": new_col}

        head = self.current_snapshot_id()
        planned_old_ddl = self.meta.schema_ddl
        planned_old_spec = self.meta.partition_spec
        entries = self.stage_dataframe(
            self.scan().select(*exprs), max_records_per_file,
            partition_value=self.partition_value_col(new_spec))
        manifests = [mf.write_manifest(self.location, entries)] \
            if entries else []

        def build(meta: md.TableMetadata):
            if meta.current_snapshot_id != head:
                raise CommitConflict(
                    f"table head moved ({head} -> "
                    f"{meta.current_snapshot_id}) while the schema rewrite "
                    "was staging — retry against the new head")
            # metadata-only evolution (update_schema ADD/widen, partition
            # rewrite) moves NO snapshot — the head check alone would let
            # this commit flip schema_ddl back over a concurrently added
            # column, vanishing it without error
            if (meta.schema_ddl != planned_old_ddl
                    or meta.partition_spec != planned_old_spec):
                raise CommitConflict(
                    "table schema/partition spec evolved while the "
                    "schema rewrite was staging — retry against the new "
                    "shape")
            evolved = dc_replace(
                meta,
                properties=self._carry_contract(meta.properties, new_ddl,
                                                mapping),
                schema_ddl=new_ddl, partition_spec=new_spec)
            snap = evolved.next_snapshot(
                "replace", manifests,
                {"added_files": len(entries),
                 "added_records": sum(e.record_count for e in entries),
                 "schema_rewrite": "true"})
            return snap, evolved.with_snapshot(snap)

        try:
            return self._try_commit(build)
        except (CommitConflict, SchemaEvolutionError):
            self._discard_staged(entries, manifests)
            raise

    def _carry_contract(self, properties: dict, new_ddl: str,
                        mapping: dict[str, str]) -> dict:
        """The table's contract must survive a schema rewrite or the
        rewrite must refuse — stored untouched, a rule naming a dropped
        column breaks every later write with an analysis error far from
        the ALTER that caused it (Delta likewise blocks dropping/renaming
        constrained columns). Renamed columns carry their not_null /
        unique / bounds / allowed rules forward under the new name;
        dropped ones refuse. CHECK expressions are opaque — they are
        re-analyzed against the new schema and refuse when they no
        longer resolve (rename included: the expression still names the
        old column; DROP CONSTRAINT first, re-add under the new name).
        Returns the (possibly rewritten) properties dict."""
        from open_finance_lakehouse_spark.quality import contracts as qc

        contract = qc.Contract.from_properties(properties)
        if contract is None:
            return dict(properties)
        renames = {old: new for new, old in mapping.items()}
        # one analyzer round-trip: the probe serves both the name set and
        # the CHECK re-analysis below (this method runs twice per rewrite
        # — fail-fast and in-CAS — so duplicated createDataFrame calls
        # multiply)
        probe = self.spark.createDataFrame(
            [], schema_struct(self.spark, new_ddl))
        new_names = {f.name for f in probe.schema.fields}

        def carry(col: str, rule: str) -> str:
            if col in renames:
                return renames[col]
            if col in new_names:
                return col
            raise SchemaEvolutionError(
                f"column {col!r} is referenced by the table contract's "
                f"{rule} rule and has no successor in the new schema — "
                "drop the rule (DROP CONSTRAINT / edit the contract "
                "property) before dropping the column")

        carried = qc.Contract(
            not_null=[carry(c, "not_null") for c in contract.not_null],
            unique=[carry(c, "unique") for c in contract.unique],
            bounds={carry(k, "bounds"): v
                    for k, v in contract.bounds.items()},
            allowed={carry(k, "allowed"): v
                     for k, v in contract.allowed.items()},
            checks=dict(contract.checks))
        for nm, ex in carried.checks.items():
            try:
                probe.selectExpr(f"({ex}) AS __c")
            except Exception as e:
                raise SchemaEvolutionError(
                    f"CHECK constraint {nm!r} ({ex!r}) no longer analyzes "
                    f"under the new schema: {e}. DROP CONSTRAINT {nm} "
                    "before this rewrite (and re-add it against the new "
                    "column names)") from e
        props = dict(properties)
        if carried != contract:
            props[qc.PROPERTY_KEY] = carried.to_property()
        return props

    def rewrite_partitioning(self, new_spec: dict | None,
                             max_records_per_file: int | None = None
                             ) -> md.Snapshot:
        """Partition-spec evolution via copy-on-write (Iceberg's
        partition-evolution capability; frost keeps ONE live spec per
        snapshot — no per-file spec ids — so changing it re-stages every
        live row under the new routing and publishes one conditional
        ``rewrite`` snapshot that atomically flips the spec).

        ``new_spec``: ``{"kind": "bucket", "column": c, "num_buckets": n}``
        or ``None`` to un-partition.  The operation is ROW-PRESERVING —
        labeled ``rewrite`` so incremental consumers ride through it
        (``skipRewrites``) exactly like compaction and clustering; old
        snapshots keep time-traveling with their commit-time layout.  The
        use case at scale: a bucket count sized for yesterday's cluster
        (data skew, executor count) re-sized without downtime.
        """
        if new_spec is not None:
            if new_spec.get("kind") != "bucket":
                raise ValueError(f"unknown partition spec {new_spec}")
            if int(new_spec.get("num_buckets", 0)) < 1:
                raise ValueError("num_buckets must be >= 1")
            names = self.schema().names
            if new_spec.get("column") not in names:
                raise ValueError(
                    f"bucket column {new_spec.get('column')!r} not in the "
                    f"schema {names}")
        if new_spec == self.meta.partition_spec:
            raise ValueError(
                "new partition spec equals the current one — nothing to "
                "rewrite")

        head = self.current_snapshot_id()
        if new_spec is not None:
            entries = self.stage_dataframe(
                self.scan(), max_records_per_file,
                partition_value=self.partition_value_col(new_spec))
        else:
            entries = self.stage_dataframe(
                self.scan(), max_records_per_file, fixed_partition="0")
        manifests = [mf.write_manifest(self.location, entries)] \
            if entries else []

        def build(meta: md.TableMetadata):
            if meta.current_snapshot_id != head:
                raise CommitConflict(
                    f"table head moved ({head} -> "
                    f"{meta.current_snapshot_id}) while the partition "
                    "rewrite was staging — retry against the new head")
            evolved = dc_replace(meta, properties=dict(meta.properties),
                                 partition_spec=new_spec)
            snap = evolved.next_snapshot(
                "rewrite", manifests,
                {"added_files": len(entries),
                 "added_records": sum(e.record_count for e in entries),
                 "partition_rewrite": "true"})
            return snap, evolved.with_snapshot(snap)

        try:
            return self._try_commit(build)
        except CommitConflict:
            self._discard_staged(entries, manifests)
            raise

    # ------------------------------------------------------------- metadata

    def history(self) -> DataFrame:
        """The snapshot log as a DataFrame (Delta DESCRIBE HISTORY / Iceberg
        ``.snapshots`` analogue) — the audit surface for 'what changed
        when', queryable through the SQL front door."""
        rows = [
            (s.snapshot_id, s.parent_id, s.sequence_number,
             s.timestamp_ms, s.operation,
             s.snapshot_id == self.meta.current_snapshot_id,
             {k: str(v) for k, v in s.summary.items()})
            for s in self.snapshots()
        ]
        return self.spark.createDataFrame(
            rows,
            "snapshot_id long, parent_id long, sequence_number long, "
            "timestamp_ms long, operation string, is_current boolean, "
            "summary map<string,string>",
        )

    def snapshots(self) -> list[md.Snapshot]:
        return sorted(self.meta.snapshots, key=lambda s: s.sequence_number)

    def current_snapshot_id(self) -> int | None:
        return self.meta.current_snapshot_id

    def snapshot_id_as_of(self, ts_ms: int) -> int:
        """Resolve a wall-clock timestamp (epoch ms) to the snapshot that
        was current then — ``scan(t.snapshot_id_as_of(ts))`` is the
        ``TIMESTAMP AS OF`` read path (``snapshot_as_of`` for semantics)."""
        return self.meta.snapshot_as_of(ts_ms).snapshot_id

    def total_bytes(self, snapshot_id: int | None = None) -> int:
        return sum(f.file_size_bytes for f in self.live_files(snapshot_id))
