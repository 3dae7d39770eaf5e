"""Manifests: Parquet files listing data files with per-file min/max stats.

Why Parquet (not JSON): at 10^12-row scale a snapshot references millions of
data files; manifests must themselves be scannable *distributedly*. Storing
them as Parquet means the planner can load the ``.files`` metadata table as
an ordinary Spark DataFrame (``LakeTable.files_df``) and prune with ordinary
predicates — the same reason Apache Iceberg stores manifests in Avro. At
sandbox scale the driver reads them with pyarrow directly.

Per-file stats come from Parquet *footers* (row-group statistics merged per
file) — no data scan needed. Stats cover every primitive non-binary column;
the audio ``bytes`` payload is opaque and never carries stats.

The reference's analogue: Delta per-file stats written by OPTIMIZE
(/root/reference/ofl/transform/spark/silver.py:368-371) and the independent
table-audit reader (/root/reference/ofl/streaming/metrics.py:97-126).
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

MANIFEST_SCHEMA = pa.schema(
    [
        ("file_path", pa.string()),        # relative to table root
        ("partition", pa.string()),
        ("record_count", pa.int64()),
        ("file_size_bytes", pa.int64()),
        ("min_long", pa.map_(pa.string(), pa.int64())),
        ("max_long", pa.map_(pa.string(), pa.int64())),
        ("min_double", pa.map_(pa.string(), pa.float64())),
        ("max_double", pa.map_(pa.string(), pa.float64())),
        ("min_string", pa.map_(pa.string(), pa.string())),
        ("max_string", pa.map_(pa.string(), pa.string())),
        # per-column null counts (Iceberg null_value_counts): min/max prune
        # files a predicate can't match, but PROVING a predicate matches
        # every row — the metadata-only DELETE path — additionally needs
        # null_count == 0 (a null row never satisfies a predicate, so
        # dropping a whole file on bounds alone would delete null rows)
        ("null_count", pa.map_(pa.string(), pa.int64())),
    ]
)


@dataclass
class DataFile:
    file_path: str
    partition: str
    record_count: int
    file_size_bytes: int
    min_long: dict[str, int] = field(default_factory=dict)
    max_long: dict[str, int] = field(default_factory=dict)
    min_double: dict[str, float] = field(default_factory=dict)
    max_double: dict[str, float] = field(default_factory=dict)
    min_string: dict[str, str] = field(default_factory=dict)
    max_string: dict[str, str] = field(default_factory=dict)
    null_count: dict[str, int] = field(default_factory=dict)

    def nulls(self, column: str) -> "int | None":
        """Null count for a column, or None when unknown (pre-upgrade
        manifests, or a footer without null-count stats) — callers must
        treat None as 'may contain nulls'."""
        return self.null_count.get(column)

    def bounds(self, column: str):
        """(min, max) for a column if stats exist, else None."""
        for mn, mx in (
            (self.min_long, self.max_long),
            (self.min_double, self.max_double),
            (self.min_string, self.max_string),
        ):
            if column in mn:
                return mn[column], mx.get(column)
        return None


_INT_TYPES = {"int32", "int64", "int16", "int8", "uint32", "uint16", "uint8"}
_FLOAT_TYPES = {"float", "double", "float32", "float64", "halffloat"}


def _as_utc(dt):
    """Treat a tz-naive stat datetime as UTC (parquet stats are instants)."""
    from datetime import timezone

    return dt.replace(tzinfo=timezone.utc) if dt.tzinfo is None else dt


def temporal_to_micros(v) -> int:
    """Canonical long stat for temporal values: epoch-MICROS (dates at
    midnight UTC) — one unit for timestamps and dates so predicates and
    stats always compare in the same domain."""
    import datetime

    if isinstance(v, datetime.datetime):
        return int(_as_utc(v).timestamp() * 1_000_000)
    if isinstance(v, datetime.date):
        return int(datetime.datetime(
            v.year, v.month, v.day,
            tzinfo=datetime.timezone.utc).timestamp() * 1_000_000)
    raise TypeError(f"not a temporal value: {v!r}")


def collect_file_stats(abs_path: str, rel_path: str, partition: str) -> DataFile:
    """Build a DataFile entry from one Parquet file's footer.

    Footer read (O(KB) per file): ``stage_dataframe`` calls it on the
    driver and the frost sink's write tasks on executors, once per file.
    """
    f = pq.ParquetFile(abs_path)
    md = f.metadata
    entry = DataFile(
        file_path=rel_path,
        partition=partition,
        record_count=md.num_rows,
        file_size_bytes=os.path.getsize(abs_path),
    )
    schema = f.schema_arrow
    for ci in range(md.num_columns if md.num_row_groups else 0):
        name = md.row_group(0).column(ci).path_in_schema
        if "." in name:  # nested — not stat-tracked
            continue
        # null counts apply to EVERY flat column (binary/bool included) —
        # they gate the metadata-only delete proof, independent of min/max
        nulls = 0
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st is None or not st.has_null_count:
                nulls = None
                break
            nulls += st.null_count
        if nulls is not None:
            entry.null_count[name] = nulls
        try:
            typ = schema.field(name).type
        except KeyError:
            continue
        t = str(typ)
        if t.startswith("timestamp") or t == "date32[day]":
            # stored as int64/int32 physically; keep as long stats
            kind = "long"
        elif t in _INT_TYPES:
            kind = "long"
        elif t in _FLOAT_TYPES:
            kind = "double"
        elif t in ("string", "large_string"):
            kind = "string"
        else:
            continue  # binary / bool / nested: no stats
        mins, maxs = [], []
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            mins.append(st.min)
            maxs.append(st.max)
        if not ok or not mins:
            continue
        lo, hi = min(mins), max(maxs)
        if kind == "long":
            try:
                lo_i, hi_i = int(lo), int(hi)
            except (TypeError, ValueError):
                # timestamps/dates come back as datetime/date; store
                # epoch-micros. Parquet timestamp stats are UTC instants,
                # but pyarrow returns tz-NAIVE datetimes for
                # timestamp_ntz — naive .timestamp() would shift by the
                # driver's UTC offset and mis-prune files on any non-UTC
                # host, so pin naive → UTC (dates: midnight UTC).
                lo_i = temporal_to_micros(lo)
                hi_i = temporal_to_micros(hi)
            entry.min_long[name] = lo_i
            entry.max_long[name] = hi_i
        elif kind == "double":
            entry.min_double[name] = float(lo)
            entry.max_double[name] = float(hi)
        else:
            entry.min_string[name] = str(lo)
            entry.max_string[name] = str(hi)
    return entry


def write_manifest(location: str, entries: list[DataFile]) -> str:
    """Write one immutable manifest parquet; returns its path relative to root."""
    d = os.path.join(location, "metadata", "manifests")
    os.makedirs(d, exist_ok=True)
    rel = os.path.join("metadata", "manifests", f"manifest-{uuid.uuid4().hex}.parquet")
    cols: dict[str, list] = {name: [] for name in MANIFEST_SCHEMA.names}
    for e in entries:
        cols["file_path"].append(e.file_path)
        cols["partition"].append(e.partition)
        cols["record_count"].append(e.record_count)
        cols["file_size_bytes"].append(e.file_size_bytes)
        for m in ("min_long", "max_long", "min_double", "max_double",
                  "min_string", "max_string", "null_count"):
            cols[m].append(list(getattr(e, m).items()))
    table = pa.Table.from_pydict(cols, schema=MANIFEST_SCHEMA)
    pq.write_table(table, os.path.join(location, rel))
    return rel


def read_manifest(location: str, rel_path: str) -> list[DataFile]:
    table = pq.read_table(os.path.join(location, rel_path))
    rows = table.to_pylist()
    out = []
    for r in rows:
        for m in ("min_long", "max_long", "min_double", "max_double",
                  "min_string", "max_string", "null_count"):
            # .get: manifests written before the null_count column existed
            # read back with an empty map — nulls(col) returns None there
            v = r.get(m)
            r[m] = dict(v) if isinstance(v, list) else (v or {})
        out.append(DataFile(**r))
    return out
