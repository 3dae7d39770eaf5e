"""The small-read path of ``LakeTable.scan``: a plan of at most
``SMALL_READ_BYTES`` is read on the driver with pyarrow and reaches Spark
as a local relation. These tests hold it to the Spark path's answers,
schema and row multiset, over the edge cases where an Arrow filter could
disagree with ``ColumnRange.to_spark_filter``, and pin its job budget."""

from __future__ import annotations

import datetime
import math
import os
from collections import Counter
from decimal import Decimal

from open_finance_lakehouse_spark.format import table as table_mod
from open_finance_lakehouse_spark.format.table import ColumnRange, LakeTable
from open_finance_lakehouse_spark.operators.delete_where import delete_where
from open_finance_lakehouse_spark.plans.ledger import CheckpointLedger

DDL = ("id INT, k BIGINT, s STRING, d DOUBLE, b BOOLEAN, "
       "dec DECIMAL(10,2), ts TIMESTAMP, dt DATE, payload BINARY")

UTC = datetime.timezone.utc


def _row(i: int):
    strings = ["a", "b", "z", "Z", "é", "ä", "日本", "ß", None]
    doubles = [0.5, 1.0, 2.5, float("nan"), -1.0, None, 3.0]
    return (
        None if i % 11 == 7 else i,
        None if i % 13 == 5 else i * (2 ** 33),
        strings[i % len(strings)],
        doubles[i % len(doubles)],
        None if i % 5 == 4 else i % 2 == 0,
        None if i % 7 == 3 else Decimal(i) / 4,
        None if i % 9 == 8 else datetime.datetime(2024, 1, 1, tzinfo=UTC)
        + datetime.timedelta(hours=i),
        None if i % 10 == 9 else datetime.date(2024, 1, 1)
        + datetime.timedelta(days=i % 20),
        bytes([i % 256]) * 16,
    )


def _table(spark, tmp_path, name="sr"):
    t = LakeTable.create(spark, str(tmp_path / name), name, DDL,
                         partition_spec={"kind": "bucket", "column": "s",
                                         "num_buckets": 3})
    t.append(spark.createDataFrame([_row(i) for i in range(60)], DDL),
             max_records_per_file=8)
    t.append(spark.createDataFrame([_row(i) for i in range(60, 90)], DDL),
             max_records_per_file=8)
    return t


def _canon(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, bytearray):
        return bytes(v)
    return v


def _multiset(df) -> Counter:
    return Counter(tuple(_canon(v) for v in r) for r in df.collect())


class _Spy:
    """Counts small-path reads (wraps ``LakeTable._read_small``)."""

    def __init__(self, monkeypatch):
        self.calls = 0
        orig = LakeTable._read_small

        def spy(tbl, *a, **kw):
            self.calls += 1
            return orig(tbl, *a, **kw)

        monkeypatch.setattr(LakeTable, "_read_small", spy)


def _assert_same(t, monkeypatch, spy, **kw):
    """The scan through the small path equals the same scan through the
    Spark path (budget patched below every plan, the empty one included)."""
    before = spy.calls
    small = t.scan(**kw)
    assert spy.calls == before + 1, "the small path was not taken"
    with monkeypatch.context() as m:
        m.setattr(table_mod, "SMALL_READ_BYTES", -1)
        big = t.scan(**kw)
    assert spy.calls == before + 1, "the Spark path read on the driver"
    assert small.schema == big.schema
    got, want = _multiset(small), _multiset(big)
    assert got == want, (kw, got - want, want - got)
    return sum(got.values())


NAIVE = datetime.datetime(2024, 1, 2, 3, 0)
AWARE = datetime.datetime(2024, 1, 3, 10, 0,
                          tzinfo=datetime.timezone(datetime.timedelta(hours=5)))

CASES = [
    # integer IN-lists and bounds, with NULLs in the column and the list
    [ColumnRange("id", values=(1, None, 3, 7))],
    [ColumnRange("id", values=(None,))],
    [ColumnRange("id", lo=10, hi=40)],
    [ColumnRange("id", lo=50)],
    [ColumnRange("k", values=(3 * 2 ** 33, 2 ** 40))],
    [ColumnRange("k", hi=20 * 2 ** 33)],
    # out-of-range and mis-typed literals: Arrow keeps, Spark decides
    [ColumnRange("id", lo=2 ** 40)],
    [ColumnRange("id", values=(2 ** 40, 2))],
    [ColumnRange("id", values=("3", "12"))],
    [ColumnRange("id", hi=20.5)],
    # non-ASCII string ordering and the bucket column's point lookup
    [ColumnRange("s", lo="b", hi="é")],
    [ColumnRange("s", lo="Z")],
    [ColumnRange("s", hi="ß")],
    [ColumnRange("s", values=("日本",))],
    [ColumnRange("s", values=("ä", "a", None))],
    # NaN in a DOUBLE column, under bounds and under IN
    [ColumnRange("d", lo=0.5, hi=3.0)],
    [ColumnRange("d", lo=1.0)],
    [ColumnRange("d", values=(float("nan"), 1.0))],
    # temporal predicates, naive and aware datetimes
    [ColumnRange("ts", lo=NAIVE)],
    [ColumnRange("ts", lo=NAIVE, hi=AWARE)],
    [ColumnRange("ts", values=(datetime.datetime(2024, 1, 1, 5,
                                                  tzinfo=UTC),))],
    [ColumnRange("dt", lo=datetime.date(2024, 1, 5),
                 hi=datetime.date(2024, 1, 12))],
    # null tests, BOOLEAN and DECIMAL
    [ColumnRange("s", null_test="null")],
    [ColumnRange("id", null_test="notnull")],
    [ColumnRange("b", values=(True,))],
    [ColumnRange("b", values=(False, None))],
    [ColumnRange("dec", lo=Decimal("1.50"), hi=Decimal("9.75"))],
    # conjunctions across types
    [ColumnRange("s", values=("a", "b")), ColumnRange("id", lo=1, hi=60)],
    [ColumnRange("id", lo=5), ColumnRange("d", hi=2.5),
     ColumnRange("s", null_test="notnull")],
    # an empty plan (stats prune every file)
    [ColumnRange("id", lo=10 ** 6)],
]


def test_small_read_matches_spark_path(spark, tmp_path, monkeypatch):
    t = _table(spark, tmp_path)
    spy = _Spy(monkeypatch)
    assert _assert_same(t, monkeypatch, spy) == 90
    counts = [_assert_same(t, monkeypatch, spy, predicates=preds)
              for preds in CASES]
    # the cases are not vacuous: most select rows, and the empty plan none
    assert sum(1 for n in counts if n) >= len(CASES) - 4
    assert counts[-1] == 0


def test_small_read_deleted_key_returns_no_rows(spark, tmp_path,
                                                monkeypatch):
    t = _table(spark, tmp_path, "del")
    spy = _Spy(monkeypatch)
    assert _assert_same(t, monkeypatch, spy,
                        predicates=[ColumnRange("s", values=("ß",))]) == 10
    delete_where(t, CheckpointLedger(str(tmp_path / "led")), "del-1",
                 predicates=[ColumnRange("s", values=("ß",))])
    assert _assert_same(t, monkeypatch, spy,
                        predicates=[ColumnRange("s", values=("ß",))]) == 0


def test_small_read_schema_evolution_and_time_travel(spark, tmp_path,
                                                     monkeypatch):
    """A column added by ``update_schema`` reads NULL from old files and an
    INT -> BIGINT widening upcasts them, at head; time travel to the
    pre-evolution snapshot reads the old shape."""
    t = _table(spark, tmp_path, "evo")
    old_snap = t.current_snapshot_id()
    new_ddl = DDL.replace("id INT", "id BIGINT") + ", note STRING"
    t.update_schema(new_ddl)
    t.append(spark.createDataFrame(
        [(2 ** 40 + i, *_row(i)[1:], f"n{i}")
         for i in range(90, 100)], new_ddl))
    spy = _Spy(monkeypatch)
    head_cases = [
        None,
        [ColumnRange("note", null_test="null")],
        [ColumnRange("note", values=("n91", "n95"))],
        [ColumnRange("note", lo="n93")],
        [ColumnRange("id", lo=2 ** 40)],
        [ColumnRange("id", values=(3, 2 ** 40 + 92))],
    ]
    counts = [_assert_same(t, monkeypatch, spy, predicates=p)
              for p in head_cases]
    assert counts == [100, 90, 2, 7, 10, 2]
    assert t.scan().schema["id"].dataType.simpleString() == "bigint"
    for p in (None, [ColumnRange("id", values=(3, 4))],
              [ColumnRange("id", lo=2 ** 40)]):
        _assert_same(t, monkeypatch, spy, snapshot_id=old_snap,
                     predicates=p)
    old = t.scan(snapshot_id=old_snap)
    assert "note" not in old.columns
    assert old.schema["id"].dataType.simpleString() == "int"
    assert old.count() == 90


def _jobs_of(spark, group: str, action):
    sc = spark.sparkContext
    st = sc.statusTracker()
    sc.setJobGroup(group, group)
    try:
        before = set(st.getJobIdsForGroup(group))
        out = action()
        return out, set(st.getJobIdsForGroup(group)) - before
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_point_lookup_runs_no_spark_job(spark, tmp_path):
    """A point lookup on a bucketed table plans one bucket's files, reads
    them on the driver and collects a local relation: 0 Spark jobs."""
    t = _table(spark, tmp_path, "jobs")
    want = [r for r in (_row(i) for i in range(90)) if r[2] == "日本"]
    rows, jobs = _jobs_of(spark, "test-point-lookup", lambda: t.scan(
        predicates=[ColumnRange("s", values=("日本",))]).collect())
    assert jobs == set(), f"{len(jobs)} Spark jobs for one lookup"
    assert sorted(r["id"] for r in rows if r["id"] is not None) == \
        sorted(r[0] for r in want if r[0] is not None)
    assert len(rows) == len(want)


def test_scan_with_file_path_reads_real_files(spark, tmp_path):
    t = _table(spark, tmp_path, "fp")
    live = {os.path.join(t.location, f.file_path) for f in t.live_files()}
    df = t.scan(predicates=[ColumnRange("s", values=("a",))],
                with_file_path=True)
    rows = df.collect()
    assert len(rows) == 10
    for r in rows:
        path = r["_file"].removeprefix("file://")
        assert path in live and os.path.exists(path)


def test_plan_above_budget_takes_spark_path(spark, tmp_path, monkeypatch):
    """With the budget between one file and the whole table, a one-bucket
    lookup reads on the driver and the full scan reads through Spark; both
    answer the same rows as the other path."""
    t = _table(spark, tmp_path, "budget")
    files = t.live_files()
    bucket_a, _ = t.plan_files(predicates=[ColumnRange("s", values=("a",))])
    budget = sum(f.file_size_bytes for f in bucket_a)
    assert budget < sum(f.file_size_bytes for f in files)
    monkeypatch.setattr(table_mod, "SMALL_READ_BYTES", budget)
    spy = _Spy(monkeypatch)
    full = t.scan(predicates=[ColumnRange("id", lo=0)])
    assert spy.calls == 0
    monkeypatch.setattr(table_mod, "SMALL_READ_BYTES", 10 ** 12)
    assert _multiset(full) == _multiset(
        t.scan(predicates=[ColumnRange("id", lo=0)]))
    assert spy.calls == 1
    monkeypatch.setattr(table_mod, "SMALL_READ_BYTES", budget)
    t.scan(predicates=[ColumnRange("s", values=("a",))])
    assert spy.calls == 2


def test_schema_is_parsed_once(spark, tmp_path, monkeypatch):
    """``schema()`` serves the analyzer's types from the cache, and a
    caller that extends what it gets cannot change the cache."""
    t = LakeTable.create(spark, str(tmp_path / "once"), "once", DDL)
    want = spark.createDataFrame([], DDL).schema
    assert t.schema() == want
    t.schema().add("extra", "string")
    calls = []
    orig = spark.createDataFrame

    def counting(*a, **kw):
        calls.append(a)
        return orig(*a, **kw)

    monkeypatch.setattr(spark, "createDataFrame", counting)
    assert t.schema() == want
    assert calls == []
