"""``format("frost")`` Python Data Source: batch parity with scan(), and a
real push-mode ``readStream`` whose offsets are snapshot ids — restart
resumes from the checkpoint, compaction between drains emits nothing
(row-preserving rewrites skipped), merge in the interval refuses.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from open_finance_lakehouse_spark.format.table import LakeTable
from open_finance_lakehouse_spark.streaming.frost_source import (
    register_frost_source,
)
from open_finance_lakehouse_spark.streaming.ingest import (
    BRONZE_DDL,
    prepare_events,
)

BASE_MS = 1_700_000_040_000


def _event(sym, tid, ts_ms):
    return {"e": "trade", "E": ts_ms, "s": sym, "t": tid, "p": "10",
            "q": "1", "T": ts_ms, "m": False}


def _rows(spark, events):
    raw = spark.createDataFrame([(json.dumps(e),) for e in events],
                                "value string")
    return prepare_events(raw).filter("_valid").select(
        "event_key", "symbol", "trade_id", "price", "qty", "trade_time",
        "is_maker", "raw")


@pytest.fixture()
def bronze(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "bronze"), "bronze_events",
                         BRONZE_DDL)
    register_frost_source(spark)
    return t


def _drain(spark, loc, out, ckpt):
    q = (spark.readStream.format("frost").option("location", loc).load()
         .writeStream.outputMode("append").format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)


def test_frost_batch_read_matches_scan(spark, bronze):
    bronze.append(_rows(spark, [_event("BTC", i, BASE_MS + i * 1000)
                                for i in range(25)]))
    df = (spark.read.format("frost")
          .option("location", bronze.location).load())
    assert df.count() == 25
    assert df.exceptAll(bronze.scan()).count() == 0
    assert bronze.scan().exceptAll(df).count() == 0
    assert dict(df.dtypes) == dict(bronze.scan().dtypes)


def test_frost_stream_resumes_and_skips_rewrites(spark, bronze, tmp_path):
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    bronze.append(_rows(spark, [_event("BTC", i, BASE_MS + i * 1000)
                                for i in range(10)]))
    _drain(spark, bronze.location, out, ckpt)
    assert spark.read.parquet(out).count() == 10

    # a compaction between drains: row-preserving rewrite must emit NOTHING
    live = {f.file_path for f in bronze.live_files()}
    staged = bronze.stage_dataframe(bronze.scan().coalesce(1))
    bronze.commit_rewrite(live, staged, operation="rewrite")

    bronze.append(_rows(spark, [_event("ETH", 100 + i, BASE_MS + 60_000 + i)
                                for i in range(5)]))
    _drain(spark, bronze.location, out, ckpt)
    got = spark.read.parquet(out)
    assert got.count() == 15  # 10 + 5, NOT 10 + 10 + 5 (no re-delivery)
    assert got.filter(F.col("symbol") == "ETH").count() == 5

    # nothing new -> a drain delivers nothing
    _drain(spark, bronze.location, out, ckpt)
    assert spark.read.parquet(out).count() == 15


def test_frost_stream_refuses_row_changing_interval(spark, bronze, tmp_path):
    out, ckpt = str(tmp_path / "out2"), str(tmp_path / "ckpt2")
    bronze.append(_rows(spark, [_event("BTC", 1, BASE_MS)]))
    _drain(spark, bronze.location, out, ckpt)

    bronze.replace(bronze.scan())  # row-CHANGING operation in the interval
    bronze.append(_rows(spark, [_event("BTC", 2, BASE_MS + 1000)]))
    with pytest.raises(Exception) as ei:
        _drain(spark, bronze.location, out, ckpt)
    assert "replace" in str(ei.value) or "append-only" in str(ei.value)


def test_frost_stream_skips_real_maintenance_commits(spark, bronze, tmp_path):
    """A REAL compact() between drains (operation='compact', not a generic
    'rewrite') must be skipped by the stream — maintenance never
    re-delivers rows to downstream consumers."""
    from open_finance_lakehouse_spark.operators.compact import compact
    from open_finance_lakehouse_spark.plans.ledger import CheckpointLedger

    out, ckpt = str(tmp_path / "out3"), str(tmp_path / "ckpt3")
    bronze.append(_rows(spark, [_event("BTC", i, BASE_MS + i * 1000)
                                for i in range(8)]), max_records_per_file=2)
    _drain(spark, bronze.location, out, ckpt)
    assert spark.read.parquet(out).count() == 8

    res = compact(bronze, CheckpointLedger(str(tmp_path / "led")),
                  "stream-compact", target_bytes=8 * 1024 * 1024)
    assert res["partitions_rewritten"] >= 1
    bronze.append(_rows(spark, [_event("ETH", 50, BASE_MS + 50_000)]))
    _drain(spark, bronze.location, out, ckpt)
    assert spark.read.parquet(out).count() == 9  # 8 + 1, no re-delivery


def test_frost_batch_pushdown_prunes_files(spark, tmp_path):
    """format("frost") batch reads receive pushed comparison filters and
    prune whole files via manifest min/max stats — the scan's partition
    count (one per surviving file) shrinks while results stay exact."""
    register_frost_source(spark)
    t = LakeTable.create(spark, str(tmp_path / "pf"), "pf",
                         "k BIGINT, v DOUBLE")
    for lo in range(0, 500, 100):  # 5 files with disjoint k ranges
        t.append(spark.range(lo, lo + 100).coalesce(1).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")))

    df = spark.read.format("frost").option("location", t.location).load()
    pruned = df.filter((F.col("k") >= 250) & (F.col("k") <= 260))
    assert pruned.count() == 11  # rows exact regardless of pruning
    assert pruned.agg(F.min("k"), F.max("k")).first() == (250, 260)

    # the reader-level witness: pushed range filters shrink the file list
    # 5 -> 1 via manifest stats (the DF API hides source partition counts)
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual
    from open_finance_lakehouse_spark.streaming.frost_source import (
        FrostBatchReader,
    )

    rd = FrostBatchReader(t._empty_df().schema, t.location)
    assert len(rd.partitions()) == 5  # no filters: every file scans
    rd2 = FrostBatchReader(t._empty_df().schema, t.location)
    leftover = rd2.pushFilters([GreaterThanOrEqual(("k",), 250),
                                LessThanOrEqual(("k",), 260)])
    assert len(list(leftover)) == 2  # ALL filters re-applied by Spark
    assert len(rd2.partitions()) == 1  # 4 of 5 files pruned by stats


def test_frost_stream_starting_snapshot_latest(spark, bronze, tmp_path):
    """startingSnapshotId='latest': existing rows are NOT delivered; only
    commits after the query's first start flow."""
    out, ckpt = str(tmp_path / "out4"), str(tmp_path / "ckpt4")
    bronze.append(_rows(spark, [_event("BTC", i, BASE_MS + i * 1000)
                                for i in range(6)]))

    def drain():
        q = (spark.readStream.format("frost")
             .option("location", bronze.location)
             .option("startingSnapshotId", "latest").load()
             .writeStream.outputMode("append").format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    drain()  # pre-existing 6 rows skipped
    import os as _os
    n0 = (spark.read.parquet(out).count()
          if _os.path.isdir(out) and any(
              f.endswith(".parquet") for _r, _d, fs in _os.walk(out)
              for f in fs) else 0)
    assert n0 == 0

    bronze.append(_rows(spark, [_event("ETH", 50, BASE_MS + 50_000)]))
    drain()  # checkpointed offset — only the new commit flows
    assert spark.read.parquet(out).count() == 1


def test_frost_stream_starting_timestamp(spark, bronze, tmp_path):
    """startingTimestampMs: commits with timestamp >= ts flow, older ones
    don't (Delta startingTimestamp semantics); a pre-table timestamp
    falls back to delivering everything."""
    import time as _time

    out, ckpt = str(tmp_path / "out_ts"), str(tmp_path / "ckpt_ts")
    s1 = bronze.append(_rows(spark, [_event("BTC", i, BASE_MS + i * 1000)
                                     for i in range(4)]))
    while int(_time.time() * 1000) <= s1.timestamp_ms:
        _time.sleep(0.002)
    s2 = bronze.append(_rows(spark, [_event("ETH", 50, BASE_MS + 50_000)]))

    q = (spark.readStream.format("frost")
         .option("location", bronze.location)
         .option("startingTimestampMs", str(s2.timestamp_ms)).load()
         .writeStream.outputMode("append").format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 1  # only the commit AT/after ts

    # pre-table timestamp => everything (initial-load fallback)
    out2, ckpt2 = str(tmp_path / "out_ts2"), str(tmp_path / "ckpt_ts2")
    q = (spark.readStream.format("frost")
         .option("location", bronze.location)
         .option("startingTimestampMs", str(s1.timestamp_ms - 10_000))
         .load()
         .writeStream.outputMode("append").format("parquet")
         .option("path", out2).option("checkpointLocation", ckpt2)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert spark.read.parquet(out2).count() == 5


def test_frost_fresh_stream_after_expire_delivers_full_table(
        spark, bronze, tmp_path):
    """A NEW stream on a table whose pre-maintenance history was expired
    (only a rewrite snapshot survives) must still deliver every live row:
    the initial load materializes the current snapshot's live files, not
    a replay of (possibly truncated) append history."""
    from open_finance_lakehouse_spark.operators.compact import compact
    from open_finance_lakehouse_spark.plans.ledger import CheckpointLedger

    bronze.append(_rows(spark, [_event("BTC", i, BASE_MS + i * 1000)
                                for i in range(8)]), max_records_per_file=2)
    compact(bronze, CheckpointLedger(str(tmp_path / "led")),
            "fresh-compact", target_bytes=8 * 1024 * 1024)
    bronze.expire_snapshots(retain_last=1)  # only the compact snapshot left
    assert {s.operation for s in bronze.snapshots()} == {"compact"}

    out, ckpt = str(tmp_path / "out5"), str(tmp_path / "ckpt5")
    _drain(spark, bronze.location, out, ckpt)
    assert spark.read.parquet(out).count() == 8  # NOT an empty first batch


def test_frost_pushdown_timestamp_filter_does_not_crash(spark, bronze):
    """Pushed timestamp filters arrive as datetime objects while manifest
    long stats are epoch-micros — the reader must canonicalize, prune
    correctly, and never throw a mixed-type comparison."""
    import datetime

    from pyspark.sql.datasource import GreaterThan
    from open_finance_lakehouse_spark.streaming.frost_source import (
        FrostBatchReader,
    )

    # two files in disjoint minute ranges
    bronze.append(_rows(spark, [_event("BTC", 1, BASE_MS)]))
    bronze.append(_rows(spark, [_event("BTC", 2, BASE_MS + 600_000)]))
    cutoff = datetime.datetime.fromtimestamp(
        (BASE_MS + 300_000) / 1000, datetime.timezone.utc)
    rd = FrostBatchReader(bronze._empty_df().schema, bronze.location)
    rd.pushFilters([GreaterThan(("trade_time",), cutoff)])
    assert len(rd.partitions()) == 1  # first file pruned, no TypeError

    # and through the engine path: row-exact
    df = (spark.read.format("frost").option("location", bronze.location)
          .load().filter(F.col("trade_time") > F.lit(cutoff)))
    assert df.count() == 1


def test_frost_batch_write_append_and_overwrite(spark, tmp_path):
    """df.write.format("frost"): append commits a snapshot; overwrite
    publishes a replace — both readable back via scan()."""
    register_frost_source(spark)
    t = LakeTable.create(spark, str(tmp_path / "bw"), "bw",
                         "k BIGINT, v DOUBLE")
    df = spark.range(10).select(F.col("id").alias("k"),
                                (F.col("id") * 2.0).alias("v"))
    df.write.format("frost").option("location", t.location) \
        .mode("append").save()
    assert t.refresh().scan().count() == 10
    assert t.meta.snapshot().operation == "append"

    spark.range(3).select(F.col("id").alias("k"), F.lit(0.0).alias("v")) \
        .write.format("frost").option("location", t.location) \
        .mode("overwrite").save()
    assert t.refresh().scan().count() == 3
    assert t.meta.snapshot().operation == "replace"


def test_frost_stream_writer_exactly_once_pipe(spark, bronze, tmp_path):
    """frost→frost streaming pipe: readStream from bronze, writeStream
    into a copy table — counts match after two drains, and a re-drain
    with nothing new commits nothing (txn-marker exactly-once)."""
    copy = LakeTable.create(spark, str(tmp_path / "copy"), "copy",
                            BRONZE_DDL)
    ckpt = str(tmp_path / "ckpt_w")

    def pipe():
        q = (spark.readStream.format("frost")
             .option("location", bronze.location).load()
             .writeStream.format("frost")
             .option("location", copy.location)
             .option("txnAppId", "pipe-1")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    bronze.append(_rows(spark, [_event("BTC", i, BASE_MS + i * 1000)
                                for i in range(7)]))
    pipe()
    assert copy.refresh().scan().count() == 7

    bronze.append(_rows(spark, [_event("ETH", 50, BASE_MS + 50_000)]))
    pipe()
    assert copy.refresh().scan().count() == 8
    assert copy.scan().exceptAll(bronze.scan()).count() == 0
    assert bronze.scan().exceptAll(copy.scan()).count() == 0

    snaps = len(copy.snapshots())
    pipe()  # nothing new: no data snapshot may land
    data_snaps = [s for s in copy.refresh().snapshots()
                  if int(s.summary.get("added_records", 0) or 0) > 0]
    assert copy.scan().count() == 8
    assert len(data_snaps) == 2  # one per real micro-batch, none extra


def test_frost_writer_guards(spark, tmp_path):
    """Writer refusals: missing txnAppId (stream), declared contract,
    type-mismatched schema — each fails loudly before any data lands."""
    from open_finance_lakehouse_spark.quality.contracts import Contract

    register_frost_source(spark)
    t = LakeTable.create(spark, str(tmp_path / "wg"), "wg",
                         "k BIGINT, v DOUBLE")

    # type mismatch (names match): refused, nothing committed
    bad = spark.range(3).select(F.col("id").alias("k"),
                                F.lit("oops").alias("v"))
    with pytest.raises(Exception, match="schema mismatch"):
        bad.write.format("frost").option("location", t.location) \
           .mode("append").save()
    assert t.refresh().current_snapshot_id() is None

    # contract-protected table: format("frost") bypasses enforcement
    c = LakeTable.create(spark, str(tmp_path / "wc"), "wc",
                         "k STRING, v DOUBLE",
                         contract=Contract(not_null=["k"]))
    good = spark.createDataFrame([("a", 1.0)], "k STRING, v DOUBLE")
    with pytest.raises(Exception, match="contract"):
        good.write.format("frost").option("location", c.location) \
            .mode("append").save()

    # streaming sink requires a per-query txnAppId
    src = LakeTable.create(spark, str(tmp_path / "ws"), "ws",
                           "k BIGINT, v DOUBLE")
    src.append(spark.range(2).select(F.col("id").alias("k"),
                                     F.lit(1.0).alias("v")))
    with pytest.raises(Exception, match="txnAppId"):
        q = (spark.readStream.format("frost")
             .option("location", src.location).load()
             .writeStream.format("frost").option("location", t.location)
             .option("checkpointLocation", str(tmp_path / "ck_g"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)


def test_frost_stream_writer_complete_mode_replaces(spark, bronze, tmp_path):
    """outputMode('complete') aggregation into a frost sink: every
    micro-batch REPLACES the table with the recomputed result."""
    agg_t = LakeTable.create(spark, str(tmp_path / "agg"), "agg",
                             "symbol STRING, n BIGINT")
    ckpt = str(tmp_path / "ck_c")

    def pipe():
        counts = (spark.readStream.format("frost")
                  .option("location", bronze.location).load()
                  .groupBy("symbol")
                  .agg(F.count(F.lit(1)).alias("n")))
        q = (counts.writeStream.outputMode("complete").format("frost")
             .option("location", agg_t.location)
             .option("txnAppId", "agg-pipe")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    bronze.append(_rows(spark, [_event("BTC", i, BASE_MS + i * 1000)
                                for i in range(4)]))
    pipe()
    got = {r["symbol"]: r["n"] for r in agg_t.refresh().scan().collect()}
    assert got == {"BTC": 4}

    bronze.append(_rows(spark, [_event("ETH", 9, BASE_MS + 9000),
                                _event("BTC", 10, BASE_MS + 10_000)]))
    pipe()
    got = {r["symbol"]: r["n"] for r in agg_t.refresh().scan().collect()}
    assert got == {"BTC": 5, "ETH": 1}  # replaced, not appended
    assert agg_t.meta.snapshot().operation == "replace"


def test_frost_batch_time_travel(spark, tmp_path):
    """option("snapshotId"): batch reads time-travel with the snapshot's
    commit-time schema, matching scan(snapshot_id=...)."""
    register_frost_source(spark)
    t = LakeTable.create(spark, str(tmp_path / "tt"), "tt",
                         "k BIGINT, v DOUBLE")
    s1 = t.append(spark.range(5).select(F.col("id").alias("k"),
                                        F.lit(1.0).alias("v")))
    t.update_schema("k BIGINT, v DOUBLE, tag STRING")
    t.append(spark.createDataFrame([(9, 2.0, "new")],
                                   "k BIGINT, v DOUBLE, tag STRING"))

    old = (spark.read.format("frost").option("location", t.location)
           .option("snapshotId", str(s1.snapshot_id)).load())
    assert old.count() == 5
    assert set(old.columns) == {"k", "v"}  # pre-evolution schema

    cur = (spark.read.format("frost")
           .option("location", t.location).load())
    assert cur.count() == 6 and "tag" in cur.columns


def test_frost_batch_as_of_timestamp(spark, tmp_path):
    """option("asOfTimestampMs"): epoch-ms TIMESTAMP AS OF travel through
    the data source, resolving on the current ancestry like
    LakeTable.snapshot_id_as_of; mutually exclusive with snapshotId."""
    import time

    register_frost_source(spark)
    t = LakeTable.create(spark, str(tmp_path / "ttts"), "ttts",
                         "k BIGINT, v DOUBLE")
    s1 = t.append(spark.range(5).select(F.col("id").alias("k"),
                                        F.lit(1.0).alias("v")))
    while int(time.time() * 1000) <= s1.timestamp_ms:
        time.sleep(0.002)
    t.append(spark.range(3).select((F.col("id") + 100).alias("k"),
                                   F.lit(2.0).alias("v")))

    old = (spark.read.format("frost").option("location", t.location)
           .option("asOfTimestampMs", str(s1.timestamp_ms)).load())
    assert old.count() == 5

    cur = (spark.read.format("frost")
           .option("location", t.location).load())
    assert cur.count() == 8

    with pytest.raises(Exception, match="mutually exclusive"):
        (spark.read.format("frost").option("location", t.location)
         .option("snapshotId", str(s1.snapshot_id))
         .option("asOfTimestampMs", str(s1.timestamp_ms)).load()
         .count())


def test_frost_batch_write_bucket_partitioned(spark, tmp_path):
    """Batch writes into a BUCKET-PARTITIONED table: the numpy XXH64
    router must land every row in exactly the partition the JVM path
    (pmod(xxhash64(clip_id), n)) computes — verified per-row against
    manifest partition values, plus scan parity with LakeTable.append
    of the same rows."""
    from open_finance_lakehouse_spark.sources import synth

    register_frost_source(spark)
    t = LakeTable.create(
        spark, str(tmp_path / "bp"), "clips", synth.CLIP_SCHEMA_DDL,
        partition_spec={"kind": "bucket", "column": "clip_id",
                        "num_buckets": 8})
    clips = synth.synth_clips(spark, 120, dur_max_ms=400)
    clips.write.format("frost").option("location", t.location) \
        .mode("append").save()
    t.refresh()
    assert t.scan().count() == 120
    parts = {f.partition for f in t.live_files()}
    assert len(parts) > 1  # rows actually spread across buckets

    # per-row witness: file's manifest partition == JVM-computed bucket
    part_of = {f.file_path: f.partition for f in t.live_files()}
    rows = (t.scan(with_file_path=True)
            .withColumn("expected", t.partition_value_col())
            .select("_file", "expected").collect())
    for r in rows:
        rel = os.path.relpath(r["_file"].replace("file://", ""), t.location)
        assert part_of[rel] == r["expected"]

    # parity with the JVM write path over the same rows
    ref = LakeTable.create(
        spark, str(tmp_path / "bp_ref"), "clips", synth.CLIP_SCHEMA_DDL,
        partition_spec={"kind": "bucket", "column": "clip_id",
                        "num_buckets": 8})
    ref.append(clips)
    assert t.scan().exceptAll(ref.scan()).count() == 0
    assert ref.scan().exceptAll(t.scan()).count() == 0
    assert ({f.partition for f in ref.live_files()}
            == {f.partition for f in t.live_files()})


def test_frost_stream_writer_bucket_partitioned_exactly_once(
        spark, tmp_path):
    """writeStream.format("frost") into the bucket-partitioned clip table
    (the flagship shape): two drains deliver each row once, an empty
    drain commits nothing, and every landed file sits in the partition
    the JVM router would choose."""
    from open_finance_lakehouse_spark.sources import synth

    register_frost_source(spark)
    src = LakeTable.create(spark, str(tmp_path / "src"), "clips_src",
                           synth.CLIP_SCHEMA_DDL)
    dst = LakeTable.create(
        spark, str(tmp_path / "dst"), "clips", synth.CLIP_SCHEMA_DDL,
        partition_spec={"kind": "bucket", "column": "clip_id",
                        "num_buckets": 4})
    ckpt = str(tmp_path / "ck_bp")

    def pipe():
        q = (spark.readStream.format("frost")
             .option("location", src.location).load()
             .writeStream.format("frost").option("location", dst.location)
             .option("txnAppId", "bp-pipe")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    src.append(synth.synth_clips(spark, 40, dur_max_ms=300))
    pipe()
    assert dst.refresh().scan().count() == 40

    src.append(synth.synth_clips(spark, 10, dur_max_ms=300, id_offset=1000))
    pipe()
    assert dst.refresh().scan().count() == 50
    assert dst.scan().exceptAll(src.scan()).count() == 0
    assert src.scan().exceptAll(dst.scan()).count() == 0

    pipe()  # nothing new: no extra rows
    assert dst.refresh().scan().count() == 50

    part_of = {f.file_path: f.partition for f in dst.live_files()}
    rows = (dst.scan(with_file_path=True)
            .withColumn("expected", dst.partition_value_col())
            .select("_file", "expected").collect())
    for r in rows:
        rel = os.path.relpath(r["_file"].replace("file://", ""),
                              dst.location)
        assert part_of[rel] == r["expected"]


def test_frost_read_schema_prunes_payload_column(spark, tmp_path):
    """A frost read with a narrowed .schema(...) never decodes the
    omitted columns: the executor passes exactly the requested column
    subset to the parquet reader (witnessed by intercepting the read),
    and values via the engine path stay exact."""
    from open_finance_lakehouse_spark.sources import synth
    from open_finance_lakehouse_spark.streaming.frost_source import (
        FrostFilePartition,
        _read_file_batches,
    )

    register_frost_source(spark)
    t = LakeTable.create(spark, str(tmp_path / "pr"), "clips_pr",
                         synth.CLIP_SCHEMA_DDL)
    t.append(synth.synth_clips(spark, 30, dur_max_ms=300))

    # engine path: metadata-only projection is row-exact
    meta_df = (spark.read.format("frost").option("location", t.location)
               .schema("clip_id STRING, dur_ms INT").load())
    assert meta_df.count() == 30
    want = {(r["clip_id"], r["dur_ms"])
            for r in t.scan().select("clip_id", "dur_ms").collect()}
    assert {(r["clip_id"], r["dur_ms"]) for r in meta_df.collect()} == want

    # reader-level witness: the parquet read receives ONLY the narrowed
    # column list — the 60 KB payload column is never requested
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    requested = []
    orig = pq.ParquetFile.read

    def spy(self, columns=None, **kw):
        requested.append(tuple(columns or ()))
        return orig(self, columns=columns, **kw)

    first = t.live_files()[0]
    path = os.path.join(t.location, first.file_path)
    narrow = to_arrow_schema(
        StructType.fromDDL("clip_id STRING, dur_ms INT"))
    pq.ParquetFile.read = spy
    try:
        batches = list(_read_file_batches(
            FrostFilePartition(path, narrow)))
    finally:
        pq.ParquetFile.read = orig
    assert requested == [("clip_id", "dur_ms")]
    assert sum(b.num_rows for b in batches) == first.record_count
    assert batches[0].schema.names == ["clip_id", "dur_ms"]


def test_frost_stream_writer_abort_leaves_no_orphans(spark, tmp_path):
    """Fault injection for the sink's abort path: a micro-batch that
    FAILS mid-write (one task's data raises under ANSI) must leave the
    table untouched — no snapshot, and after orphan GC the data dir holds
    exactly the live files.  A restart with the poison fixed replays the
    batch and delivers every row exactly once (the txn marker never
    committed, so nothing is skipped)."""
    from open_finance_lakehouse_spark.sources import synth

    register_frost_source(spark)
    src = LakeTable.create(spark, str(tmp_path / "fsrc"), "clips_src",
                           synth.CLIP_SCHEMA_DDL)
    for off in (0, 100, 200):  # three files -> three sink tasks
        src.append(synth.synth_clips(spark, 4, dur_max_ms=300,
                                     id_offset=off))
    poison = src.scan().select("clip_id").first()["clip_id"]
    dst = LakeTable.create(spark, str(tmp_path / "fdst"), "clips_dst",
                           synth.CLIP_SCHEMA_DDL)
    ckpt = str(tmp_path / "ck_abort")
    cols = [f.name for f in src.scan().schema.fields]

    def pipe(poisoned: bool):
        df = (spark.readStream.format("frost")
              .option("location", src.location).load())
        if poisoned:
            df = df.withColumn(
                "sr_hz",
                F.when(F.col("clip_id") == poison,
                       (F.col("sr_hz") / F.lit(0)).cast("int"))
                .otherwise(F.col("sr_hz"))).select(*cols)
        q = (df.writeStream.format("frost")
             .option("location", dst.location)
             .option("txnAppId", "abort-pipe")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    with pytest.raises(Exception):  # ANSI divide-by-zero fails the batch
        pipe(poisoned=True)
    assert dst.refresh().current_snapshot_id() is None  # nothing committed

    # abort removed the staged task files; GC (grace 0) sweeps any
    # straggler a killed task left behind — data dir == live files
    dst.delete_orphans(grace_ms=0)
    data_dir = os.path.join(dst.location, "data")
    leftover = [os.path.join(r, n) for r, _d, ns in os.walk(data_dir)
                for n in ns if n.endswith(".parquet")]
    assert leftover == []

    pipe(poisoned=False)  # fixed pipeline, same checkpoint: full replay
    assert dst.refresh().scan().count() == 12
    assert dst.scan().exceptAll(src.scan()).count() == 0
    assert src.scan().exceptAll(dst.scan()).count() == 0

    pipe(poisoned=False)  # and nothing double-delivers after that
    assert dst.refresh().scan().count() == 12


def test_frost_stream_writer_abort_deletes_staged_files(tmp_path):
    """Unit witness for the abort hook itself: staged task files named in
    the commit messages are removed, already-missing ones are tolerated."""
    from open_finance_lakehouse_spark.format.manifests import DataFile
    from open_finance_lakehouse_spark.streaming.frost_source import (
        FrostCommitMessage,
        FrostStreamWriter,
    )

    loc = str(tmp_path / "t")
    os.makedirs(os.path.join(loc, "data", "part=0"))
    rel = os.path.join("data", "part=0", "staged.parquet")
    open(os.path.join(loc, rel), "wb").write(b"x")
    entry = DataFile(file_path=rel, partition="0", record_count=1,
                     file_size_bytes=1)
    gone = DataFile(file_path=os.path.join("data", "part=0", "gone.parquet"),
                    partition="0", record_count=1, file_size_bytes=1)
    w = FrostStreamWriter(loc, "unit", overwrite=False)
    w.abort([FrostCommitMessage(entries=[entry]),
             FrostCommitMessage(entries=[gone]), None], batchId=0)
    assert not os.path.exists(os.path.join(loc, rel))


def test_ddl_columns_handles_escaped_backticks():
    """A literal backtick in a quoted column name is escaped by doubling
    (Spark's quoteIfNeeded); the context-free parser must not split the
    name at the first escape."""
    from open_finance_lakehouse_spark.streaming.frost_source import (
        _ddl_columns,
    )

    cols = _ddl_columns("`a``b` int, `c,d` string, plain bigint")
    assert cols == [("a`b", "int"), ("c,d", "string"), ("plain", "bigint")]


def test_frost_batch_pushdown_bucket_value_pruning(spark, tmp_path):
    """Pushed EqualTo/In on the bucket-partition column prunes by bucket
    VALUE (numpy XXH64 twin of the routing writer): a point lookup plans
    only the key's own bucket's files, before stats pruning even runs."""
    from pyspark.sql.datasource import EqualTo, In
    from open_finance_lakehouse_spark.streaming.frost_source import (
        FrostBatchReader,
    )

    register_frost_source(spark)
    t = LakeTable.create(
        spark, str(tmp_path / "bvp"), "bvp", "cat STRING, v DOUBLE",
        partition_spec={"kind": "bucket", "column": "cat",
                        "num_buckets": 32})
    df = spark.range(0, 2000).select(
        F.concat(F.lit("c"), F.pmod("id", F.lit(100))).alias("cat"),
        (F.col("id") * 1.0).alias("v"))
    t.append(df)
    t.append(df)

    bucket = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit("c7")), F.lit(32)).cast("string")).first()[0]
    in_bucket = sum(1 for f in t.live_files() if f.partition == bucket)
    n_files = len(t.live_files())

    rd = FrostBatchReader(t._empty_df().schema, t.location)
    assert len(rd.partitions()) == n_files  # no filters: every file scans

    rd_eq = FrostBatchReader(t._empty_df().schema, t.location)
    leftover = rd_eq.pushFilters([EqualTo(("cat",), "c7")])
    assert len(list(leftover)) == 1  # re-applied row-level by Spark
    assert len(rd_eq.partitions()) == in_bucket
    assert in_bucket * 8 <= n_files

    rd_in = FrostBatchReader(t._empty_df().schema, t.location)
    rd_in.pushFilters([In(("cat",), ("c7", "c9"))])
    allowed = {
        spark.range(1).select(
            F.pmod(F.xxhash64(F.lit(v)), F.lit(32)).cast("string"))
        .first()[0] for v in ("c7", "c9")}
    expected = sum(1 for f in t.live_files() if f.partition in allowed)
    assert len(rd_in.partitions()) == expected

    # end-to-end through the DataFrame API: results exact under pruning
    frost = spark.read.format("frost").option("location", t.location).load()
    assert frost.filter(F.col("cat") == "c7").count() == 40
    assert frost.filter(F.col("cat").isin("c7", "c9")).count() == 80


def test_frost_stream_starting_timestamp_expired_ancestry_raises(
        spark, bronze, tmp_path):
    """startingTimestampMs pointing into EXPIRED history must refuse:
    the oldest retained state already contains rows committed before ts,
    so 'commits with timestamp >= ts' is no longer reproducible (Delta
    raises the same way for a timestamp before the earliest reproducible
    state). A pre-GENESIS timestamp still falls back to the initial load
    — that case is exactly 'everything', tested above."""
    import time as _time

    s1 = bronze.append(_rows(spark, [_event("BTC", 1, BASE_MS)]))
    while int(_time.time() * 1000) <= s1.timestamp_ms:
        _time.sleep(0.002)
    bronze.append(_rows(spark, [_event("BTC", 2, BASE_MS + 1000)]))
    bronze.append(_rows(spark, [_event("BTC", 3, BASE_MS + 2000)]))
    bronze.expire_snapshots(retain_last=1)  # s1's ancestry is gone

    from open_finance_lakehouse_spark.streaming.frost_source import (
        FrostDataSource,
    )

    ds = FrostDataSource({"location": bronze.location,
                          "startingTimestampMs": str(s1.timestamp_ms)})
    with pytest.raises(ValueError, match="expired"):
        ds.streamReader(bronze._empty_df().schema)


def test_frost_pushdown_null_count_pruning(spark, tmp_path):
    """IsNull / IsNotNull pushdown prunes via manifest null counts: an
    all-null file can't satisfy IS NOT NULL, a zero-null file can't
    satisfy IS NULL — whole files skip without a byte read."""
    from pyspark.sql.datasource import IsNotNull, IsNull
    from open_finance_lakehouse_spark.streaming.frost_source import (
        FrostBatchReader,
    )

    register_frost_source(spark)
    t = LakeTable.create(spark, str(tmp_path / "nn"), "nn",
                         "k BIGINT, v DOUBLE")
    t.append(spark.range(0, 10).coalesce(1).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")))
    t.append(spark.range(10, 20).coalesce(1).select(
        F.col("id").alias("k"), F.lit(None).cast("double").alias("v")))
    t.append(spark.range(20, 30).coalesce(1).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, F.col("id") * 1.0).alias("v")))

    # correctness through the DF API
    df = spark.read.format("frost").option("location", t.location).load()
    assert df.filter("v IS NOT NULL").count() == 15
    assert df.filter("v IS NULL").count() == 15

    rd = FrostBatchReader(t._empty_df().schema, t.location)
    rd.pushFilters([IsNotNull(("v",))])
    assert len(rd.partitions()) == 2  # the all-null file skipped
    rd = FrostBatchReader(t._empty_df().schema, t.location)
    rd.pushFilters([IsNull(("v",))])
    assert len(rd.partitions()) == 2  # the zero-null file skipped
    # contradictory constraints: no file can satisfy both
    rd = FrostBatchReader(t._empty_df().schema, t.location)
    rd.pushFilters([IsNull(("v",)), IsNotNull(("v",))])
    assert len(rd.partitions()) == 1  # only the mixed file survives


def test_build_session_registers_frost_out_of_the_box(tmp_path):
    """A user's FIRST ``spark.read.format("frost")`` on a fresh
    ``build_session`` session must work without a manual
    ``register_frost_source`` call (Delta/Iceberg get their sources
    registered by session extensions; this is the Python-data-source
    equivalent). Needs its own process: the shared test session has long
    since registered the source."""
    import os
    import subprocess
    import sys
    import textwrap

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = textwrap.dedent(f"""
        from open_finance_lakehouse_spark.session import build_session
        from open_finance_lakehouse_spark.format.table import LakeTable

        spark = build_session("reg_probe", master="local[2]",
                              shuffle_partitions=2)
        loc = {str(tmp_path / "t")!r}
        t = LakeTable.create(spark, loc, "t", "`a` int")
        t.append(spark.range(3).selectExpr("cast(id as int) as a"))
        print("COUNT=", spark.read.format("frost").load(loc).count())
    """)
    env = {**os.environ,
           "PYTHONPATH": repo + os.pathsep + os.environ.get("PYTHONPATH", "")}
    r = subprocess.run([sys.executable, "-c", code], capture_output=True,
                       text=True, timeout=300, env=env, cwd=str(tmp_path))
    assert r.returncode == 0, r.stderr[-2000:]
    assert "COUNT= 3" in r.stdout


def test_frost_pushdown_plans_like_plan_files(spark, tmp_path):
    """The frost batch reader and ``LakeTable.plan_files`` plan through one
    planner: each pushed filter becomes the ColumnRange a scan would take,
    and the reader's partitions are exactly the files ``plan_files``
    selects — ranges, EqualTo/In on the bucket column, IS [NOT] NULL, a
    temporal bound, and a time-travelled snapshot."""
    import datetime

    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        IsNotNull,
        IsNull,
        LessThanOrEqual,
    )

    from open_finance_lakehouse_spark.format.table import ColumnRange
    from open_finance_lakehouse_spark.streaming.frost_source import (
        FrostBatchReader,
    )

    register_frost_source(spark)
    t = LakeTable.create(
        spark, str(tmp_path / "eq"), "eq",
        "k BIGINT, cat STRING, v DOUBLE, ts TIMESTAMP",
        partition_spec={"kind": "bucket", "column": "cat",
                        "num_buckets": 8})
    base = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    for i in range(3):  # disjoint k and ts ranges; v all-null in append 1
        t.append(spark.range(i * 100, i * 100 + 100).select(
            F.col("id").alias("k"),
            F.concat(F.lit("c"), F.pmod("id", F.lit(10))).alias("cat"),
            (F.when(F.lit(i != 1), F.col("id") * 1.0)).alias("v"),
            F.lit(base + datetime.timedelta(days=i)).alias("ts")))
        if i == 0:
            s_old = t.current_snapshot_id()
    cutoff = base + datetime.timedelta(hours=12)
    cases = [
        (None, [GreaterThanOrEqual(("k",), 150), LessThanOrEqual(("k",), 160)],
         [ColumnRange("k", lo=150), ColumnRange("k", hi=160)]),
        (None, [EqualTo(("cat",), "c7")],
         [ColumnRange("cat", values=("c7",))]),
        (None, [In(("cat",), ("c7", "c3"))],
         [ColumnRange("cat", values=("c7", "c3"))]),
        (None, [IsNull(("v",))], [ColumnRange("v", null_test="null")]),
        (None, [IsNotNull(("v",))], [ColumnRange("v", null_test="notnull")]),
        (None, [GreaterThan(("ts",), cutoff)], [ColumnRange("ts", lo=cutoff)]),
        (s_old, [EqualTo(("cat",), "c7")],
         [ColumnRange("cat", values=("c7",))]),
    ]
    n_live = len(t.live_files())
    for sid, filters, ranges in cases:
        rd = FrostBatchReader(t.schema(sid), t.location, sid)
        rd.pushFilters(filters)
        assert rd._preds == ranges
        got = {p.path for p in rd.partitions()}
        want, total = t.plan_files(sid, ranges)
        assert got == {os.path.join(t.location, f.file_path) for f in want}
        if sid is None:
            assert 0 < len(want) < total == n_live, (filters, len(want))


def test_frost_starting_version_with_expired_parent_refuses(spark, bronze):
    """startingVersion=N is retained but N's parent has expired: N's
    changes are computed against the parent's manifests, so the stream and
    the change feed refuse at option resolution, naming the expired parent
    and the earliest version that works — not later, with a generic
    ancestry-walk error."""
    from open_finance_lakehouse_spark.streaming.frost_source import (
        FrostDataSource,
    )

    for i in range(4):
        bronze.append(_rows(spark, [_event("BTC", i, BASE_MS + i * 1000)]))
    bronze.expire_snapshots(retain_last=2)
    bronze.refresh()
    oldest, newest = sorted(s.snapshot_id for s in bronze.meta.snapshots)
    parent = bronze.meta.snapshot(oldest).parent_id
    schema = bronze.schema()
    for opts in ({}, {"readChangeFeed": "true"}):
        ds = FrostDataSource({"location": bronze.location,
                              "startingVersion": str(oldest), **opts})
        with pytest.raises(ValueError, match=(
                rf"parent snapshot {parent} has been expired.*"
                rf"earliest startingVersion that works is {newest}")):
            ds.streamReader(schema)
    ds = FrostDataSource({"location": bronze.location,
                          "startingVersion": str(oldest),
                          "readChangeFeed": "true"})
    with pytest.raises(ValueError, match="earliest startingVersion"):
        ds.reader(schema)
    # the named version works
    ok = FrostDataSource({"location": bronze.location,
                          "startingVersion": str(newest)})
    ok.streamReader(schema)
