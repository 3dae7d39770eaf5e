"""``format("frost")`` change-feed reads (``readChangeFeed=true``): the
streamed/batch CDC surface must be multiset-identical to the Spark-side
``operators.changelog.table_changes`` over the same interval — two code
paths, one contract (the repo's two-path reconciliation discipline).
Delta's CDF is the public shape this mirrors."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from open_finance_lakehouse_spark.format.table import LakeTable
from open_finance_lakehouse_spark.operators import changelog as cl
from open_finance_lakehouse_spark.operators.compact import compact
from open_finance_lakehouse_spark.operators.merge_into import merge_into
from open_finance_lakehouse_spark.plans.ledger import CheckpointLedger
from open_finance_lakehouse_spark.sources.synth import (
    CLIP_SCHEMA_DDL,
    synth_clips,
)
from open_finance_lakehouse_spark.streaming import frost_source as fs
from open_finance_lakehouse_spark.streaming.frost_source import (
    register_frost_source,
)


@pytest.fixture(scope="module")
def history(spark, tmp_path_factory):
    """s1 append 20, s2 append 10, s3 MERGE (3 upd, 2 del, 4 ins),
    s4 compact — the changelog suite's history, read here through the
    frost data source instead of table_changes."""
    loc = str(tmp_path_factory.mktemp("wh") / "clips")
    t = LakeTable.create(
        spark, loc, "clips", CLIP_SCHEMA_DDL,
        partition_spec={"kind": "bucket", "column": "clip_id",
                        "num_buckets": 4},
    )
    register_frost_source(spark)
    clips = synth_clips(spark, 30, dur_max_ms=600).cache()
    first = [r["clip_id"] for r in
             clips.select("clip_id").orderBy("clip_id").limit(20).collect()]
    t.append(clips.filter(F.col("clip_id").isin(first)),
             max_records_per_file=5)
    s1 = t.current_snapshot_id()
    t.append(clips.filter(~F.col("clip_id").isin(first)),
             max_records_per_file=5)
    s2 = t.current_snapshot_id()

    ids = sorted(first)
    upd_ids, del_ids = ids[:3], ids[3:5]
    base = t.scan().filter(F.col("clip_id").isin(upd_ids + del_ids))
    upd = (base.filter(F.col("clip_id").isin(upd_ids))
           .withColumn("transcript",
                       F.concat(F.lit("UPDATED "), "transcript"))
           .withColumn("op", F.lit("U"))
           .withColumn("seq", F.lit(2).cast("long")))
    dele = (base.filter(F.col("clip_id").isin(del_ids))
            .withColumn("op", F.lit("D"))
            .withColumn("seq", F.lit(3).cast("long")))
    ins = (synth_clips(spark, 4, id_offset=90_000, dur_max_ms=600)
           .withColumn("op", F.lit("U"))
           .withColumn("seq", F.lit(1).cast("long")))
    cols = [*t.scan().columns, "op", "seq"]
    src = (upd.select(cols).unionByName(dele.select(cols))
           .unionByName(ins.select(cols)))
    ledger = CheckpointLedger(str(tmp_path_factory.mktemp("ledger")))
    merge_into(t, src, ledger, "cdc-merge", source_token="b1")
    s3 = t.current_snapshot_id()
    compact(t, ledger, job_id="cdc-compact", target_bytes=1 << 20,
            small_file_ratio=1.0)
    s4 = t.current_snapshot_id()
    clips.unpersist()
    return t, [None, s1, s2, s3, s4]


def _cdc_read(spark, t, start=None, end=None, **opts):
    r = (spark.read.format("frost").option("location", t.location)
         .option("readChangeFeed", "true"))
    if start is not None:
        r = r.option("startingSnapshotId", start)
    if end is not None:
        r = r.option("endingSnapshotId", end)
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def _multiset_equal(a, b) -> bool:
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_change_column_names_match_changelog_contract():
    assert fs.CHANGE_COLS == (cl.CHANGE_TYPE_COL, cl.COMMIT_SNAPSHOT_COL,
                              cl.COMMIT_TIMESTAMP_COL)


def test_batch_cdc_genesis_replay_matches_table_changes(spark, history):
    t, snaps = history
    got = _cdc_read(spark, t)
    oracle = cl.table_changes(t, None)
    assert got.columns == oracle.columns
    assert _multiset_equal(got, oracle)


def test_batch_cdc_interval_merge_surfaces_delete_insert(spark, history):
    t, snaps = history
    got = _cdc_read(spark, t, start=snaps[2]).cache()
    # the compact (s4) is invisible; only the merge's changes remain
    assert _multiset_equal(got, cl.table_changes(t, snaps[2]))
    per = {r[cl.CHANGE_TYPE_COL]: r["n"] for r in
           got.groupBy(cl.CHANGE_TYPE_COL).agg(F.count("*").alias("n"))
           .collect()}
    assert per == {cl.INSERT: 7, cl.DELETE: 5}  # 3 upd + 4 ins / 3 upd + 2 del
    # the stamp set must match the oracle's exactly
    stamps = {r[0] for r in
              got.select(cl.COMMIT_SNAPSHOT_COL).distinct().collect()}
    oracle_stamps = {r[0] for r in cl.table_changes(t, snaps[2])
                     .select(cl.COMMIT_SNAPSHOT_COL).distinct().collect()}
    assert stamps == oracle_stamps
    assert all(snaps[2] < s <= snaps[3] for s in stamps)
    got.unpersist()


def test_batch_cdc_ending_snapshot_bounds_the_interval(spark, history):
    t, snaps = history
    got = _cdc_read(spark, t, start=snaps[1], end=snaps[2])
    assert got.filter(F.col(cl.CHANGE_TYPE_COL) != cl.INSERT).count() == 0
    assert got.count() == 10  # only s2's append


def test_cdc_option_conflicts_refuse(spark, history):
    t, _ = history
    with pytest.raises(Exception) as ei:
        (spark.read.format("frost").option("location", t.location)
         .option("readChangeFeed", "true").option("snapshotId", "1").load())
    assert "mutually exclusive" in str(ei.value)
    with pytest.raises(Exception) as ei:
        _cdc_read(spark, t, start="latest").collect()
    assert "latest" in str(ei.value)


def test_stream_cdc_delivers_changes_and_skips_maintenance(
        spark, history, tmp_path):
    """readStream + readChangeFeed: a row-changing commit arrives as
    delete+insert pairs instead of killing the stream (the plain frost
    stream raises NonAppendInterval on the same interval), and the
    compact in the interval contributes nothing."""
    t, snaps = history
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain():
        q = (spark.readStream.format("frost")
             .option("location", t.location)
             .option("readChangeFeed", "true")
             .option("startingSnapshotId", snaps[2]).load()
             .writeStream.outputMode("append").format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    drain()
    got = spark.read.parquet(out)
    assert _multiset_equal(got, cl.table_changes(t, snaps[2]))

    # new commits after the checkpoint: an append streams as inserts only
    extra = synth_clips(spark, 3, id_offset=95_000, dur_max_ms=600)
    t.append(extra)
    s5 = t.current_snapshot_id()
    drain()
    got = spark.read.parquet(out).filter(
        F.col(cl.COMMIT_SNAPSHOT_COL) == s5)
    assert got.count() == 3
    assert got.filter(F.col(cl.CHANGE_TYPE_COL) != cl.INSERT).count() == 0
    # caught up: a further drain delivers nothing new
    n = spark.read.parquet(out).count()
    drain()
    assert spark.read.parquet(out).count() == n


def test_cdc_multiset_gauntlet(spark, tmp_path):
    """Edge cases that break naive set-based diffs: duplicate rows cancel
    COPY FOR COPY (removing one of two identical rows is exactly one
    delete), an identity replace emits nothing, and consecutive
    row-changing commits each stamp their own changes — asserted for the
    frost change feed and the table_changes oracle, which must agree."""
    register_frost_source(spark)
    t = LakeTable.create(spark, str(tmp_path / "g"), "g", "k int, v string")
    rows = lambda data: spark.createDataFrame(data, "k int, v string")  # noqa: E731
    t.append(rows([(1, "a"), (1, "a"), (2, "b")]))  # duplicate row
    s1 = t.current_snapshot_id()
    t.replace(rows([(1, "a"), (2, "b")]))     # drops ONE of the two copies
    t.replace(rows([(1, "a"), (2, "b")]))     # identity replace: no changes
    t.replace(rows([(1, "a"), (2, "B"), (2, "B")]))  # update + duplicate ins
    s4 = t.current_snapshot_id()

    oracle = cl.table_changes(t, s1, s4)
    assert _multiset_equal(_cdc_read(spark, t, start=s1, end=s4), oracle)
    per = {(r["k"], r["v"], r[cl.CHANGE_TYPE_COL]): r["n"]
           for r in oracle.groupBy("k", "v", cl.CHANGE_TYPE_COL)
           .agg(F.count("*").alias("n")).collect()}
    assert per == {(1, "a", cl.DELETE): 1,        # one copy, one delete
                   (2, "b", cl.DELETE): 1,
                   (2, "B", cl.INSERT): 2}        # duplicate insert kept x2
    # net-state reconstruction: live table == state-at-s1 + feed
    base = t.scan(snapshot_id=s1)
    net = base.unionByName(
        oracle.filter(F.col(cl.CHANGE_TYPE_COL) == cl.INSERT)
        .select("k", "v")).exceptAll(
        oracle.filter(F.col(cl.CHANGE_TYPE_COL) == cl.DELETE)
        .select("k", "v"))
    assert _multiset_equal(net, t.scan())


def test_stream_cdc_initial_load_is_live_state(spark, history, tmp_path):
    """No starting option: the first micro-batch is the table's LIVE rows
    as inserts (Delta readStream semantics — robust to expired history),
    stamped with the stream-start snapshot."""
    t, _ = history
    out, ckpt = str(tmp_path / "out0"), str(tmp_path / "ckpt0")
    q = (spark.readStream.format("frost")
         .option("location", t.location)
         .option("readChangeFeed", "true").load()
         .writeStream.outputMode("append").format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == t.scan().count()
    assert got.filter(F.col(cl.CHANGE_TYPE_COL) != cl.INSERT).count() == 0
    live = t.scan()
    assert _multiset_equal(got.select(live.columns), live)


def test_delta_compat_version_aliases(spark, history):
    """Delta muscle memory works with Delta's MEANING, not just Delta's
    spelling: ``endingVersion`` is an exact synonym of
    ``endingSnapshotId`` (inclusive on both sides), but Delta's
    ``startingVersion=N`` is INCLUSIVE while frost's
    ``startingSnapshotId`` is exclusive — the alias must deliver version
    N's own changes (``startingVersion=snaps[2]`` ==
    ``startingSnapshotId=snaps[1]``), and giving both spellings refuses
    because they differ by one commit."""
    t, snaps = history
    canonical = _cdc_read(spark, t, start=snaps[1], end=snaps[3])
    alias = (spark.read.format("frost").option("location", t.location)
             .option("readChangeFeed", "true")
             .option("startingVersion", snaps[2])
             .option("endingVersion", snaps[3]).load())
    assert _multiset_equal(canonical, alias)
    # the aliased read contains snaps[2]'s own changes (inclusive)
    assert alias.filter(
        F.col(cl.COMMIT_SNAPSHOT_COL) == snaps[2]).count() > 0
    # startingVersion at the FIRST commit replays from genesis
    genesis = (spark.read.format("frost").option("location", t.location)
               .option("readChangeFeed", "true")
               .option("startingVersion", snaps[1]).load())
    full = _cdc_read(spark, t)  # no start = full log replay
    assert _multiset_equal(genesis, full)
    with pytest.raises(Exception, match="differ by one commit"):
        (spark.read.format("frost").option("location", t.location)
         .option("readChangeFeed", "true")
         .option("startingSnapshotId", snaps[1])
         .option("startingVersion", snaps[2]).load()).collect()
    with pytest.raises(Exception, match="ahead of the table"):
        (spark.read.format("frost").option("location", t.location)
         .option("readChangeFeed", "true")
         .option("startingVersion", snaps[-1] + 1000).load()).collect()


def test_version_as_of_alias_time_travel(spark, history):
    """Batch time travel: ``versionAsOf`` (Delta) == ``snapshotId``."""
    t, snaps = history
    a = (spark.read.format("frost").option("location", t.location)
         .option("snapshotId", snaps[1]).load())
    b = (spark.read.format("frost").option("location", t.location)
         .option("versionAsOf", snaps[1]).load())
    assert _multiset_equal(a, b) and a.count() > 0


def test_streaming_cdc_refuses_genesis_starting_version(
        spark, history, tmp_path):
    """Cursor 0 means 'initial live load' to the CDC STREAM, not a
    genesis replay — silently delivering current state as inserts would
    lose every historical delete a Delta CDF consumer expects from
    startingVersion=<first commit>. Must refuse with a pointer to the
    batch change feed."""
    t, snaps = history
    out, ckpt = str(tmp_path / "og"), str(tmp_path / "ckg")
    with pytest.raises(Exception, match="first commit"):
        q = (spark.readStream.format("frost")
             .option("location", t.location)
             .option("readChangeFeed", "true")
             .option("startingVersion", snaps[1]).load()
             .writeStream.outputMode("append").format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
    # a later version still works through the stream (inclusive alias)
    out2, ckpt2 = str(tmp_path / "og2"), str(tmp_path / "ckg2")
    q2 = (spark.readStream.format("frost")
          .option("location", t.location)
          .option("readChangeFeed", "true")
          .option("startingVersion", snaps[2]).load()
          .writeStream.outputMode("append").format("parquet")
          .option("path", out2).option("checkpointLocation", ckpt2)
          .trigger(availableNow=True).start())
    q2.awaitTermination(120)
    got = spark.read.parquet(out2)
    batch = (spark.read.format("frost").option("location", t.location)
             .option("readChangeFeed", "true")
             .option("startingSnapshotId", snaps[1]).load())
    assert _multiset_equal(got, batch)


def test_cdc_option_validation_survives_user_schema(spark, history):
    """Spark skips schema() when the user supplies .schema(...) — the
    CDC/time-travel mutual exclusion must still refuse in reader()
    instead of silently ignoring snapshotId."""
    t, snaps = history
    ddl = t.meta.schema_ddl + fs.CHANGE_COLS_DDL
    with pytest.raises(Exception, match="mutually exclusive"):
        (spark.read.format("frost").schema(ddl)
         .option("location", t.location)
         .option("readChangeFeed", "true")
         .option("snapshotId", snaps[2]).load()).collect()


def _stream_cdc(spark, t, start, path):
    """Drain a change-feed stream from cursor ``start`` to the head."""
    out, ckpt = str(path / "out"), str(path / "ckpt")
    q = (spark.readStream.format("frost").option("location", t.location)
         .option("readChangeFeed", "true")
         .option("startingSnapshotId", start).load()
         .writeStream.outputMode("append").format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    if q.exception() is not None:
        raise q.exception()
    return spark.read.parquet(out)


def _assert_feeds_agree(spark, t, start, path):
    """The batch change feed, the streamed change feed and table_changes
    return one multiset over (start, head]."""
    oracle = cl.table_changes(t, start)
    batch = _cdc_read(spark, t, start=start)
    stream = _stream_cdc(spark, t, start, path)
    assert oracle.count() > 0
    assert _multiset_equal(batch, oracle)
    assert _multiset_equal(stream.select(oracle.columns), oracle)


def test_change_feeds_agree_on_history(spark, history, tmp_path):
    """Appends, a MERGE (updates, deletes, inserts) and a compaction."""
    t, snaps = history
    _assert_feeds_agree(spark, t, snaps[1], tmp_path)


def test_change_feeds_agree_on_duplicates_and_nan(spark, tmp_path):
    """Duplicate rows cancel copy for copy and NaN equals NaN in all three
    diffs (Spark's exceptAll and the Arrow multiset diff)."""
    register_frost_source(spark)
    t = LakeTable.create(spark, str(tmp_path / "dn"), "dn",
                         "k int, v double, s string")
    nan = float("nan")
    rows = lambda data: spark.createDataFrame(  # noqa: E731
        data, "k int, v double, s string")
    t.append(rows([(0, 0.0, "z")]))
    s0 = t.current_snapshot_id()
    t.append(rows([(1, nan, "a"), (1, nan, "a"), (2, 2.0, None)]))
    t.replace(rows([(1, nan, "a"), (2, 2.0, None), (3, nan, "c")]))
    t.replace(rows([(1, nan, "a"), (2, 2.0, None), (3, nan, "c")]))
    t.replace(rows([(2, -0.5, None), (3, nan, "c"), (3, nan, "c")]))
    _assert_feeds_agree(spark, t, s0, tmp_path)
    per = {(r["k"], r[cl.CHANGE_TYPE_COL]): r["n"] for r in
           cl.table_changes(t, s0).groupBy("k", cl.CHANGE_TYPE_COL)
           .agg(F.count("*").alias("n")).collect()}
    assert per == {(1, cl.INSERT): 2, (2, cl.INSERT): 2, (3, cl.INSERT): 2,
                   (1, cl.DELETE): 2, (2, cl.DELETE): 1, (0, cl.DELETE): 1}


def test_change_shard_bytes_option_refuses(spark, history):
    """The removed diff-sharding option refuses instead of being ignored,
    so a caller who relied on its memory bound finds out."""
    t, snaps = history
    with pytest.raises(Exception, match="changeShardBytes option was removed"):
        _cdc_read(spark, t, start=snaps[2],
                  changeShardBytes="256").collect()


def test_schema_rewrite_outcomes_per_consumer(spark, tmp_path):
    """One commit classification, each consumer's rule on a rewrite_schema
    commit: append-only consumers (the plain stream, incremental_scan)
    refuse; the change feeds skip it when it opens the interval and refuse
    when rows precede it."""
    from open_finance_lakehouse_spark.streaming.table_source import (
        NonAppendInterval,
        incremental_scan,
    )

    register_frost_source(spark)
    t = LakeTable.create(spark, str(tmp_path / "sr"), "sr",
                         "k BIGINT, old_name STRING")
    t.append(spark.createDataFrame([(1, "a")], "k BIGINT, old_name STRING"))
    s1 = t.current_snapshot_id()
    t.append(spark.createDataFrame([(2, "b")], "k BIGINT, old_name STRING"))
    s2 = t.current_snapshot_id()
    t.rewrite_schema("k BIGINT, new_name STRING",
                     mapping={"new_name": "old_name"})
    t.append(spark.createDataFrame([(3, "c")], "k BIGINT, new_name STRING"))

    # append-only consumers refuse whether or not rows precede the rewrite
    for start in (s1, s2):
        with pytest.raises(NonAppendInterval):
            incremental_scan(t, start)
        out, ckpt = tmp_path / f"p{start}", tmp_path / f"c{start}"
        q = (spark.readStream.format("frost").option("location", t.location)
             .option("startingSnapshotId", start).load()
             .writeStream.outputMode("append").format("parquet")
             .option("path", str(out))
             .option("checkpointLocation", str(ckpt))
             .trigger(availableNow=True).start())
        with pytest.raises(Exception, match="append-only row delta"):
            q.awaitTermination(120)
            if q.exception() is not None:
                raise q.exception()

    # change feeds: rows (s2's append) precede the rewrite -> refuse
    with pytest.raises(ValueError, match="schema rewrite"):
        cl.table_changes(t, s1)
    with pytest.raises(Exception, match="schema rewrite"):
        _cdc_read(spark, t, start=s1).collect()
    with pytest.raises(Exception, match="schema rewrite"):
        _stream_cdc(spark, t, s1, tmp_path / "cs1")
    # the rewrite opens the interval -> skipped, later rows flow
    want = [(3, "c", cl.INSERT)]
    for got in (cl.table_changes(t, s2), _cdc_read(spark, t, start=s2),
                _stream_cdc(spark, t, s2, tmp_path / "cs2")):
        assert [(r["k"], r["new_name"], r[cl.CHANGE_TYPE_COL])
                for r in got.collect()] == want
