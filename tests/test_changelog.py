"""Row-level change capture (``operators/changelog.py``): inserts from
appends, delete+insert pairs from MERGE, maintenance invisibility, loud
refusal on expired cursors — each assertion pinned to a hand-built history
(reference layer-2 rule, /root/reference/tests/test_gold_marts.py:331-402).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from open_finance_lakehouse_spark.format.table import LakeTable
from open_finance_lakehouse_spark.operators.changelog import (
    CHANGE_TYPE_COL,
    COMMIT_SNAPSHOT_COL,
    COMMIT_TIMESTAMP_COL,
    DELETE,
    INSERT,
    changes_summary,
    table_changes,
)
from open_finance_lakehouse_spark.operators.cluster import cluster_global
from open_finance_lakehouse_spark.operators.compact import compact
from open_finance_lakehouse_spark.operators.merge_into import merge_into
from open_finance_lakehouse_spark.plans.ledger import CheckpointLedger
from open_finance_lakehouse_spark.sources.synth import (
    CLIP_SCHEMA_DDL,
    synth_clips,
)


@pytest.fixture(scope="module")
def history(spark, tmp_path_factory):
    """A table with a known commit history:

    s1 append 20 clips      -> 20 inserts
    s2 append 10 clips      -> 10 inserts
    s3 MERGE (3 upd, 2 del, 4 ins) -> 4+3 inserts, 3+2 deletes
    s4 compact              -> nothing
    Returns (table, [s0=None, s1, s2, s3, s4], id lists).
    """
    loc = str(tmp_path_factory.mktemp("wh") / "clips")
    t = LakeTable.create(
        spark, loc, "clips", CLIP_SCHEMA_DDL,
        partition_spec={"kind": "bucket", "column": "clip_id",
                        "num_buckets": 4},
    )
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
           .withColumn("transcript", F.concat(F.lit("UPDATED "), "transcript"))
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
    return t, [None, s1, s2, s3, s4], (upd_ids, del_ids)


def test_appends_surface_as_inserts(history):
    t, snaps, _ = history
    ch = table_changes(t, snaps[0], snaps[2])
    assert ch.filter(F.col(CHANGE_TYPE_COL) != INSERT).count() == 0
    assert ch.count() == 30
    # each change is stamped with the snapshot that committed it
    per = {r[COMMIT_SNAPSHOT_COL]: r["n"] for r in
           ch.groupBy(COMMIT_SNAPSHOT_COL).agg(F.count("*").alias("n"))
           .collect()}
    assert per == {snaps[1]: 20, snaps[2]: 10}


def test_merge_surfaces_delete_insert_pairs(history):
    t, snaps, (upd_ids, del_ids) = history
    ch = table_changes(t, snaps[2], snaps[3]).cache()
    ins = ch.filter(F.col(CHANGE_TYPE_COL) == INSERT)
    dele = ch.filter(F.col(CHANGE_TYPE_COL) == DELETE)
    # updates: delete(old) + insert(new); deletes: delete only; 4 new inserts
    assert ins.count() == len(upd_ids) + 4
    assert dele.count() == len(upd_ids) + len(del_ids)
    upd_new = {r["clip_id"]: r["transcript"] for r in
               ins.filter(F.col("clip_id").isin(upd_ids)).collect()}
    assert set(upd_new) == set(upd_ids)
    assert all(v.startswith("UPDATED ") for v in upd_new.values())
    upd_old = {r["clip_id"]: r["transcript"] for r in
               dele.filter(F.col("clip_id").isin(upd_ids)).collect()}
    assert all(not v.startswith("UPDATED ") for v in upd_old.values())
    assert (dele.filter(F.col("clip_id").isin(del_ids)).count()
            == len(del_ids))
    # the merge is ONE commit: exactly one snapshot lies in (s2, s3], and
    # every change is stamped with it
    assert [s.snapshot_id for s in t.snapshots()
            if snaps[2] < s.snapshot_id <= snaps[3]] == [snaps[3]]
    stamped = {r[0] for r in ch.select(COMMIT_SNAPSHOT_COL).distinct()
               .collect()}
    assert stamped == {snaps[3]}
    ch.unpersist()


def test_maintenance_is_invisible(history):
    t, snaps, _ = history
    # compact rewrote bytes between s3 and s4 — CDC must see nothing
    assert table_changes(t, snaps[3], snaps[4]).count() == 0
    # and an interval SPANNING the maintenance returns exactly the merge
    spanning = table_changes(t, snaps[2], snaps[4])
    direct = table_changes(t, snaps[2], snaps[3])
    assert spanning.exceptAll(direct).count() == 0
    assert direct.exceptAll(spanning).count() == 0


def test_cluster_is_invisible(history, tmp_path_factory):
    t, snaps, _ = history
    ledger = CheckpointLedger(str(tmp_path_factory.mktemp("ledger2")))
    cluster_global(t, ledger, job_id="cdc-cluster", curve="zorder")
    head = t.current_snapshot_id()
    assert head != snaps[4]
    assert table_changes(t, snaps[4], head).count() == 0


def test_empty_interval_keeps_schema(history):
    t, snaps, _ = history
    head = t.current_snapshot_id()
    ch = table_changes(t, head, head)
    assert ch.count() == 0
    expected = [*t.scan().columns, CHANGE_TYPE_COL, COMMIT_SNAPSHOT_COL,
                COMMIT_TIMESTAMP_COL]
    assert ch.columns == expected


def test_net_state_reconstruction(history):
    """Applying the full changelog from genesis reproduces the live table:
    rows = all inserts exceptAll all deletes (multiset algebra) — the
    consumer-side correctness guarantee the operator exists for."""
    t, snaps, _ = history
    head = t.current_snapshot_id()
    ch = table_changes(t, None, head)
    data_cols = t.scan().columns
    ins = ch.filter(F.col(CHANGE_TYPE_COL) == INSERT).select(data_cols)
    dele = ch.filter(F.col(CHANGE_TYPE_COL) == DELETE).select(data_cols)
    net = ins.exceptAll(dele)
    live = t.scan()
    assert net.exceptAll(live).count() == 0
    assert live.exceptAll(net).count() == 0


def test_changes_summary_counts(history):
    t, snaps, (upd_ids, del_ids) = history
    s = {r[COMMIT_SNAPSHOT_COL]: (r["inserts"], r["deletes"]) for r in
         changes_summary(table_changes(t, snaps[0], snaps[3])).collect()}
    assert s[snaps[1]] == (20, 0)
    assert s[snaps[2]] == (10, 0)
    # totals of every commit after s2 (the MERGE is one commit)
    merge_ins = sum(v[0] for k, v in s.items() if k > snaps[2])
    merge_del = sum(v[1] for k, v in s.items() if k > snaps[2])
    assert (merge_ins, merge_del) == (len(upd_ids) + 4,
                                      len(upd_ids) + len(del_ids))


def test_expired_cursor_refuses(history):
    t, snaps, _ = history
    t.expire_snapshots(retain_last=1)
    t = LakeTable.load(t.spark, t.location)
    with pytest.raises(ValueError):
        table_changes(t, snaps[1], t.current_snapshot_id())


def test_partition_rewrite_is_invisible(spark, tmp_path_factory):
    """rewrite_partitioning copies every byte but changes no logical row —
    the summary flag must keep CDC silent (op 'rewrite' is already
    row-preserving; this pins the flag path for schema rewrites too)."""
    loc = str(tmp_path_factory.mktemp("wh2") / "clips")
    t = LakeTable.create(
        spark, loc, "clips", CLIP_SCHEMA_DDL,
        partition_spec={"kind": "bucket", "column": "clip_id",
                        "num_buckets": 2},
    )
    t.append(synth_clips(spark, 12, dur_max_ms=400))
    s1 = t.current_snapshot_id()
    t.rewrite_partitioning({"kind": "bucket", "column": "clip_id",
                            "num_buckets": 4})
    assert table_changes(t, s1, t.current_snapshot_id()).count() == 0


def test_change_interval_crossing_schema_rewrite_refuses(spark, tmp_path):
    """Rows committed before a rename/drop cannot be read under the
    post-rewrite schema (renamed columns would project NULL — corrupt
    change rows): both CDC paths refuse and point the consumer at a
    post-rewrite cursor. From a cursor AT the rewrite, changes flow."""
    t = LakeTable.create(spark, str(tmp_path / "sr"), "sr",
                         "k BIGINT, old_name STRING")
    t.append(spark.createDataFrame([(1, "a"), (2, "b")],
                                   "k BIGINT, old_name STRING"))
    s1 = t.current_snapshot_id()
    t.rewrite_schema("k BIGINT, new_name STRING",
                     mapping={"new_name": "old_name"})
    s2 = t.current_snapshot_id()
    t.append(spark.createDataFrame([(3, "c")], "k BIGINT, new_name STRING"))

    with pytest.raises(ValueError, match="schema rewrite"):
        table_changes(t, None).collect()
    with pytest.raises(ValueError, match="schema rewrite"):
        table_changes(t, s1 - 100 if s1 > 100 else None).collect()
    # post-rewrite cursor: clean inserts under the new schema
    got = table_changes(t, s2)
    assert [r["new_name"] for r in got.collect()] == ["c"]

    # the frost batch CDC path enforces the same rule
    from open_finance_lakehouse_spark.streaming.frost_source import (
        register_frost_source,
    )

    register_frost_source(spark)
    with pytest.raises(Exception, match="schema rewrite"):
        (spark.read.format("frost").option("location", t.location)
         .option("readChangeFeed", "true").load()).collect()
    ok = (spark.read.format("frost").option("location", t.location)
          .option("readChangeFeed", "true")
          .option("startingSnapshotId", s2).load())
    assert [r["new_name"] for r in ok.collect()] == ["c"]
