"""Maintenance-operator suites the north_rule names: compaction idempotence,
Z-order file-skipping selectivity, expire-snapshots reachability, MERGE
upsert/delete semantics — each with negative tests that plant the precise
bug (reference layer-2 rule, /root/reference/tests/test_gold_marts.py:331-402).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from open_finance_lakehouse_spark.format.table import ColumnRange, LakeTable
from open_finance_lakehouse_spark.operators import binpack
from open_finance_lakehouse_spark.operators.audit import (
    scan_parity,
    snr_violations,
    table_audit,
)
from open_finance_lakehouse_spark.operators.cluster import (
    cluster_global,
    clustering_quality,
)
from open_finance_lakehouse_spark.operators.compact import compact, plan_compaction
from open_finance_lakehouse_spark.operators.expire import expire
from open_finance_lakehouse_spark.operators.merge_into import (
    choose_salt_count,
    dedup_latest_salted,
    merge_into,
)
from open_finance_lakehouse_spark.operators.pipeline import run_maintenance
from open_finance_lakehouse_spark.plans.ledger import (
    STATUS_COMMITTED,
    CheckpointLedger,
    CheckpointRecord,
    file_set_hash,
)
from open_finance_lakehouse_spark.sources.synth import CLIP_SCHEMA_DDL, synth_clips

N_CLIPS = 240


@pytest.fixture(scope="module")
def clip_table(spark, tmp_path_factory):
    """Bucket-partitioned clip table written as many small files
    (FIXTURES.md 'small-files layout')."""
    loc = str(tmp_path_factory.mktemp("wh") / "clips")
    t = LakeTable.create(
        spark, loc, "clips", CLIP_SCHEMA_DDL,
        partition_spec={"kind": "bucket", "column": "clip_id",
                        "num_buckets": 4},
    )
    clips = synth_clips(spark, N_CLIPS, dur_max_ms=900)
    # two appends -> multi-snapshot history; tiny files force compaction work
    t.append(clips.filter(F.xxhash64("clip_id") % 2 == 0),
             max_records_per_file=10)
    t.append(clips.filter(F.xxhash64("clip_id") % 2 != 0),
             max_records_per_file=10)
    return t


@pytest.fixture(scope="module")
def ledger(tmp_path_factory):
    return CheckpointLedger(str(tmp_path_factory.mktemp("ledger")))


# ---------------------------------------------------------------- binpack


def test_binpack_hand_checkable():
    # sizes engineered so expected bins are hand-computable (FIXTURES.md §8
    # pattern): target 100, threshold 75
    files = [("a", 60, 6), ("b", 50, 5), ("c", 40, 4), ("d", 30, 3),
             ("e", 90, 9), ("f", 10, 1)]
    bins = binpack.plan_bins(files, target_bytes=100, small_file_ratio=0.75,
                             min_files_per_bin=2)
    # candidates (size < 75): a60 b50 c40 d30 f10 -> FFD:
    # a60+c40? a(60)->bin1; b(50) doesn't fit bin1(60+50>100)->bin2;
    # c(40) fits bin1(100) -> bin1; d(30) fits bin2(80) -> bin2;
    # f(10) fits bin2(90) -> bin2
    assert [sorted(b.paths) for b in bins] == [["a", "c"], ["b", "d", "f"]]
    assert [b.total_bytes for b in bins] == [100, 90]
    # e (90 >= threshold) untouched
    assert all("e" not in b.paths for b in bins)


def test_binpack_invariants():
    files = [(f"f{i}", 7 * (i % 13) + 1, i + 1) for i in range(50)]
    target = 64
    bins = binpack.plan_bins(files, target_bytes=target, min_files_per_bin=2)
    seen = [p for b in bins for p in b.paths]
    assert len(seen) == len(set(seen))  # no file in two bins
    for b in bins:
        assert len(b.paths) >= 2
        assert b.total_bytes <= target or len(b.paths) == 1
    # deterministic
    again = binpack.plan_bins(files, target_bytes=target, min_files_per_bin=2)
    assert [b.paths for b in again] == [b.paths for b in bins]


# ----------------------------------------------------------------- compact


def test_compact_preserves_rows_and_reduces_files(spark, clip_table, ledger):
    t = clip_table
    before_files = len(t.live_files())
    before_audit = table_audit(t.scan())
    before = t.scan().cache()
    before.count()

    plan = plan_compaction(t, target_bytes=4 * 1024 * 1024)
    assert plan, "small-files fixture must produce a compaction plan"
    res = compact(t, ledger, "job-compact-1", target_bytes=4 * 1024 * 1024)
    assert res["partitions_rewritten"] == len(plan)

    after_files = len(t.live_files())
    assert after_files < before_files
    after_audit = table_audit(t.scan())
    assert after_audit == before_audit  # independent-state idempotence claim

    violations = scan_parity(before, t.scan())
    assert violations.count() == 0
    before.unpersist()


def test_compact_rerun_is_noop(spark, clip_table, ledger):
    t = clip_table
    snaps_before = len(t.snapshots())
    res = compact(t, ledger, "job-compact-1", target_bytes=4 * 1024 * 1024)
    # measured no-op: every planned partition skipped via the ledger,
    # no new snapshots committed
    assert res["partitions_rewritten"] == 0
    assert len(t.snapshots()) == snaps_before


def test_compact_resume_skips_committed_partition(spark, clip_table, ledger):
    t = clip_table
    # fresh small files so there is work again
    t.append(synth_clips(spark, 40, id_offset=10_000, dur_max_ms=900),
             max_records_per_file=5)
    plan = plan_compaction(t, target_bytes=4 * 1024 * 1024)
    assert plan
    # simulate a prior partial run: first planned partition already committed
    part = sorted(plan)[0]
    paths = [p for b in plan[part] for p in b.paths]
    ledger.upsert(CheckpointRecord(
        job_id="job-compact-2", table=t.meta.name, partition_id=f"part={part}",
        file_set_hash=file_set_hash(paths), status=STATUS_COMMITTED,
    ))
    res = compact(t, ledger, "job-compact-2", target_bytes=4 * 1024 * 1024)
    assert res["partitions_skipped"] == 1
    assert res["partitions_rewritten"] == len(plan) - 1


def test_checkpoint_and_lineage_dataframes(spark, ledger):
    cps = ledger.checkpoints_df(spark)
    assert cps.filter(F.col("status") == STATUS_COMMITTED).count() > 0
    lin = ledger.lineage_df(spark)
    assert lin.filter(F.col("op") == "compact").count() > 0
    # every lineage row names a job the checkpoint table knows
    jobs = {r["job_id"] for r in cps.select("job_id").distinct().collect()}
    assert {r["job_id"] for r in lin.select("job_id").distinct().collect()} \
        <= jobs


# ----------------------------------------------------------------- cluster


def test_cluster_tightens_stats_and_enables_skipping(spark, clip_table, ledger):
    t = clip_table
    before = t.scan().cache()
    before.count()
    q_before = clustering_quality(t, "dur_ms")
    sel_before, total_before = t.plan_files(
        predicates=[ColumnRange("dur_ms", lo=200, hi=280)])

    res = cluster_global(t, ledger, "job-cluster-1", curve="zorder",
                         target_bytes=512 * 1024)
    assert res["partitions_rewritten"] > 0

    q_after = clustering_quality(t, "dur_ms")
    sel_after, total_after = t.plan_files(
        predicates=[ColumnRange("dur_ms", lo=200, hi=280)])
    # file-skipping selectivity: clustered stats prune a strictly larger
    # fraction of files
    assert sel_before and total_before
    assert (len(sel_after) / total_after) < (len(sel_before) / total_before)
    assert q_after < q_before  # pairwise min/max overlap dropped

    # clustering is purely physical: row set is byte-identical
    assert scan_parity(before, t.scan()).count() == 0
    # pruned scan still returns exactly the predicate's rows
    full = before.filter((F.col("dur_ms") >= 200) & (F.col("dur_ms") <= 280))
    pruned = t.scan(predicates=[ColumnRange("dur_ms", lo=200, hi=280)])
    assert pruned.count() == full.count()
    before.unpersist()


def test_cluster_rerun_is_noop(spark, clip_table, ledger):
    t = clip_table
    snaps = len(t.snapshots())
    res = cluster_global(t, ledger, "job-cluster-1", curve="zorder",
                         target_bytes=512 * 1024)
    assert res["partitions_rewritten"] == 0
    assert len(t.snapshots()) == snaps


def test_cluster_fingerprint_matches_spark_aggregate(spark):
    """Ledger compatibility: the driver-side input fingerprint equals the
    Spark aggregate an earlier planner stored in ledgers,
    ``bit_xor(xxhash64(concat(curve:, file_path)))`` with the file count —
    so a replay over an already-clustered file set still skips."""
    import uuid as _uuid

    from open_finance_lakehouse_spark.operators.cluster import (
        _xor_fingerprint_py,
    )

    paths = [f"data/part={i % 4}/{_uuid.UUID(int=i * 7919 + 1).hex}.parquet"
             for i in range(48)] + ["data/part=0/späti ü.parquet", "x"]
    df = spark.createDataFrame([(p,) for p in paths], "file_path string")
    for curve in ("zorder", "hilbert"):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(
                F.concat(F.lit(f"{curve}:"), F.col("file_path")))).alias("x"),
        ).first()
        want = f"{curve}:{row['n']}:{row['x'] & 0xFFFFFFFFFFFFFFFF:016x}"
        assert _xor_fingerprint_py(curve, paths) == want
        # order-insensitive, and sensitive to the file set
        assert _xor_fingerprint_py(curve, paths[::-1]) == want
        assert _xor_fingerprint_py(curve, paths[1:]) != want
    assert _xor_fingerprint_py("zorder", []) == "zorder:0:0000000000000000"


# ------------------------------------------------------------------ expire


def test_expire_and_orphan_gc(spark, clip_table, ledger, tmp_path):
    t = clip_table
    audit_before = table_audit(t.scan())
    all_data_files = []
    for root, _d, names in os.walk(os.path.join(t.location, "data")):
        all_data_files += [os.path.join(root, n) for n in names]
    live = {os.path.join(t.location, f.file_path) for f in t.live_files()}
    assert set(all_data_files) > live  # history holds superseded files

    # negative control: a planted orphan must be collected
    orphan = os.path.join(t.location, "data", "part=0", "orphan.parquet")
    with open(orphan, "wb") as f:
        f.write(b"junk")

    res = expire(t, ledger, "job-expire-1", retain_last=1, gc_grace_ms=0)
    assert res["orphans_deleted"] > 0
    assert not os.path.exists(orphan)

    # reachability: every live file still present, table state unchanged
    for f in t.live_files():
        assert os.path.exists(os.path.join(t.location, f.file_path))
    assert table_audit(t.scan()) == audit_before
    # superseded files actually deleted
    remaining = []
    for root, _d, names in os.walk(os.path.join(t.location, "data")):
        remaining += [os.path.join(root, n) for n in names]
    assert set(remaining) == {
        os.path.join(t.location, f.file_path) for f in t.live_files()}


def test_gc_grace_window_protects_staged_files(spark, clip_table, ledger):
    t = clip_table
    fresh = os.path.join(t.location, "data", "part=0", "inflight.parquet")
    with open(fresh, "wb") as f:
        f.write(b"staged-not-yet-committed")
    victims = t.delete_orphans(grace_ms=60_000, dry_run=False)
    assert os.path.exists(fresh)  # younger than grace -> protected
    assert all("inflight" not in v for v in victims)
    os.remove(fresh)


# ------------------------------------------------------------------- merge


def _merge_source(spark, t, upd_ids, del_ids, hot_dup=50):
    """Updates (new transcript, seq 2) + hot-key duplicate churn (seq 0..n)
    + deletes; the winning row per key is the highest seq."""
    base = t.scan().filter(F.col("clip_id").isin(upd_ids + del_ids))
    upd = (
        base.filter(F.col("clip_id").isin(upd_ids))
        .withColumn("transcript", F.concat(F.lit("UPDATED "), "transcript"))
        .withColumn("op", F.lit("U")).withColumn("seq", F.lit(2).cast("long"))
    )
    # hot churn: stale versions of the first updated key, seq below winner
    hot = (
        spark.range(hot_dup).crossJoin(
            base.filter(F.col("clip_id") == upd_ids[0]).drop("id"))
        .withColumn("transcript", F.lit("stale"))
        .withColumn("op", F.lit("U"))
        .withColumn("seq", (F.col("id") % 2).cast("long")).drop("id")
    )
    dele = (
        base.filter(F.col("clip_id").isin(del_ids))
        .withColumn("op", F.lit("D")).withColumn("seq", F.lit(3).cast("long"))
    )
    cols = [*t.scan().columns, "op", "seq"]
    return upd.select(cols).unionByName(hot.select(cols)) \
              .unionByName(dele.select(cols))


_MERGE_IDS: dict[str, list[str]] = {}


def test_merge_upsert_delete_semantics(spark, clip_table, ledger):
    t = clip_table
    ids = [r["clip_id"] for r in
           t.scan().select("clip_id").orderBy("clip_id").limit(6).collect()]
    _MERGE_IDS["batch-1"] = ids  # replay test re-sends the identical batch
    upd_ids, del_ids = ids[:3], ids[3:]
    rows_before = t.scan().count()
    src = _merge_source(spark, t, upd_ids, del_ids)

    assert choose_salt_count(src, rows_per_reducer=10) > 1  # hot key observed
    deduped = dedup_latest_salted(src).collect()
    assert len(deduped) == 6
    win = {r["clip_id"]: r for r in deduped}
    assert all(win[i]["transcript"].startswith("UPDATED") for i in upd_ids)
    assert all(win[i]["op"] == "D" for i in del_ids)

    res = merge_into(t, src, ledger, "job-merge-1", source_token="batch-1")
    assert res["partitions_rewritten"] > 0

    after = t.scan().cache()
    assert after.count() == rows_before - len(del_ids)
    assert after.filter(F.col("clip_id").isin(del_ids)).count() == 0
    got = {r["clip_id"]: r["transcript"] for r in
           after.filter(F.col("clip_id").isin(upd_ids)).collect()}
    assert all(v.startswith("UPDATED ") for v in got.values())
    # untouched rows byte-identical (oracle: previous scan minus merge keys)
    prev = LakeTable.load(spark, t.location)
    after.unpersist()


def test_merge_insert_new_keys(spark, clip_table, ledger):
    t = clip_table
    rows_before = t.scan().count()
    new = (
        synth_clips(spark, 8, id_offset=77_000, dur_max_ms=600)
        .withColumn("op", F.lit("U"))
        .withColumn("seq", F.lit(1).cast("long"))
    )
    merge_into(t, new, ledger, "job-merge-2", source_token="batch-2")
    assert t.scan().count() == rows_before + 8
    # inserted rows satisfy the SNR invariant end-to-end
    inserted = t.scan().filter(F.col("clip_id").like("clip-00000007%"))
    assert snr_violations(inserted).count() == 0


def test_merge_replay_is_noop(spark, clip_table, ledger):
    t = clip_table
    audit_before = table_audit(t.scan())
    snaps = len(t.snapshots())
    ids = _MERGE_IDS["batch-1"]
    src = _merge_source(spark, t, ids[:3], ids[3:])
    res = merge_into(t, src, ledger, "job-merge-1", source_token="batch-1")
    assert res["partitions_rewritten"] == 0
    assert res["partitions_skipped"] == res["partitions_planned"]
    assert len(t.snapshots()) == snaps
    assert table_audit(t.scan()) == audit_before


# ----------------------------------------------------------- negative gates


def test_snr_gate_catches_corrupted_rewrite(spark, clip_table, ledger):
    """Plant the precise bug: a maintenance rewrite that corrupts payload
    bytes must trip the SNR check (reference layer-2 discipline)."""
    t = clip_table
    victim = t.scan().select("clip_id").orderBy(F.desc("clip_id")).first()[0]
    original = t.scan().filter(F.col("clip_id") == victim).cache()
    original.count()
    corrupted = (
        t.scan().filter(F.col("clip_id") == victim)
        .withColumn("bytes",
                    F.expr("substring(bytes, 1, 64)"))  # truncated payload
        .withColumn("op", F.lit("U"))
        .withColumn("seq", F.lit(9).cast("long"))
    )
    merge_into(t, corrupted, ledger, "job-corrupt", source_token="corrupt")
    bad = snr_violations(t.scan()).collect()
    assert [r["clip_id"] for r in bad] == [victim]
    # repair with the captured pre-corruption row so later tests are clean
    repair = (
        original
        .withColumn("op", F.lit("U")).withColumn("seq", F.lit(10).cast("long"))
    )
    merge_into(t, repair, ledger, "job-repair", source_token="repair")
    assert snr_violations(t.scan()).count() == 0
    original.unpersist()


def test_parity_gate_catches_dropped_and_mutated_rows(spark, clip_table):
    t = clip_table
    before = t.scan()
    some_id = before.select("clip_id").orderBy("clip_id").first()[0]
    dropped = before.filter(F.col("clip_id") != some_id)
    v = scan_parity(before, dropped).collect()
    assert [(r["clip_id"], r["reason"]) for r in v] == \
        [(some_id, "missing_after")]

    mutated = before.withColumn(
        "transcript",
        F.when(F.col("clip_id") == some_id, F.lit("tampered"))
        .otherwise(F.col("transcript")),
    )
    v2 = scan_parity(before, mutated).collect()
    assert [(r["clip_id"], r["reason"]) for r in v2] == \
        [(some_id, "transcript_mismatch")]


# ---------------------------------------------------------------- pipeline


def test_full_pipeline_end_to_end(spark, tmp_path):
    loc = str(tmp_path / "clips2")
    t = LakeTable.create(
        spark, loc, "clips2", CLIP_SCHEMA_DDL,
        partition_spec={"kind": "bucket", "column": "clip_id",
                        "num_buckets": 2},
    )
    t.append(synth_clips(spark, 80, dur_max_ms=700), max_records_per_file=8)
    ledger = CheckpointLedger(str(tmp_path / "ledger2"))
    before = t.scan().cache()
    before.count()

    m = run_maintenance(t, ledger, job_id="pipe-1",
                        target_bytes=2 * 1024 * 1024)
    assert m["clips"] == 80
    assert m["clips_per_sec"] > 0
    assert m["table_audit"]["rows"] == 80
    assert m["table_audit"]["duplicate_keys"] == 0
    assert scan_parity(before, t.scan()).count() == 0
    assert snr_violations(t.scan()).count() == 0
    # expiry kept only the current snapshot; orphans gone
    assert len(t.snapshots()) == 1
    before.unpersist()


def test_merge_requires_source_token(spark, clip_table, ledger):
    """Empty token is the r1 data-loss footgun: two different batches under
    one job_id would fingerprint identically and the second would no-op."""
    src = synth_clips(spark, 2, id_offset=88_000).withColumn(
        "op", F.lit("U")).withColumn("seq", F.lit(1).cast("long"))
    with pytest.raises(ValueError, match="source_token"):
        merge_into(clip_table, src, ledger, "job-tokenless", source_token="")


def test_merge_distinct_batches_same_job_both_apply(spark, tmp_path):
    """Two DIFFERENT batches under the same job_id must both land (the
    replay-skip key includes the source token, not just the job)."""
    t = LakeTable.create(
        spark, str(tmp_path / "clips_tok"), "clips_tok", CLIP_SCHEMA_DDL,
        partition_spec={"kind": "bucket", "column": "clip_id",
                        "num_buckets": 2},
    )
    t.append(synth_clips(spark, 20, dur_max_ms=500), max_records_per_file=5)
    led = CheckpointLedger(str(tmp_path / "ledger_tok"))

    def batch(offset):
        return (synth_clips(spark, 3, id_offset=offset, dur_max_ms=400)
                .withColumn("op", F.lit("U"))
                .withColumn("seq", F.lit(1).cast("long")))

    merge_into(t, batch(90_000), led, "daily-merge", source_token="2026-01-01")
    merge_into(t, batch(91_000), led, "daily-merge", source_token="2026-01-02")
    assert t.scan().count() == 26  # both batches inserted


def test_merge_stages_once_and_adds_one_snapshot(spark, tmp_path,
                                                monkeypatch):
    """A merge touching 3 buckets is one transaction: one routed staging
    write and exactly one new snapshot, not one per bucket."""
    t = LakeTable.create(
        spark, str(tmp_path / "clips_cc"), "clips_cc", CLIP_SCHEMA_DDL,
        partition_spec={"kind": "bucket", "column": "clip_id",
                        "num_buckets": 3},
    )
    t.append(synth_clips(spark, 60, dur_max_ms=500), max_records_per_file=8)
    led = CheckpointLedger(str(tmp_path / "ledger_cc"))

    calls = []
    real_stage = LakeTable.stage_dataframe

    def counted_stage(self, *a, **kw):
        calls.append(kw)
        return real_stage(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "stage_dataframe", counted_stage)
    src = (t.scan().withColumn("transcript",
                               F.concat(F.lit("V2 "), "transcript"))
           .withColumn("op", F.lit("U"))
           .withColumn("seq", F.lit(5).cast("long")))
    snaps = len(t.snapshots())
    res = merge_into(t, src, led, "job-cc", source_token="cc-1")
    assert res["partitions_planned"] == 3
    assert res["partitions_rewritten"] == 3
    assert len(calls) == 1
    # the routed write keeps each bucket's rows together: one file per
    # bucket, as the per-bucket rewrites wrote
    assert res["files_out"] == 3
    assert len(t.snapshots()) == snaps + 1
    assert t.scan().filter(~F.col("transcript").startswith("V2 ")).count() == 0
    # one ledger record and one lineage entry for the batch
    recs = led.records("job-cc")
    assert [(r.partition_id, r.status) for r in recs] == \
        [("batch", STATUS_COMMITTED)]
    assert {r["partition_id"] for r in led.lineage_rows("job-cc")} == \
        {"batch"}


def _kv_table(spark, loc, name, n=40):
    """A 4-bucket ``k -> v`` table of ``n`` rows in 5-row files. Like the
    benchmark's upsert table it declares its salt policy, so merges run no
    hot-key probe."""
    t = LakeTable.create(
        spark, loc, name, "k BIGINT, v STRING",
        partition_spec={"kind": "bucket", "column": "k", "num_buckets": 4},
        maintenance={"salt_count": 1})
    t.append(spark.range(n).select(F.col("id").alias("k"),
                                   F.lit("v1").alias("v")),
             max_records_per_file=5)
    return t


def _kv_batch(spark, n=40):
    """Updates every even key, deletes four odd keys, inserts four new
    keys; returns (source, post-batch map)."""
    rows = ([(k, "v2", "U", 1) for k in range(0, n, 2)]
            + [(k, None, "D", 1) for k in (1, 3, 5, 7)]
            + [(k, "new", "U", 1) for k in range(1000, 1004)])
    post = {k: "v1" for k in range(n)}
    for k, v, op, _ in rows:
        if op == "D":
            post.pop(k)
        else:
            post[k] = v
    src = spark.createDataFrame(rows, "k BIGINT, v STRING, op STRING, "
                                      "seq LONG")
    return src, post


def test_merge_readers_see_whole_batch_or_none(spark, tmp_path):
    """Snapshot isolation under real contention: a reader thread polls
    fresh table handles while a 4-bucket merge runs and reads every head it
    finds; each key→value map it sees is the pre-batch map or the
    post-batch map, never a mix."""
    import threading
    import time

    loc = str(tmp_path / "iso")
    t = _kv_table(spark, loc, "iso")
    pre = {r["k"]: r["v"] for r in t.scan().collect()}
    src, post = _kv_batch(spark)

    seen, heads, errors = [], [], []
    stop = threading.Event()

    def reader():
        try:
            while not stop.is_set():
                h = LakeTable.load(spark, loc)
                if not heads or h.current_snapshot_id() != heads[-1]:
                    # read the head this handle planned, whatever lands
                    # meanwhile
                    seen.append({r["k"]: r["v"] for r in h.scan().collect()})
                    heads.append(h.current_snapshot_id())
                time.sleep(0.002)
        except Exception as e:  # surfaced by the asserts below
            errors.append(e)

    th = threading.Thread(target=reader, daemon=True)
    th.start()
    try:
        deadline = time.monotonic() + 120
        while not heads and th.is_alive() and time.monotonic() < deadline:
            time.sleep(0.01)
        res = merge_into(t, src, CheckpointLedger(str(tmp_path / "led_iso")),
                         "iso-merge", source_token="iso-1")
        final = t.current_snapshot_id()
        while (heads[-1:] != [final] and th.is_alive()
               and time.monotonic() < deadline):
            time.sleep(0.01)
    finally:
        stop.set()
        th.join(timeout=120)
    assert not th.is_alive()
    assert not errors, errors
    assert res["partitions_rewritten"] == 4
    assert heads[-1] == final and seen[0] == pre
    mixed = [m for m in seen if m != pre and m != post]
    assert not mixed, f"{len(mixed)} of {len(seen)} reads saw a torn batch"
    assert seen[-1] == post


def test_merge_spark_job_budget(spark, tmp_path):
    """A 4-bucket merge (updates, deletes and inserts in every bucket)
    runs at most 10 Spark jobs: one source pass plans it, one join feeds
    one write — no job fan-out per bucket."""
    t = _kv_table(spark, str(tmp_path / "budget"), "budget")
    src, post = _kv_batch(spark)
    sc = spark.sparkContext
    st = sc.statusTracker()
    group = "test-merge-job-budget"

    def job_ids() -> set:
        # jobs started on threads that do not inherit the group have none
        return (set(st.getJobIdsForGroup(group))
                | set(st.getJobIdsForGroup(None)))

    sc.setJobGroup(group, "merge job budget")
    try:
        before = job_ids()
        res = merge_into(t, src, CheckpointLedger(str(tmp_path / "led_b")),
                         "budget-merge", source_token="b-1")
        jobs = job_ids() - before
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert res["partitions_rewritten"] == 4
    assert 0 < len(jobs) <= 10, f"{len(jobs)} Spark jobs for one merge"
    assert {r["k"]: r["v"] for r in t.scan().collect()} == post


def test_merge_generic_long_key(spark, tmp_path):
    """MERGE is key-generic: a table bucketed on a BIGINT natural key
    (stats pruning through the long min/max maps, inserts + updates +
    deletes on event_id)."""
    t = LakeTable.create(
        spark, str(tmp_path / "ev"), "ev",
        "event_id BIGINT, kind STRING, amount DOUBLE",
        partition_spec={"kind": "bucket", "column": "event_id",
                        "num_buckets": 2},
    )
    t.append(spark.range(100).select(
        F.col("id").alias("event_id"),
        F.concat(F.lit("k"), (F.col("id") % 3).cast("string")).alias("kind"),
        (F.col("id") * 1.5).alias("amount")), max_records_per_file=10)
    led = CheckpointLedger(str(tmp_path / "led_ev"))
    src = spark.createDataFrame(
        [(5, "k9", 99.0, "U", 1), (6, None, None, "D", 1),
         (200, "new", 1.0, "U", 1)],
        "event_id BIGINT, kind STRING, amount DOUBLE, op STRING, seq LONG")
    res = merge_into(t, src, led, "ev-merge", source_token="b1")
    assert res["partitions_planned"] >= 1
    after = {r["event_id"]: r for r in t.scan().collect()}
    assert len(after) == 100  # 100 - 1 delete + 1 insert
    assert 6 not in after and after[200]["kind"] == "new"
    assert after[5]["kind"] == "k9" and after[5]["amount"] == 99.0
    assert after[7]["amount"] == 10.5  # untouched rows intact


def test_merge_resumes_after_crash_mid_job(spark, tmp_path, monkeypatch):
    """A crash in the merge's commit leaves the head snapshot and every row
    unchanged (the batch is one transaction); the re-run applies the whole
    batch exactly once."""
    t = LakeTable.create(
        spark, str(tmp_path / "clips_cr"), "clips_cr", CLIP_SCHEMA_DDL,
        partition_spec={"kind": "bucket", "column": "clip_id",
                        "num_buckets": 3},
    )
    t.append(synth_clips(spark, 45, dur_max_ms=500), max_records_per_file=6)
    led = CheckpointLedger(str(tmp_path / "led_cr"))
    src = (t.scan().withColumn("transcript",
                               F.concat(F.lit("V2 "), "transcript"))
           .withColumn("op", F.lit("U"))
           .withColumn("seq", F.lit(5).cast("long")))
    head = t.current_snapshot_id()
    before = sorted(tuple(r) for r in
                    t.scan().select("clip_id", "transcript").collect())

    real = LakeTable.commit_rewrite

    def crash(self, *a, **kw):
        raise RuntimeError("simulated crash")

    monkeypatch.setattr(LakeTable, "commit_rewrite", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        merge_into(t, src, led, "job-crash", source_token="cr-1")
    monkeypatch.setattr(LakeTable, "commit_rewrite", real)

    assert t.refresh().current_snapshot_id() == head
    assert sorted(tuple(r) for r in
                  t.scan().select("clip_id", "transcript").collect()) == before
    assert not any(r.status == STATUS_COMMITTED
                   for r in led.records("job-crash"))

    res = merge_into(t, src, led, "job-crash", source_token="cr-1")
    assert res["partitions_skipped"] == 0
    assert res["partitions_rewritten"] == res["partitions_planned"] == 3
    # every row updated exactly once — no double-apply, no missed partition
    assert t.scan().filter(~F.col("transcript").startswith("V2 ")).count() == 0
    assert t.scan().filter(F.col("transcript").startswith("V2 V2")).count() == 0
    assert t.scan().count() == 45
    # the replay after commit is a no-op
    res2 = merge_into(t, src, led, "job-crash", source_token="cr-1")
    assert res2["partitions_skipped"] == res2["partitions_planned"]


def test_parity_catches_dropped_null_payload_row(spark):
    """r1 VERDICT 'What's wrong #3': a before-row with NULL bytes that
    vanishes must be flagged — presence is tested with side markers, never
    payload-hash nullness."""
    ddl = CLIP_SCHEMA_DDL
    before = spark.createDataFrame(
        [("c-1", None, 8000, 100, "pcm16", "t1"),
         ("c-2", bytearray(b"\x01\x02"), 8000, 100, "pcm16", "t2")], ddl)
    after = before.filter(F.col("clip_id") != "c-1")  # NULL-payload row gone
    v = scan_parity(before, after).collect()
    assert [(r["clip_id"], r["reason"]) for r in v] == [("c-1", "missing_after")]
    # and a payload flipping value→NULL on a surviving key is a mismatch
    nulled = before.withColumn(
        "bytes", F.when(F.col("clip_id") == "c-2", F.lit(None)
                        .cast("binary")).otherwise(F.col("bytes")))
    v2 = scan_parity(before, nulled).collect()
    assert [(r["clip_id"], r["reason"]) for r in v2] == \
        [("c-2", "bytes_mismatch")]


def _spark_jobs(spark, fn):
    """(fn(), ids of the Spark jobs it ran) — counted by job group, plus
    jobs from threads that do not inherit the group."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    group = "test-job-count"

    def job_ids() -> set:
        return (set(st.getJobIdsForGroup(group))
                | set(st.getJobIdsForGroup(None)))

    sc.setJobGroup(group, "job count")
    try:
        before = job_ids()
        out = fn()
        return out, job_ids() - before
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_plan_compaction_runs_no_spark_job(spark, tmp_path):
    """Compaction is planned on the driver from the manifests: no Spark
    job, and every bin holds at least two files."""
    t = LakeTable.create(
        spark, str(tmp_path / "clips_plan"), "clips_plan", CLIP_SCHEMA_DDL,
        partition_spec={"kind": "bucket", "column": "clip_id",
                        "num_buckets": 2},
    )
    t.append(synth_clips(spark, 40, dur_max_ms=500), max_records_per_file=4)
    plan, jobs = _spark_jobs(
        spark, lambda: plan_compaction(t, target_bytes=4 * 1024 * 1024))
    assert not jobs, f"{len(jobs)} Spark jobs to plan compaction"
    assert len(plan) == 2
    assert all(len(b.paths) >= 2 for bins in plan.values() for b in bins)


def test_maintenance_with_nothing_to_compact_runs_no_spark_job(
        spark, tmp_path):
    """Compaction-only maintenance on a table with one file per bucket
    plans, counts clips and expires without a single Spark job."""
    t = LakeTable.create(
        spark, str(tmp_path / "clips_idle"), "clips_idle", CLIP_SCHEMA_DDL,
        partition_spec={"kind": "bucket", "column": "clip_id",
                        "num_buckets": 2},
    )
    t.append(synth_clips(spark, 40, dur_max_ms=500))
    led = CheckpointLedger(str(tmp_path / "led_idle"))
    res, jobs = _spark_jobs(spark, lambda: run_maintenance(
        t, led, curve=None, with_audit=False, gc_grace_ms=0))
    assert not jobs, f"{len(jobs)} Spark jobs for idle maintenance"
    assert res["clips"] == 40
    assert res["stages"]["compact"]["partitions_planned"] == 0


def test_compact_is_one_write_job_and_one_snapshot(spark, tmp_path):
    """Compacting a 2-bucket small-file table reads every binned file in
    one job, adds exactly one snapshot, keeps every output file within
    target_bytes and leaves the (clip_id, bytes) multiset unchanged."""
    t = LakeTable.create(
        spark, str(tmp_path / "clips_one"), "clips_one", CLIP_SCHEMA_DDL,
        partition_spec={"kind": "bucket", "column": "clip_id",
                        "num_buckets": 2},
    )
    t.append(synth_clips(spark, 60, dur_max_ms=500), max_records_per_file=4)
    files_before = len(t.live_files())
    # small enough that each bucket needs more than one output file
    target = sum(f.file_size_bytes for f in t.live_files()) // 5

    def rows():
        return sorted((r["clip_id"], bytes(r["bytes"])) for r in
                      t.refresh().scan().select("clip_id", "bytes")
                      .collect())

    before = rows()
    snaps = len(t.snapshots())
    res, jobs = _spark_jobs(spark, lambda: compact(
        t, CheckpointLedger(str(tmp_path / "led_one")), "one-job",
        target_bytes=target))
    assert len(jobs) == 1, f"{len(jobs)} Spark jobs for one compaction"
    assert res["partitions_rewritten"] == 2
    assert len(t.snapshots()) == snaps + 1
    assert t.meta.snapshot().operation == "compact"
    live = t.live_files()
    assert len(live) < files_before
    assert res["files_out"] > 2  # the buckets were split, not one file each
    assert all(f.file_size_bytes <= target for f in live)
    assert rows() == before


def test_orphan_gc_collects_plant_and_honours_grace(spark, tmp_path):
    """GC (the driver-side walk) collects a planted orphan, spares live
    files and graced fresh files."""
    t = LakeTable.create(
        spark, str(tmp_path / "clips_gc"), "clips_gc", CLIP_SCHEMA_DDL,
        partition_spec={"kind": "bucket", "column": "clip_id",
                        "num_buckets": 2},
    )
    t.append(synth_clips(spark, 30, dur_max_ms=400), max_records_per_file=8)
    orphan = os.path.join(t.location, "data", "part=0", "orphan.parquet")
    with open(orphan, "wb") as f:
        f.write(b"junk")
    # the grace window protects the fresh plant
    assert t.delete_orphans(grace_ms=60_000) == []
    assert os.path.exists(orphan)
    victims = t.delete_orphans(grace_ms=0)
    assert victims == [os.path.join("data", "part=0", "orphan.parquet")]
    assert not os.path.exists(orphan)
    for f_ in t.live_files():
        assert os.path.exists(os.path.join(t.location, f_.file_path))
    assert t.scan().count() == 30


def test_cluster_global_single_job(spark, tmp_path):
    """Whole-table single-job clustering — parity, pruning, partition-pure
    output files, per-partition lineage, and replay no-op."""
    loc = str(tmp_path / "clips_g")
    t = LakeTable.create(
        spark, loc, "clips_g", CLIP_SCHEMA_DDL,
        partition_spec={"kind": "bucket", "column": "clip_id",
                        "num_buckets": 3},
    )
    t.append(synth_clips(spark, 150, dur_max_ms=900), max_records_per_file=10)
    led = CheckpointLedger(str(tmp_path / "ledger_g"))
    before = t.scan().cache()
    before.count()
    sel_b, tot_b = t.plan_files(
        predicates=[ColumnRange("dur_ms", lo=200, hi=300)])

    res = cluster_global(t, led, "g1", target_bytes=512 * 1024)
    assert res["partitions_rewritten"] == res["partitions_planned"] == 3
    assert res["rows"] == 150
    assert scan_parity(before, t.scan()).count() == 0
    sel_a, tot_a = t.plan_files(
        predicates=[ColumnRange("dur_ms", lo=200, hi=300)])
    assert (len(sel_a) / tot_a) < (len(sel_b) / tot_b)
    # every output file lies in exactly one partition: the rows it holds
    # all route to the partition its directory names
    live_part = {os.path.basename(f_.file_path): f_.partition
                 for f_ in t.live_files()}
    assert set(live_part.values()) == {"0", "1", "2"}
    routed = (t.scan(with_file_path=True)
              .withColumn("p", t.partition_value_col())
              .groupBy("_file").agg(F.collect_set("p").alias("ps"))
              .collect())
    assert len(routed) == len(live_part)
    for r in routed:
        assert r["ps"] == [live_part[os.path.basename(r["_file"])]]
    # per-partition lineage grain preserved for a whole-table job
    parts = {r["partition_id"] for r in
             (dict(job_id=x.get("job_id"), partition_id=x.get("partition_id"))
              for x in led.lineage_rows("g1"))}
    assert len(parts) == 3

    snaps = len(t.snapshots())
    res2 = cluster_global(t, led, "g1", target_bytes=512 * 1024)
    assert res2["partitions_skipped"] == 3 and res2["partitions_rewritten"] == 0
    assert len(t.snapshots()) == snaps
    before.unpersist()


def test_cluster_hilbert_end_to_end(spark, tmp_path):
    """Hilbert-curve clustering through the full operator (not just the
    kernel mirror): byte-identical rows and tightened stats."""
    loc = str(tmp_path / "clips_h")
    t = LakeTable.create(
        spark, loc, "clips_h", CLIP_SCHEMA_DDL,
        partition_spec={"kind": "bucket", "column": "clip_id",
                        "num_buckets": 2},
    )
    t.append(synth_clips(spark, 200, dur_max_ms=900), max_records_per_file=8)
    led = CheckpointLedger(str(tmp_path / "ledger_h"))
    before = t.scan().cache()
    before.count()
    q_before = clustering_quality(t, "dur_ms")
    res = cluster_global(t, led, "h1", curve="hilbert",
                         target_bytes=256 * 1024)
    assert res["rows"] == 200
    assert scan_parity(before, t.scan()).count() == 0
    assert clustering_quality(t, "dur_ms") < q_before
    before.unpersist()


def test_cluster_global_local_exchange_free(spark, tmp_path):
    """Small bucketed partitions: the range exchange keeps every output file
    local to one partition and tiles each partition into several
    target-size files — byte-identical rows, tighter stats, replay no-op."""
    loc = str(tmp_path / "clips_l")
    t = LakeTable.create(
        spark, loc, "clips_l", CLIP_SCHEMA_DDL,
        partition_spec={"kind": "bucket", "column": "clip_id",
                        "num_buckets": 3},
    )
    t.append(synth_clips(spark, 300, dur_max_ms=900), max_records_per_file=10)
    led = CheckpointLedger(str(tmp_path / "ledger_l"))
    before = t.scan().cache()
    before.count()
    q_before = clustering_quality(t, "dur_ms")

    res = cluster_global(t, led, "l1", target_bytes=256 * 1024)
    assert res["operation"] == "cluster_global[zorder]"
    assert res["partitions_rewritten"] == res["partitions_planned"] == 3
    assert res["rows"] == 300
    assert scan_parity(before, t.scan()).count() == 0
    assert clustering_quality(t, "dur_ms") < q_before
    # every output file belongs to exactly one partition and there are
    # multiple target-size chunks per partition
    by_part: dict[str, int] = {}
    for f_ in t.live_files():
        by_part[f_.partition] = by_part.get(f_.partition, 0) + 1
    assert set(by_part) == {"0", "1", "2"} and all(
        n >= 2 for n in by_part.values())

    res2 = cluster_global(t, led, "l1", target_bytes=256 * 1024)
    assert res2["partitions_skipped"] == 3 and res2["partitions_rewritten"] == 0
    before.unpersist()


def test_merge_key_must_match_partition_column(spark, tmp_path):
    """On a bucket-partitioned table the merge key MUST be the partition
    column — the plan prunes to the key's own bucket, so any other key
    would silently miss matching rows in other buckets (upsert would
    duplicate instead of update). The operator refuses instead."""
    t = LakeTable.create(
        spark, str(tmp_path / "wrongkey"), "wrongkey",
        "event_id BIGINT, kind STRING, amount DOUBLE",
        partition_spec={"kind": "bucket", "column": "event_id",
                        "num_buckets": 2},
    )
    t.append(spark.range(10).select(
        F.col("id").alias("event_id"), F.lit("k").alias("kind"),
        F.lit(1.0).alias("amount")))
    led = CheckpointLedger(str(tmp_path / "led_wk"))
    src = spark.createDataFrame(
        [("k", 1, 9.0, "U", 1)],
        "kind STRING, event_id BIGINT, amount DOUBLE, op STRING, seq LONG")
    with pytest.raises(ValueError, match="bucket-partition"):
        merge_into(t, src, led, "wk", source_token="b1", key="kind")


def test_per_table_maintenance_config_drives_pipeline(spark, tmp_path):
    """SURVEY §1.4 registry analogue: a table DECLARES its maintenance
    config in properties at create; a zero-tuning-args run_maintenance
    honors it (curve, retention, gates). Explicit args still override."""
    t = LakeTable.create(
        spark, str(tmp_path / "cfg"), "cfg", CLIP_SCHEMA_DDL,
        partition_spec={"kind": "bucket", "column": "clip_id",
                        "num_buckets": 2},
        maintenance={"target_bytes": 1 << 20, "curve": "hilbert",
                     "retain_last": 2, "parity_gate": True,
                     "gc_grace_ms": 0, "snr_gate": "off"},
    )
    t.append(synth_clips(spark, 60, dur_max_ms=400), max_records_per_file=8)
    led = CheckpointLedger(str(tmp_path / "led_cfg"))

    res = run_maintenance(t, led)  # zero tuning args
    assert "hilbert" in res["stages"]["cluster"]["operation"]
    assert "parity_violations" in res["gates"]  # declared gate ran
    assert res["gates"]["parity_violations"] == 0
    assert len(t.snapshots()) == 2  # declared retain_last honored

    # explicit override beats the declared config
    t.append(synth_clips(spark, 10, id_offset=5000, dur_max_ms=300))
    res2 = run_maintenance(t, led, job_id="cfg-override", curve="zorder",
                           parity_gate=False, retain_last=1)
    assert "zorder" in res2["stages"]["cluster"]["operation"]
    assert "parity_violations" not in res2["gates"]


def test_maintenance_config_rejects_unknown_keys(spark, tmp_path):
    from open_finance_lakehouse_spark.operators.config import (
        maintenance_properties,
    )

    with pytest.raises(ValueError, match="unknown maintenance keys"):
        maintenance_properties({"target_byte": 1})  # typo'd knob


def test_retired_concurrency_property_loads_but_cannot_be_declared(
        spark, tmp_path):
    """``maintenance.concurrency`` is no longer a knob: a table whose
    stored properties still carry it loads and maintains normally (the
    key is ignored), and declaring it anew refuses as an unknown key."""
    from open_finance_lakehouse_spark.operators.config import (
        maintenance_config,
        maintenance_properties,
    )
    from open_finance_lakehouse_spark.sql import run_alter

    loc = str(tmp_path / "retired")
    LakeTable.create(
        spark, loc, "retired", CLIP_SCHEMA_DDL,
        partition_spec={"kind": "bucket", "column": "clip_id",
                        "num_buckets": 2},
        properties={"maintenance.concurrency": 8,
                    "maintenance.curve": "none"})
    t = LakeTable.load(spark, loc)
    t.append(synth_clips(spark, 40, dur_max_ms=400), max_records_per_file=4)
    assert "concurrency" not in maintenance_config(t)
    res = run_maintenance(t, CheckpointLedger(str(tmp_path / "led_ret")),
                          with_audit=False, gc_grace_ms=0)
    assert res["stages"]["compact"]["partitions_rewritten"] == 2
    assert t.refresh().scan().count() == 40

    with pytest.raises(ValueError, match="unknown maintenance keys"):
        maintenance_properties({"concurrency": 8})
    with pytest.raises(ValueError, match="unknown maintenance keys"):
        LakeTable.create(spark, str(tmp_path / "retired2"), "retired2",
                         CLIP_SCHEMA_DDL, maintenance={"concurrency": 8})
    with pytest.raises(ValueError, match="unknown maintenance property"):
        run_alter(spark, "ALTER TABLE retired SET TBLPROPERTIES "
                  "('maintenance.concurrency'='8')", {"retired": t})


def test_declared_salt_policy_skips_probe(spark, tmp_path, monkeypatch):
    """maintenance.salt_count declared on the table feeds the merge's salted
    dedup directly — no runtime hot-key sampling job."""
    import importlib

    mi = importlib.import_module(
        "open_finance_lakehouse_spark.operators.merge_into")
    t = LakeTable.create(
        spark, str(tmp_path / "salted"), "salted", CLIP_SCHEMA_DDL,
        partition_spec={"kind": "bucket", "column": "clip_id",
                        "num_buckets": 2},
        maintenance={"salt_count": 3},
    )
    t.append(synth_clips(spark, 20, dur_max_ms=300))

    def boom(*a, **kw):
        raise AssertionError("probe ran despite declared salt_count")

    monkeypatch.setattr(mi, "choose_salt_count", boom)
    led = CheckpointLedger(str(tmp_path / "led_salt"))
    src = (synth_clips(spark, 4, id_offset=7000, dur_max_ms=300)
           .withColumn("op", F.lit("U"))
           .withColumn("seq", F.lit(1).cast("long")))
    res = mi.merge_into(t, src, led, "salt-job", source_token="s1")
    assert t.scan().count() == 24


def test_cluster_global_survives_concurrent_append(spark, tmp_path,
                                                   monkeypatch):
    """An append landing between the cluster plan and its publish must not
    abort the job OR lose the appended rows: the conditional replace
    conflicts, and the manifest-granularity fallback removes exactly the
    plan-time manifests while preserving the concurrent append's."""
    from open_finance_lakehouse_spark.operators.cluster import cluster_global

    t = LakeTable.create(
        spark, str(tmp_path / "cc2"), "cc2", CLIP_SCHEMA_DDL,
        partition_spec={"kind": "bucket", "column": "clip_id",
                        "num_buckets": 2})
    t.append(synth_clips(spark, 30, dur_max_ms=400), max_records_per_file=5)
    n0 = t.scan().count()

    real_replace = LakeTable.commit_replace
    state = {"injected": False}

    def inject_concurrent_append(self, *a, **kw):
        if not state["injected"]:
            state["injected"] = True
            other = LakeTable.load(spark, t.location)
            other.append(synth_clips(spark, 4, id_offset=70_000,
                                     dur_max_ms=300))
        return real_replace(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "commit_replace",
                        inject_concurrent_append)
    led = CheckpointLedger(str(tmp_path / "led_cc2"))
    res = cluster_global(t, led, "cc2-job", curve="zorder",
                         target_bytes=4 * 1024 * 1024)
    assert res["partitions_rewritten"] > 0
    assert state["injected"]
    assert t.refresh().scan().count() == n0 + 4  # concurrent rows intact
    assert t.meta.snapshot().operation == "cluster"


def test_live_file_count_exact_after_expire(spark, tmp_path):
    """The live file inventory stays exact when expire drops the append
    snapshots whose summaries a sum of ``added_files`` would count."""
    t = LakeTable.create(spark, str(tmp_path / "lfc"), "lfc",
                         "k BIGINT, v DOUBLE")
    for lo in range(0, 300, 100):
        t.append(spark.range(lo, lo + 100).coalesce(1).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")))
    assert len(t.live_files()) == 3
    t.expire_snapshots(retain_last=1)
    assert len(t.live_files()) == 3


def test_ledger_dfs_tolerate_empty_dirs(spark, tmp_path):
    """checkpoints_df/lineage_df on an existing-but-empty job dir must
    return the empty relation, not throw PATH_NOT_FOUND on the glob."""
    led = CheckpointLedger(str(tmp_path / "led_empty"))
    (tmp_path / "led_empty" / "checkpoints" / "jobx").mkdir(parents=True)
    (tmp_path / "led_empty" / "lineage" / "jobx").mkdir(parents=True)
    assert led.checkpoints_df(spark, "jobx").count() == 0
    assert led.lineage_df(spark, "jobx").count() == 0
    assert led.checkpoints_df(spark).count() == 0


def test_gate_failure_withholds_expire(spark, tmp_path, monkeypatch):
    """A failing parity/SNR gate must WITHHOLD expire + GC: the
    pre-rewrite snapshot is the only rollback path and deleting it after
    reporting corruption would destroy the last good copy."""
    import open_finance_lakehouse_spark.operators.audit as audit_mod

    t = LakeTable.create(
        spark, str(tmp_path / "gate"), "gate", CLIP_SCHEMA_DDL,
        partition_spec={"kind": "bucket", "column": "clip_id",
                        "num_buckets": 2})
    t.append(synth_clips(spark, 30, dur_max_ms=300), max_records_per_file=6)
    pre = t.current_snapshot_id()
    led = CheckpointLedger(str(tmp_path / "led_gate"))

    real_parity = audit_mod.scan_parity

    def fake_violations(a, b):
        return spark.createDataFrame([("fake",)], "problem string")

    monkeypatch.setattr(audit_mod, "scan_parity", fake_violations)
    res = run_maintenance(t, led, job_id="gated", parity_gate=True,
                          gc_grace_ms=0, retain_last=1)
    monkeypatch.setattr(audit_mod, "scan_parity", real_parity)

    assert res["gate_failed"] is True
    assert res["stages"]["expire"] == {"skipped": "gate_failure",
                                       "rollback_to": pre}
    # the pre-rewrite snapshot SURVIVES and still scans
    assert pre in [s.snapshot_id for s in t.snapshots()]
    assert t.scan(snapshot_id=pre).count() == 30
    # rollback works — recovery path intact
    t.rollback(pre)
    assert t.scan().count() == 30


def test_expire_lineage_records_deleted_paths(spark, tmp_path):
    """GC'd orphan paths must appear in the lineage log (one row per
    deleted file, op='expire')."""
    t = LakeTable.create(spark, str(tmp_path / "el"), "el",
                         "k BIGINT, v DOUBLE")
    t.append(spark.range(10).coalesce(1).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")))
    live = {f.file_path for f in t.live_files()}
    t.commit_rewrite(live, t.stage_dataframe(t.scan().coalesce(1)))
    led = CheckpointLedger(str(tmp_path / "led_el"))
    res = expire(t, led, "el-exp", retain_last=1, gc_grace_ms=0)
    assert res["orphans_deleted"] >= 1
    rows = led.lineage_df(spark, "el-exp").filter("op = 'expire'").collect()
    assert len(rows) == res["orphans_deleted"]
    assert {r["file_out"] for r in rows} >= live  # old data files recorded


def test_marker_only_append_writes_no_manifest(spark, tmp_path):
    """A zero-row txn-marker commit must not add an (empty) manifest —
    long streams would otherwise accrete one per trigger."""
    t = LakeTable.create(spark, str(tmp_path / "mk"), "mk", "k BIGINT")
    t.append(spark.range(3).select(F.col("id").alias("k")))
    before = list(t.meta.snapshot().manifests)
    snap = t.commit_append([], summary={"txn_app_id": "a", "txn_id": 1})
    assert snap.manifests == before  # marker snapshot, no new manifest
    assert t.committed_txn("a", 1)
    assert t.scan().count() == 3


def test_batch_rollup_dedup_is_deterministic(spark):
    """Conflicting payloads under one event_key: the batch rollup must
    pick a STABLE keeper (min (trade_time, trade_id)), not whatever row
    the shuffle delivers first."""
    from open_finance_lakehouse_spark.streaming.ingest import (
        build_minute_rollup,
    )

    base = 1_700_000_040_000
    rows = [
        ("BTC:1", "BTC", 1, 10.0, 1.0, base, False, "r1"),
        ("BTC:1", "BTC", 2, 99.0, 1.0, base + 5_000, False, "r2"),  # dup key
        ("BTC:2", "BTC", 3, 20.0, 1.0, base + 10_000, False, "r3"),
    ]
    ev = spark.createDataFrame(
        [(k, s, t, p, q, __import__("datetime").datetime.fromtimestamp(
            ts / 1000, __import__("datetime").timezone.utc), m, r)
         for k, s, t, p, q, ts, m, r in rows],
        "event_key STRING, symbol STRING, trade_id LONG, price DOUBLE, "
        "qty DOUBLE, trade_time TIMESTAMP, is_maker BOOLEAN, raw STRING")
    out1 = build_minute_rollup(ev.repartition(8)).collect()
    out2 = build_minute_rollup(ev.repartition(3)).collect()
    assert out1 == out2
    bar = out1[0]
    assert bar["n_trades"] == 2          # dup collapsed
    assert bar["open"] == 10.0           # the (trade_time, trade_id)-min row
    assert bar["high"] == 20.0           # 99.0 (losing dup) never surfaces


# ------------------------------------------------------------------ ledger


def test_ledger_resolves_and_migrates_legacy_hidden_names(tmp_path):
    """Records written by builds that predate the hidden-path prefix (job
    or partition names starting with "_"/".") must still resolve, and the
    next upsert must migrate them — otherwise directory-globbing readers
    see two records for one (job, partition) key forever."""
    import json as _json

    from open_finance_lakehouse_spark.plans.ledger import (
        CheckpointLedger,
        CheckpointRecord,
        _old_safe,
    )

    led = CheckpointLedger(str(tmp_path / "led"))
    job, part = "__snapshots__", "_p0"

    # plant the record exactly where a pre-prefix build wrote it
    legacy = os.path.join(str(tmp_path / "led"), "checkpoints",
                          _old_safe(job), f"{_old_safe(part)}.json")
    os.makedirs(os.path.dirname(legacy))
    old = CheckpointRecord(job_id=job, table="t", partition_id=part,
                           file_set_hash="h-old", status=STATUS_COMMITTED)
    with open(legacy, "w", encoding="utf-8") as f:
        _json.dump(old.__dict__, f)

    # resolves through the legacy name
    got = led.get(job, part)
    assert got is not None and got.file_set_hash == "h-old"
    assert led.is_committed(job, part, "h-old")

    # upsert writes the new name and removes the stale twin
    led.upsert(CheckpointRecord(job_id=job, table="t", partition_id=part,
                                file_set_hash="h-new",
                                status=STATUS_COMMITTED))
    assert not os.path.exists(legacy)
    assert led.get(job, part).file_set_hash == "h-new"
    recs = [r for r in led.records() if r.partition_id == part]
    assert len(recs) == 1  # no double record after migration


def test_merge_composite_natural_key(spark, tmp_path):
    """MERGE on a composite natural key (series_id, day) — the reference's
    keystone shape (ofl/transform/spark/silver.py:94-101 merges on
    (series_id, date)). The bucket column is one key component; the
    residual key resolves row-level: updating (s1, d2) must NOT touch
    (s1, d1) even though both live in the same bucket's files."""
    t = LakeTable.create(
        spark, str(tmp_path / "fact"), "fact",
        "series_id STRING, day DATE, value DOUBLE",
        partition_spec={"kind": "bucket", "column": "series_id",
                        "num_buckets": 2},
    )
    t.append(spark.sql("""
        SELECT concat('s', cast(id % 10 AS STRING)) AS series_id,
               date_add(date'2026-01-01', cast(id / 10 AS INT)) AS day,
               cast(id AS DOUBLE) AS value
        FROM range(100)"""), max_records_per_file=10)
    led = CheckpointLedger(str(tmp_path / "led_fact"))

    src = spark.createDataFrame(
        [
            ("s1", "2026-01-01", 111.0, "U", 2),   # update one day...
            ("s1", "2026-01-01", -1.0, "U", 1),    # ...hot stale duplicate
            ("s1", "2026-01-02", None, "D", 2),    # delete another day
            ("s7", "2026-02-01", 777.0, "U", 1),   # insert a new day
        ],
        "series_id STRING, day STRING, value DOUBLE, op STRING, seq LONG",
    ).withColumn("day", F.col("day").cast("date"))

    res = merge_into(t, src, led, "fact-merge", source_token="b1",
                     key=["series_id", "day"])
    assert res["partitions_planned"] >= 1

    after = {(r["series_id"], str(r["day"])): r["value"]
             for r in t.scan().collect()}
    assert len(after) == 100  # 100 - 1 delete + 1 insert
    assert after[("s1", "2026-01-01")] == 111.0      # latest seq won
    assert ("s1", "2026-01-02") not in after          # deleted
    assert after[("s7", "2026-02-01")] == 777.0       # inserted
    assert after[("s1", "2026-01-03")] == 21.0        # same-series day intact
    assert after[("s2", "2026-01-01")] == 2.0         # same-bucket-ish intact

    # replay of the same batch is a no-op
    res2 = merge_into(t, src, led, "fact-merge", source_token="b1",
                      key=["series_id", "day"])
    assert res2["partitions_rewritten"] == 0

    # the bucket column must be part of a composite key
    with pytest.raises(ValueError, match="bucket-partition"):
        merge_into(t, src, led, "fact-bad", source_token="b2",
                   key=["day"])


def test_merge_composite_key_crash_resume(spark, tmp_path, monkeypatch):
    """A composite-key merge that crashes in its commit leaves the table
    unchanged, and the replay applies the whole batch exactly once, like
    the single-key path (salted dedup included)."""
    t = LakeTable.create(
        spark, str(tmp_path / "factcr"), "factcr",
        "series_id STRING, day DATE, value DOUBLE",
        partition_spec={"kind": "bucket", "column": "series_id",
                        "num_buckets": 3},
    )
    t.append(spark.sql("""
        SELECT concat('s', cast(id % 9 AS STRING)) AS series_id,
               date_add(date'2026-01-01', cast(id / 9 AS INT)) AS day,
               cast(id AS DOUBLE) AS value
        FROM range(90)"""), max_records_per_file=10)
    led = CheckpointLedger(str(tmp_path / "led_factcr"))
    src = (t.scan().withColumn("value", F.col("value") + 1000.0)
           .withColumn("op", F.lit("U"))
           .withColumn("seq", F.lit(5).cast("long")))

    # salted dedup handles a composite hot key: churn on ONE (series, day)
    hot = (spark.range(40).crossJoin(
        t.scan().filter((F.col("series_id") == "s0")
                        & (F.col("day") == F.lit("2026-01-01").cast("date")))
        .drop("id"))
        .withColumn("value", F.lit(-5.0))
        .withColumn("op", F.lit("U"))
        .withColumn("seq", (F.col("id") % 3).cast("long")).drop("id"))
    src = src.unionByName(hot.select(src.columns))
    assert dedup_latest_salted(
        src, key=["series_id", "day"], n_salts=4).count() == 90

    head = t.current_snapshot_id()
    real = LakeTable.commit_rewrite

    def crash(self, *a, **kw):
        raise RuntimeError("simulated crash")

    monkeypatch.setattr(LakeTable, "commit_rewrite", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        merge_into(t, src, led, "factcr-job", source_token="cr-1",
                   key=["series_id", "day"], n_salts=4)
    monkeypatch.setattr(LakeTable, "commit_rewrite", real)
    assert t.refresh().current_snapshot_id() == head
    assert t.scan().filter(F.col("value") >= 1000.0).count() == 0
    assert not any(r.status == STATUS_COMMITTED
                   for r in led.records("factcr-job"))

    res = merge_into(t, src, led, "factcr-job", source_token="cr-1",
                     key=["series_id", "day"], n_salts=4)
    assert res["partitions_rewritten"] == res["partitions_planned"]
    assert t.scan().filter(F.col("value") < 1000.0).count() == 0
    assert t.scan().count() == 90  # exactly-once: no double apply


# ------------------------------------------- concurrent-writer conflicts


def test_compact_surrenders_conflicted_partition_and_resumes(
        spark, tmp_path, monkeypatch):
    """A concurrent rewrite landing between compact's plan and its commit
    must not lose rows or orphan staged output: the whole job surrenders
    (every attempted partition counts as conflicted and nothing lands,
    like cluster_global), and a re-run replans against the new head and
    converges."""
    t = LakeTable.create(
        spark, str(tmp_path / "race1"), "race1", CLIP_SCHEMA_DDL,
        partition_spec={"kind": "bucket", "column": "clip_id",
                        "num_buckets": 2})
    t.append(synth_clips(spark, 60, dur_max_ms=400), max_records_per_file=6)
    n0 = t.scan().count()

    plan = plan_compaction(t)
    parts = sorted(plan)
    assert len(parts) == 2
    victim_part = parts[1]
    victim = plan[victim_part][0].paths[0]

    real_commit = LakeTable.commit_rewrite
    state = {"injected": False}

    def inject(self, removed, added, *a, **kw):
        # before compact's one commit: sneak a concurrent rewrite of one
        # of parts[1]'s planned files through ANOTHER handle
        if not state["injected"]:
            state["injected"] = True
            other = LakeTable.load(spark, t.location)
            df = spark.read.schema(other._empty_df().schema).parquet(
                os.path.join(other.location, victim))
            staged = other.stage_dataframe(
                df, repartition_by_partition=False,
                fixed_partition=victim_part)
            real_commit(other, {victim}, staged, operation="rewrite")
        return real_commit(self, removed, added, *a, **kw)

    monkeypatch.setattr(LakeTable, "commit_rewrite", inject)
    led = CheckpointLedger(str(tmp_path / "led_race1"))
    files_before = len(t.live_files())
    res = compact(t, led, "race1-job")
    assert state["injected"]
    assert res["partitions_conflicted"] == res["partitions_planned"] == 2
    assert res["partitions_rewritten"] == 0
    # only the concurrent one-file rewrite landed
    assert len(t.refresh().live_files()) == files_before
    assert t.scan().count() == n0  # row-preserving throughout
    # surrendered staging (data files AND manifest litter) was actively
    # discarded, not left for GC's grace window
    assert t.delete_orphans(grace_ms=0, dry_run=True) == []

    monkeypatch.setattr(LakeTable, "commit_rewrite", real_commit)
    res2 = compact(t, led, "race1-job")
    assert res2["partitions_conflicted"] == 0
    assert res2["partitions_rewritten"] == 2
    assert t.refresh().scan().count() == n0


def test_merge_surrenders_to_concurrent_compact_then_replay_converges(
        spark, tmp_path, monkeypatch):
    """MERGE racing compaction — the real-world concurrent-maintenance
    shape: compact lands first and rewrites every file the merge planned,
    so the merge surrenders the whole batch instead of landing a stale
    copy-on-write and changes nothing; replaying the SAME batch (same
    job_id + source_token) replans against the compacted head and
    converges to exactly the upsert/delete oracle state."""
    t = LakeTable.create(
        spark, str(tmp_path / "race2"), "race2", CLIP_SCHEMA_DDL,
        partition_spec={"kind": "bucket", "column": "clip_id",
                        "num_buckets": 2})
    t.append(synth_clips(spark, 60, dur_max_ms=400), max_records_per_file=6)
    n0 = t.scan().count()
    ids = [r["clip_id"] for r in
           t.scan().select("clip_id").orderBy("clip_id").limit(4).collect()]
    upd_ids, del_ids = ids[:2], ids[2:]
    src = _merge_source(spark, t, upd_ids, del_ids, hot_dup=4)

    def state():
        return sorted(tuple(r) for r in t.refresh().scan()
                      .select("clip_id", "transcript").collect())

    before = state()
    real_commit = LakeTable.commit_rewrite
    injected = {"compacted": False}

    def inject(self, *a, **kw):
        if not injected["compacted"]:
            injected["compacted"] = True
            other = LakeTable.load(spark, t.location)
            res_c = compact(other, CheckpointLedger(str(tmp_path / "led_c")),
                            "race2-compact")
            assert res_c["partitions_rewritten"] == 2
        return real_commit(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "commit_rewrite", inject)
    led = CheckpointLedger(str(tmp_path / "led_race2"))
    res = merge_into(t, src, led, "race2-merge", source_token="rb-1")
    assert injected["compacted"]
    # compact took every touched file out of the live set first
    assert res["partitions_conflicted"] == res["partitions_planned"] > 0
    assert res["partitions_rewritten"] == 0
    # snapshot isolation held: the merge changed NOTHING, and its staged
    # output was discarded
    assert state() == before
    assert t.delete_orphans(grace_ms=0, dry_run=True) == []

    monkeypatch.setattr(LakeTable, "commit_rewrite", real_commit)
    res2 = merge_into(t, src, led, "race2-merge", source_token="rb-1")
    assert res2["partitions_conflicted"] == 0
    assert res2["partitions_rewritten"] == res["partitions_planned"]
    after = t.refresh().scan()
    assert after.count() == n0 - len(del_ids)
    assert after.filter(F.col("clip_id").isin(del_ids)).count() == 0
    got = [r["transcript"] for r in
           after.filter(F.col("clip_id").isin(upd_ids)).collect()]
    assert len(got) == len(upd_ids)
    assert all(v.startswith("UPDATED ") for v in got)
    assert t.delete_orphans(grace_ms=0, dry_run=True) == []


def test_merge_skips_batch_committed_per_bucket(spark, tmp_path):
    """A ledger written by builds that committed each bucket separately —
    one committed `part=<p>` record per planned bucket, all carrying the
    batch fingerprint — still marks the batch done: the replay adds no
    snapshot."""
    t = LakeTable.create(
        spark, str(tmp_path / "legacy"), "legacy", CLIP_SCHEMA_DDL,
        partition_spec={"kind": "bucket", "column": "clip_id",
                        "num_buckets": 3})
    t.append(synth_clips(spark, 30, dur_max_ms=400), max_records_per_file=5)
    src = (t.scan().withColumn("transcript",
                               F.concat(F.lit("V2 "), "transcript"))
           .withColumn("op", F.lit("U"))
           .withColumn("seq", F.lit(5).cast("long")))
    parts = [r[0] for r in src.select(t.partition_value_col())
             .distinct().collect()]
    assert len(parts) == 3
    led = CheckpointLedger(str(tmp_path / "led_legacy"))
    fp = file_set_hash(["merge:lg-1"])
    for p in parts:
        led.upsert(CheckpointRecord(
            job_id="lg-job", table="legacy", partition_id=f"part={p}",
            file_set_hash=fp, status=STATUS_COMMITTED))
    snaps = len(t.snapshots())
    res = merge_into(t, src, led, "lg-job", source_token="lg-1")
    assert res["partitions_skipped"] == res["partitions_planned"] == 3
    assert res["partitions_rewritten"] == 0
    assert len(t.snapshots()) == snaps
    assert t.scan().filter(F.col("transcript").startswith("V2 ")).count() == 0


# ------------------------------------------------------------------ doctor


def test_doctor_reads_signals_and_advises(spark, tmp_path):
    """Read-only health report: small-file pressure, snapshot debt, and
    pending staged snapshots each surface advice; a maintained table
    reads healthy."""
    from open_finance_lakehouse_spark.operators.doctor import doctor

    t = LakeTable.create(
        spark, str(tmp_path / "doc"), "doc", CLIP_SCHEMA_DDL,
        partition_spec={"kind": "bucket", "column": "clip_id",
                        "num_buckets": 2})
    t.append(synth_clips(spark, 60, dur_max_ms=400), max_records_per_file=5)
    staged = t.append_staged(synth_clips(spark, 5, id_offset=9000))

    rep = doctor(t, target_bytes=64 * 1024 * 1024)
    sig = rep["signals"]
    assert sig["rows"] == 60 and sig["files"] > 10
    assert sig["small_file_fraction"] > 0.5
    assert sig["staged_pending"] == [staged.snapshot_id]
    joined = " | ".join(rep["advice"])
    assert "compact" in joined and "staged" in joined

    # maintain, decide the staged batch, re-check
    t.drop_staged(staged.snapshot_id)
    led = CheckpointLedger(str(tmp_path / "led_doc"))
    compact(t, led, "doc-compact")
    t.expire_snapshots(retain_last=1)
    t.delete_orphans(grace_ms=0)
    rep2 = doctor(t, target_bytes=64 * 1024 * 1024)
    assert rep2["signals"]["staged_pending"] == []
    assert rep2["signals"]["small_file_fraction"] < 0.5 or \
        rep2["signals"]["files"] <= 2


def test_merge_temporal_key_plans_in_micros(spark, tmp_path):
    """MERGE on a date/timestamp key: manifest stats store temporal
    min/max as epoch-micros LONGS, so the plan join must compare in that
    domain — comparing the raw temporal column to a long is an
    AnalysisException under ANSI (and a silent unit mismatch without)."""
    t = LakeTable.create(
        spark, str(tmp_path / "tk"), "tk",
        "day DATE, amount DOUBLE")
    t.append(spark.sql(
        "SELECT date_add(DATE'2026-01-01', CAST(id AS INT)) AS day, "
        "CAST(id AS DOUBLE) AS amount FROM range(30)"),
        max_records_per_file=5)
    led = CheckpointLedger(str(tmp_path / "led_tk"))
    src = spark.sql(
        "SELECT DATE'2026-01-05' AS day, 99.0 AS amount, 'U' AS op, "
        "CAST(1 AS LONG) AS seq "
        "UNION ALL SELECT DATE'2026-01-07', NULL, 'D', CAST(1 AS LONG) "
        "UNION ALL SELECT DATE'2026-03-01', 1.0, 'U', CAST(1 AS LONG)")
    res = merge_into(t, src, led, "tk-merge", source_token="d1",
                     key="day")
    assert res["partitions_planned"] >= 1
    after = {str(r["day"]): r["amount"] for r in t.scan().collect()}
    assert after["2026-01-05"] == 99.0
    assert "2026-01-07" not in after
    assert after["2026-03-01"] == 1.0
    assert len(after) == 30  # 30 - 1 delete + 1 insert

    # timestamp key too (the other temporal stats family)
    t2 = LakeTable.create(
        spark, str(tmp_path / "tk2"), "tk2", "ts TIMESTAMP, v DOUBLE")
    t2.append(spark.sql(
        "SELECT timestampadd(HOUR, CAST(id AS INT), "
        "TIMESTAMP'2026-01-01 00:00:00') AS ts, CAST(id AS DOUBLE) AS v "
        "FROM range(24)"), max_records_per_file=6)
    src2 = spark.sql(
        "SELECT TIMESTAMP'2026-01-01 03:00:00' AS ts, 77.0 AS v, "
        "'U' AS op, CAST(1 AS LONG) AS seq")
    merge_into(t2, src2, CheckpointLedger(str(tmp_path / "led_tk2")),
               "tk2-merge", source_token="t1", key="ts")
    got = {str(r["ts"]): r["v"] for r in t2.scan().collect()}
    assert got["2026-01-01 03:00:00"] == 77.0 and len(got) == 24


def test_merge_rejects_invalid_op_values(spark, clip_table, ledger):
    """op outside {'U','D'} would silently fall through the survives
    filter as a DELETE (a caller writing 'u' or 'UPDATE' loses rows
    irreversibly) and NULL op would insert null-padded rows — both must
    refuse before any file is touched."""
    head = clip_table.current_snapshot_id()
    base = clip_table.scan().limit(1).select(
        *clip_table.scan().columns)
    for bad_op in ["u", "UPDATE", None]:
        src = (base.withColumn("op", F.lit(bad_op).cast("string"))
               .withColumn("seq", F.lit(1).cast("long")))
        with pytest.raises(ValueError, match="must be 'U' or 'D'"):
            merge_into(clip_table, src, ledger, "bad-op",
                       source_token=f"b-{bad_op}")
    assert clip_table.refresh().current_snapshot_id() == head


def test_expire_dry_run_gc_records_no_deletions(spark, tmp_path):
    """expire(dry_run_gc=True) deletes nothing — the ledger and lineage
    must not record a GC that never ran (a permanent audit trail of
    phantom deletions), and the report must say 'previewed'."""
    from open_finance_lakehouse_spark.operators.expire import expire

    t = LakeTable.create(
        spark, str(tmp_path / "edr"), "edr", CLIP_SCHEMA_DDL,
        partition_spec={"kind": "bucket", "column": "clip_id",
                        "num_buckets": 2})
    t.append(synth_clips(spark, 30), max_records_per_file=5)
    led = CheckpointLedger(str(tmp_path / "led_edr"))
    compact(t, led, "edr-compact")  # orphans the small files' history

    res = expire(t, led, "edr-expire", retain_last=1, gc_grace_ms=0,
                 dry_run_gc=True)
    assert res["orphans_previewed"] > 0 and "orphans_deleted" not in res
    rows = led.lineage_rows("edr-expire")
    assert rows == [] or all(r.get("operation") != "expire" for r in rows)
    # nothing actually deleted: the orphaned bytes are still on disk
    import os as _os

    live = {f.file_path for f in t.live_files()}
    all_data = []
    for root, _d, names in _os.walk(_os.path.join(t.location, "data")):
        all_data += [n for n in names if n.endswith(".parquet")]
    assert len(all_data) > len(live)  # orphaned bytes still on disk

    real = expire(t, led, "edr-expire-2", retain_last=1, gc_grace_ms=0)
    assert real["orphans_deleted"] > 0


def test_update_where_zero_match_commits_nothing(spark, tmp_path):
    """Stats overlap without row matches: UPDATE must not rewrite every
    candidate byte to change nothing (and must not cost incremental
    consumers their append-only fast path with a row-changing no-op)."""
    from open_finance_lakehouse_spark.operators.update_where import (
        update_where,
    )

    t = LakeTable.create(spark, str(tmp_path / "uz"), "uz",
                         "k BIGINT, v DOUBLE")
    t.append(spark.createDataFrame([(10, 1.0), (20, 2.0)],
                                   "k BIGINT, v DOUBLE"))
    head = t.current_snapshot_id()
    led = CheckpointLedger(str(tmp_path / "led_uz"))
    res = update_where(t, led, "uz-job", set={"v": "v + 1"},
                       predicates=[ColumnRange("k", lo=15, hi=15)])
    assert res["rows_updated"] == 0 and res["files_rewritten"] == 0
    assert t.refresh().current_snapshot_id() == head


def test_cluster_global_double_conflict_surrenders(spark, tmp_path,
                                                   monkeypatch):
    """When BOTH the conditional replace and the manifest-granularity
    fallback conflict (a concurrent rewrite replaced a planned
    manifest), cluster_global must surrender like compact(): discard the
    staged whole-table copy, record STATUS_CONFLICTED, and return —
    never propagate with orphaned bytes and a stuck REWRITING record."""
    import os as _os

    from open_finance_lakehouse_spark.format.table import CommitConflict
    from open_finance_lakehouse_spark.operators.cluster import (
        cluster_global,
    )
    from open_finance_lakehouse_spark.plans.ledger import (
        STATUS_CONFLICTED,
    )

    t = LakeTable.create(
        spark, str(tmp_path / "cgc"), "cgc", CLIP_SCHEMA_DDL,
        partition_spec={"kind": "bucket", "column": "clip_id",
                        "num_buckets": 2})
    t.append(synth_clips(spark, 20), max_records_per_file=5)
    led = CheckpointLedger(str(tmp_path / "led_cgc"))

    def conflict(*a, **kw):
        raise CommitConflict("simulated concurrent rewrite")

    monkeypatch.setattr(t, "commit_replace", conflict)
    monkeypatch.setattr(t, "commit_rewrite_manifests", conflict)

    def count_data():
        n = 0
        for root, _d, names in _os.walk(_os.path.join(t.location, "data")):
            n += sum(1 for x in names if x.endswith(".parquet"))
        return n

    before = count_data()
    res = cluster_global(t, led, "cgc-job")
    assert res.get("conflicted") is True
    assert count_data() == before  # staged copy discarded, no orphans
    rec = led.get("cgc-job", "__table__")
    assert rec.status == STATUS_CONFLICTED
    # replay against the (unchanged) head replans and is not skipped
    monkeypatch.undo()
    res2 = cluster_global(t, led, "cgc-job")
    assert res2["partitions_rewritten"] > 0


def test_maintenance_knobs_refuse_unknown_values(spark, tmp_path):
    """An snr_gate typo must refuse loudly, not silently disable the
    gate."""
    from open_finance_lakehouse_spark.operators.pipeline import (
        run_maintenance,
    )

    t = LakeTable.create(
        spark, str(tmp_path / "knob"), "knob", CLIP_SCHEMA_DDL,
        partition_spec={"kind": "bucket", "column": "clip_id",
                        "num_buckets": 2})
    t.append(synth_clips(spark, 5))
    led = CheckpointLedger(str(tmp_path / "led_knob"))
    with pytest.raises(ValueError, match="snr_gate"):
        run_maintenance(t, led, snr_gate="overlapped")


def test_scan_parity_catches_dropped_duplicate_copy(spark):
    """A per-key equi-join is blind to multiplicity: dropping one of two
    IDENTICAL rows joins clean — the parity gate must flag the count
    change (the exact silent-loss case a buggy rewrite produces)."""
    ddl = ("clip_id STRING, bytes BINARY, sr_hz INT, dur_ms INT, "
           "codec STRING, transcript STRING")
    row = ("x", bytearray(b"pcm"), 8000, 100, "pcm16", "hi")
    before = spark.createDataFrame([row, row, ("y",) + row[1:]], ddl)
    after = spark.createDataFrame([row, ("y",) + row[1:]], ddl)
    v = scan_parity(before, after).collect()
    assert [(r["clip_id"], r["reason"]) for r in v] == \
        [("x", "multiplicity_mismatch")]
    assert scan_parity(before, before).count() == 0
