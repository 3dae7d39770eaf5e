"""S8 table-as-incremental-source + T5 run-report surface.

Reference: silver streams FROM the bronze table inheriting exactly-once
(/root/reference/ofl/streaming/silver.py:186-233) and derives a late-data
run report from progress + checkpointed watermark (silver.py:265-314)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from open_finance_lakehouse_spark.format.table import LakeTable
from open_finance_lakehouse_spark.plans.ledger import CheckpointLedger
from open_finance_lakehouse_spark.streaming import windows as mw
from open_finance_lakehouse_spark.streaming.ingest import (
    BRONZE_DDL,
    build_minute_rollup,
    prepare_events,
)
from open_finance_lakehouse_spark.streaming.report import (
    open_windows,
    run_report,
)
from open_finance_lakehouse_spark.streaming.table_source import (
    IncrementalSilver,
    NonAppendInterval,
    incremental_scan,
)

US = mw.MICROS_PER_SEC
BASE_MS = 1_700_000_040_000  # exactly on a minute boundary


def _event(sym, tid, ts_ms, p="10", q="1"):
    return {"e": "trade", "E": ts_ms, "s": sym, "t": tid, "p": p, "q": q,
            "T": ts_ms, "m": False}


def _bronze_rows(spark, events):
    raw = spark.createDataFrame([(json.dumps(e),) for e in events],
                                "value string")
    return prepare_events(raw).filter("_valid").select(
        "event_key", "symbol", "trade_id", "price", "qty", "trade_time",
        "is_maker", "raw")


@pytest.fixture()
def bronze(spark, tmp_path):
    return LakeTable.create(spark, str(tmp_path / "bronze"),
                            "bronze_events", BRONZE_DDL)


def test_incremental_scan_reads_only_the_delta(spark, bronze):
    b1 = [_event("BTC", i, BASE_MS + i * 1000) for i in range(10)]
    b2 = [_event("BTC", 100 + i, BASE_MS + 120_000 + i * 1000)
          for i in range(5)]
    bronze.append(_bronze_rows(spark, b1))
    df, cur1, info1 = incremental_scan(bronze, None)
    assert df.count() == 10 and info1["records"] == 10

    bronze.append(_bronze_rows(spark, b2))
    delta, cur2, info2 = incremental_scan(bronze, cur1)
    # ONLY the second append's rows — snapshot-keyed consume
    assert delta.count() == 5
    assert {r["trade_id"] for r in delta.collect()} == {100 + i
                                                        for i in range(5)}
    assert cur2 == bronze.current_snapshot_id()

    # caught-up cursor → empty delta, no files read
    empty, cur3, info3 = incremental_scan(bronze, cur2)
    assert cur3 == cur2 and info3["files"] == 0 and empty.count() == 0


def test_incremental_scan_refuses_non_append_interval(spark, bronze):
    bronze.append(_bronze_rows(
        spark, [_event("BTC", 1, BASE_MS)]))
    _, cur, _ = incremental_scan(bronze, None)
    bronze.replace(bronze.scan())  # full rebuild in the interval
    with pytest.raises(NonAppendInterval):
        incremental_scan(bronze, cur)


def test_incremental_silver_two_drains_process_only_deltas(
        spark, bronze, tmp_path):
    ledger = CheckpointLedger(str(tmp_path / "ledger"))
    silver = IncrementalSilver(spark, bronze, str(tmp_path / "silver"),
                               ledger, query_id="inc-silver")

    # drain 1: two windows for BTC
    b1 = [_event("BTC", i, BASE_MS + i * 20_000, p=str(10 + i))
          for i in range(5)]  # 0..80s → windows [0,60) and [60,120)
    bronze.append(_bronze_rows(spark, b1))
    m1 = silver.drain()
    assert m1["processed_rows"] == 5 and m1["windows_recomputed"] == 2
    bars1 = {(r["window_start"].isoformat(), r["symbol"]): r["n_trades"]
             for r in silver.silver.scan().collect()}
    assert sum(bars1.values()) == 5

    # drain 2: late rows into window 1 + a NEW symbol in a new window —
    # processes ONLY the 3 delta rows, recomputes ONLY the 2 touched groups
    b2 = [_event("BTC", 50, BASE_MS + 5_000),
          _event("BTC", 51, BASE_MS + 6_000),
          _event("ETH", 52, BASE_MS + 200_000)]
    bronze.append(_bronze_rows(spark, b2))
    m2 = silver.drain()
    assert m2["processed_rows"] == 3
    assert m2["windows_recomputed"] == 2  # (w0, BTC) and (w200s, ETH)

    # incremental result == full batch recompute (the reuse contract)
    expect = {
        ((r["window_start"].isoformat()), r["symbol"]): r["n_trades"]
        for r in build_minute_rollup(bronze.scan()).collect()}
    got = {(r["window_start"].isoformat(), r["symbol"]): r["n_trades"]
           for r in silver.silver.scan().collect()}
    assert got == expect

    # drain 3: no new data → measured no-op
    m3 = silver.drain()
    assert m3["processed_rows"] == 0 and m3["delta_files"] == 0

    # the cursor is checkpoint state: a NEW consumer instance resumes
    silver2 = IncrementalSilver(spark, bronze, str(tmp_path / "silver"),
                                ledger, query_id="inc-silver")
    assert silver2.drain()["processed_rows"] == 0


def test_incremental_silver_cdc_drain_after_row_changing_commit(
        spark, bronze, tmp_path):
    """A MERGE/replace on bronze no longer forces a full recompute: the
    CDC drain (operators.changelog) yields the exact row-level delta, so
    the drain recomputes ONLY the groups the correction touched."""
    ledger = CheckpointLedger(str(tmp_path / "ledger"))
    silver = IncrementalSilver(spark, bronze, str(tmp_path / "silver"),
                               ledger, query_id="cdc-silver")
    b1 = [_event("BTC", i, BASE_MS + i * 20_000, p=str(10 + i))
          for i in range(5)]  # windows [0,60) and [60,120)
    b2 = [_event("ETH", 100 + i, BASE_MS + 200_000 + i * 1000)
          for i in range(3)]  # window [180,240)
    bronze.append(_bronze_rows(spark, b1))
    bronze.append(_bronze_rows(spark, b2))
    assert silver.drain()["windows_recomputed"] == 3

    # upstream correction: one trade's price restated via a replace — the
    # row-CHANGING commit incremental_scan refuses
    fixed = [_event("BTC", 0, BASE_MS, p="99")] + b1[1:] + b2
    bronze.replace(_bronze_rows(spark, fixed))
    m = silver.drain()
    assert m.get("mode") == "cdc"
    # the change feed is delete(old row) + insert(new row) — 2 rows, and
    # both land in the same (window, symbol) group
    assert m["processed_rows"] == 2
    assert m["windows_recomputed"] == 1

    # the corrected price propagated, and the incremental result still
    # equals a full batch recompute over bronze's current state
    expect = {(r["window_start"].isoformat(), r["symbol"]):
              (r["n_trades"], r["high"])
              for r in build_minute_rollup(bronze.scan()).collect()}
    got = {(r["window_start"].isoformat(), r["symbol"]):
           (r["n_trades"], r["high"])
           for r in silver.silver.scan().collect()}
    assert got == expect
    w0 = [v for (ws, sym), v in got.items() if sym == "BTC"]
    assert any(float(hi) == 99.0 for _n, hi in w0)

    # caught up again
    assert silver.drain()["processed_rows"] == 0


def test_incremental_silver_cdc_identity_replace_advances_cursor(
        spark, bronze, tmp_path):
    """A replace that rebuilds byte-identical rows cancels exactly in the
    CDC diff — nothing recomputes, but the cursor MUST advance past the
    replace snapshot (else every later drain re-diffs the same interval)."""
    ledger = CheckpointLedger(str(tmp_path / "ledger"))
    silver = IncrementalSilver(spark, bronze, str(tmp_path / "silver"),
                               ledger, query_id="cdc-noop")
    rows = [_event("BTC", i, BASE_MS + i * 1000) for i in range(4)]
    bronze.append(_bronze_rows(spark, rows))
    silver.drain()
    before = {(r["window_start"].isoformat(), r["symbol"], r["n_trades"])
              for r in silver.silver.scan().collect()}

    bronze.replace(_bronze_rows(spark, rows))  # same logical rows
    m = silver.drain()
    assert m["processed_rows"] == 0 and m["windows_recomputed"] == 0
    assert m["cursor"] == bronze.current_snapshot_id()
    # silver untouched; next drain is a measured no-op from the new cursor
    after = {(r["window_start"].isoformat(), r["symbol"], r["n_trades"])
             for r in silver.silver.scan().collect()}
    assert after == before
    m2 = silver.drain()
    assert m2["processed_rows"] == 0 and m2["delta_files"] == 0


# -------------------------------------------------------------- T5 report


def test_run_report_matches_mirror(spark, tmp_path):
    """numRowsDroppedByWatermark + open windows from the engine's progress
    == the JVM-free mirror's accounting over the same micro-batches."""
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    # batch 1 sets the watermark; batch 2 carries one late row (dropped)
    # and one open-window row
    b1 = [_event("BTC", i, BASE_MS + i * 10_000) for i in range(30)]
    b2 = [_event("BTC", 98, BASE_MS - 240_000),   # far before watermark
          _event("BTC", 99, BASE_MS + 290_000 + 5_000)]
    from open_finance_lakehouse_spark.streaming.ingest import (
        write_jsonl_batch,
    )
    write_jsonl_batch(os.path.join(landing, "b1.jsonl"), b1)

    raw = (spark.readStream.format("text")
           .option("maxFilesPerTrigger", "1").load(landing))
    events = prepare_events(raw).filter("_valid")
    bars = build_minute_rollup(events)
    out = str(tmp_path / "out")

    def drain():
        q = (bars.writeStream.outputMode("append").format("parquet")
             .option("path", out)
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return q

    drain()  # batch 1 establishes the watermark in the checkpoint
    write_jsonl_batch(os.path.join(landing, "b2.jsonl"), b2)
    q = drain()  # batch 2 filtered with batch 1's watermark
    rep = run_report(q)
    assert rep["dropped_by_watermark"] == 1
    assert rep["watermark"] is not None

    # mirror over identical batches (counts only, per-event µs timestamps)
    size, delay = 60 * US, 120 * US
    mb1 = [((BASE_MS + i * 10_000) * 1000, "BTC") for i in range(30)]
    mb2 = [((BASE_MS - 240_000) * 1000, "BTC"),
           ((BASE_MS + 295_000) * 1000, "BTC")]
    _emitted, dropped = mw.tumbling_aggregate(size, delay, [mb1, mb2])
    assert rep["dropped_by_watermark"] == dropped

    # open windows derived from drained input + watermark == mirror's rule
    all_events = _bronze_rows(spark, b1 + b2)
    ow = open_windows(all_events, rep["watermark_us"]).collect()
    tracker = mw.WatermarkTracker(delay)
    for ts, _k in mb1 + mb2:
        if not tracker.is_late(ts):
            tracker.observe(ts)
        tracker.advance()
    mirror_open = set()
    for ts, k in mb1 + mb2:
        if (BASE_MS - 240_000) * 1000 == ts:
            continue  # dropped late row holds no state
        start, end = mw.window_of(ts, size)
        if not tracker.window_closed(end):
            mirror_open.add((start, k))
    got_open = {(int(r["window_start"].timestamp() * US), r["symbol"])
                for r in ow}
    assert got_open == mirror_open
    # the ENGINE-reported open-group count (windowed aggregation's state
    # rows — selected by operatorName, NOT ops[-1], which is the upstream
    # dedup) must agree with the mirror's open-window set
    assert rep["open_groups"] == len(mirror_open)
    assert rep["truncated"] is False


def test_incremental_drain_publish_is_o_delta(spark, bronze, tmp_path):
    """VERDICT r3 item 1: with N windows of rollup history, a drain whose
    delta touches ONE window must rewrite ONLY the file(s) containing that
    window — every other rollup file survives the commit BY PATH (manifest
    reuse), so publish cost is O(delta windows), not O(silver)."""
    ledger = CheckpointLedger(str(tmp_path / "ledger"))
    silver = IncrementalSilver(spark, bronze, str(tmp_path / "silver"),
                               ledger, query_id="odelta",
                               max_records_per_file=2)
    # 12 one-minute windows of history, one trade each
    b1 = [_event("BTC", i, BASE_MS + i * 60_000) for i in range(12)]
    bronze.append(_bronze_rows(spark, b1))
    m1 = silver.drain()
    assert m1["windows_recomputed"] == 12
    files_before = {f.file_path for f in silver.silver.live_files()}
    assert len(files_before) >= 6  # 12 time-sorted rows at ≤2 rows/file

    # delta: one late trade into window 3 only
    bronze.append(_bronze_rows(
        spark, [_event("BTC", 99, BASE_MS + 3 * 60_000 + 5_000)]))
    m2 = silver.drain()
    assert m2["windows_recomputed"] == 1
    assert m2["silver_files_rewritten"] == 1
    assert m2["silver_files_kept"] == len(files_before) - 1

    files_after = {f.file_path for f in silver.silver.live_files()}
    # all but the one touched file survive by path
    assert len(files_before & files_after) == len(files_before) - 1

    # and the incremental state still equals the full batch recompute
    expect = {(r["window_start"].isoformat(), r["symbol"]): r["n_trades"]
              for r in build_minute_rollup(bronze.scan()).collect()}
    got = {(r["window_start"].isoformat(), r["symbol"]): r["n_trades"]
           for r in silver.silver.scan().collect()}
    assert got == expect


def test_incremental_drain_survives_bronze_maintenance(spark, bronze,
                                                       tmp_path):
    """Compaction on the BRONZE table between drains must not interrupt the
    incremental consumer: the rewrite snapshot is row-preserving, so its
    added files contribute no delta and the next drain processes only the
    genuinely new append."""
    from open_finance_lakehouse_spark.operators.compact import compact
    from open_finance_lakehouse_spark.plans.ledger import (
        CheckpointLedger as CL,
    )

    ledger = CheckpointLedger(str(tmp_path / "ledger"))
    silver = IncrementalSilver(spark, bronze, str(tmp_path / "silver"),
                               ledger, query_id="maint-silver")
    bronze.append(_bronze_rows(
        spark, [_event("BTC", i, BASE_MS + i * 1000) for i in range(8)]),
        max_records_per_file=2)
    assert silver.drain()["processed_rows"] == 8

    # maintenance on bronze: compaction rewrites the small files
    res = compact(bronze, CL(str(tmp_path / "led_b")), "bronze-compact",
                  target_bytes=8 * 1024 * 1024)
    assert res["partitions_rewritten"] >= 1

    bronze.append(_bronze_rows(spark, [_event("BTC", 99, BASE_MS + 99_000)]))
    m = silver.drain()
    assert m["processed_rows"] == 1  # ONLY the new append — no re-delivery

    expect = {(r["window_start"].isoformat(), r["symbol"]): r["n_trades"]
              for r in build_minute_rollup(bronze.scan()).collect()}
    got = {(r["window_start"].isoformat(), r["symbol"]): r["n_trades"]
           for r in silver.silver.scan().collect()}
    assert got == expect


def test_silver_publish_is_row_changing_operation(spark, bronze, tmp_path):
    """The drain's window-upsert commit must carry a row-CHANGING operation
    label ('merge') — consumers of the SILVER table must refuse/recompute,
    never skip it as row-preserving maintenance (that would silently drop
    updated windows downstream)."""
    ledger = CheckpointLedger(str(tmp_path / "ledger"))
    silver = IncrementalSilver(spark, bronze, str(tmp_path / "silver"),
                               ledger, query_id="op-silver")
    bronze.append(_bronze_rows(spark, [_event("BTC", 1, BASE_MS)]))
    silver.drain()  # first drain: plain append
    assert silver.silver.meta.snapshot().operation == "append"
    bronze.append(_bronze_rows(spark, [_event("BTC", 2, BASE_MS + 1000)]))
    silver.drain()  # touches the existing window -> rewrite of its file
    assert silver.silver.meta.snapshot().operation == "merge"


def test_drain_cursor_advances_over_maintenance_only_interval(
        spark, bronze, tmp_path):
    """compact + expire on bronze with NO new appends: the cursor must
    advance to the maintenance head — otherwise expiring the old cursor
    snapshot strands the consumer forever."""
    from open_finance_lakehouse_spark.operators.compact import compact
    from open_finance_lakehouse_spark.plans.ledger import (
        CheckpointLedger as CL,
    )

    ledger = CheckpointLedger(str(tmp_path / "ledger"))
    silver = IncrementalSilver(spark, bronze, str(tmp_path / "silver"),
                               ledger, query_id="adv-silver")
    bronze.append(_bronze_rows(
        spark, [_event("BTC", i, BASE_MS + i * 1000) for i in range(6)]),
        max_records_per_file=2)
    silver.drain()

    compact(bronze, CL(str(tmp_path / "led_b")), "adv-compact",
            target_bytes=8 * 1024 * 1024)
    m = silver.drain()  # maintenance-only interval
    assert m["processed_rows"] == 0
    assert m["cursor"] == bronze.current_snapshot_id()  # advanced!

    # the old cursor snapshot can now expire without stranding the consumer
    bronze.expire_snapshots(retain_last=1)
    bronze.append(_bronze_rows(spark, [_event("ETH", 9, BASE_MS + 9000)]))
    m2 = silver.drain()
    assert m2["processed_rows"] == 1


def test_incremental_scan_skips_abandoned_rollback_branch(spark, bronze):
    """Rows committed on a branch later abandoned by rollback must never
    reach an incremental consumer (ancestry walk, not id-range scan)."""
    bronze.append(_bronze_rows(spark, [_event("BTC", 1, BASE_MS)]))
    _, cur, _ = incremental_scan(bronze, None)
    good = bronze.current_snapshot_id()

    bronze.append(_bronze_rows(spark, [_event("BTC", 66, BASE_MS + 1000)]))
    bronze.rollback(good)  # abandon the branch carrying trade 66
    bronze.append(_bronze_rows(spark, [_event("BTC", 77, BASE_MS + 2000)]))

    delta, cur2, info = incremental_scan(bronze, cur)
    ids = {r["trade_id"] for r in delta.collect()}
    assert ids == {77}  # 66 (abandoned) is NOT delivered
    assert cur2 == bronze.current_snapshot_id()


# ---------------------------------------------- round-5 hardening tests


def test_added_entries_refuses_expired_parent(spark, tmp_path):
    """expire keeps the last K chain ancestors, so a retained snapshot's
    parent can be gone from the log — the added-files diff would then
    treat EVERY manifest as new and silently re-deliver the whole table.
    Must refuse loudly instead."""
    from open_finance_lakehouse_spark.format.plan import added_entries

    t = LakeTable.create(spark, str(tmp_path / "exp"), "exp",
                         "k long, v double")
    for i in range(4):
        t.append(spark.createDataFrame([(i, float(i))], "k long, v double"))
    t.expire_snapshots(retain_last=2)
    t.refresh()
    oldest_kept = min(t.meta.snapshots, key=lambda s: s.snapshot_id)
    assert oldest_kept.parent_id is not None  # parent expired, child kept
    with pytest.raises(ValueError, match="expired from the log"):
        added_entries(t.meta, t.location, oldest_kept)


def test_commit_replace_txn_fence_inside_cas(spark, tmp_path):
    """complete-mode streams replay batches: a zombie driver's replace of
    batch N landing AFTER the restarted query committed N (and more)
    must be a no-op returning the original snapshot — never a commit
    that regresses the table to the stale state."""
    t = LakeTable.create(spark, str(tmp_path / "cmr"), "cmr",
                         "k long, v double")
    txn = {"txn_app_id": "q1", "txn_id": 5}
    first = t.replace(spark.createDataFrame([(1, 1.0)], "k long, v double"),
                      summary=dict(txn))
    t.append(spark.createDataFrame([(2, 2.0)], "k long, v double"))
    head_before = t.current_snapshot_id()
    # the zombie's replay of batch 5
    replay = t.replace(
        spark.createDataFrame([(9, 9.0)], "k long, v double"),
        summary=dict(txn))
    assert replay.snapshot_id == first.snapshot_id
    assert t.refresh().current_snapshot_id() == head_before
    assert sorted(r["k"] for r in t.scan().collect()) == [1, 2]


def test_incremental_silver_rejects_bad_window_unit(spark, bronze,
                                                    tmp_path):
    """An unsupported window unit must fail AT CONSTRUCTION with a clear
    message, not as a KeyError mid-drain; day windows are supported."""
    led = CheckpointLedger(str(tmp_path / "lw"))
    with pytest.raises(ValueError, match="unsupported window unit"):
        IncrementalSilver(spark, bronze, str(tmp_path / "s1"), led,
                          window="1 fortnight")
    s = IncrementalSilver(spark, bronze, str(tmp_path / "s2"), led,
                          window="1 day")
    assert s._window_us() == 86_400 * 1_000_000
