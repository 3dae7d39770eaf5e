"""Maintenance SQL front door: OPTIMIZE / VACUUM / DESCRIBE HISTORY /
RESTORE lowered onto the maintenance operators — the literal statements
the reference's silver lane runs against Delta
(/root/reference/ofl/transform/spark/silver.py:368-373)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import DataFrame

from open_finance_lakehouse_spark.format.table import LakeTable
from open_finance_lakehouse_spark.plans.ledger import CheckpointLedger
from open_finance_lakehouse_spark.sources.synth import (
    CLIP_SCHEMA_DDL,
    synth_clips,
)
from open_finance_lakehouse_spark.sql import (
    VACUUM_RETENTION_CHECK_CONF,
    run_maintenance_sql,
)
from contextlib import contextmanager


@contextmanager
def _retention_check_off(spark):
    """Delta-style opt-out: sub-default RETAIN horizons refuse unless the
    session conf disables the check (tests exercise 0-hour horizons)."""
    prev = spark.conf.get(VACUUM_RETENTION_CHECK_CONF, "true")
    spark.conf.set(VACUUM_RETENTION_CHECK_CONF, "false")
    try:
        yield
    finally:
        spark.conf.set(VACUUM_RETENTION_CHECK_CONF, prev)


def _table(spark, tmp_path, name, n=60, **kw):
    t = LakeTable.create(
        spark, str(tmp_path / name), name, CLIP_SCHEMA_DDL,
        partition_spec={"kind": "bucket", "column": "clip_id",
                        "num_buckets": 2})
    t.append(synth_clips(spark, n, **kw), max_records_per_file=6)
    return t


def _content(t):
    return sorted(
        tuple(r) for r in
        t.refresh().scan().select("clip_id", "dur_ms", "sr_hz",
                                  "codec", "transcript").collect())


def test_optimize_compacts_small_files(spark, tmp_path):
    t = _table(spark, tmp_path, "mopt")
    before_files = len(t.live_files())
    before = _content(t)
    res = run_maintenance_sql(
        spark, "OPTIMIZE mopt;", {"mopt": t},
        ledger=CheckpointLedger(str(tmp_path / "led")))
    assert res["operation"] == "compact"
    assert res["partitions_rewritten"] > 0
    t.refresh()
    assert len(t.live_files()) < before_files
    assert _content(t) == before


def test_optimize_zorder_by_clusters(spark, tmp_path):
    t = _table(spark, tmp_path, "mzo")
    before = _content(t)
    res = run_maintenance_sql(
        # permuted axis order is legal — the bit layout is pinned
        spark, "OPTIMIZE mzo ZORDER BY (dur_ms, clip_id, sr_hz)",
        {"mzo": t}, ledger=CheckpointLedger(str(tmp_path / "led")))
    assert res["operation"].startswith("cluster_global[zorder")
    assert _content(t) == before


def test_optimize_zorder_refuses_other_columns(spark, tmp_path):
    t = _table(spark, tmp_path, "mzbad", n=10)
    with pytest.raises(ValueError, match="interleaves exactly"):
        run_maintenance_sql(
            spark, "OPTIMIZE mzbad ZORDER BY (dur_ms, codec)",
            {"mzbad": t}, ledger=CheckpointLedger(str(tmp_path / "led")))


def test_optimize_and_vacuum_require_ledger(spark, tmp_path):
    t = _table(spark, tmp_path, "mled", n=10)
    with pytest.raises(ValueError, match="needs a ledger"):
        run_maintenance_sql(spark, "OPTIMIZE mled", {"mled": t})
    with pytest.raises(ValueError, match="needs a ledger"):
        run_maintenance_sql(spark, "VACUUM mled RETAIN 200 HOURS",
                            {"mled": t})


def test_vacuum_expires_and_collects(spark, tmp_path):
    t = _table(spark, tmp_path, "mvac")
    led = CheckpointLedger(str(tmp_path / "led"))
    before = _content(t)
    run_maintenance_sql(spark, "OPTIMIZE mvac", {"mvac": t}, ledger=led)
    t.refresh()
    with _retention_check_off(spark):
        res = run_maintenance_sql(
            spark, "VACUUM mvac RETAIN 0 HOURS", {"mvac": t}, ledger=led)
    assert res["operation"] == "expire"
    assert len(res["expired_snapshots"]) > 0
    assert res["orphans_deleted"] > 0  # the pre-compaction small files
    assert _content(t) == before


def test_vacuum_dry_run_previews_without_deleting(spark, tmp_path):
    t = _table(spark, tmp_path, "mdry", n=20)
    # a planted stray is the canonical would-be GC victim
    part_dir = sorted(glob.glob(os.path.join(t.location, "data", "*")))[0]
    stray = os.path.join(part_dir, "stray.parquet")
    with open(stray, "wb") as f:
        f.write(b"junk")
    n_snaps = len(t.snapshots())
    with _retention_check_off(spark):
        res = run_maintenance_sql(
            spark, "VACUUM mdry RETAIN 0 HOURS DRY RUN", {"mdry": t})
    assert res["dry_run"] is True and res["retain_hours"] == 0
    # orphan paths are table-relative (delete_orphans contract)
    assert os.path.relpath(stray, t.location) in res["orphans"]
    assert os.path.exists(stray)              # preview deleted nothing
    assert len(t.refresh().snapshots()) == n_snaps  # and expired nothing


def test_vacuum_default_retention_spares_recent_files(spark, tmp_path):
    t = _table(spark, tmp_path, "mgrace", n=20)
    part_dir = sorted(glob.glob(os.path.join(t.location, "data", "*")))[0]
    stray = os.path.join(part_dir, "stray.parquet")
    with open(stray, "wb") as f:
        f.write(b"junk")
    # bare VACUUM retains 168h (Delta's default): the fresh stray is
    # inside the grace window and must NOT be listed
    res = run_maintenance_sql(spark, "VACUUM mgrace DRY RUN", {"mgrace": t})
    assert res["retain_hours"] == 168
    assert os.path.relpath(stray, t.location) not in res["orphans"]


def test_vacuum_retention_check_refuses_short_horizon(spark, tmp_path):
    """Delta's retentionDurationCheck: RETAIN below the 168 h default
    refuses loudly (a typo'd 0 must not eat staged files) unless the
    session conf explicitly opts out — and the check guards the real run
    and the dry run alike."""
    t = _table(spark, tmp_path, "mchk", n=10)
    led = CheckpointLedger(str(tmp_path / "led"))
    for stmt in ("VACUUM mchk RETAIN 1 HOURS",
                 "VACUUM mchk RETAIN 167 HOURS DRY RUN"):
        with pytest.raises(ValueError, match="below the default"):
            run_maintenance_sql(spark, stmt, {"mchk": t}, ledger=led)
    # the boundary itself and the opt-out both pass
    res = run_maintenance_sql(
        spark, "VACUUM mchk RETAIN 168 HOURS DRY RUN", {"mchk": t})
    assert res["retain_hours"] == 168
    with _retention_check_off(spark):
        res = run_maintenance_sql(
            spark, "VACUUM mchk RETAIN 1 HOURS DRY RUN", {"mchk": t})
    assert res["retain_hours"] == 1


def test_vacuum_dry_run_previews_expire_released_files(spark, tmp_path):
    """The real VACUUM expires snapshots FIRST and then GCs, so files
    held only by would-expire snapshots are deleted — the preview must
    list them (reachability as-if-expired), and the real run must delete
    exactly the previewed set."""
    t = _table(spark, tmp_path, "mprev")
    led = CheckpointLedger(str(tmp_path / "led"))
    before = _content(t)
    run_maintenance_sql(spark, "OPTIMIZE mprev", {"mprev": t}, ledger=led)
    t.refresh()
    # pre-compaction small files are reachable ONLY via the pre-compact
    # append snapshot — live-reachability alone would preview nothing
    assert t.delete_orphans(grace_ms=0, dry_run=True) == []
    with _retention_check_off(spark):
        preview = run_maintenance_sql(
            spark, "VACUUM mprev RETAIN 0 HOURS DRY RUN", {"mprev": t})
        assert preview["would_expire_snapshots"]
        assert preview["orphans"]
        for rel in preview["orphans"]:
            assert os.path.exists(os.path.join(t.location, rel))
        res = run_maintenance_sql(
            spark, "VACUUM mprev RETAIN 0 HOURS", {"mprev": t}, ledger=led)
    assert sorted(res["expired_snapshots"]) == \
        sorted(preview["would_expire_snapshots"])
    assert res["orphans_deleted"] == len(preview["orphans"])
    for rel in preview["orphans"]:
        assert not os.path.exists(os.path.join(t.location, rel))
    assert _content(t) == before


def test_delete_orphans_refuses_mutating_exclusion(spark, tmp_path):
    t = _table(spark, tmp_path, "mexcl", n=10)
    sid = t.current_snapshot_id()
    with pytest.raises(ValueError, match="dry-run-only"):
        t.delete_orphans(dry_run=False, exclude_snapshots={sid})


def test_optimize_zorder_uppercase_columns(spark, tmp_path):
    """SQL identifiers are case-insensitive — the uppercase spelling of
    the pinned axes is the same statement."""
    t = _table(spark, tmp_path, "mzup", n=12)
    res = run_maintenance_sql(
        spark, "OPTIMIZE mzup ZORDER BY (CLIP_ID, DUR_MS, SR_HZ)",
        {"mzup": t}, ledger=CheckpointLedger(str(tmp_path / "led")))
    assert res["operation"].startswith("cluster_global[zorder")


def test_describe_history_latest_first(spark, tmp_path):
    t = _table(spark, tmp_path, "mhist", n=10)
    t.append(synth_clips(spark, 5, id_offset=1000), max_records_per_file=6)
    out = run_maintenance_sql(spark, "DESCRIBE HISTORY mhist", {"mhist": t})
    assert isinstance(out, DataFrame)
    rows = out.collect()
    assert len(rows) == len(t.snapshots())
    assert rows[0]["is_current"] is True
    seqs = [r["sequence_number"] for r in rows]
    assert seqs == sorted(seqs, reverse=True)


def test_describe_detail_and_show_tblproperties(spark, tmp_path):
    t = _table(spark, tmp_path, "mdet", n=30)
    t.set_properties({"owner": "audio-platform"})
    t.refresh()
    det = run_maintenance_sql(spark, "DESCRIBE DETAIL mdet", {"mdet": t})
    assert det["format"] == "frost" and det["name"] == "mdet"
    assert det["num_records"] == 30 and det["num_files"] > 0
    assert det["size_in_bytes"] > 0
    assert det["partition_columns"] == ["clip_id"]
    assert det["properties"]["owner"] == "audio-platform"

    out = run_maintenance_sql(spark, "SHOW TBLPROPERTIES mdet",
                              {"mdet": t})
    assert out["properties"]["owner"] == "audio-platform"
    out = run_maintenance_sql(spark, "SHOW TBLPROPERTIES mdet ('owner')",
                              {"mdet": t})
    assert out["properties"] == {"owner": "audio-platform"}
    with pytest.raises(ValueError, match="no property"):
        run_maintenance_sql(spark, "SHOW TBLPROPERTIES mdet ('ghost')",
                            {"mdet": t})


def test_restore_version_and_timestamp(spark, tmp_path):
    t = _table(spark, tmp_path, "mres", n=20)
    led = CheckpointLedger(str(tmp_path / "led"))
    good = _content(t)
    sid = t.current_snapshot_id()
    ts = t.meta.snapshot(sid).timestamp_ms
    # TIMESTAMP AS OF resolves by wall-clock ms: keep the next commit out
    # of the captured millisecond so the resolution is unambiguous
    import time
    time.sleep(0.05)
    t.append(synth_clips(spark, 5, id_offset=1000), max_records_per_file=6)
    assert _content(t) != good

    res = run_maintenance_sql(
        spark, f"RESTORE TABLE mres TO VERSION AS OF {sid}",
        {"mres": t}, ledger=led)
    assert res["operation"] == "restore" and res["restored_to"] == sid
    assert _content(t) == good

    # the restore itself is revertable: roll forward by timestamp —
    # epoch-ms, the engine-wide time-travel convention
    t.append(synth_clips(spark, 5, id_offset=1000), max_records_per_file=6)
    res = run_maintenance_sql(
        spark, f"RESTORE mres TO TIMESTAMP AS OF {ts}", {"mres": t})
    assert res["restored_to"] == sid
    assert _content(t) == good


def test_unknown_statement_refuses(spark, tmp_path):
    t = _table(spark, tmp_path, "munk", n=5)
    with pytest.raises(ValueError, match="run_maintenance_sql handles"):
        run_maintenance_sql(spark, "ANALYZE TABLE munk", {"munk": t})
    with pytest.raises(ValueError, match="unknown table"):
        run_maintenance_sql(spark, "OPTIMIZE nope", {"munk": t},
                            ledger=CheckpointLedger(str(tmp_path / "l")))


# ------------------------------------------------- SHOW CREATE TABLE

def test_show_create_table_round_trips(spark, tmp_path):
    """The rendered DDL is not documentation — it RE-CREATES the table:
    schema, bucket spec, and every property (including a contract whose
    CHECK expression contains quoted string literals, exercising the
    SQL '' escape) parse back through run_create_table, and the clone's
    contract actually gates writes."""
    import json

    from open_finance_lakehouse_spark.quality.contracts import (
        ContractViolation,
    )
    from open_finance_lakehouse_spark.sql import run_alter, run_create_table

    t = _table(spark, tmp_path, "sct1", n=6)
    t.set_properties(set_props={"owner": "it's the audio team",
                                "maintenance.target_bytes": "1048576"})
    run_alter(spark, "ALTER TABLE sct1 ADD CONSTRAINT codec_known "
              "CHECK (codec IN ('pcm16', 'ulaw', 'alaw', 'opus'))", {"sct1": t})

    res = run_maintenance_sql(spark, "SHOW CREATE TABLE sct1", {"sct1": t})
    stmt = res["statement"]
    assert stmt.startswith("CREATE TABLE sct1 (")
    assert "PARTITIONED BY (bucket(2, clip_id))" in stmt
    assert "''" in stmt  # the quoted literals escaped SQL-style

    clone_loc = str(tmp_path / "sct1_clone")
    stmt2 = (stmt.replace("CREATE TABLE sct1 ", "CREATE TABLE sct2 ")
             .replace(f"LOCATION '{t.location}'",
                      f"LOCATION '{clone_loc}'"))
    run_create_table(spark, stmt2, {})
    t2 = LakeTable.load(spark, clone_loc)
    # DDL text may differ in case/backticks; the parsed schema must not
    assert t2._empty_df().schema == t._empty_df().schema
    assert t2.meta.partition_spec == t.meta.partition_spec
    assert dict(t2.meta.properties) == dict(t.refresh().meta.properties)
    assert json.loads(t2.meta.properties["contract"])["checks"] == {
        "codec_known": "codec IN ('pcm16', 'ulaw', 'alaw', 'opus')"}
    with pytest.raises(ContractViolation, match="codec_known"):
        t2.append(synth_clips(spark, 3).selectExpr(
            "clip_id", "bytes", "sr_hz", "dur_ms",
            "'mp3' AS codec", "transcript"))


def test_show_create_table_minimal(spark, tmp_path):
    """A property-less unpartitioned table renders without the optional
    clauses and still round-trips."""
    loc = str(tmp_path / "plain")
    t = LakeTable.create(spark, loc, "plain", "`a` int, `b` string")
    res = run_maintenance_sql(spark, "show create table plain",
                              {"plain": t})
    stmt = res["statement"]
    assert "TBLPROPERTIES" not in stmt and "PARTITIONED BY" not in stmt
    from open_finance_lakehouse_spark.sql import run_create_table

    clone_loc = str(tmp_path / "plain2")
    run_create_table(
        spark,
        stmt.replace("CREATE TABLE plain ", "CREATE TABLE plain2 ")
        .replace(f"LOCATION '{loc}'", f"LOCATION '{clone_loc}'"),
        {})
    assert LakeTable.load(spark, clone_loc)._empty_df().schema == \
        t._empty_df().schema


def test_show_create_table_quoted_location_round_trips(spark, tmp_path):
    """A path containing a single quote must survive the render+re-parse
    loop: the renderer escapes LOCATION SQL-style ('') and the CREATE
    parser unescapes — [^']+ alone would truncate the path at the quote
    and choke on the remainder."""
    from open_finance_lakehouse_spark.sql import run_create_table

    loc = str(tmp_path / "o'brien" / "t")
    t = LakeTable.create(spark, loc, "qloc", "`a` int")
    res = run_maintenance_sql(spark, "SHOW CREATE TABLE qloc",
                              {"qloc": t})
    assert "o''brien" in res["statement"]
    clone_loc = str(tmp_path / "it's a clone")
    run_create_table(
        spark,
        res["statement"].replace("CREATE TABLE qloc ",
                                 "CREATE TABLE qloc2 ")
        .replace(loc.replace("'", "''"), clone_loc.replace("'", "''")),
        {})
    assert LakeTable.load(spark, clone_loc)._empty_df().schema == \
        t._empty_df().schema


def test_show_partitions_orders_buckets_numerically(spark, tmp_path):
    """Past 9 buckets a lexical sort on the (string) partition value
    reads '0','1','10','11',...,'2' — the inventory must come back in
    numeric bucket order."""
    t = LakeTable.create(
        spark, str(tmp_path / "msp12"), "msp12", CLIP_SCHEMA_DDL,
        partition_spec={"kind": "bucket", "column": "clip_id",
                        "num_buckets": 12})
    t.append(synth_clips(spark, 60))
    res = run_maintenance_sql(spark, "SHOW PARTITIONS msp12",
                              {"msp12": t})
    got = [int(p["partition"]) for p in res["partitions"]]
    assert got == sorted(got) and len(got) > 10


def test_show_partitions_inventory(spark, tmp_path):
    """SHOW PARTITIONS returns the per-bucket inventory, grouped from
    ``live_files()`` on the driver, and refuses on unpartitioned tables."""
    t = _table(spark, tmp_path, "msp", n=40)
    res = run_maintenance_sql(spark, "SHOW PARTITIONS msp", {"msp": t})
    assert res["operation"] == "show_partitions"
    assert res["partition_spec"]["num_buckets"] == 2
    parts = res["partitions"]
    assert len(parts) == 2  # both buckets populated at n=40
    assert sum(p["num_records"] for p in parts) == 40
    assert all(p["num_files"] > 0 and p["size_in_bytes"] > 0
               for p in parts)

    flat = LakeTable.create(spark, str(tmp_path / "flat"), "flat",
                            "`a` int")
    with pytest.raises(ValueError, match="not partitioned"):
        run_maintenance_sql(spark, "SHOW PARTITIONS flat", {"flat": flat})
