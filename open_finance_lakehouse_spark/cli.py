"""CLI front door: ``spark-submit --py-files <pkg.zip> -m`` entrypoints for
every maintenance job (north_rule M5: "maintenance implemented and
callable" — /root/reference/README.md:314-317; single argparse front door
mirroring /root/reference/ofl/cli.py:159-219).

Subcommands: synth | compact | cluster | expire | merge | delete |
update | doctor | pipeline | publish | silver-drain | rollback | history |
runs | evolve-schema | rewrite-schema | rewrite-partitioning | sql.

Example (cluster mode keeps the same shape — only --master changes):
  python -m open_finance_lakehouse_spark.cli pipeline \
      --table /data/wh/clips --ledger /data/wh/ledger --target-mb 128
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import DataFrame

from open_finance_lakehouse_spark.format.table import LakeTable
from open_finance_lakehouse_spark.plans.ledger import CheckpointLedger
from open_finance_lakehouse_spark.session import build_session
from open_finance_lakehouse_spark.sources.synth import (
    CLIP_SCHEMA_DDL,
    synth_clips,
)


def _meta_row_count(t: LakeTable) -> int:
    """Row count from the manifest entries — the report number for
    metadata-only commands (rollback etc.), which must not trigger a
    full data scan (or any Spark job) just to print a counter."""
    return sum(f.record_count for f in t.live_files())


def _common(p: argparse.ArgumentParser):
    p.add_argument("--table", required=True, help="table location")
    p.add_argument("--ledger", required=True, help="checkpoint ledger root")
    p.add_argument("--job-id", default=None)
    p.add_argument("--master", default=None)
    # None -> the table's declared maintenance.target_bytes (or the format
    # default); an explicit flag always overrides the declared config
    p.add_argument("--target-mb", type=int, default=None)


def _parse_where(exprs: list[str]):
    """``--where`` grammar → ColumnRange conjuncts.

    Accepted: ``col<=v`` ``col>=v`` ``col=v`` ``col in v1,v2``.  Values
    parse as int, then float, else string — the manifest stat domains."""
    from open_finance_lakehouse_spark.format.table import ColumnRange

    def val(s: str):
        s = s.strip()
        # SQL-habit quoting ('pcm') must not become part of the value —
        # equality against the quote-wrapped string silently matches
        # nothing and the delete "succeeds" at 0 rows
        if len(s) >= 2 and s[0] == s[-1] and s[0] in "'\"":
            return s[1:-1]
        for cast in (int, float):
            try:
                return cast(s)
            except ValueError:
                pass
        return s

    import re

    preds = []
    for e in exprs:
        # unsupported operators refuse at parse time: '==' would
        # partition at the FIRST '=' into equality on a garbage value
        # (matching nothing — the delete "succeeds"), '!='/'=>' into a
        # garbage column that dies later with an opaque analysis error
        for bad_op in ("==", "!=", "<>", "=>", "=<"):
            if bad_op in e:
                raise SystemExit(
                    f"--where does not support {bad_op!r} (got {e!r}); "
                    "grammar: col<=v | col>=v | col=v | col in v1,v2")
        # comparisons FIRST: an equality whose VALUE contains ' in '
        # ("transcript = call in progress") must not be split as an
        # IN-list over a garbage column name
        if "<=" in e:
            col, _, v = e.partition("<=")
            preds.append(ColumnRange(col.strip(), hi=val(v)))
        elif ">=" in e:
            col, _, v = e.partition(">=")
            preds.append(ColumnRange(col.strip(), lo=val(v)))
        elif "=" in e:
            col, _, v = e.partition("=")
            preds.append(ColumnRange(col.strip(), lo=val(v), hi=val(v)))
        elif (m := re.match(r"(.+?)\s+in\s+(.+)", e, re.I | re.S)):
            # case-insensitive whole-word split ('In'/'iN' included)
            preds.append(ColumnRange(m.group(1).strip(),
                                     values=tuple(val(v) for v in
                                                  m.group(2).split(","))))
        else:
            raise SystemExit(
                f"--where {e!r}: expected COL=V, COL<=V, COL>=V, "
                "or 'COL in V1,V2'")
    return preds


def main(argv=None):
    ap = argparse.ArgumentParser("ofl-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    sp = sub.add_parser("synth", help="create + populate a clip table")
    sp.add_argument("--table", required=True)
    sp.add_argument("--rows", type=int, required=True)
    sp.add_argument("--buckets", type=int, default=16)
    sp.add_argument("--records-per-file", type=int, default=None)
    sp.add_argument("--master", default=None)

    for name in ("compact", "cluster", "expire", "pipeline"):
        p = sub.add_parser(name)
        _common(p)
        if name == "cluster":
            p.add_argument("--curve", default=None,
                           choices=["zorder", "hilbert"])
        if name in ("expire", "pipeline"):
            p.add_argument("--retain-last", type=int, default=None)

    dl = sub.add_parser("delete",
                        help="predicate DELETE: stats-pruned three-tier "
                             "plan (untouched / metadata-only drop / "
                             "copy-on-write), one atomic snapshot")
    _common(dl)
    dl.add_argument("--where", action="append", default=[],
                    metavar="COL{=|<=|>=}VALUE or COL in V1,V2",
                    help="repeatable conjunct; numbers parsed as numbers, "
                         "everything else as string. Equality/IN on the "
                         "bucket column additionally prunes partitions")
    dl.add_argument("--residual", default=None,
                    help="arbitrary SQL condition ANDed row-level (regex, "
                         "arithmetic); disables metadata-only drops")

    up = sub.add_parser("update",
                        help="predicate UPDATE: SET col=expr on matching "
                             "rows, stats-pruned copy-on-write, one atomic "
                             "snapshot")
    _common(up)
    up.add_argument("--set", action="append", default=[], required=True,
                    metavar="COL=SQL_EXPR",
                    help="repeatable; the expr is any SQL over the row "
                         "(quote string literals: codec='requeued')")
    up.add_argument("--where", action="append", default=[],
                    metavar="COL{=|<=|>=}VALUE or COL in V1,V2")
    up.add_argument("--residual", default=None,
                    help="arbitrary SQL condition ANDed row-level")

    mp = sub.add_parser("merge", help="MERGE a parquet source (op/seq cols)")
    _common(mp)
    mp.add_argument("--source", required=True, help="parquet path of source")
    mp.add_argument("--source-token", required=True,
                    help="batch fingerprint for replay idempotence")

    pp = sub.add_parser("publish",
                        help="check-then-overwrite publish of a parquet "
                             "candidate (withholds on any NULL in "
                             "--require-cols)")
    pp.add_argument("--table", required=True)
    pp.add_argument("--source", required=True, help="candidate parquet path")
    pp.add_argument("--require-cols", default="",
                    help="comma-separated columns that must be non-null")
    pp.add_argument("--master", default=None)

    sd = sub.add_parser("silver-drain",
                        help="incremental silver rollup drain from a bronze "
                             "table (snapshot-keyed delta consume)")
    sd.add_argument("--bronze", required=True)
    sd.add_argument("--silver", required=True)
    sd.add_argument("--ledger", required=True)
    sd.add_argument("--window", default="1 minute")
    sd.add_argument("--master", default=None)

    rb = sub.add_parser("rollback",
                        help="point the table back at an earlier snapshot")
    rb.add_argument("--table", required=True)
    rb.add_argument("--snapshot-id", type=int, required=True)
    rb.add_argument("--master", default=None)

    es = sub.add_parser("evolve-schema",
                        help="add-column / widen-type schema evolution "
                             "(metadata-only commit; drops/renames refuse)")
    es.add_argument("--table", required=True)
    es.add_argument("--ddl", required=True, help="the FULL new schema DDL")
    es.add_argument("--master", default=None)

    rs = sub.add_parser("rewrite-schema",
                        help="DROP/RENAME schema evolution via copy-on-write "
                             "rewrite (one atomic replace snapshot; old "
                             "snapshots keep their commit-time shape)")
    rs.add_argument("--table", required=True)
    rs.add_argument("--ddl", required=True, help="the FULL new schema DDL")
    rs.add_argument("--rename", action="append", default=[],
                    metavar="NEW=OLD",
                    help="repeatable rename mapping; new columns absent "
                         "from both the old schema and any --rename fill "
                         "with NULL, old columns not in --ddl are dropped")
    rs.add_argument("--records-per-file", type=int, default=None)
    rs.add_argument("--master", default=None)

    rp = sub.add_parser("rewrite-partitioning",
                        help="re-bucket (or un-partition) a table via one "
                             "copy-on-write rewrite snapshot; old snapshots "
                             "keep their commit-time layout")
    rp.add_argument("--table", required=True)
    rp.add_argument("--bucket-column", default=None)
    rp.add_argument("--num-buckets", type=int, default=None)
    rp.add_argument("--unpartition", action="store_true")
    rp.add_argument("--records-per-file", type=int, default=None)
    rp.add_argument("--master", default=None)

    dr = sub.add_parser("doctor",
                        help="read-only table-health report + recommended "
                             "maintenance (metadata-only: no data read)")
    dr.add_argument("--table", required=True)
    dr.add_argument("--target-mb", type=int, default=None)
    dr.add_argument("--cluster-column", default=None,
                    help="also score min/max stat overlap on this column")
    dr.add_argument("--master", default=None)

    hi = sub.add_parser("history", help="print the snapshot log")
    hi.add_argument("--table", required=True)
    hi.add_argument("--master", default=None)

    cg = sub.add_parser("changes",
                        help="row-level change capture (CDC): per-commit "
                             "insert/delete counts between two snapshots; "
                             "maintenance commits are invisible")
    cg.add_argument("--table", required=True)
    cg.add_argument("--from-snapshot", type=int, default=None,
                    help="exclusive start cursor (omit = since genesis)")
    cg.add_argument("--to-snapshot", type=int, default=None,
                    help="inclusive end (omit = current snapshot)")
    cg.add_argument("--master", default=None)

    ru = sub.add_parser("runs", help="list run-level lineage (START/"
                                     "COMPLETE/FAIL pairs from runs.jsonl)")
    ru.add_argument("--root", required=True,
                    help="ledger/table root holding runs.jsonl; named "
                         "--root (not --table) so this read-only lane "
                         "does not log a run about itself")
    ru.add_argument("--job", default=None, help="filter by job/lane name")
    ru.add_argument("--limit", type=int, default=50,
                    help="most recent N runs")
    ru.add_argument("--master", default=None)

    sq = sub.add_parser("sql", help="run SQL over registered tables "
                                    "(DELETE/UPDATE/MERGE route to the DML "
                                    "operators — needs --ledger; INSERT "
                                    "INTO/OVERWRITE and ALTER TABLE route "
                                    "to the write/evolution primitives; "
                                    "OPTIMIZE/VACUUM/DESCRIBE HISTORY/"
                                    "RESTORE route to the maintenance "
                                    "operators)")
    sq.add_argument("--register", action="append", default=[],
                    metavar="NAME=LOCATION",
                    help="repeatable view registrations")
    sq.add_argument("--query", required=True)
    sq.add_argument("--limit", type=int, default=20)
    sq.add_argument("--ledger", default=None,
                    help="checkpoint ledger root (required for DML)")
    sq.add_argument("--master", default=None)

    args = ap.parse_args(argv)
    spark = build_session(f"ofl-{args.cmd}", master=args.master)

    # run-level lineage: every lane with a durable root (ledger, else the
    # table itself) emits START → COMPLETE/FAIL events around its run
    # (reference ofl/cli.py:216-219 + ofl/platform/lineage.py:19-56); a
    # read-only sql lane (no --ledger) has no durable root and stays
    # unlogged — sql DML passes --ledger and is logged like any lane
    root = getattr(args, "ledger", None) or getattr(args, "table", None)
    if root is not None:
        from open_finance_lakehouse_spark.plans.lineage import RunLog

        with RunLog(root).run(
                args.cmd,
                facets={"table": getattr(args, "table", None)}) as summary:
            out = _execute(spark, args)
            for k in ("rows", "clips", "snapshot", "operation", "published",
                      "cursor", "job_id", "clips_per_sec"):
                if isinstance(out, dict) and k in out:
                    summary[k] = out[k]
    else:
        out = _execute(spark, args)
    print(json.dumps(out, default=str))
    return 0


def _execute(spark, args) -> dict:
    if args.cmd == "synth":
        t = LakeTable.create(
            spark, args.table, "clips", CLIP_SCHEMA_DDL,
            partition_spec={"kind": "bucket", "column": "clip_id",
                            "num_buckets": args.buckets},
        )
        snap = t.append(synth_clips(spark, args.rows),
                        max_records_per_file=args.records_per_file)
        out = {"operation": "synth", "rows": args.rows,
               "snapshot": snap.snapshot_id}
    elif args.cmd == "publish":
        from pyspark.sql import functions as F

        from open_finance_lakehouse_spark.operators.publish import (
            publish_overwrite,
        )

        t = LakeTable.load(spark, args.table)
        cand = spark.read.parquet(args.source)
        cols = [c for c in args.require_cols.split(",") if c]
        checks = {
            f"non_null_{c}": (lambda c: lambda df: df.filter(
                F.col(c).isNull()))(c)
            for c in cols
        }
        out = publish_overwrite(t, cand, checks=checks)
    elif args.cmd == "silver-drain":
        from open_finance_lakehouse_spark.streaming.table_source import (
            IncrementalSilver,
        )

        bronze = LakeTable.load(spark, args.bronze)
        silver = IncrementalSilver(spark, bronze, args.silver,
                                   CheckpointLedger(args.ledger),
                                   window=args.window)
        out = silver.drain()
    elif args.cmd == "rollback":
        t = LakeTable.load(spark, args.table)
        snap = t.rollback(args.snapshot_id)
        out = {"operation": "rollback", "current": snap.snapshot_id,
               "rows": _meta_row_count(t)}
    elif args.cmd == "evolve-schema":
        t = LakeTable.load(spark, args.table)
        t.update_schema(args.ddl)
        out = {"operation": "evolve-schema", "schema": t.meta.schema_ddl,
               "metadata_version": t.meta.version}
    elif args.cmd == "rewrite-schema":
        t = LakeTable.load(spark, args.table)
        bad = [kv for kv in args.rename if "=" not in kv]
        if bad:
            raise SystemExit(
                f"--rename expects new=old mappings; got {bad}")
        mapping = dict(kv.split("=", 1) for kv in args.rename)
        snap = t.rewrite_schema(args.ddl, mapping=mapping,
                                max_records_per_file=args.records_per_file)
        out = {"operation": "rewrite-schema", "snapshot": snap.snapshot_id,
               "schema": t.meta.schema_ddl, "rows": _meta_row_count(t)}
    elif args.cmd == "rewrite-partitioning":
        t = LakeTable.load(spark, args.table)
        if args.unpartition:
            spec = None
        else:
            if not args.bucket_column or args.num_buckets is None:
                raise SystemExit("rewrite-partitioning needs --bucket-column "
                                 "and --num-buckets (or --unpartition)")
            spec = {"kind": "bucket", "column": args.bucket_column,
                    "num_buckets": args.num_buckets}
        snap = t.rewrite_partitioning(
            spec, max_records_per_file=args.records_per_file)
        out = {"operation": "rewrite-partitioning",
               "snapshot": snap.snapshot_id,
               "partition_spec": t.meta.partition_spec,
               "rows": _meta_row_count(t)}
    elif args.cmd == "doctor":
        from open_finance_lakehouse_spark.operators import binpack
        from open_finance_lakehouse_spark.operators.doctor import doctor

        if args.target_mb is not None and args.target_mb <= 0:
            raise SystemExit("--target-mb must be a positive integer")
        t = LakeTable.load(spark, args.table)
        out = doctor(
            t,
            target_bytes=(args.target_mb * 1024 * 1024
                          if args.target_mb is not None
                          else binpack.DEFAULT_TARGET_FILE_BYTES),
            cluster_column=args.cluster_column)
    elif args.cmd == "history":
        t = LakeTable.load(spark, args.table)
        out = {"operation": "history",
               "snapshots": [r.asDict() for r in t.history().collect()]}
    elif args.cmd == "changes":
        from open_finance_lakehouse_spark.operators.changelog import (
            changes_summary,
            table_changes,
        )

        t = LakeTable.load(spark, args.table)
        ch = table_changes(t, args.from_snapshot, args.to_snapshot)
        commits = [r.asDict() for r in changes_summary(ch).collect()]
        out = {"operation": "changes",
               "from_snapshot": args.from_snapshot,
               "to_snapshot": (args.to_snapshot
                               if args.to_snapshot is not None
                               else t.current_snapshot_id()),
               "inserts": sum(c["inserts"] for c in commits),
               "deletes": sum(c["deletes"] for c in commits),
               "commits": commits}
    elif args.cmd == "runs":
        from open_finance_lakehouse_spark.plans.lineage import RunLog

        by_run: dict[str, dict] = {}
        for e in RunLog(args.root).events():
            if args.job and e.get("job") != args.job:
                continue
            r = by_run.setdefault(e["run_id"], {
                "run_id": e["run_id"], "job": e.get("job"),
                "table": e.get("table"), "status": "RUNNING",
                "started_ms": None, "ended_ms": None,
                "error": None, "summary": {}})
            if e["event"] == "START":
                r["started_ms"] = e["timestamp_ms"]
            else:  # COMPLETE | FAIL — terminal events pair by run_id
                r["status"] = e["event"]
                r["ended_ms"] = e["timestamp_ms"]
                r["error"] = e.get("error")
                r["summary"] = e.get("summary", {})
        out = {"operation": "runs",
               "runs": (list(by_run.values())[-args.limit:]
                        if args.limit > 0 else [])}
    elif args.cmd == "sql":
        from open_finance_lakehouse_spark.sql import (
            register_tables,
            run_alter,
            run_create_table,
            run_dml,
            run_drop_table,
            run_insert,
            run_maintenance_sql,
            run_merge,
            run_select,
        )

        views = dict(kv.split("=", 1) for kv in args.register)
        toks = args.query.split()
        head = toks[0].lower() if toks else ""
        # `DESCRIBE HISTORY|DETAIL` is ours; a plain `DESCRIBE <view>`
        # stays a catalog query through the view path
        is_hist = (head == "describe" and len(toks) > 1
                   and toks[1].lower() in ("history", "detail"))
        if head in ("delete", "update", "merge"):
            if not args.ledger:
                raise SystemExit("DML statements require --ledger")
            runner = run_merge if head == "merge" else run_dml
            out = runner(spark, args.query, views,
                         CheckpointLedger(args.ledger))
        elif head == "insert":
            out = run_insert(spark, args.query, views)
        elif head == "alter":
            out = run_alter(spark, args.query, views)
        elif head == "create":
            out = run_create_table(spark, args.query, views)
        elif head == "drop":
            out = run_drop_table(spark, args.query, views)
        elif head in ("optimize", "vacuum", "restore", "show") or is_hist:
            res = run_maintenance_sql(
                spark, args.query, views,
                ledger=CheckpointLedger(args.ledger) if args.ledger
                else None)
            out = ({"rows": [r.asDict() for r in
                             res.limit(args.limit).collect()]}
                   if isinstance(res, DataFrame) else res)
        else:
            reg = register_tables(spark, views)
            rows = [r.asDict() for r in
                    run_select(spark, args.query, views)
                    .limit(args.limit).collect()]
            out = {"registration": reg, "rows": rows}
    else:
        from open_finance_lakehouse_spark.operators.config import (
            maintenance_config,
        )

        t = LakeTable.load(spark, args.table)
        ledger = CheckpointLedger(args.ledger)
        job_id = args.job_id or f"{args.cmd}-cli"
        # flags beat the table's declared maintenance.* config, which
        # beats the built-in defaults (registry discipline, SURVEY §1.4)
        cfg = maintenance_config(t)
        # presence checks compare against None — truthiness would treat an
        # explicit `--target-mb 0` as unset instead of rejecting it
        if args.target_mb is not None and args.target_mb <= 0:
            raise SystemExit("--target-mb must be a positive integer")
        target = (args.target_mb * 1024 * 1024 if args.target_mb is not None
                  else cfg["target_bytes"])
        if args.cmd == "compact":
            from open_finance_lakehouse_spark.operators.compact import compact

            out = compact(t, ledger, job_id, target_bytes=target)
        elif args.cmd == "cluster":
            from open_finance_lakehouse_spark.operators.cluster import (
                cluster_global,
            )

            curve = args.curve if args.curve else cfg["curve"]
            if curve is None:
                # the table DECLARED curve=none; only an explicit --curve
                # flag overrides — a hardcoded fallback would silently
                # violate the flags > declared-config > defaults precedence
                out = {"operation": "cluster", "skipped": True,
                       "reason": "table declares maintenance.curve=none "
                                 "(pass --curve to override)"}
            else:
                out = cluster_global(t, ledger, job_id, curve=curve,
                                     target_bytes=target)
        elif args.cmd == "expire":
            from open_finance_lakehouse_spark.operators.expire import expire

            retain = (args.retain_last if args.retain_last is not None
                      else cfg["retain_last"])
            kw = {}
            if cfg["gc_grace_ms"] is not None:  # declared knob applies
                kw["gc_grace_ms"] = cfg["gc_grace_ms"]
            out = expire(t, ledger, job_id, retain_last=retain, **kw)
        elif args.cmd == "delete":
            from open_finance_lakehouse_spark.operators.delete_where import (
                delete_where,
            )

            out = delete_where(t, ledger, job_id,
                               predicates=_parse_where(args.where),
                               residual=args.residual)
        elif args.cmd == "update":
            from open_finance_lakehouse_spark.operators.update_where import (
                update_where,
            )

            bad = [kv for kv in args.set if "=" not in kv]
            if bad:
                raise SystemExit(f"--set expects COL=SQL_EXPR; got {bad}")
            sets = dict(kv.split("=", 1) for kv in args.set)
            out = update_where(t, ledger, job_id, set=sets,
                               predicates=_parse_where(args.where) or None,
                               residual=args.residual)
        elif args.cmd == "merge":
            from open_finance_lakehouse_spark.operators.merge_into import (
                merge_into,
            )

            src = spark.read.parquet(args.source)
            out = merge_into(t, src, ledger, job_id, target_bytes=target,
                             source_token=args.source_token)
        else:
            from open_finance_lakehouse_spark.operators.pipeline import (
                run_maintenance,
            )

            kw = {}
            if args.target_mb is not None:
                kw["target_bytes"] = target
            if args.retain_last is not None:
                kw["retain_last"] = args.retain_last
            out = run_maintenance(t, ledger, job_id=args.job_id, **kw)
    return out


if __name__ == "__main__":
    sys.exit(main())
