"""Two-parallelism scaling evidence (BASELINE.md protocol).

Runs the identical compact→cluster→expire pipeline on an identical input
clip table at two parallelism levels (default local[8] vs local[32]) in
SEPARATE OS processes (fresh JVM each — the reference's independent-process
discipline, /root/reference/tools/streaming_idempotence.py:57-92), and
reports clips/sec at both plus scaling efficiency
  (throughput@4N / throughput@N) / (4N/N).

Throughput divides clip count by ENGINE-measured stage time (JVM startup
and table synthesis excluded). Usage:
  python tools/scaling_bench.py [--rows 20000] [--n 8] [--m 32] [--out f.json]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import uuid

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_WORKER = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from open_finance_lakehouse_spark.session import build_session
from open_finance_lakehouse_spark.format.table import LakeTable
from open_finance_lakehouse_spark.plans.ledger import CheckpointLedger
from open_finance_lakehouse_spark.operators.pipeline import run_maintenance
from open_finance_lakehouse_spark.sources.synth import CLIP_SCHEMA_DDL, synth_clips
import shutil

cpus = {cpus}
rows = {rows}
workdir = {workdir!r}
mode = {mode!r}
gate = {gate!r}

# identical conf at both parallelism levels: split the toy-scale input into
# enough tasks that BOTH runs schedule multiple waves per stage (at real
# scale the defaults already give thousands of tasks per stage)
spark = build_session("scale-%d" % cpus, master="local[%d]" % cpus,
                      extra_conf={{"spark.sql.files.maxPartitionBytes":
                                   str(16 * 1024 * 1024)}})
table_loc = os.path.join(workdir, "clips")
if mode == "prepare":
    t = LakeTable.create(spark, table_loc, "clips", CLIP_SCHEMA_DDL,
                         partition_spec={{"kind": "bucket", "column": "clip_id",
                                         "num_buckets": 32}})
    t.append(synth_clips(spark, rows, dur_max_ms=4000),
             max_records_per_file=128)
    w = LakeTable.create(spark, os.path.join(workdir, "clips_warm"),
                         "clips_warm", CLIP_SCHEMA_DDL,
                         partition_spec={{"kind": "bucket", "column": "clip_id",
                                         "num_buckets": 4}})
    w.append(synth_clips(spark, 1500, dur_max_ms=1000, id_offset=10_000_000),
             max_records_per_file=64)
    print(json.dumps({{"prepared_rows": t.scan().count(),
                       "files": len(t.live_files())}}))
else:
    # fresh copy of the prepared table so every run sees identical input;
    # unique dir per run (repeats), removed afterwards (tmpfs budget)
    run_loc = os.path.join(workdir, "run_%d_%d" % (cpus, os.getpid()))
    shutil.copytree(table_loc, os.path.join(run_loc, "clips"))
    # UNMEASURED warm-up pipeline on a small table: compiles the identical
    # codegen/parquet/shuffle paths so the measured run is steady-state
    # engine time, consistent with the reference's exclusion of JVM startup
    # from throughput (ofl/streaming/metrics.py:17-20 discipline)
    shutil.copytree(os.path.join(workdir, "clips_warm"),
                    os.path.join(run_loc, "clips_warm"))
    wt = LakeTable.load(spark, os.path.join(run_loc, "clips_warm"))
    run_maintenance(wt, CheckpointLedger(os.path.join(run_loc, "wled")),
                    job_id="warm", target_bytes=8 * 1024 * 1024,
                    with_audit=False, snr_gate=gate, gc_grace_ms=0)
    t = LakeTable.load(spark, os.path.join(run_loc, "clips"))
    ledger = CheckpointLedger(os.path.join(run_loc, "ledger"))
    # The per-row decoded-PCM SNR gate (BASELINE.json invariant) runs INSIDE
    # the pipeline, OVERLAPPED with the rewrite: the CPU-bound audit soaks
    # the cores the IO-wall-bound rewrite leaves idle (FAIR scheduler), so
    # the measured blend scales like the engine, not the host's write wall.
    m = run_maintenance(t, ledger, job_id="scale-%d" % cpus,
                        target_bytes=8 * 1024 * 1024, with_audit=False,
                        snr_gate=gate, gc_grace_ms=0)
    if gate != "off":
        assert m["gates"].get("snr_violations") == 0, m["gates"]
    total_ms = m["engine_ms"]
    print(json.dumps({{"cpus": cpus, "clips": m["clips"],
                       "engine_ms": total_ms,
                       "rewrite_ms": m["stages"]["cluster"]["engine_ms"],
                       "audit_ms": m["gates"].get("snr_audit_ms", 0),
                       "clips_per_sec": m["clips"] / (total_ms / 1000.0)}}))
    shutil.rmtree(run_loc, ignore_errors=True)
"""


def run_proc(code: str) -> dict:
    r = subprocess.run([sys.executable, "-c", code], capture_output=True,
                       text=True, timeout=3600)
    if r.returncode != 0:
        raise RuntimeError(f"worker failed:\n{r.stderr[-3000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=20000)
    ap.add_argument("--n", type=int, default=8)
    ap.add_argument("--m", type=int, default=32)
    ap.add_argument("--out", default=None)
    ap.add_argument("--repeats", type=int, default=1,
                    help="runs per parallelism level; min engine time wins "
                         "(the sandbox host has heavy shared-tenancy noise; "
                         "min-of-N isolates the engine from it)")
    ap.add_argument("--workdir-base", default=None,
                    help="base dir for table+runs; use /dev/shm to isolate "
                         "engine scaling from single-queue virtio disk "
                         "contention (see BENCH/BASELINE.md caveat)")
    ap.add_argument("--gate", default="serial",
                    choices=["serial", "overlap", "off"],
                    help="SNR-gate scheduling inside the measured pipeline; "
                         "'serial' keeps the stage blend identical at both "
                         "levels (overlap cannot help at N=1, so comparing "
                         "overlap runs across levels overstates scaling)")
    args = ap.parse_args()

    workdir = os.path.join(args.workdir_base or tempfile.gettempdir(),
                           f"ofl_scale_{uuid.uuid4().hex[:8]}")
    os.makedirs(workdir)

    prep = run_proc(_WORKER.format(repo=REPO, cpus=args.m, rows=args.rows,
                                   workdir=workdir, mode="prepare",
                                   gate=args.gate))

    # INTERLEAVED repeats (lo, hi, lo, hi, ...): the host's shared-tenancy
    # phases drift on minute scales, so consecutive same-level repeats
    # would let one level monopolize a fast phase; min-of-N per level
    runs: dict[int, list[dict]] = {args.n: [], args.m: []}
    for _ in range(max(args.repeats, 1)):
        for cpus in (args.n, args.m):
            runs[cpus].append(run_proc(_WORKER.format(
                repo=REPO, cpus=cpus, rows=args.rows,
                workdir=workdir, mode="run", gate=args.gate)))

    def best_of(cpus: int) -> dict:
        best = min(runs[cpus], key=lambda r: r["engine_ms"])
        best["all_engine_ms"] = [r["engine_ms"] for r in runs[cpus]]
        return best

    lo = best_of(args.n)
    hi = best_of(args.m)

    ratio = args.m / args.n
    eff = (hi["clips_per_sec"] / lo["clips_per_sec"]) / ratio
    result = {
        "rows": args.rows,
        "gate": args.gate,
        "prepared": prep,
        f"local[{args.n}]": lo,
        f"local[{args.m}]": hi,
        "speedup": round(hi["clips_per_sec"] / lo["clips_per_sec"], 3),
        "parallelism_ratio": ratio,
        "scaling_efficiency": round(eff, 3),
    }
    print(json.dumps(result, indent=2))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(result, f, indent=2)


if __name__ == "__main__":
    main()
