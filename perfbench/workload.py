"""One benchmark run inside one Spark driver process.

Started by ``run.py`` (which sizes the session and samples memory); writes
its result as JSON to ``--out``.  Workloads (one client, closed loop):

- ``maintain``: land a clip table as small appends of many small files,
  run the full maintenance pipeline once (clustering, overlapped SNR gate,
  parity gate, expire + orphan GC), run the read mix on the clustered
  result for ``--seconds``, then retention deletes.
- ``upsert``: land a small table, then one write round (append, skewed CDC
  ``merge_into``), the read mix for ``--seconds`` with lookups of the keys
  just written, a retention delete, and compaction + expire + GC.

Every answer is checked against ``gen.Model`` or an unpruned read of the
live files; a wrong answer raises ``WrongAnswer`` and fails the run.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import statistics
import sys
import threading
import time
import traceback
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import spans  # noqa: E402

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from open_finance_lakehouse_spark.format.table import (  # noqa: E402
    ColumnRange, CommitConflict, LakeTable,
)
from open_finance_lakehouse_spark.plans.ledger import (  # noqa: E402
    CheckpointLedger,
)
from open_finance_lakehouse_spark.session import build_session  # noqa: E402


def _module(name: str):
    # the operators package re-exports functions under their modules'
    # names; calls go through the module so the traced run can wrap them
    return importlib.import_module(
        f"open_finance_lakehouse_spark.operators.{name}")


delete_mod, merge_mod, pipeline = (
    _module(m) for m in ("delete_where", "merge_into", "pipeline"))

BUCKETS = 4
MiB = 1024 * 1024
T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


class WrongAnswer(AssertionError):
    pass


def check(ok: bool, what: str) -> None:
    if not ok:
        raise WrongAnswer(what)


class Bench:
    def __init__(self, spark, root: str, seed: int, rec):
        self.spark, self.root, self.seed, self.rec = spark, root, seed, rec
        self.attempted = self.failed = self.conflicts = 0
        self.errors: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.jobs: dict[str, list[int]] = {}
        self.space_amp = 0.0
        self.final_table: LakeTable | None = None
        self._n = 0

    def sample(self, key: str, value: float) -> None:
        self.samples.setdefault(key, []).append(value)

    def med(self, key: str) -> float:
        """Median of ``key``'s samples; a key with none raises, so an
        operation that never completed cannot read as a fast one."""
        return statistics.median(self.samples[key])

    def _job_ids(self, group: str) -> set[int]:
        # jobs the engine starts on its own worker threads carry no group
        st = self.spark.sparkContext.statusTracker()
        return set(st.getJobIdsForGroup(group)) | set(
            st.getJobIdsForGroup(None))

    @contextmanager
    def op(self, kind: str):
        """One attempted operation.  Exceptions are counted as failed ops
        (``CommitConflict`` also separately) and the loop moves on; wrong
        answers propagate and fail the run.  An untraced run with any
        failed op fails too (see ``main``)."""
        self.attempted += 1
        self._n += 1
        sp = group = before = None
        if self.rec is not None:
            group = f"perfbench-{kind}-{self._n}"
            self.spark.sparkContext.setJobGroup(group, kind)
            before = self._job_ids(group)
            sp = self.rec.open(f"op.{kind}", op=True)
        err = None
        try:
            yield
        except WrongAnswer:
            raise
        except Exception as e:
            err = e
            self.failed += 1
            self.conflicts += isinstance(e, CommitConflict)
            self.errors.append(f"{kind}: {e!r}")
            log(traceback.format_exc())
        finally:
            if self.rec is not None:
                self.rec.close(sp, err)
                self.jobs.setdefault(kind, []).append(
                    len(self._job_ids(group) - before))
                self.spark.sparkContext.setJobGroup("perfbench-idle", "idle")

    # ---------------------------------------------------------- table ops

    def create(self, name: str, props: dict) -> LakeTable:
        return LakeTable.create(
            self.spark, os.path.join(self.root, "tables", name), name,
            "clip_id STRING, bytes BINARY, sr_hz INT, dur_ms INT, "
            "codec STRING, transcript STRING",
            partition_spec={"kind": "bucket", "column": "clip_id",
                            "num_buckets": BUCKETS},
            maintenance=props)

    def read_batch(self, path: str):
        return self.spark.read.parquet(path)

    def lookup(self, t: LakeTable, model: gen.Model, cid: str) -> None:
        with self.op("lookup"):
            t0 = time.perf_counter()
            rows = t.scan(predicates=[ColumnRange("clip_id", values=(cid,))]
                          ).collect()
            self.sample("lookup_ms", (time.perf_counter() - t0) * 1000)
            if cid not in model.rows:
                check(not rows, f"lookup {cid}: deleted key returned")
                return
            check(len(rows) == 1, f"lookup {cid}: {len(rows)} rows")
            r = rows[0]
            check(model.matches(cid, r.sr_hz, r.dur_ms, r.codec, r.transcript,
                                bytes(r.bytes)), f"lookup {cid}: wrong row")

    def range_count(self, t: LakeTable, model: gen.Model, lo: int, hi: int,
                    sr: int) -> None:
        with self.op("range"):
            t0 = time.perf_counter()
            n = t.scan(predicates=[ColumnRange("dur_ms", lo=lo, hi=hi),
                                   ColumnRange("sr_hz", values=(sr,))]).count()
            self.sample("range_ms", (time.perf_counter() - t0) * 1000)
            want = model.range_count(lo, hi, sr)
            check(n == want, f"range [{lo},{hi}]x{sr}: {n} rows, model {want}")

    def payload_scans(self, t: LakeTable, model: gen.Model) -> None:
        """``sum(length(bytes))`` filtered on each codec in turn, so every
        seed reads all the live payload."""
        for codec in gen.CODECS:
            with self.op("scan"):
                t0 = time.perf_counter()
                got = t.scan(predicates=[ColumnRange("codec",
                                                     values=(codec,))]) \
                    .agg(F.sum(F.length("bytes"))).first()[0] or 0
                self.sample("scan_s", time.perf_counter() - t0)
                self.sample("scan_bytes", got)
                check(got == model.payload_bytes(codec),
                      f"payload scan {codec}: {got} bytes, model "
                      f"{model.payload_bytes(codec)}")

    def retention_delete(self, t: LakeTable, model: gen.Model,
                         ledger: CheckpointLedger, rng, job_id: str,
                         rows: int) -> None:
        """``delete_where`` on a dur_ms band the model says holds at least
        ``rows`` live clips (the narrowest band from a seeded start that
        does), so every seed deletes about the same amount."""
        counts: dict[int, int] = {}
        for r in model.rows.values():
            counts[r.dur_ms] = counts.get(r.dur_ms, 0) + 1
        durs = sorted(counts)
        start = int(rng.integers(0, len(durs) // 2))
        lo, n = durs[start], 0
        for hi in durs[start:]:
            n += counts[hi]
            if n >= rows:
                break
        with self.op("delete"):
            t0 = time.perf_counter()
            d = delete_mod.delete_where(
                t, ledger, job_id,
                predicates=[ColumnRange("dur_ms", lo=lo, hi=hi)])
            dt = time.perf_counter() - t0
            gone = [c for c, r in model.rows.items() if lo <= r.dur_ms <= hi]
            check(d["rows_deleted"] == len(gone),
                  f"delete [{lo},{hi}]: {d['rows_deleted']} rows, model "
                  f"{len(gone)}")
            model.delete(gone)
            self.sample("delete_s", dt)
            self.sample("write_s", dt)
            self.sample("rows_written", len(gone))
            full = d["files_full_dropped"]
            self.sample("delete_drop_ratio",
                        full / max(1, full + d["files_rewritten"]))

    def unpruned_counts(self, t: LakeTable, bands: list[tuple]) -> list[int]:
        """Range counts over every live file with no file planning: the
        oracle the pruned scans must agree with."""
        paths = [os.path.join(t.location, f.file_path)
                 for f in t.live_files()]
        aggs = [F.sum(((F.col("dur_ms") >= lo) & (F.col("dur_ms") <= hi)
                       & (F.col("sr_hz") == sr)).cast("int")).alias(f"b{i}")
                for i, (lo, hi, sr) in enumerate(bands)]
        row = self.spark.read.parquet(*paths).agg(*aggs).first()
        return [int(row[f"b{i}"] or 0) for i in range(len(bands))]

    def verify_table(self, t: LakeTable, model: gen.Model) -> None:
        """Full key set and latest values against the model."""
        with self.op("verify"):
            got = {r.clip_id: r for r in t.scan().select(
                "clip_id", "sr_hz", "dur_ms", "codec", "transcript",
                F.length("bytes").alias("n"), F.crc32("bytes").alias("crc"),
            ).collect()}
            check(set(got) == set(model.rows),
                  f"key set: {len(got)} keys, model {len(model.rows)}")
            for cid, r in got.items():
                m = model.rows[cid]
                check((r.sr_hz, r.dur_ms, r.codec, r.transcript, r.n, r.crc)
                      == (m.sr_hz, m.dur_ms, m.codec, m.transcript, m.nbytes,
                          m.crc), f"row {cid}: stale or wrong values")

    def measure_space_amp(self, t: LakeTable) -> float:
        """Bytes under the table root / live data-file bytes."""
        on_disk = sum(os.path.getsize(os.path.join(d, n))
                      for d, _, names in os.walk(t.location) for n in names)
        return on_disk / sum(f.file_size_bytes for f in t.live_files())

    def land(self, name: str, batches: list[str], props: dict,
             records_per_file: int) -> LakeTable:
        """One set-up: create the table and append each landing batch."""
        with self.op("setup"):
            t0 = time.perf_counter()
            t = self.create(name, props)
            for path in batches:
                t.append(self.read_batch(path),
                         max_records_per_file=records_per_file)
            self.sample("setup_s", time.perf_counter() - t0)
            log(f"landed {name} in {self.samples['setup_s'][-1]:.2f}s")
            return t
        raise RuntimeError(f"set-up of {name} failed: {self.errors[-1]}")


# ------------------------------------------------------------- workloads

MAINTAIN = dict(clips=480, appends=2, dur_max_ms=2000, records_per_file=8,
                setups=2, deletes=2, delete_rows=60)
MAINT_PROPS = {"gc_grace_ms": 0, "snr_gate": "overlap", "parity_gate": True,
               "target_bytes": 8 * MiB, "retain_last": 1, "curve": "zorder"}

UPSERT = dict(clips=480, appends=2, dur_max_ms=1000, records_per_file=20,
              setups=2, append_rows=16, cdc_rows=80, delete_rows=24)
# the write lane's table is compacted, not clustered, and runs no gates
UPSERT_PROPS = {"gc_grace_ms": 0, "target_bytes": 8 * MiB, "retain_last": 1,
                "salt_count": 1, "curve": "none"}


def landing_batches(root: str, tag: str, cols: dict, parts: int
                    ) -> list[str]:
    per = len(cols["clip_id"]) // parts
    return [gen.write_batch(
        os.path.join(root, "landing", f"{tag}{k}.parquet"),
        {c: v[k * per:(k + 1) * per] for c, v in cols.items()})
        for k in range(parts)]


def prepare(root: str, seed: int, spec: dict, stream: int) -> dict:
    """Seeded table contents, the model of them, and landing files."""
    rng = gen.rng_for(seed, stream)
    cols = gen.make_rows(gen.clip_ids(seed, 0, spec["clips"], rng), rng,
                         spec["dur_max_ms"])
    model = gen.Model()
    model.upsert(cols)
    return {"rng": rng, "model": model,
            "batches": landing_batches(root, "t", cols, spec["appends"])}


def read_mix(b: Bench, t: LakeTable, model: gen.Model, rng, seconds: float,
             dur_max_ms: int, next_key) -> list[tuple]:
    """Closed-loop reads from a seeded deck of 10 point lookups, 4
    dur_ms x sr_hz range counts and one payload scan of every codec: the
    first deck in full, then until ``seconds`` have passed.  Returns the
    range bands for the unpruned check."""
    bands: list[tuple] = []
    deck = ["lookup"] * 10 + ["range"] * 4 + ["scan"]
    end = time.perf_counter() + seconds
    first = True
    while first or time.perf_counter() < end:
        for kind in rng.permutation(deck):
            if not first and time.perf_counter() >= end:
                break
            if kind == "lookup":
                b.lookup(t, model, next_key())
            elif kind == "range":
                lo = int(rng.integers(200, dur_max_ms - 150))
                bands.append((lo, lo + 150, int(rng.choice(gen.SAMPLE_RATES))))
                b.range_count(t, model, *bands[-1])
            else:
                b.payload_scans(t, model)
        first = False
    return bands


def workload_maintain(b: Bench, inp: dict, seconds: float) -> None:
    p, rng, model = MAINTAIN, inp["rng"], inp["model"]
    # every set-up lands the same input; maintenance runs on the last one
    t = [b.land(f"clips{i}", inp["batches"], MAINT_PROPS,
                p["records_per_file"]) for i in range(p["setups"])][-1]
    ledger = CheckpointLedger(os.path.join(b.root, "ledger"))
    with b.op("maintenance"):
        t0 = time.perf_counter()
        m = pipeline.run_maintenance(t, ledger, job_id="maint",
                                     with_audit=False)
        dt = time.perf_counter() - t0
        gates = m["gates"]
        check(not m["gate_failed"] and gates.get("snr_violations") == 0
              and gates.get("parity_violations") == 0,
              f"maintenance gates: {gates}")
        b.sample("maintenance_clips_per_s", m["clips"] / dt)
        b.sample("snr_ms", gates["snr_audit_ms"])
        b.sample("parity_ms", gates["parity_ms"])
        b.sample("cluster_bytes_out", m["stages"]["cluster"]["bytes_out"])
        log(f"maintenance: {dt:.2f}s")
    b.space_amp = b.measure_space_amp(t)

    keys = sorted(model.rows)
    bands = read_mix(b, t, model, rng, seconds, p["dur_max_ms"],
                     lambda: keys[int(rng.integers(len(keys)))])
    log("served")
    with b.op("verify"):
        check(b.unpruned_counts(t, bands)
              == [model.range_count(*band) for band in bands],
              "range counts differ from the unpruned read")

    for k in range(p["deletes"]):
        b.retention_delete(t, model, ledger, rng, f"retention-{k}",
                           p["delete_rows"])
    b.verify_table(t, model)
    b.final_table = t


def cdc_batch(seed: int, model: gen.Model, rng, next_id: int
              ) -> tuple[dict, tuple[list, list, list]]:
    """Skewed CDC: half updates (hot-prefix keys twice as likely), a
    quarter inserts, a quarter deletes; one version per key."""
    n = UPSERT["cdc_rows"]
    keys = sorted(model.rows)
    w = np.array([2.0 if k.startswith("clip-hot") else 1.0
                      for k in keys])
    pick = rng.choice(len(keys), size=n // 2 + n // 4, replace=False,
                      p=w / w.sum())
    upd = [keys[i] for i in pick[: n // 2]]
    dele = [keys[i] for i in pick[n // 2:]]
    ins = gen.clip_ids(seed, next_id, n // 4, rng)
    cols = gen.make_rows(upd + ins, rng, UPSERT["dur_max_ms"])
    dcols = gen.make_rows(dele, rng, UPSERT["dur_max_ms"])
    out = {c: cols[c] + dcols[c] for c in cols}
    out["op"] = ["U"] * len(cols["clip_id"]) + ["D"] * len(dele)
    out["seq"] = [1] * len(out["clip_id"])
    return out, (upd, ins, dele)


def workload_upsert(b: Bench, inp: dict, seconds: float) -> None:
    p, rng, model = UPSERT, inp["rng"], inp["model"]
    t = [b.land(f"clips{i}", inp["batches"], UPSERT_PROPS,
                p["records_per_file"]) for i in range(p["setups"])][-1]
    ledger = CheckpointLedger(os.path.join(b.root, "ledger"))
    landing = os.path.join(b.root, "landing")

    new = gen.clip_ids(b.seed, p["clips"], p["append_rows"], rng)
    acols = gen.make_rows(new, rng, p["dur_max_ms"])
    path = gen.write_batch(os.path.join(landing, "append.parquet"), acols)
    with b.op("append"):
        t0 = time.perf_counter()
        t.append(b.read_batch(path))
        b.sample("write_s", time.perf_counter() - t0)
        b.sample("rows_written", len(new))
        model.upsert(acols)

    src, (upd, ins, dele) = cdc_batch(b.seed, model, rng,
                                      p["clips"] + len(new))
    path = gen.write_batch(os.path.join(landing, "cdc.parquet"), src,
                           cdc=True)
    with b.op("merge"):
        t0 = time.perf_counter()
        m = merge_mod.merge_into(t, b.read_batch(path), ledger, "cdc",
                                 f"cdc-{b.seed}")
        dt = time.perf_counter() - t0
        check(m["partitions_conflicted"] == 0, f"merge conflicted: {m}")
        model.upsert({c: src[c][: len(upd) + len(ins)]
                      for c in gen.ARROW_SCHEMA.names})
        model.delete(dele)
        for key, v in (("merge_s", dt), ("write_s", dt),
                       ("rows_written", len(src["op"])),
                       ("merge_rows_changed", len(src["op"])),
                       ("merge_files_in", m["files_in"]),
                       ("merge_bytes_out", m["bytes_out"]),
                       ("merge_src_bytes", sum(map(len, src["bytes"]))),
                       ("merge_rows_out", m["rows"])):
            b.sample(key, v)

    # read your writes: lookups cycle through updated, inserted and
    # deleted keys
    written = [k for trio in zip(upd, ins, dele) for k in trio]
    bands = read_mix(b, t, model, rng, seconds, p["dur_max_ms"],
                     lambda: written[int(rng.integers(len(written)))])
    with b.op("verify"):
        check(b.unpruned_counts(t, bands)
              == [model.range_count(*band) for band in bands],
              "range counts differ from the unpruned read")
    b.retention_delete(t, model, ledger, rng, "retention", p["delete_rows"])

    with b.op("maintenance"):
        t0 = time.perf_counter()
        m = pipeline.run_maintenance(t, ledger, job_id="maint",
                                     with_audit=False)
        b.sample("maintenance_clips_per_s",
                 m["clips"] / (time.perf_counter() - t0))
        check(not m["gate_failed"], f"maintenance gates: {m['gates']}")
    b.space_amp = b.measure_space_amp(t)
    b.verify_table(t, model)
    b.final_table = t


# name -> (sizes, generator stream, run, the samples write_p50_s reports)
WORKLOADS = {"maintain": (MAINTAIN, 1, workload_maintain, "delete_s"),
             "upsert": (UPSERT, 2, workload_upsert, "merge_s")}


# ---------------------------------------------------------------- report


def end_to_end(b: Bench, write_lat: str) -> dict:
    return {
        "setup_s": (b.med("setup_s"), "s"),
        "maintenance_clips_per_s": (b.med("maintenance_clips_per_s"),
                                    "clips/s"),
        "write_p50_s": (b.med(write_lat), "s"),
        "write_rows_per_s": (sum(b.samples["rows_written"])
                             / sum(b.samples["write_s"]), "rows/s"),
        "lookup_p50_ms": (b.med("lookup_ms"), "ms"),
        "range_scan_p50_ms": (b.med("range_ms"), "ms"),
        "scan_mb_per_s": (sum(b.samples["scan_bytes"]) / MiB
                          / sum(b.samples["scan_s"]), "MB/s"),
        "space_amp": (b.space_amp, "ratio"),
    }


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _med0(b: Bench, key: str) -> float:
    """Per-layer metrics of a layer the workload does not use read 0."""
    return b.med(key) if key in b.samples else 0.0


def per_layer(b: Bench, rec: spans.Recorder) -> dict:
    from open_finance_lakehouse_spark.operators.cluster import (
        clustering_quality,
    )

    t = b.final_table.refresh()
    live = t.live_files()
    live_bytes = sum(f.file_size_bytes for f in live)

    def ms(name):
        return (_mean(s.ms for s in rec.named(name)), "ms")

    def selected(op):
        return (_mean(s.attrs["selected"]
                      for s in rec.under(op, "format.plan_files")), "files")

    def jobs(kind):
        return (_mean(b.jobs.get(kind, [])), "jobs")

    def ratio(num, den):
        d = sum(b.samples.get(den, []))
        return (sum(b.samples.get(num, [])) / d if d else 0.0, "ratio")

    out = {
        "format.plan_files_ms": ms("format.plan_files"),
        "format.manifests_read_per_plan": (
            rec.count_within("format.read_manifest", "format.plan_files")
            / max(1, len(rec.named("format.plan_files"))), "manifests"),
        "format.files_selected_per_lookup": selected("op.lookup"),
        "format.files_selected_per_range": selected("op.range"),
        "format.commit_ms": ms("format.commit"),
        "format.commit_conflicts": (
            sum(s.error == "FileExistsError"
                for s in rec.named("format.write_metadata")) + b.conflicts,
            "count"),
        "format.metadata_json_bytes": (rec.counts["metadata_json_bytes"],
                                       "bytes"),
        "format.stage_ms": ms("format.stage"),
        "format.live_files": (len(live), "files"),
        "format.live_manifests": (len(t.meta.snapshot().manifests), "count"),
        "format.expire_snapshots_ms": ms("format.expire_snapshots"),
        "format.delete_orphans_ms": ms("format.delete_orphans"),
        "format.orphans_deleted": (rec.counts["orphans_deleted"], "files"),
        "operators.cluster_ms": ms("operators.cluster"),
        "operators.cluster.bytes_rewritten_per_live_byte": (
            _med0(b, "cluster_bytes_out") / live_bytes, "ratio"),
        "operators.cluster.dur_ms_overlap": (clustering_quality(t, "dur_ms"),
                                             "ratio"),
        "operators.audit.snr_ms": (_med0(b, "snr_ms"), "ms"),
        "operators.audit.parity_ms": (_med0(b, "parity_ms"), "ms"),
        "operators.expire_ms": ms("operators.expire"),
        "operators.merge_into_ms": ms("operators.merge_into"),
        "operators.merge_into.files_rewritten": (_med0(b, "merge_files_in"),
                                                 "files"),
        "operators.merge_into.bytes_written_per_source_byte": ratio(
            "merge_bytes_out", "merge_src_bytes"),
        "operators.merge_into.rows_rewritten_per_row_changed": ratio(
            "merge_rows_out", "merge_rows_changed"),
        "operators.delete_where_ms": ms("operators.delete_where"),
        "operators.delete_where.metadata_drop_ratio": (
            _med0(b, "delete_drop_ratio"), "ratio"),
        "operators.append_ms": ms("operators.append"),
        "plans.ledger.upsert_ms": ms("plans.ledger.upsert"),
        "plans.ledger.records": (len(rec.named("plans.ledger.upsert")),
                                 "count"),
        "spark.jobs_per_lookup": jobs("lookup"),
        "spark.jobs_per_merge": jobs("merge"),
        "spark.jobs_per_maintenance": jobs("maintenance"),
        "error_rate": (b.failed / b.attempted, "ratio"),
    }
    selfs = rec.self_times()
    for name in spans.SELF_TIME_SPANS:
        out[f"self_ms.{name}"] = (selfs.get(name, 0.0), "ms")
    return out


def kernel_metrics(spark) -> dict:
    """Driver-side calls on fixed batches: executor-side kernels cannot be
    timed from the driver inside a Spark job."""
    from open_finance_lakehouse_spark.functions import audio, curves, xxh64
    from open_finance_lakehouse_spark.sources import synth

    rng = np.random.default_rng(7)
    waves = [audio.synth_wave(int(s), 16000, 16000)
             for s in rng.integers(0, 2**62, 32)]
    payloads = [audio.encode(w, "pcm16") for w in waves]
    t0 = time.perf_counter()
    for w, pl in zip(waves, payloads):
        audio.snr_db(w, audio.decode(pl, "pcm16"))
    snr = sum(map(len, payloads)) / MiB / (time.perf_counter() - t0)

    n = 200_000
    a, b, c = (rng.integers(0, 1 << 20, n, dtype=np.int64) for _ in range(3))
    t0 = time.perf_counter()
    curves.morton3(a, b, c)
    curves.hilbert_axes_to_key(np.stack([a, b, c], axis=1))
    curve_kps = 2 * n / (time.perf_counter() - t0)

    keys = [f"clip-{i:012d}" for i in range(50_000)]
    t0 = time.perf_counter()
    xxh64.bucket_of(keys, "string", BUCKETS)
    xxh_kps = len(keys) / (time.perf_counter() - t0)

    t0 = time.perf_counter()
    synth.synth_clips(spark, 200, dur_max_ms=1000).count()
    return {
        "functions.audio.snr_mb_per_s": (snr, "MB/s"),
        "functions.curves.keys_per_s": (curve_kps, "keys/s"),
        "functions.xxh64.keys_per_s": (xxh_kps, "keys/s"),
        "sources.synth_s": (time.perf_counter() - t0, "s"),
    }


OVERHEAD_PAIRS = 5


def overhead_pct(t: LakeTable, rec: spans.Recorder) -> float:
    """Traced minus untraced time of the same ``OVERHEAD_PAIRS`` lookups,
    alternated, as a share of the untraced time."""
    cids = [r.clip_id for r in t.scan().select("clip_id")
            .limit(OVERHEAD_PAIRS).collect()]
    on = off = 0.0
    for cid in cids:
        pred = [ColumnRange("clip_id", values=(cid,))]
        t0 = time.perf_counter()
        t.scan(predicates=pred).collect()
        on += time.perf_counter() - t0
        rec.uninstall()
        t0 = time.perf_counter()
        t.scan(predicates=pred).collect()
        off += time.perf_counter() - t0
        spans.install(rec)
    return (on - off) / off * 100.0


def start_session(a):
    """``build_session`` sized by the launcher, plus the session's first
    (slowest) job, so neither lands in a timed operation."""
    spark = build_session(
        "perfbench", master=f"local[{a.cores}]", shuffle_partitions=a.cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(a.root, "wh")})
    spark.range(a.cores).repartition(a.cores).count()
    return spark


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--root", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--cores", type=int, required=True)
    a = ap.parse_args()
    spec, stream, run, write_lat = WORKLOADS[a.workload]

    # the JVM starts, and runs its first (slowest) job, while the driver
    # generates the inputs
    box: dict = {}

    def start():
        try:
            box["spark"] = start_session(a)
        except BaseException as e:  # re-raised by the main thread
            box["error"] = e

    starter = threading.Thread(target=start)
    starter.start()
    inp = prepare(a.root, a.seed, spec, stream)
    starter.join()
    if "error" in box:
        raise box["error"]
    spark = box["spark"]
    spark.sparkContext.setLogLevel("ERROR")
    log("session up, inputs generated")

    rec = None
    if a.trace:
        rec = spans.Recorder()
        spans.install(rec)
    b = Bench(spark, a.root, a.seed, rec)
    result: dict = {"correct": True}
    try:
        run(b, inp, a.seconds)
        if rec is None:
            # the traced run reports failures as error_rate; here a
            # failed op fails the run, so a broken op cannot read as a
            # faster one
            check(b.failed == 0, f"{b.failed} of {b.attempted} ops failed")
            metrics = end_to_end(b, write_lat)
        else:
            metrics = per_layer(b, rec)
            metrics.update(kernel_metrics(spark))
            metrics["trace.overhead_pct"] = (
                overhead_pct(b.final_table, rec), "%")
            rec.uninstall()
    except WrongAnswer as e:
        result.update(correct=False, wrong_answer=str(e))
        metrics = {}
    result.update(attempted=b.attempted, failed=b.failed,
                  conflicts=b.conflicts, errors=b.errors[:20],
                  samples=b.samples,
                  metrics={k: {"value": v, "unit": u}
                           for k, (v, u) in metrics.items()})
    with open(a.out, "w") as f:
        json.dump(result, f)
    log("done")
    # no spark.stop(): run.py ends the JVM with the rest of the process
    # group, which saves the orderly shutdown's seconds on every run
    sys.stderr.flush()
    os._exit(0)


if __name__ == "__main__":
    sys.exit(main())
