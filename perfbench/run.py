"""Lakehouse benchmark launcher.

    python3 perfbench/run.py --workload maintain|upsert --seed N \
        --seconds S --trace 0|1

Run from the repository root.  Sizes Spark to the host (``local[nproc]``,
shuffle partitions = cores, driver heap via ``OFL_DRIVER_MEMORY``), keeps
every file the run writes under a per-run directory in the checkout that
is deleted afterwards, runs ``workload.py`` as a child process, samples the
memory (PSS) of the child's whole process tree (Python driver, JVM,
Python workers) from ``/proc``, stops every process it started, and prints
one JSON line: ``correct``, ``attempted``, ``failed`` and ``metrics``.
Exits non-zero without a result line when the engine package is missing
or the run fails; a wrong answer prints ``"correct": false`` and exits 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PACKAGE = "open_finance_lakehouse_spark"
DRIVER_MEMORY = "2g"
RUN_TIMEOUT_S = 170
SAMPLE_EVERY_S = 0.1


def tree_pss_bytes(root_pid: int) -> int:
    """Summed proportional set size of ``root_pid`` and its descendants:
    pages the forked Python workers share with their daemon count once."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from ``/proc/stat``."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


class PeakSampler(threading.Thread):
    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak = pid, 0
        self._stop_evt = threading.Event()

    def run(self):
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, tree_pss_bytes(self.pid))
            self._stop_evt.wait(SAMPLE_EVERY_S)

    def stop(self):
        self._stop_evt.set()
        self.join()


def session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid``.  Spark's Python worker daemon
    moves itself to its own process group, but it stays in the session."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def stop_session(proc: subprocess.Popen) -> None:
    """Kill every process the child started (JVM, Python workers) and wait
    until each has exited.  Nothing of theirs outlives the run: the run
    directory is deleted next, so an orderly JVM shutdown would only add
    seconds to every run."""
    while True:
        pids = session_pids(proc.pid)
        if not pids:
            break
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        proc.poll()  # reap the child so it does not linger as a zombie
        time.sleep(0.05)
    proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(REPO, PACKAGE)):
        print(f"{PACKAGE}/ not found next to {os.path.basename(HERE)}/",
              file=sys.stderr)
        return 2

    cores = os.cpu_count() or 1
    run_dir = os.path.join(REPO, ".perfbench_run",
                           f"{a.workload}-{a.seed}-{uuid.uuid4().hex[:8]}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "OFL_DRIVER_MEMORY": DRIVER_MEMORY,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": REPO + (os.pathsep + env["PYTHONPATH"]
                              if env.get("PYTHONPATH") else ""),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONHASHSEED": "0",
    })
    out = os.path.join(run_dir, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "workload.py"),
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--root", run_dir, "--out", out, "--cores", str(cores)]
    proc = subprocess.Popen(cmd, env=env, cwd=run_dir,
                            stdout=sys.stderr, start_new_session=True)
    steal0, total0 = cpu_ticks()
    sampler = PeakSampler(proc.pid)
    sampler.start()
    # a launcher stopped by a signal still stops its child's processes
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda *_: sys.exit(143))
    code = result = None
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
        with open(out) as f:
            result = json.load(f)
    except (subprocess.TimeoutExpired, OSError, ValueError):
        pass
    finally:
        sampler.stop()
        stop_session(proc)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass

    # CPU time the hypervisor gave to other guests during the run: runs
    # taken under steal read slow, and this line tells them apart
    steal1, total1 = cpu_ticks()
    steal = 100 * (steal1 - steal0) / max(1, total1 - total0)
    print(f"host steal: {steal:.1f}% of CPU time", file=sys.stderr)
    if code != 0 or result is None:
        print(f"workload run failed (exit {code})", file=sys.stderr)
        return 1
    for err in result.get("errors", []):
        print(f"op failed: {err}", file=sys.stderr)
    for key, values in result.get("samples", {}).items():
        print(f"samples {key}: {[round(v, 4) for v in values]}",
              file=sys.stderr)
    if not result["correct"]:
        print(f"wrong answer: {result.get('wrong_answer')}", file=sys.stderr)
    metrics = result["metrics"]
    if not a.trace:
        metrics["peak_rss_mb"] = {"value": sampler.peak / (1024 * 1024),
                                  "unit": "MB"}
    print(json.dumps({"correct": result["correct"],
                      "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
