"""SparkSession builder with pinned, deterministic configuration.

Mirrors the reference's discipline of an explicit session-config module
(/root/reference/ofl/platform/spark.py:18-54 and
/root/reference/ofl/streaming/bronze.py:61-77 pin shuffle partitions,
case sensitivity, and memory rather than trusting defaults) — re-expressed
for a maintenance engine that must scale from local[8] smoke runs to a
multi-executor cluster:

- AQE on (runtime coalesce + skew-join splitting) so the same plan survives
  a 100x scale-up without retuning static shuffle partition counts;
- Arrow enabled for the vectorized pandas-UDF kernels (the only Python in
  any hot path);
- UTC session timezone so DuckDB-oracle comparisons are stable;
- shuffle partitions default to the local core count (overridable) —
  on a real cluster this is executors*cores*2-3, and AQE coalesces down.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def package_zip(dest_dir: str | None = None) -> str:
    """Zip this package for ``spark-submit --py-files`` shipment.

    The same artifact is attached automatically by ``build_session`` via
    ``sc.addPyFile`` so Python workers can import the engine regardless of
    the driver's working directory — in cluster mode this is the
    ``--py-files`` argument (north_rule packaging requirement).

    The artifact name is CONTENT-ADDRESSED: two concurrent sessions on
    one host (a bench run next to a test run) would otherwise clobber a
    shared fixed path while the other's executors fetch it — Spark then
    fails every task with 'exists and does not match contents'. Writes
    land via a unique tmp name + atomic rename so a half-written zip is
    never visible under its final name."""
    import hashlib

    pkg_root = os.path.dirname(os.path.abspath(__file__))
    base = os.path.basename(pkg_root)
    entries = []
    h = hashlib.sha256()
    for root, _dirs, names in os.walk(pkg_root):
        if "__pycache__" in root:
            continue
        for n in sorted(names):
            if n.endswith(".py"):
                ap = os.path.join(root, n)
                rel = os.path.join(base, os.path.relpath(ap, pkg_root))
                with open(ap, "rb") as f:
                    data = f.read()
                h.update(rel.encode())
                h.update(data)
                entries.append((rel, data))
    digest = h.hexdigest()[:16]
    d = dest_dir or tempfile.gettempdir()
    os.makedirs(d, exist_ok=True)
    dest = os.path.join(d, f"open_finance_lakehouse_spark-{digest}.zip")
    if os.path.exists(dest):
        return dest  # same content, same name: reuse
    tmp = f"{dest}.tmp-{os.getpid()}"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for rel, data in entries:
            # pinned timestamp => byte-identical zips for identical
            # sources, so two racing creators of the same name replace
            # it with the SAME bytes and executor caches never mismatch
            zi = zipfile.ZipInfo(rel, date_time=(1980, 1, 1, 0, 0, 0))
            zi.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(zi, data)
    os.replace(tmp, dest)
    return dest


def build_session(
    app_name: str = "ofl_spark_engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with the engine's pinned config."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # In local[N] mode parallelism == N; shuffle partitions should track it.
    n = master[master.find("[") + 1 : master.find("]")] if "[" in master else cpus
    if n == "*":
        n = str(os.cpu_count() or 8)
    shuffle = str(shuffle_partitions or n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.default.parallelism", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # the overlapped SNR gate (run_maintenance, snr_gate="overlap")
        # runs its audit job from a second thread beside the cluster
        # rewrite; FAIR lets the two share the executors
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.caseSensitive", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # lz4_raw: measured 2-4x faster than snappy/zstd on the ~60KB binary
        # audio payloads that dominate rewrite IO (audio compresses little;
        # encode speed is what matters). The _raw variant (parquet-spec
        # LZ4_RAW) is what independent readers (DuckDB/arrow witnesses)
        # can decode — hadoop-framed "lz4" is Spark-only.
        .config("spark.sql.parquet.compression.codec", "lz4_raw")
        # INT96 (the legacy default) carries NO parquet min/max statistics,
        # which silently disables every manifest-stats prune on TIMESTAMP
        # columns (trade_time, window_start) — the incremental silver's
        # file skipping depends on them. INT64 micros is also what
        # independent readers (DuckDB/arrow) expect.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # lets Python data sources (format("frost")) receive pushed filters
        # for manifest-stats file pruning (off by default in Spark 4)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", "false")
        # measured: an oversized heap (48g) makes local[32] rewrites 5x
        # SLOWER than 8-12g (GC/page-commit pathology scales with threads x
        # heap); size to the working set, not the machine
        .config("spark.driver.memory", os.environ.get("OFL_DRIVER_MEMORY", "12g"))
        # binary audio payloads make rows wide; keep Arrow batches bounded
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
    )
    # The Python DATA SOURCE runner (plans format("frost") reads) is a
    # driver-side python subprocess of the JVM: it sees PYTHONPATH, not
    # sc.addPyFile. Export the package's parent dir BEFORE the JVM starts
    # so that runner can unpickle our DataSource classes; executors are
    # covered by the --py-files zip below. (No effect if a JVM already
    # exists — spark-submit sets the equivalent itself via --py-files.)
    pkg_parent = os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + existing if existing else ""))

    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addPyFile(package_zip())  # --py-files equivalent
    # register format("frost") on every engine session: Delta/Iceberg get
    # their source registered by the session extension jars; the Python
    # data source's equivalent is this one registry call. Without it a
    # user's first spark.read.format("frost") dies with
    # DATA_SOURCE_NOT_FOUND. Import is deferred (frost_source imports
    # pandas/pyarrow) and re-registration over an existing session is a
    # no-op overwrite, so getOrCreate() reuse stays safe.
    from open_finance_lakehouse_spark.streaming.frost_source import (
        register_frost_source,
    )

    register_frost_source(spark)
    return spark
