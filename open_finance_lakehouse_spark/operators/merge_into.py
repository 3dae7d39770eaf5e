"""Copy-on-write MERGE INTO with salted skew mitigation.

Semantics follow the reference's keystone operator — natural-key upsert
``merge(source).whenMatchedUpdateAll().whenNotMatchedInsertAll()``
(/root/reference/ofl/transform/spark/silver.py:94-101, repeated for every
fact) — extended per the north_rule with a DELETE arm and explicit skew
handling for hot ``clip_id`` ranges:

Source contract: the table's columns plus
  ``op``  STRING  ∈ {'U','D'}   (upsert / delete)
  ``seq``  LONG    monotone version — ties broken deterministically.

Phases (the whole batch is one transaction: one staged write, one commit,
one snapshot — a reader or a crash sees the batch wholly applied or not at
all, the reference's one-transaction-per-batch Delta MERGE):

1. **Latest-per-key dedup, salted.** The reference dedups the merge source
   with one row_number window (/root/reference/ofl/transform/spark/silver.py:67-72);
   at 10^12-clip scale a hot clip_id repeated millions of times in the source
   makes that single groupBy's hottest reducer the job's critical path. We
   reduce in two stages: ``groupBy(clip_id, salt)`` partial ``max_by`` then
   ``groupBy(clip_id)`` final ``max_by`` — the classic salted two-phase
   combine; salt is a deterministic function of ``seq`` so replay is stable.
   ``max_by(struct(all), struct(seq, op))`` keeps the pick deterministic
   under shuffle (reference's min_by/max_by discipline,
   /root/reference/ofl/streaming/silver.py:110-114).

2. **File-level pruning, planned on the driver.** ONE grouped collect over
   the persisted deduped source returns, per bucket, the sorted distinct
   lead-key values (in the manifest stats domain) and the first invalid
   ``op``. A live file in a source bucket is touched iff its lead-key
   bounds are missing or some key of that bucket falls in [min, max].

3. **Copy-on-write join.** The touched files of every bucket full-outer-
   joined with the deduped source on the key (unique on both sides after
   dedup, so no join-key explosion; AQE skew-join splits any residual
   partition skew):
   matched+U → source row, matched+D → dropped, target-only → kept,
   source-only+U → insert, source-only+D → no-op.

4. **One commit** removes exactly the touched files and adds the output of
   one routed write (files sized to ``target_bytes``, the compaction bin
   discipline), then records one ledger record and one lineage entry for
   the batch. A concurrent rewrite of any touched file conflicts the whole
   batch: its staged output is discarded, nothing lands, and replaying the
   batch re-plans against the new head.
"""

from __future__ import annotations

import bisect
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from open_finance_lakehouse_spark.format.table import CommitConflict, LakeTable
from open_finance_lakehouse_spark.operators import binpack
from open_finance_lakehouse_spark.plans.ledger import (
    STATUS_COMMITTED,
    STATUS_CONFLICTED,
    STATUS_REWRITING,
    CheckpointLedger,
    CheckpointRecord,
    file_set_hash,
)

MERGE_EXTRA_COLS = ("op", "seq")


def _key_list(key) -> list[str]:
    """Normalize a natural key to a column list — the reference's keystone
    merges on composite keys like ``(series_id, date)`` / ``(symbol, date)``
    (/root/reference/ofl/transform/spark/silver.py:94-101,154-161), so the
    whole operator is ``str | list[str]``-generic."""
    return [key] if isinstance(key, str) else list(key)


def choose_salt_count(source: DataFrame, key="clip_id",
                      rows_per_reducer: int = 1_000_000,
                      sample_fraction: float | None = None) -> int:
    """Planner-chosen salt count from the observed hottest key (SURVEY.md
    §7.3: salt count from observed histograms, not a hardcoded constant).

    ``sample_fraction`` bounds the probe's cost at corpus scale: the hottest
    key's sampled count scales by 1/fraction (a uniform row sample preserves
    per-key proportions in expectation). Exact when None."""
    probe, scale = source, 1.0
    if sample_fraction and sample_fraction < 1.0:
        probe = source.sample(fraction=sample_fraction, seed=42)
        scale = 1.0 / sample_fraction
    hottest = (
        probe.groupBy(*_key_list(key)).count()
        .agg(F.max("count").alias("m")).first()["m"]
    )
    if not hottest:
        return 1
    return max(1, min(64, -(-int(int(hottest) * scale) // rows_per_reducer)))


def dedup_latest_salted(source: DataFrame, key="clip_id",
                        n_salts: int | None = None) -> DataFrame:
    """Two-phase salted latest-per-key reduction of the merge source.
    ``key`` may be a composite column list — the salt rides on the whole
    key tuple's groupBy, so a hot composite key splits the same way."""
    keys = _key_list(key)
    data_cols = [c for c in source.columns]
    if n_salts is None:
        n_salts = choose_salt_count(source, keys, sample_fraction=0.1)
    payload = F.struct(*[F.col(c) for c in data_cols]).alias("payload")
    rank = F.struct(F.col("seq"), F.col("op")).alias("rank")
    # the salt must vary WITHIN a key to split a hot key's rows across
    # reducers — seq alone collapses to one bucket whenever a batch
    # carries a constant version (run_merge emits seq=1 for every row).
    # monotonically_increasing_id varies per row; its task-dependent
    # values are fine because only the dedup RESULT must be stable and
    # max_by(payload, rank) is salt-independent.
    salted = source.select(
        *[F.col(k) for k in keys],
        F.pmod(F.xxhash64(F.col("seq").cast("string"),
                          F.monotonically_increasing_id()),
               F.lit(n_salts)).alias("__salt"),
        payload, rank,
    )
    partial = (
        salted.groupBy(*keys, "__salt")
        .agg(F.expr("max_by(payload, rank)").alias("payload"),
             F.max("rank").alias("rank"))
    )
    final = (
        partial.groupBy(*keys)
        .agg(F.expr("max_by(payload, rank)").alias("payload"))
        .select("payload.*")
    )
    return final


def _lead_key(table: LakeTable, key) -> str:
    """The key column that drives file-level range planning: the bucket
    column when the table is partitioned (each bucket's files carry its
    min/max), else the first key column."""
    keys = _key_list(key)
    part_col = (table.meta.partition_spec or {}).get("column")
    return part_col if part_col in keys else keys[0]


def _touches(bounds, keys: list) -> bool:
    """Whether a file whose lead-key stats are ``bounds`` may hold one of
    the sorted source ``keys``. Missing stats always touch."""
    if bounds is None or bounds[0] is None or bounds[1] is None:
        return True
    i = bisect.bisect_left(keys, bounds[0])
    return i < len(keys) and keys[i] <= bounds[1]


def merge_into(
    table: LakeTable,
    source: DataFrame,
    ledger: CheckpointLedger,
    job_id: str,
    source_token: str,
    n_salts: int | None = None,
    target_bytes: int | None = None,
    key: "str | list[str] | None" = None,
) -> dict:
    """Execute the salted MERGE on natural key ``key`` — a single column
    or a COMPOSITE column list (defaults to the table's bucket-partition
    column; the reference merges composite-keyed facts like
    ``(series_id, date)``, /root/reference/ofl/transform/spark/silver.py:
    94-101, so the operator is key-generic in both arity and name).
    Partitioned tables require the bucket column to be ONE of the key
    columns: planning prunes to each key's own bucket, range-plans files
    on the bucket column, and resolves the residual key columns row-level
    in the copy-on-write join.
    ``source_token`` fingerprints the source
    batch (e.g. its input-file hash) and is REQUIRED: the replay-skip key
    is (job_id, source_token), so an empty token would make two different
    batches under one job_id silently skip the second (the r1 ADVICE
    footgun — data loss).

    The batch lands as ONE snapshot or not at all. On a commit conflict
    the result reports every planned partition as conflicted and the
    table is unchanged; replaying the same batch re-plans it whole."""
    if not source_token:
        raise ValueError(
            "merge_into requires a non-empty source_token identifying the "
            "source batch (it keys idempotent replay; an empty token would "
            "no-op every later batch under the same job_id)")
    # plan against the CURRENT head: replaying a batch after it surrendered
    # to a concurrent rewrite must re-plan the touched files from the new
    # snapshot, not the stale handle's
    table.refresh()
    from open_finance_lakehouse_spark.operators.config import (
        maintenance_config,
    )

    cfg = maintenance_config(table)
    if target_bytes is None:
        target_bytes = cfg["target_bytes"]
    if n_salts is None:
        # declared salt policy beats the runtime probe (a table with a
        # KNOWN hot-key profile skips the sampling job entirely)
        n_salts = cfg["salt_count"]
    if key is None:
        spec = table.meta.partition_spec or {}
        key = spec.get("column", "clip_id")
    keys = _key_list(key)
    part_col = (table.meta.partition_spec or {}).get("column")
    if part_col is not None and part_col not in keys:
        # the plan matches files of the source key's own bucket only and
        # the write routes each row by the bucket column — both assume the
        # bucket-partition column is part of the merge key. Otherwise
        # matching target rows in other buckets stay unjoined: the upsert
        # would silently insert a duplicate instead of updating. Fail
        # loudly instead.
        raise ValueError(
            f"merge key {keys!r} must include the table's bucket-partition "
            f"column {part_col!r}: the partition-pruned merge plan only "
            "visits the key's own bucket")
    schema = table.schema()
    data_cols = schema.fieldNames()
    missing = [k for k in keys if k not in data_cols]
    if missing:
        raise ValueError(f"merge key columns {missing} not in the table "
                         f"schema {data_cols}")
    src = dedup_latest_salted(source, key=keys, n_salts=n_salts)

    # the spec the rows are ROUTED under while planning/staging; an
    # insert-only commit is conditional on it (a rewrite_partitioning
    # landing between staging and commit must conflict, not land
    # stale-routed files — the rewrite branch is already protected by
    # removed-file validation)
    plan_spec = table.meta.partition_spec
    # route each source row to its target partition (same function the
    # writer uses, so inserts land in the right bucket)
    src = src.withColumn("__part", table.partition_value_col())
    src.persist()
    try:
        # composite keys plan by RANGE OVERLAP ON THE LEADING KEY (the
        # bucket column when partitioned): file stats carry the leading
        # key's min/max, so the touch set is a superset of the true one;
        # the residual key columns resolve row-level in the join
        lead = _lead_key(table, keys)
        dtype = schema[lead].dataType.simpleString()
        # temporal keys compare in the stats domain: manifests store
        # date/timestamp min/max as epoch-MICROS longs (temporal_to_micros;
        # dates at midnight UTC, session TZ pinned UTC)
        if dtype == "date":
            keyx = (F.unix_date(F.col(lead)).cast("long")
                    * F.lit(86_400_000_000))
        elif dtype in ("timestamp", "timestamp_ntz"):
            keyx = F.unix_micros(F.col(lead).cast("timestamp"))
        else:
            keyx = F.col(lead)
        # the op contract is 'U' | 'D', nothing else: an unexpected value
        # would fall through the survives filter as a DELETE (silent,
        # irreversible loss for a caller who wrote 'u' or 'UPDATE'), and
        # a NULL op would masquerade as a target-only row and insert
        # null-padded garbage. The struct wrapper keeps a NULL op visible
        # to first(ignorenulls=True).
        bad = F.col("op").isNull() | ~F.col("op").isin("U", "D")
        rows = src.groupBy("__part").agg(
            F.collect_set(keyx).alias("keys"),
            F.first(F.when(bad, F.struct("op")),
                    ignorenulls=True).alias("bad"),
        ).collect()
        for r in rows:
            if r["bad"] is not None:
                # fail loudly before any file is touched
                raise ValueError(
                    f"merge source op column must be 'U' or 'D'; found "
                    f"{r['bad']['op']!r}")
        src_keys = {r["__part"]: sorted(r["keys"]) for r in rows}

        totals = {
            "job_id": job_id, "operation": "merge",
            "partitions_planned": len(src_keys), "partitions_rewritten": 0,
            "partitions_skipped": 0, "partitions_conflicted": 0,
            "files_in": 0, "files_out": 0,
            "bytes_in": 0, "bytes_out": 0, "rows": 0, "engine_ms": 0,
        }
        if not src_keys:
            return totals
        # idempotence key is (job_id, source batch) — NOT the current file
        # list: a replayed batch must be a no-op even though the first run
        # already rewrote the files (Delta's txnAppId/txnVersion semantics,
        # as the reference's bronze writer keys them). Ledgers of builds
        # that committed per bucket carry one `part=<p>` record per planned
        # bucket under the same fingerprint.
        fingerprint = file_set_hash([f"merge:{source_token}"])
        if ledger.is_committed(job_id, "batch", fingerprint) or all(
                ledger.is_committed(job_id, f"part={p}", fingerprint)
                for p in src_keys):
            totals["partitions_skipped"] = len(src_keys)
            return totals

        touched = [f for f in table.live_files()
                   if f.partition in src_keys
                   and _touches(f.bounds(lead), src_keys[f.partition])]
        files = sorted(f.file_path for f in touched)
        bytes_in = sum(f.file_size_bytes for f in touched)
        records_in = sum(f.record_count for f in touched)

        t0 = time.monotonic()
        ledger.upsert(CheckpointRecord(
            job_id=job_id, table=table.meta.name, partition_id="batch",
            file_set_hash=fingerprint, status=STATUS_REWRITING,
            files_in=len(files), bytes_in=bytes_in,
        ))
        s = src.select(
            *[F.col(k) for k in keys],
            F.col("op").alias("__s_op"),
            *[F.col(c).alias(f"__s_{c}") for c in data_cols if c not in keys],
        )
        if files:
            tgt = table.spark.read.schema(schema).parquet(
                *[os.path.join(table.location, f) for f in files])
        else:
            tgt = table._empty_df()
        # list-of-names join: Spark coalesces the key columns, so insert
        # rows (target side null) carry the source key values
        j = tgt.join(s, keys, "full_outer")
        survives = j.filter(
            F.col("__s_op").isNull() | (F.col("__s_op") == "U"))
        merged = survives.select(
            *keys,
            *[
                F.when(F.col("__s_op") == "U", F.col(f"__s_{c}"))
                .otherwise(F.col(c)).alias(c)
                for c in data_cols if c not in keys
            ],
        )
        # size the rewrite like compact does: row cap from the touched
        # files' observed bytes/row (upserts keep row width; inserts are a
        # small correction). The routed write brings each bucket's rows
        # to one task, so a bucket's output is rpf-sized files.
        rpf = (binpack.records_per_file(bytes_in, records_in, target_bytes)
               if records_in else None)
        added = table.stage_dataframe(merged, max_records_per_file=rpf)
        try:
            if files:
                snap = table.commit_rewrite(
                    set(files), added, operation="merge",
                    summary={"job_id": job_id})
            else:
                snap = table.commit_append(
                    added, summary={"job_id": job_id, "operation": "merge"},
                    expect_partition_spec=plan_spec)
        except CommitConflict:
            # a concurrent rewrite took a touched file out of the live set
            # (or the partition spec moved) between planning and commit.
            # Surrender the batch: discard the staged output and record the
            # conflict; the ledger only skips STATUS_COMMITTED, so a replay
            # re-plans the whole batch against the new head.
            table._discard_staged(added, [])
            ledger.upsert(CheckpointRecord(
                job_id=job_id, table=table.meta.name, partition_id="batch",
                file_set_hash=fingerprint, status=STATUS_CONFLICTED,
                files_in=len(files), bytes_in=bytes_in,
            ))
            totals["partitions_conflicted"] = len(src_keys)
            return totals
        engine_ms = int((time.monotonic() - t0) * 1000)

        totals.update(
            partitions_rewritten=len(src_keys),
            files_in=len(files), files_out=len(added),
            bytes_in=bytes_in,
            bytes_out=sum(a.file_size_bytes for a in added),
            rows=sum(a.record_count for a in added),
            engine_ms=engine_ms,
        )
        ledger.append_lineage(job_id, "batch", files,
                              [a.file_path for a in added], "merge")
        ledger.upsert(CheckpointRecord(
            job_id=job_id, table=table.meta.name, partition_id="batch",
            file_set_hash=fingerprint, status=STATUS_COMMITTED,
            rows=totals["rows"], bytes_in=bytes_in,
            bytes_out=totals["bytes_out"],
            files_in=len(files), files_out=len(added),
            engine_ms=engine_ms, committed_snapshot_id=snap.snapshot_id,
        ))
        return totals
    finally:
        src.unpersist()
