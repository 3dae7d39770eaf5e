"""Streaming MERGE: the ``foreachBatch + merge_into`` composition — the
frost sink's update-mode answer.

``writeStream.format("frost")`` supports append and complete only (a
streaming sink writes files; an upsert must REWRITE files, which is a
table-maintenance operation). The recipe for streaming upserts is the
reference's dual-sink foreachBatch shape
(/root/reference/ofl/streaming/bronze.py:237-264) composed with the
copy-on-write MERGE:

    query = (df.writeStream
               .foreachBatch(streaming_upsert(table, ledger, "silver-upsert",
                                              key=["series_id", "day"]))
               .option("checkpointLocation", ckpt)
               .trigger(availableNow=True).start())

Exactly-once by construction, twice over (Delta's txnAppId/txnVersion
discipline — /root/reference/ofl/streaming/bronze.py:185-194 — rebuilt on
the checkpoint ledger):

- **A monotone batch watermark** (``__txn__`` ledger record, advanced only
  after the batch's merge commits) rejects any batch id ≤ the last
  committed one — a replayed or out-of-order-duplicated micro-batch is a
  no-op even after later batches ran, exactly Delta's
  ``txnVersion <= latest`` rule.
- **Mid-batch crash replays retry the whole batch.** The merge lands a
  batch as one snapshot, so a crash leaves either nothing or the whole
  batch applied, and the watermark unadvanced. The replay re-enters the
  merge: the (job_id, ``source_token=f"batch-{batch_id}"``) ledger record
  no-ops a batch whose commit it recorded and re-applies any other (a
  crash between the commit and the record re-applies full-row upserts
  and deletes, which leaves the same rows).
- **Out-of-order duplicates WITHIN a batch lose by seq.** The source
  contract's monotone ``seq`` decides each key's winner (salted
  latest-per-key dedup). Across DISTINCT batch ids, later batches win
  wholesale — upstream must deliver key-disjoint or seq-monotone batches,
  Delta's own foreachBatch-MERGE caveat.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from open_finance_lakehouse_spark.format.table import LakeTable
from open_finance_lakehouse_spark.operators.merge_into import merge_into
from open_finance_lakehouse_spark.plans.ledger import (
    STATUS_COMMITTED,
    CheckpointLedger,
    CheckpointRecord,
)

TXN_PARTITION_ID = "__txn__"  # the job's batch-watermark record


def streaming_upsert(
    table: LakeTable,
    ledger: CheckpointLedger,
    job_id: str,
    key: "str | list[str] | None" = None,
    n_salts: int | None = None,
    target_bytes: int | None = None,
    conflict_retries: int = 2,
) -> Callable[[DataFrame, int], None]:
    """A foreachBatch sink function running one exactly-once MERGE per
    micro-batch. The batch DataFrame must satisfy the merge source
    contract: the table's columns plus ``op`` ('U'/'D') and ``seq``.

    ``conflict_retries``: a concurrent maintenance commit can make
    ``merge_into`` SURRENDER the batch (it returns with
    ``partitions_conflicted > 0`` instead of raising, having changed
    nothing); re-entering the merge with the same source_token replans
    the whole batch against the new head. Retried up to this many times;
    if the batch is STILL conflicted the sink raises so Spark replays it —
    the watermark must never advance past an unapplied batch (silent data
    loss)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        last = ledger.get(job_id, TXN_PARTITION_ID)
        if last is not None and int(last.file_set_hash) >= int(batch_id):
            return  # replayed / out-of-order batch: measured no-op
        for _attempt in range(conflict_retries + 1):
            res = merge_into(
                table, batch_df, ledger, job_id,
                source_token=f"batch-{batch_id}",
                key=key, n_salts=n_salts, target_bytes=target_bytes,
            )
            if not res.get("partitions_conflicted"):
                break
        else:
            raise RuntimeError(
                f"streaming_upsert {job_id} batch {batch_id}: "
                f"{res['partitions_conflicted']} partition(s) still "
                f"conflicted after {conflict_retries + 1} merge attempts; "
                "watermark NOT advanced — the batch will replay")
        # advance the watermark ONLY after the merge committed — a crash
        # (or a surrendered batch, above) leaves it behind so the replay
        # retries the whole batch
        ledger.upsert(CheckpointRecord(
            job_id=job_id, table=table.meta.name,
            partition_id=TXN_PARTITION_ID,
            file_set_hash=str(int(batch_id)), status=STATUS_COMMITTED))

    return sink
