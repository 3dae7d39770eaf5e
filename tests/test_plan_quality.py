"""Physical-plan quality gates: the properties that make these plans
survive a 100× scale-up, asserted on `.explain` output so regressions in
plan shape fail CI — not just correctness.

- dimension joins must broadcast (no shuffle of the fact side's keys);
- filters and column projections must reach the Parquet scan
  (PushedFilters / ReadSchema);
- hot-path query plans must contain no row-at-a-time Python UDFs
  (BatchEvalPython) — only Arrow-vectorized stages are sanctioned;
- aggregates must keep whole-stage codegen spans.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from open_finance_lakehouse_spark.queries import REGISTRY

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_dim_joins_broadcast(spark):
    for name in ("brand_lineitem_rollup", "nation_customer_audit",
                 "nation_region_names"):
        plan = plan_of(REGISTRY[name].fn(spark, SF_DIR))
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, \
            f"{name}: dim join did not broadcast\n{plan}"
        assert "SortMergeJoin" not in plan, \
            f"{name}: dim join fell back to sort-merge"


def test_filter_pushdown_reaches_scan(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    plan = plan_of(q)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]" \
        in plan or "GreaterThan(l_quantity" in plan, plan
    # column pruning: scan schema must carry ONLY the projected columns
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema, read_schema


def test_no_python_row_udfs_in_query_plans(spark):
    """north_rule: no per-row Python. Every SQL-oracle query must compile to
    a plan free of BatchEvalPython (row-at-a-time UDF); ArrowEvalPython
    (vectorized) only appears in the sanctioned audio/curve kernels."""
    offenders = []
    for name, spec in REGISTRY.items():
        if spec.oracle_sql is None:
            continue  # audio paths use mapInPandas by design
        plan = plan_of(spec.fn(spark, SF_DIR), "extended")
        if "BatchEvalPython" in plan:
            offenders.append(name)
    assert not offenders, f"row-at-a-time Python UDFs in: {offenders}"


def test_aggregate_keeps_wholestage_codegen(spark):
    df = REGISTRY["pricing_summary"].fn(spark, SF_DIR)
    plan = plan_of(df)
    # partial aggregation present (map-side combine before the ONE exchange)
    assert plan.count("HashAggregate") >= 2, plan
    assert plan.count("+- Exchange") == 1, plan  # exactly one shuffle
    # AQE finalizes the physical plan only on execution; codegen stage
    # markers (`*(n)`) appear in the simple explain of the FINAL plan
    df.collect()  # execute THIS plan so AQE finalizes it
    final = plan_of(df, "simple")
    assert "isFinalPlan=true" in final, final
    assert "*(" in final, f"no WholeStageCodegen stages in final plan:\n{final}"


def test_maintenance_scan_prunes_with_manifest_stats(spark, tmp_path,
                                                    monkeypatch):
    """File-level pruning via manifest min/max must shrink the scan's input
    BEFORE Catalyst sees it (the planner's job), and the residual predicate
    must still be pushed into the surviving files of a Parquet scan (a
    plan above ``SMALL_READ_BYTES``; this table's is read on the driver,
    where there is no file scan to push into)."""
    from open_finance_lakehouse_spark.format import table as table_mod
    from open_finance_lakehouse_spark.format.table import (
        ColumnRange,
        LakeTable,
    )

    t = LakeTable.create(spark, str(tmp_path / "t"), "t", "k long, v double")
    for lo in range(0, 500, 100):
        t.append(
            spark.range(lo, lo + 100).coalesce(1).select(
                F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")),
            max_records_per_file=None)
    small = t.scan(predicates=[ColumnRange("k", lo=250, hi=260)])
    assert sorted(r.k for r in small.collect()) == list(range(250, 261))
    monkeypatch.setattr(table_mod, "SMALL_READ_BYTES", -1)
    pruned = t.scan(predicates=[ColumnRange("k", lo=250, hi=260)])
    plan = plan_of(pruned)
    assert "GreaterThanOrEqual(k,250)" in plan, plan  # residual pushed down
    sel, total = t.plan_files(predicates=[ColumnRange("k", lo=250, hi=260)])
    assert (len(sel), total) == (1, 5)  # 4 of 5 files skipped by stats


def test_jaccard_candidate_budget_trips_loudly(spark):
    """The exact Jaccard family must never silently absorb an n² blocked
    self-join: past the candidate budget it raises with the LSH scale
    path named; ≤0 disables the guard explicitly."""
    from open_finance_lakehouse_spark.queries import textops

    spark.conf.set(textops.JACCARD_BUDGET_CONF, "10")
    try:
        for q in ("doc_ngram_jaccard_pairs", "doc_ngram_jaccard_pairs_pm1"):
            with pytest.raises(textops.CandidateBudgetExceeded,
                               match="doc_minhash_lsh_pairs"):
                REGISTRY[q].fn(spark, SF_DIR)
        # explicit opt-out: guard off, the plan builds
        spark.conf.set(textops.JACCARD_BUDGET_CONF, "0")
        assert REGISTRY["doc_ngram_jaccard_pairs"].fn(spark, SF_DIR) \
            .limit(1).count() >= 0
    finally:
        spark.conf.unset(textops.JACCARD_BUDGET_CONF)
    # default budget: sf-scale corpora pass untouched
    assert REGISTRY["doc_ngram_jaccard_pairs_pm1"].fn(spark, SF_DIR) \
        .limit(1).count() >= 0


def test_registry_fits_driver_snapshot_cap():
    """The driver's correctness snapshot records only the FIRST 50
    registry entries. Two invariants keep every SQL-oracled query inside
    that window: oracled entries sort ahead of rows-only ones, and there
    are at most 50 of them (r5: doc_simhash folded into doc_fingerprint
    when the count hit 51 — this pin stops the next silent overflow)."""
    names = list(REGISTRY)
    oracled = [n for n in names if REGISTRY[n].oracle_sql is not None]
    assert len(oracled) <= 50, (
        f"{len(oracled)} oracled queries > driver snapshot cap (50): "
        "consolidate before an oracled entry falls off the record")
    assert names[: len(oracled)] == oracled, (
        "rows-only entries interleaved ahead of oracled ones — the "
        "registry must order oracled queries first")
