"""Physical-plan quality gates: pushdown, broadcast, codegen, no stray UDFs.

The 100 TB contract is enforced here: a plan that stops pushing filters to
the parquet scan, stops broadcasting dimensions, or sneaks a Python UDF into
a relational query would pass value-checks but die at scale — these tests
fail it early.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod


import contextlib
import io


def _explain(df, mode: str) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _plan(df) -> str:
    return _explain(df, "simple")


def _formatted(df) -> str:
    return _explain(df, "formatted")


def test_filter_pushdown_to_scan(spark, sf_dir):
    q = entry_mod.queries()["p6_time_window_filter"]
    plan = _formatted(q(spark, sf_dir))
    assert "PushedFilters: [" in plan
    assert "IsNotNull(ts)" in plan or "GreaterThanOrEqual(ts" in plan


def test_column_pruning(spark, sf_dir):
    q = entry_mod.queries()["t6_popularity_topn"]
    plan = _formatted(q(spark, sf_dir))
    # scan must read only the 3 projected columns, not the whole part table
    assert "ReadSchema" in plan
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "p_name" in rs and "p_retailprice" in rs
    assert "p_brand" not in rs and "p_type" not in rs


def test_broadcast_joins_in_enrichment(spark, sf_dir):
    q = entry_mod.queries()["j8_detail_enrichment_3way"]
    plan = _plan(q(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_antijoin_is_broadcast(spark, sf_dir):
    q = entry_mod.queries()["j11_training_antijoin"]
    plan = _plan(q(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_relational_queries_have_no_python_udfs(spark, sf_dir):
    """Every oracle-checked query must stay fully JVM-side. Documented
    exceptions: ivf_ann_topk's centroid assignment is an intentional
    Arrow-batched numpy matmul (SURVEY §2.11 topk/assign UDF family), and
    the two golden-equality gates deliberately drive the full pandas-UDF
    extraction/matching pipelines. Vectorized pandas UDFs only — never
    row-at-a-time."""
    allowed_arrow = {
        "ivf_ann_topk",
        "extraction_golden_equality",
        "previsacion_golden_equality",
    }
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    for name in oracles:
        plan = _plan(qs[name](spark, sf_dir))
        assert "BatchEvalPython" not in plan, (
            f"{name} has a row-at-a-time Python UDF in its physical plan"
        )
        if name not in allowed_arrow:
            assert "ArrowEvalPython" not in plan, (
                f"{name} has a Python UDF in its physical plan"
            )


def test_q1_whole_stage_codegen(spark, sf_dir):
    q = entry_mod.queries()["q1_pricing_summary"]
    df = q(spark, sf_dir)
    df.collect()  # AQE finalizes the plan only on execution
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    # "*(n)" prefixes mark WholeStageCodegen stages in the final plan
    assert "*(" in final, final
    # partial aggregation must be present (map-side combine before shuffle)
    assert final.count("HashAggregate") >= 2


def test_extraction_has_single_doc_shuffle(spark, corpus_dir):
    """The extraction DAG shuffles doc-keyed data exactly once (the groupBy
    reassembly); media join may add a media_ref exchange, but there must be
    no doc_id re-exchange after aggregation."""
    from medical_ocr_service_spark.operators import extract

    docs = spark.read.parquet(f"{corpus_dir}/documents_interleaved.parquet")
    media = spark.read.parquet(f"{corpus_dir}/media.parquet")
    plan = _plan(extract.extract_documents(docs, media))
    import re

    doc_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning(doc_id" in ln
    ]
    assert len(doc_exchanges) <= 1, f"extra doc_id shuffles:\n{plan}"
    # fields extraction must be Arrow-vectorized, not row-at-a-time
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_run_in_pool_sets_and_restores(spark):
    """Q2: the FAIR-pool context manager scopes the scheduler pool to the
    block and restores the previous value."""
    from medical_ocr_service_spark.session import run_in_pool

    sc = spark.sparkContext
    assert sc.getLocalProperty("spark.scheduler.pool") is None
    with run_in_pool(spark, "previsacion"):
        assert sc.getLocalProperty("spark.scheduler.pool") == "previsacion"
        with run_in_pool(spark, "embedding"):
            assert sc.getLocalProperty("spark.scheduler.pool") == "embedding"
        assert sc.getLocalProperty("spark.scheduler.pool") == "previsacion"
        spark.range(10).count()  # a job actually runs inside the pool
    assert sc.getLocalProperty("spark.scheduler.pool") is None
