"""Shared fixtures: one session-scoped SparkSession + a small synthetic corpus."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from medical_ocr_service_spark import config  # noqa: E402
from medical_ocr_service_spark.corpus import generator, golden, write  # noqa: E402
from medical_ocr_service_spark.session import get_spark  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="pytest",
        master="local[4]",
        shuffle_partitions=4,
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_dir(tmp_path_factory):
    """Materialized synthetic corpus (300 docs incl. one pathological) + golden."""
    out = str(tmp_path_factory.mktemp("corpus"))
    write.write_corpus(out, n_docs=300, seed=config.CORPUS_SEED)
    return out


@pytest.fixture(scope="session")
def corpus_mem():
    """In-memory corpus rows + golden results for unit-level tests."""
    docs, media = generator.synthesize_corpus(120, seed=config.CORPUS_SEED)
    results = golden.extract_corpus(docs, media)
    return docs, media, results


@pytest.fixture(scope="session")
def sf_dir():
    return TESTDATA


def _final_plan_nodes(plan, cached=False):
    """(one-line node string, inside-a-cached-relation) for every node of
    an executed physical plan: AQE's final plan, query stages and the
    plans of cached relations included."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        yield from _final_plan_nodes(plan.executedPlan(), cached)
        return
    if name.endswith("QueryStage") or name == "ReusedExchange":
        yield (name, cached)
        yield from _final_plan_nodes(plan.plan() if name != "ReusedExchange" else plan.child(), cached)
        return
    yield (plan.simpleString(1000), cached)
    if name == "InMemoryTableScan":
        yield from _final_plan_nodes(plan.relation().cachedPlan(), True)
    children = plan.children()
    for i in range(children.size()):
        yield from _final_plan_nodes(children.apply(i), cached)


@pytest.fixture(scope="session")
def final_plan_nodes():
    """The _final_plan_nodes walker, for plan-shape tests."""
    return _final_plan_nodes
