"""Pins the benchmark's result sink: a timed op must compute what the
query returns.

``df.count()`` lets Catalyst prune every column the count does not need,
so for ``q_pricing_summary`` the executed aggregate keeps only its
grouping keys and the sums are never computed.  ``run.deliver`` moves
the full result to Python, so the executed plan must keep them.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
Needs a local Spark; builds sf0.001 fixture tables under ``tmp_path``.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

pytest.importorskip("pyspark")

import datagen  # noqa: E402
import run  # noqa: E402
from tracing import _KeepQE  # noqa: E402

AGGREGATES = ("sum(l_quantity", "sum(l_extendedprice", "avg(l_discount")


@pytest.fixture(scope="module")
def spark_and_data(tmp_path_factory):
    from okera_trino_spark.session import get_spark

    data = str(tmp_path_factory.mktemp("sf0.001"))
    datagen.write_dir(data, 0.001)
    spark = get_spark("perfbench-tests")
    keep = _KeepQE()
    spark._jsparkSession.listenerManager().register(keep)
    yield spark, data, keep
    spark._jsparkSession.listenerManager().unregister(keep)


def _executed_plan(spark, keep, action) -> str:
    keep.take()
    action()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    qes = keep.take()
    assert len(qes) == 1
    return qes[0].executedPlan().toString()


def test_deliver_keeps_the_aggregate_expressions(spark_and_data):
    from okera_trino_spark.registry import load_all_queries

    spark, data, keep = spark_and_data
    fn = load_all_queries()["q_pricing_summary"].fn
    plan = _executed_plan(spark, keep, lambda: run.deliver(fn(spark, data)))
    for agg in AGGREGATES:
        assert agg in plan, f"{agg} missing from the timed plan:\n{plan}"
    # the finding the sink guards against: count() prunes them
    pruned = _executed_plan(spark, keep, lambda: fn(spark, data).count())
    assert not any(agg in pruned for agg in AGGREGATES), pruned
