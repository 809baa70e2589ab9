"""Plan-shape pins for bounded inputs: an unpartitioned Window runs in
ONE task over every row it receives, so each one must sit above the
node that bounds its input (a HashAggregate to a small stratum/day
table, or a TakeOrderedAndProject top-k slice); and D12's keyword
find-all must only see (post, keyword) pairs that passed the JVM
substring prefilter."""

from __future__ import annotations

import pytest


def _walk(node):
    """Pre-order walk of a physical plan (py4j SparkPlan nodes)."""
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _walk(children.apply(i))


def _spark_plan(df):
    return df._jdf.queryExecution().sparkPlan()


@pytest.mark.parametrize(
    "module, query, bound",
    [
        ("corpus_ops", "q79_mixture_weights", "HashAggregate"),
        ("extras_r4", "q256_histogram_drift", "HashAggregate"),
        ("extras_r5", "q262_vocab_coverage_curve", "TakeOrderedAndProject"),
    ],
)
def test_unpartitioned_window_input_is_bounded(spark, sf_dir, module, query, bound):
    import importlib

    df = getattr(importlib.import_module(f"voz_spark.{module}"), query)(spark, sf_dir)
    plan = _spark_plan(df)
    windows = [
        n for n in _walk(plan) if n.nodeName() == "Window" and n.partitionSpec().isEmpty()
    ]
    assert windows, plan.treeString()
    for w in windows:
        below = {n.nodeName() for n in _walk(w.child())}
        assert bound in below, w.treeString()


def test_detect_keywords_prefilters_before_python(spark):
    from voz_spark.extract import detect_keywords

    df = spark.createDataFrame(
        [("p1", "con ram 16gb này ngon"), ("p2", None)], "post_id string, text_clean string"
    )
    plan = _spark_plan(detect_keywords(df))
    udfs = [n for n in _walk(plan) if n.nodeName() == "ArrowEvalPython"]
    assert udfs, plan.treeString()
    for u in udfs:
        below = [n.simpleString(1000) for n in _walk(u.child())]
        hits = [
            s for s in below
            if s.startswith(("Filter", "BroadcastNestedLoopJoin")) and "Contains(" in s
        ]
        assert hits, u.treeString()
