"""Iterative loops on a sibling session (session.sibling_session):
the components label loop, the PQ Lloyd loop and the IVF refinement loop
run with AQE off and a derived fan on their own SQLConf, never on the
caller's. Pins the job count each loop query runs, checks that the
caller's session keeps AQE while a loop runs, and that every frame a
loop returns belongs to the caller's session again."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import DataFrame

from trisk_spark.functions import dedup, pq, similarity
from trisk_spark.registry import load_all

from .conftest import SF_DIR, SF_DIR_MID

QUERIES = load_all()


def _jobs(spark, name, build):
    """Jobs one query runs (build + collect) under its own job group."""
    sc = spark.sparkContext
    group = f"loop-jobs:{name}"
    sc.setJobGroup(group, name)
    try:
        build().collect()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _force_loop_path(monkeypatch):
    # below the pair count, so the distributed loop runs instead of the
    # driver fast path
    monkeypatch.setattr(dedup, "CC_DRIVER_MAX_EDGES", 0)


@pytest.mark.parametrize(
    "name, jobs", [("ivf_refine_iters", 10), ("pq_encode_trained", 5)]
)
def test_loop_query_job_counts(spark, name, jobs):
    assert _jobs(spark, name, lambda: QUERIES[name].fn(spark, SF_DIR_MID)) == jobs


def test_components_loop_job_count(spark, monkeypatch):
    _force_loop_path(monkeypatch)
    build = lambda: QUERIES["dedup_clusters"].fn(spark, SF_DIR_MID)  # noqa: E731
    assert _jobs(spark, "dedup_clusters", build) == 14


def test_callers_session_keeps_aqe_while_a_loop_runs(spark, monkeypatch):
    seen = []
    body = similarity._lloyd_loop_body

    def recording_body(*args, **kwargs):
        seen.append(
            (
                spark.conf.get("spark.sql.adaptive.enabled"),
                spark.conf.get("spark.sql.shuffle.partitions"),
            )
        )
        # a query planned meanwhile on another driver thread
        other = threading.Thread(
            target=lambda: seen.append(_plans_adaptive(spark.range(10)))
        )
        other.start()
        other.join(timeout=120)
        return body(*args, **kwargs)

    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    monkeypatch.setattr(similarity, "_lloyd_loop_body", recording_body)
    similarity.ivf_refine_iterative(spark, SF_DIR, iters=2).collect()
    assert seen == [("true", partitions), True]


def _is_callers(df, spark):
    return df.sparkSession is spark and df._jdf.sparkSession().equals(
        spark._jsparkSession
    )


def _plans_adaptive(df):
    """A downstream aggregate over ``df`` plans under the caller's AQE."""
    agg = df.groupBy(df.columns[0]).count()
    return "AdaptiveSparkPlan" in agg._jdf.queryExecution().executedPlan().toString()


def test_loop_results_belong_to_callers_session(spark, monkeypatch):
    _force_loop_path(monkeypatch)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "doc_a long, doc_b long"
    )
    labels = dedup.min_label_components(pairs)
    assert _is_callers(labels, spark)
    assert _plans_adaptive(labels)
    assert sorted(tuple(r) for r in labels.collect()) == [
        (1, 1), (2, 1), (3, 1), (4, 4), (5, 4)
    ]

    ivf = similarity.ivf_refine_iterative(spark, SF_DIR, iters=2)
    assert _is_callers(ivf, spark)
    assert _plans_adaptive(ivf)

    # the Lloyd loop hands back driver-side arrays only; the frame built
    # from them is the caller's
    cb, errors = pq.pq_train(spark, SF_DIR, iters=1)
    assert not any(isinstance(x, DataFrame) for x in (cb, *errors))
    enc = QUERIES["pq_encode_trained"].fn(spark, SF_DIR)
    assert _is_callers(enc, spark)
    assert _plans_adaptive(enc)
