"""Job counts of the rows served by the postings stores (BM25 and
phrase): each query runs on a cold store cache under its own job group,
and both its build jobs (before the frame is returned: writes, appends,
deletes, routing and the hits checkpoint) and its total jobs (build plus
collect) are pinned."""

from __future__ import annotations

import pytest

from trisk_spark.functions import bm25_store, phrase_store, retrieval
from trisk_spark.registry import load_all, load_library

from .conftest import SF_DIR

QUERIES = {**load_all(), **load_library()}


def _cold_jobs(spark, name):
    """(build, total) jobs of one query over freshly built stores."""
    for cache in (
        bm25_store.BM25._corpus_stores,
        phrase_store.PHRASE._corpus_stores,
        phrase_store.PHRASE._takedown_stores,
        retrieval._HYB_STORES,
    ):
        cache.clear()
    sc = spark.sparkContext
    group = f"lexical-jobs:{name}"
    sc.setJobGroup(group, name)
    try:
        df = QUERIES[name].fn(spark, SF_DIR)
        build = len(sc.statusTracker().getJobIdsForGroup(group))
        df.collect()
        return build, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


@pytest.mark.parametrize(
    "name, jobs",
    [
        ("bm25_incremental", (19, 26)),
        ("phrase_incremental", (14, 18)),
        ("phrase_takedown", (16, 20)),
        ("hybrid_store_probe", (34, 51)),
    ],
)
def test_lexical_store_job_counts(spark, name, jobs):
    assert _cold_jobs(spark, name) == jobs
