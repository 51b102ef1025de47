"""kNN join lifecycle and job budget: an invocation of q_knn_join leaves
no persisted RDD or cached plan behind, runs the same number of Spark
jobs every time, and stays within a fixed job budget (a one-pass plan:
a per-cell count aggregate, then the final action).
"""

from __future__ import annotations

from inputosm_spark.queries_catalog import q_knn_join
from inputosm_spark.sources.registry import load_table

JOB_BUDGET = 12


def _held(spark) -> tuple[set[int], int]:
    """(persisted RDD ids, CacheManager entries) held by the session."""
    rdds = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    cm = spark._jsparkSession.sharedState().cacheManager()
    # CacheManager exposes no size; read its private entry list
    fld = cm.getClass().getDeclaredField("cachedData")
    fld.setAccessible(True)
    return rdds, fld.get(cm).size()


def _run_counted(spark, sf_dir: str, group: str) -> int:
    """Build and collect q_knn_join under a job group; its job count."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "knn_join lifecycle")
    try:
        rows = q_knn_join(spark, sf_dir).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert rows
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _warm_reads(spark, sf_dir: str) -> None:
    # the registry's first read of a table infers its parquet schema
    # with a job; take those outside the counted invocations
    for t in ("documents", "embeddings"):
        load_table(spark, sf_dir, t)


def test_knn_join_leaves_nothing_and_repeats_its_jobs(spark, sf_dir):
    _warm_reads(spark, sf_dir)
    jobs = []
    for i in range(3):
        rdds, plans = _held(spark)
        jobs.append(_run_counted(spark, sf_dir, f"knn-lifecycle-{i}"))
        rdds_after, plans_after = _held(spark)
        # the session is shared with other tests: the context cleaner
        # may unpersist their RDDs meanwhile, so compare RDD ids
        assert rdds_after <= rdds, f"call {i} left {rdds_after - rdds}"
        assert plans_after == plans, f"call {i} left cached plans"
    assert len(set(jobs)) == 1, jobs


def test_knn_join_job_budget(spark, sf_dir):
    _warm_reads(spark, sf_dir)
    n = _run_counted(spark, sf_dir, "knn-budget")
    assert 0 < n <= JOB_BUDGET, n
