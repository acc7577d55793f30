"""The session-bound memo behind the registry: one dict per live
SparkContext, swapped for a fresh one when the applicationId changes,
holding prepared plans, loaded tables, control-plane values and
content-keyed broadcasts."""

from __future__ import annotations

from types import SimpleNamespace

from football_etl_spark.plans.queries import REGISTRY
from football_etl_spark.session import session_cache

from .conftest import SF_SMOKE


def _other_app(spark):
    app = "other-" + spark.sparkContext.applicationId
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))


def test_memo_resets_when_application_changes(spark):
    memo = session_cache(spark)
    assert session_cache(spark) is memo
    memo[("probe",)] = 1
    stub = _other_app(spark)
    fresh = session_cache(stub)
    assert fresh is not memo and ("probe",) not in fresh
    assert session_cache(stub) is fresh
    back = session_cache(spark)
    assert back is not fresh and ("probe",) not in back


def test_plan_memo_ignores_trailing_slash(spark):
    fn = REGISTRY["regional_revenue"].fn
    assert fn(spark, SF_SMOKE) is fn(spark, SF_SMOKE + "/")


def test_second_kmeans_construction_runs_no_jobs(spark):
    """Centroid training is control-plane work paid once per (session,
    sf): a rebuild of the plan (bypassing the plan memo) must start
    zero Spark jobs, while the first build after a reset starts some
    — the measurement is not vacuous."""
    build = REGISTRY["kmeans_embedding_clusters"].fn.__wrapped__
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    session_cache(_other_app(spark))  # start from an empty memo
    jobs = {}
    try:
        for tag in ("first", "second"):
            group = f"session-memo-{tag}-{sc.applicationId}"
            sc.setJobGroup(group, "kmeans construction")
            build(spark, SF_SMOKE)
            jobs[tag] = list(tracker.getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs["first"], "first construction ran no jobs"
    assert jobs["second"] == [], jobs["second"]


def test_decontamination_shares_one_broadcast_per_suite(spark):
    build = REGISTRY["benchmark_decontamination"].fn.__wrapped__
    session_cache(_other_app(spark))  # start from an empty memo
    build(spark, SF_SMOKE)
    build(spark, SF_SMOKE)
    keys = [k for k in session_cache(spark) if k[0] == "contamination_report"]
    assert len(keys) == 1, keys
