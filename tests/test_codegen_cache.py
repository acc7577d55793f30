"""The generated-class cache holds the engine's working set.

Spark keeps compiled whole-stage-codegen classes in a JVM-wide LRU of
``spark.sql.codegen.cache.maxEntries`` entries (default 100).
``session.get_spark`` pins it far above that, so a repeat execution of
a plan whose classes outnumber the default finds every class resident
instead of recompiling it through Janino."""

from __future__ import annotations

from functools import reduce

BRANCHES = 150


def _compiles(spark) -> int:
    # The compile COUNT; the time histogram is reservoir-sampled and
    # can go backwards between two reads.
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeat_write_reuses_more_than_default_cap_classes(spark):
    # Union is not codegen'd, so each one-row branch is its own
    # whole-stage-codegen subtree; the inlined literals make every
    # branch a distinct class. One partition per branch keeps each
    # write to a single small job.
    branches = [
        spark.range(0, 1, 1, 1).selectExpr(f"id * {i} + {i} AS v")
        for i in range(BRANCHES)
    ]
    df = reduce(lambda a, b: a.unionAll(b), branches)

    before = _compiles(spark)
    df.write.mode("overwrite").format("noop").save()
    first = _compiles(spark) - before
    assert first > 100, f"only {first} classes compiled; the probe cannot overflow the default cap"

    before = _compiles(spark)
    df.write.mode("overwrite").format("noop").save()
    assert _compiles(spark) - before == 0
