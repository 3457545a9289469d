"""The Spark counter helper against a live local session."""

import os

import pytest

from sparkstats import (SparkCounters, StageTotals, driver_peak_rss_bytes,
                        vm_hwm_bytes)


@pytest.fixture(scope="module")
def spark():
    from dataframe_pipeline_spark import get_spark

    s = get_spark("perfbench-tests", cpus=2)
    yield s
    s.stop()


def test_group_counts_only_its_jobs(spark):
    c = SparkCounters(spark)
    c.set_group("t-shuffle")
    spark.range(10_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    c.set_group(None)
    spark.range(100).collect()  # untagged: must not count
    c.drain()
    ids = c.job_ids("t-shuffle")
    assert ids
    t = c.totals(ids)
    assert t.jobs == len(ids)
    assert t.stages >= 2 and t.tasks >= t.stages
    assert t.shuffle_write_bytes > 0 and t.shuffle_read_bytes > 0
    assert t.executor_run_s >= 0 and t.executor_cpu_s > 0
    assert c.job_ids("t-never-used") == []


def test_skipped_stages_count_for_nothing(spark):
    c = SparkCounters(spark)
    c.set_group("t-reuse")
    rdd = spark.sparkContext.parallelize(range(1000), 4) \
        .map(lambda x: (x % 5, 1)).reduceByKey(lambda a, b: a + b)
    rdd.collect()
    rdd.collect()  # reuses the shuffle output: its map stage is skipped
    c.set_group(None)
    c.drain()
    first, second = c.job_ids("t-reuse")
    assert c.totals([first]).stages == 2
    assert c.totals([second]).stages == 1
    assert c.totals([first, second]).stages == 3


def test_stage_totals_add():
    a = StageTotals(jobs=1, stages=2, gc_s=0.5, spill_bytes=3)
    b = StageTotals(jobs=2, tasks=4, gc_s=0.25)
    s = a + b
    assert (s.jobs, s.stages, s.tasks, s.gc_s, s.spill_bytes) == (3, 2, 4, 0.75, 3)


def test_peak_memory_readers(spark):
    c = SparkCounters(spark)
    pid = c.jvm_pid()
    assert pid != os.getpid()
    assert vm_hwm_bytes(pid) > 100 * 2**20  # a JVM holds far more than 100 MB
    assert driver_peak_rss_bytes() > 10 * 2**20
