"""``bench.measure``: the one warm-up + timed noop loop behind bench.py and
tools/scale_stress.py."""

import pytest
from pyspark import StorageLevel

import __spark_entry__ as entry_mod
from bench import measure


def test_measure_counts_jobs_and_cleans_up_after_a_failure(spark, sf_dir):
    runs, jobs = measure(spark, entry_mod.queries()["a1_pivot_sum"], sf_dir, 2)
    assert len(runs) == 2 and runs == sorted(runs)
    assert jobs >= 1

    persisted = []

    def fails_when_timed(spark, sf_dir):
        df = spark.range(10).persist()
        df.count()
        persisted.append(df)
        if len(persisted) > 1:  # the warm-up passes, the first timed run raises
            raise RuntimeError("timed run failed")
        return df

    with pytest.raises(RuntimeError, match="timed run failed"):
        measure(spark, fails_when_timed, sf_dir, 2)
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
    assert all(df.storageLevel == StorageLevel.NONE for df in persisted)
