import pytest
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.operators.joins import (
    DuplicateJoinKeyError,
    enrich,
    guarded_join,
)


def test_guarded_join_raises_on_duplicate_keys(spark):
    left = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    dup_dim = spark.createDataFrame([(1, "x"), (1, "y"), (2, "z")], ["k", "d"])
    with pytest.raises(DuplicateJoinKeyError):
        guarded_join(left, dup_dim, ["k"])


def test_guarded_join_ok_without_duplicates(spark):
    left = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    dim = spark.createDataFrame([(1, "x"), (2, "z")], ["k", "d"])
    out = guarded_join(left, dim, ["k"]).orderBy("k").collect()
    assert [r["d"] for r in out] == ["x", "z", None]


def test_enrich_sentinels_and_errors(spark):
    fact = spark.createDataFrame([("US", 1.0), ("", 2.0), ("XX", 3.0)], ["country", "v"])
    dim = spark.createDataFrame([("US", "America")], ["country", "region"])
    enriched, errors = enrich(fact, dim, ["country"], {"region": "region_name"})
    rows = {r["country"]: r["region_name"] for r in enriched.collect()}
    assert rows == {"US": "America", "Blank": "NotMapped", "XX": "NotMapped"}
    err_keys = sorted(r["country"] for r in errors.collect())
    assert err_keys == ["Blank", "XX"]


def test_enrich_blank_null_both_sentineled(spark):
    fact = spark.createDataFrame([(None, 1.0), ("  ", 2.0)], "country string, v double")
    dim = spark.createDataFrame([("US", "America")], ["country", "region"])
    enriched, _ = enrich(fact, dim, ["country"], {"region": "region_name"})
    assert all(r["country"] == "Blank" for r in enriched.collect())


def test_assert_unique_keys_batched(spark):
    import pytest as _pytest

    from machine_learning_with_spark_streaming_spark.operators.joins import (
        DuplicateJoinKeyError,
        assert_unique_keys,
        guarded_join,
    )

    clean = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    dup = spark.createDataFrame([(1, "a"), (1, "b")], ["k", "v"])
    assert_unique_keys([("c1", clean, ["k"]), ("c2", clean, ["k"])])
    with _pytest.raises(DuplicateJoinKeyError, match="d2"):
        assert_unique_keys([("c1", clean, ["k"]), ("d2", dup, ["k"])])
    # check=False skips the eager probe entirely (batched validation path)
    fact = spark.createDataFrame([(1, 10)], ["k", "x"])
    out = guarded_join(fact, dup, ["k"], check=False)
    assert out.count() == 2  # fan-out allowed when unchecked


# ------------------------------------------------------------ as-of join

def _asof(spark, strict):
    from machine_learning_with_spark_streaming_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 10, "e1"), (1, 20, "e2"), (1, 5, "e0"), (2, 10, "e3")],
        "k long, t long, ev string",
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (3, 1, 999.0)],
        "k long, t long, px double",
    )
    out = asof_join(
        left, right, ["k"], "t", "t", {"px": "px", "t": "rt"}, strict=strict
    )
    return {r["ev"]: (r["px"], r["rt"]) for r in out.collect()}


def test_asof_join_inclusive(spark):
    m = _asof(spark, strict=False)
    # e1 at t=10 matches the t=10 quote inclusively; e2 takes t=15;
    # e0 precedes all quotes; k=2 has no quotes at all
    assert m == {
        "e1": (100.0, 10),
        "e2": (150.0, 15),
        "e0": (None, None),
        "e3": (None, None),
    }


def test_asof_join_strict(spark):
    m = _asof(spark, strict=True)
    # strict: the t=10 quote no longer matches the t=10 event
    assert m["e1"] == (None, None)
    assert m["e2"] == (150.0, 15)


def test_asof_join_preserves_left_rowcount(spark):
    from machine_learning_with_spark_streaming_spark.operators.joins import asof_join

    left = spark.range(100).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("t")
    )
    right = spark.range(10).select(
        (F.col("id") % 3).alias("k"), (F.col("id") * 11).alias("t"),
        F.col("id").alias("v"),
    )
    out = asof_join(left, right, ["k"], "t", "t", {"v": "v"})
    assert out.count() == 100


# --------------------------------------------------------- interval join

def test_interval_join_matches_naive(spark):
    """Bucketed candidates must reproduce the naive inequality join
    exactly — including matches that straddle bucket boundaries and
    sub-second timestamp fractions the second-truncated buckets miss."""
    import datetime as dt

    from machine_learning_with_spark_streaming_spark.operators.joins import interval_join

    base = dt.datetime(2024, 1, 1)
    # events at awkward offsets incl. microseconds around the 1800s width
    lrows = [
        (i, 1, base + dt.timedelta(seconds=s))
        for i, s in enumerate([0, 1799.999999, 1800, 1800.5, 3600, 7200])
    ]
    rrows = [
        (100 + i, 1, base + dt.timedelta(seconds=s))
        for i, s in enumerate([0.5, 900, 1799.5, 1800.000001, 5400.25])
    ]
    left = spark.createDataFrame(lrows, "lid long, k long, lt timestamp")
    right = spark.createDataFrame(rrows, "rid long, k long, rt timestamp")
    got = {
        (r["lid"], r["rid"])
        for r in interval_join(
            left, right, ["k"], "lt", "rt", lower_sec=-1800, upper_sec=0
        ).collect()
    }
    want = {
        (lid, rid)
        for lid, _, lt in lrows
        for rid, _, rt in rrows
        if lt - dt.timedelta(seconds=1800) <= rt <= lt
    }
    assert got == want and want  # non-empty ground truth


def test_interval_join_disjoint_keys_empty(spark):
    from machine_learning_with_spark_streaming_spark.operators.joins import interval_join

    left = spark.createDataFrame([(1, 1, 1000)], "lid long, k long, s long").select(
        "lid", "k", F.timestamp_seconds("s").alias("lt")
    )
    right = spark.createDataFrame([(2, 9, 1000)], "rid long, k long, s long").select(
        "rid", "k", F.timestamp_seconds("s").alias("rt")
    )
    assert (
        interval_join(left, right, ["k"], "lt", "rt", -10, 10).count() == 0
    )


def test_symspell_join_covers_all_edit1_kinds(spark):
    from machine_learning_with_spark_streaming_spark.operators.joins import symspell_join

    clean = spark.createDataFrame(
        [(1, "spark")], "clean_key long, name string"
    )
    dirty = spark.createDataFrame(
        [
            (10, "spark"),   # exact
            (11, "spork"),   # substitution
            (12, "sparkk"),  # insertion
            (13, "spak"),    # deletion
            (14, "hadoop"),  # unrelated -> no match
        ],
        "dirty_key long, dname string",
    )
    out = symspell_join(dirty, clean, "dname", "name", max_dist=1)
    got = {(r["dirty_key"], r["dist"]) for r in out.collect()}
    assert got == {(10, 0), (11, 1), (12, 1), (13, 1)}
