"""Drive the actual driver contract: every ``queries()`` entry runs, and
every declared ``oracle_sql()`` entry hash-matches DuckDB on the same
parquet tables. This test grows automatically as operators land.
"""

import pytest

import __spark_entry__ as entry_mod
from tests.conftest import assert_matches_oracle
from tests.test_plan_audit import audit_plan_and_schema

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_oracle_keys_subset_of_queries():
    assert set(ORACLES) <= set(QUERIES)


@pytest.fixture(scope="module", params=sorted(QUERIES))
def built(request, spark, sf_dir):
    """Each registered query is built once and shared by the two tests
    below; pytest groups them by param. The audit reads the plan here,
    before any action runs the query."""
    name = request.param
    df = QUERIES[name](spark, sf_dir)
    return name, df, audit_plan_and_schema(name, df)


def test_query_runs(built):
    name, df, offences = built
    assert offences == []
    assert df.columns


def test_query_matches_oracle(oracle_con, built):
    name, df, _ = built
    if name in ORACLES:
        assert_matches_oracle(df, oracle_con, ORACLES[name])
    else:
        assert df.columns


def test_oracle_type_sweep_rejects_uncast_sum(oracle_con):
    """The v14_histogram_drift bug class: DuckDB's sum(BIGINT) returns
    HUGEINT, fetchall materializes it as exact Python int (local gate
    green) but the driver's Arrow/pandas path renders float64 (hash
    red). The sweep must flag it without scanning any data."""
    from machine_learning_with_spark_streaming_spark.testing import oracle_type_violations

    bad = oracle_type_violations(
        oracle_con, "SELECT sum(l_orderkey) AS s FROM lineitem"
    )
    assert bad == [("s", "HUGEINT")]
    # the cast form — what every oracle must do — is clean
    assert not oracle_type_violations(
        oracle_con,
        "SELECT CAST(sum(l_orderkey) AS BIGINT) AS s FROM lineitem",
    )
    # a UNION ALL with one uncast branch promotes the whole column
    assert oracle_type_violations(
        oracle_con,
        "SELECT CAST(1 AS BIGINT) AS s UNION ALL "
        "SELECT sum(l_orderkey) FROM lineitem",
    )


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_output_types_materialize_identically(oracle_con, name):
    """No registered oracle may emit HUGEINT/UHUGEINT/DECIMAL output
    columns — DESCRIBE-only, so this sweeps all oracles for free."""
    from machine_learning_with_spark_streaming_spark.testing import oracle_type_violations

    assert oracle_type_violations(oracle_con, ORACLES[name]) == []


def test_rotation_orders_queries_by_certification_age(monkeypatch, tmp_path):
    """The driver certifies only the first ~50 queries()' entries per
    round, so the rotation ordering IS the certification strategy:
    never-certified first (registration order), then ascending by
    last-certified round. Pinned against synthetic CORRECTNESS files —
    a regression here silently starves the uncertified tail."""
    import json

    import __spark_entry__ as entry

    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps(
            {
                "q_green_r1": {"hash_match": True, "spark_rows": 1},
                "q_green_then_stale": {"hash_match": True, "spark_rows": 1},
                "q_failed": {"hash_match": False, "spark_rows": 1},
                "q_rows_only": {
                    "hash_match": False,
                    "err": "no_oracle",
                    "spark_rows": 3,
                },
            }
        )
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"q_green_then_stale": {"hash_match": True, "spark_rows": 1}})
    )
    monkeypatch.setattr(entry, "_REPO_DIR", str(tmp_path))
    last = entry._last_certified_round()
    assert last["q_green_r1"] == 1
    assert last["q_green_then_stale"] == 2
    assert "q_failed" not in last  # a hash fail never certifies
    # rows-only counts ONLY while the query has no oracle
    assert last.get("rows_only:q_rows_only") == 1

    # and the real repo's ordering is monotone by certification age:
    # never-certified (0) first, then non-decreasing rounds
    monkeypatch.undo()
    real_last = entry._last_certified_round()
    with_oracle = set(entry.oracle_sql())
    names = list(entry.queries())

    def rnd(n):
        r = real_last.get(n, 0)
        if n not in with_oracle:
            r = max(r, real_last.get("rows_only:" + n, 0))
        if r <= entry._STALE_CERTS.get(n, 0):
            r = 0  # semantics changed after the newest green row
        return r

    rounds = [rnd(n) for n in names]
    assert rounds == sorted(rounds)
    assert rounds[0] == 0 or min(rounds) > 0  # uncertified lead when any exist
