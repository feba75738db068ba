"""Extra relational queries verified with the same mechanics as the driver
contract: Spark result vs DuckDB oracle through the harness comparator."""

import pytest

from stackoverflowner_spark.relational import EXTRA_QUERIES
from stackoverflowner_spark.session import get_spark

from .oracle_harness import compare, duck_con

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="sokg-tpch-extra", master="local[8]",
                  shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="module")
def con():
    return duck_con(SF)


@pytest.mark.parametrize("name", sorted(EXTRA_QUERIES))
def test_extra_query_matches_oracle(spark, con, name):
    fn, sql = EXTRA_QUERIES[name]
    sdf = fn(spark, SF).toPandas()
    odf = con.execute(sql).df()
    assert len(sdf) > 0, f"{name}: vacuous (0 rows proves nothing)"
    # strict = the driver's bitwise criterion (VERDICT r4 #1: atol-based
    # comparison passed what the driver's hash failed)
    problems = compare(name, sdf, odf, strict=True)
    assert not problems, problems


# the contract-file money queries, gated at the driver's own SF (0.01)
# under the driver's own bitwise criterion: decimal money arithmetic must
# make Spark and DuckDB agree exactly, not within atol
MONEY_QUERIES = ["tpch_q1", "tpch_q5ish", "tpch_q3ish", "tpch_q10ish",
                 "tpch_q14ish", "tpch_q18ish", "nation_revenue",
                 "salted_join",
                 # eval_rollup left the driver surface in r5e (slot freed
                 # for lm_score); its strict gate lives in
                 # test_decontam.py::test_rotated_entries_still_green
                 "tpch_q4ish", "tpch_q7ish", "tpch_q9ish", "tpch_q22ish"]


def test_money_family_strict_bitwise_sf001(spark, con):
    # resolve by q_ function, not through queries(): several money rows
    # have rotated off the 50-entry driver surface (r5f/r5g) and
    # run_all(only=...) silently skips absent names — this gate must
    # keep covering the WHOLE family regardless of rotation state
    from tests.oracle_harness import load_entry
    mod = load_entry()
    oracles = mod.oracle_sql()
    problems = []
    for name in MONEY_QUERIES:
        sdf = getattr(mod, f"q_{name}")(spark, SF).toPandas()
        odf = con.execute(oracles[name]).df()
        assert len(sdf) > 0, f"{name}: vacuous"
        problems += compare(name, sdf, odf, strict=True)
    assert not problems, problems
