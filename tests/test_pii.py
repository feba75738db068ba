"""PII scrub: planted specimens and a bitwise cross-engine oracle gate
(the driver's own strict compare) over the same planted table in DuckDB —
patterns and scrub order identical by construction
(operators/pii.duckdb_mirror_sql).
"""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from stackoverflowner_spark.operators.pii import (
    PII_PATTERNS, duckdb_mirror_sql, scrub_pii, with_pii_counts)
from stackoverflowner_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="sokg-pii", master="local[4]",
                  shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


ROWS = [
    (1, "contact bob.smith+spam@example.co.uk or admin@host.io today"),
    (2, "server at 10.0.255.3 failed, fallback 192.168.1.1 is up"),
    (3, "call 555-867-5309 or 800.555.0199 before noon"),
    (4, "mixed: a@b.io then 127.0.0.1 then 555-123-4567 done"),
    (5, "clean text with no personal identifiers at all"),
    (6, "not-pii: version 1.2.3 and section 10.4 and id 12-34"),
    (7, ""),
]


def _df(spark):
    return spark.createDataFrame(ROWS, "doc_id long, text string")


def test_counts_per_category(spark):
    out = {r.doc_id: r for r in with_pii_counts(_df(spark)).collect()}
    assert (out[1].pii_email, out[1].pii_ipv4, out[1].pii_phone) == (2, 0, 0)
    assert (out[2].pii_email, out[2].pii_ipv4, out[2].pii_phone) == (0, 2, 0)
    assert (out[3].pii_email, out[3].pii_ipv4, out[3].pii_phone) == (0, 0, 2)
    assert out[4].pii_total == 3
    assert out[5].pii_total == 0
    # version strings / short dotted numbers are not IPv4s or phones
    assert out[6].pii_total == 0
    assert out[7].pii_total == 0


def test_scrub_replaces_with_sentinels(spark):
    out = {r.doc_id: r.text for r in scrub_pii(_df(spark)).collect()}
    assert out[1] == "contact <EMAIL> or <EMAIL> today"
    assert out[2] == "server at <IP> failed, fallback <IP> is up"
    assert out[3] == "call <PHONE> or <PHONE> before noon"
    assert out[4] == "mixed: <EMAIL> then <IP> then <PHONE> done"
    assert out[5] == ROWS[4][1]  # untouched


def test_scrub_out_col_preserves_original(spark):
    out = scrub_pii(_df(spark), out_col="scrubbed").filter(
        F.col("doc_id") == 4).collect()[0]
    assert out.text == ROWS[3][1] and "<EMAIL>" in out.scrubbed


def test_cross_engine_bitwise_oracle(spark):
    """Spark counts+scrub vs the DuckDB mirror, driver-strict compare."""
    from tests.oracle_harness import compare
    sdf = (scrub_pii(with_pii_counts(_df(spark)), out_col="scrubbed")
           .select("doc_id", "pii_email", "pii_ipv4", "pii_phone",
                   "pii_total", "scrubbed").toPandas())
    con = duckdb.connect()
    con.register("docs", pd.DataFrame(ROWS, columns=["doc_id", "text"]))
    odf = con.execute(duckdb_mirror_sql("docs")).df()
    assert compare("pii", sdf, odf, strict=True) == []


def test_patterns_are_lookaround_free():
    """RE2 (DuckDB) has no lookbehind/lookahead or backreferences; keep
    every pattern inside the dialect intersection."""
    for _, pat, _ in PII_PATTERNS:
        for bad in ("(?<", "(?=", "(?!", "\\1"):
            assert bad not in pat, pat


def test_pure_columnar_plan(spark):
    """Zero Python, zero shuffle: the whole scrub is one Project over the
    scan (whole-stage codegen)."""
    df = spark.createDataFrame(ROWS, "doc_id long, text string")
    plan = (scrub_pii(with_pii_counts(df))
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    assert "Python" not in plan and "MapInPandas" not in plan
