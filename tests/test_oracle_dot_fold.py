"""Bitwise cross-engine dot-product fold equality.

The embedding oracles replay Spark's cosine with a strictly sequential
left-to-right double fold (`_dot_sql` in __spark_entry__.py) instead of
DuckDB's `list_dot_product`, whose different summation order differs by
~1e-7 on float32-origin vectors and flips 4-dp rounding boundaries at
scale. This gate asserts the two engines produce IDENTICAL doubles —
bit for bit — for the fold on real fixture vectors, so any rounding digit
downstream is safe.
"""

import struct

import duckdb
import pytest

from tests.oracle_harness import load_entry

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def spark():
    from stackoverflowner_spark.session import get_spark
    s = get_spark(app_name="sokg-fold", master="local[8]",
                  shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_sequential_fold_is_bitwise_equal_across_engines(spark):
    from pyspark.sql import functions as F

    from stackoverflowner_spark.operators.similarity import _dot_col

    mod = load_entry()
    con = duckdb.connect()
    con.execute(f"create view embeddings as select * from "
                f"read_parquet('{SF}/embeddings.parquet')")
    duck = con.execute(f"""
        select a.vec_id, b.vec_id,
               {mod._dot_sql('a.embedding', 'b.embedding')} as dot
        from embeddings a join embeddings b on b.vec_id = a.vec_id + 1
        where a.vec_id < 300""").fetchall()

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    a = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = emb.select((F.col("vec_id") - 1).alias("ia"),
                   F.col("embedding").alias("vb"))
    sp = {(r.ia, r.ia + 1): r.dot for r in
          a.join(b, "ia").filter(F.col("ia") < 300)
          .select("ia", _dot_col(F.col("va"), F.col("vb")).alias("dot"))
          .collect()}

    assert len(duck) >= 250
    mismatches = 0
    for ia, ib, d in duck:
        s_bits = struct.pack("<d", sp[(ia, ib)])
        d_bits = struct.pack("<d", float(d))
        if s_bits != d_bits:
            mismatches += 1
    assert mismatches == 0, f"{mismatches}/{len(duck)} folds differ bitwise"
