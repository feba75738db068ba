"""Subject-clustered triples layout: row-group prunability, measured.

Writes the same synthetic evidence-triple table through the plain
writer and the sorted writer (tiny parquet.block.size so the small
fixture produces many row groups), then reads the parquet FOOTER
statistics with pyarrow and counts, for a panel of probe subjects, how
many row groups each layout would force a reader to decode (min <= s <=
max). The sorted layout must cut the candidate set by >= 5x in
aggregate — that is the entire point of the layout and this gate fails
if a writer change silently destroys the clustering (e.g. the file
writer re-sorting by partition column only). Functional equality is
gated alongside.
"""

import glob

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from stackoverflowner_spark.operators.triples import write_triples_sorted
from stackoverflowner_spark.session import get_spark

N_BUCKETS = 8


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="sokg-triples-layout", master="local[4]",
                  shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _synthetic_triples(spark, n=40_000, n_subj=4_000):
    # deterministic, shuffled subject order (md5 scramble) so the plain
    # layout genuinely interleaves subjects within every file
    return (spark.range(n)
            .withColumn("subj", F.concat(F.lit("ent_"),
                                         (F.col("id") % n_subj)))
            .withColumn("pred", F.element_at(
                F.array(F.lit("instance_of"), F.lit("mentioned_in"),
                        F.lit("alias_of")),
                (F.col("id") % 3 + 1).cast("int")))
            .withColumn("obj", F.concat(F.lit("v_"), F.col("id")))
            .withColumn("url", F.concat(F.lit("https://x/"),
                                        F.col("id") % 977))
            .withColumn("part_hash", F.pmod(F.xxhash64("subj"),
                                            F.lit(N_BUCKETS)).cast("int"))
            .orderBy(F.md5(F.col("id").cast("string")))
            .select("subj", "pred", "obj", "url", "part_hash"))


def _candidate_rowgroups(root, probe_buckets):
    """For each probe subject: #row groups a reader must decode AFTER
    partition pruning — i.e. row groups in the probe's own part_hash
    directory whose subj [min,max] admit it (exactly what Spark's
    row-group skipping / DuckDB zone maps evaluate)."""
    total = {s: 0 for s in probe_buckets}
    n_groups = 0
    for s, bucket in probe_buckets.items():
        for f in glob.glob(f"{root}/part_hash={bucket}/part-*"):
            md = pq.ParquetFile(f).metadata
            names = [md.schema.column(i).name for i in range(len(md.schema))]
            idx = names.index("subj")
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(idx).statistics
                assert st is not None and st.has_min_max
                n_groups += 1
                if st.min <= s <= st.max:
                    total[s] += 1
    return total, n_groups


def test_sorted_layout_prunes_rowgroups(spark, tmp_path):
    tri = _synthetic_triples(spark).cache()
    plain, clustered = str(tmp_path / "plain"), str(tmp_path / "sorted")
    # plain writer with the same tiny block size: the layout, not the
    # block size, must be what differs
    (tri.repartition("part_hash").write
     .option("parquet.block.size", str(32 * 1024))
     .partitionBy("part_hash").parquet(plain))
    write_triples_sorted(tri, clustered, block_size=32 * 1024)

    probes = [f"ent_{i}" for i in range(0, 4000, 397)]
    buckets = {r.subj: r.b for r in
               (spark.createDataFrame([(s,) for s in probes], "subj string")
                .select("subj", F.pmod(F.xxhash64("subj"),
                                       F.lit(N_BUCKETS)).cast("int")
                        .alias("b")).collect())}
    plain_hits, plain_groups = _candidate_rowgroups(plain, buckets)
    sorted_hits, sorted_groups = _candidate_rowgroups(clustered, buckets)
    # enough row groups per probed partition for the gate to mean something
    assert plain_groups >= 4 * len(probes), plain_groups
    assert sorted_groups >= 4 * len(probes), sorted_groups
    tot_plain, tot_sorted = sum(plain_hits.values()), sum(sorted_hits.values())
    # every probe present somewhere; the clustered layout admits >=5x
    # fewer candidate row groups across the panel
    assert all(v >= 1 for v in sorted_hits.values())
    assert tot_plain >= 5 * tot_sorted, (tot_plain, tot_sorted)

    # functional equality of the two layouts
    a = sorted(map(tuple, spark.read.parquet(plain)
                   .select("subj", "pred", "obj", "url").collect()))
    b = sorted(map(tuple, spark.read.parquet(clustered)
                   .select("subj", "pred", "obj", "url").collect()))
    assert a == b
