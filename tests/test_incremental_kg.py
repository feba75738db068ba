"""Incremental KG update == full recompute, on real synthetic crawls.

Snapshot B is built from snapshot A with every delta class present:
removed urls, changed pages (content swapped in from donor pages —
including lang flips, so the en-filter transition is exercised), added
urls, and unchanged pages whose warc_ts is shifted (a metadata-only
recrawl MUST be classified unchanged: the fingerprint covers exactly the
kernel-input columns html+lang).

The gate: incremental_update(A, B, triples_A, run_fused) produces the
bit-identical triple table to run_fused(B), while the kernel job sees only
the changed+added pages.
"""

import pytest
from pyspark.sql import functions as F

from stackoverflowner_spark.operators.incremental import incremental_update
from stackoverflowner_spark.operators.tagger import GazetteerTagger
from stackoverflowner_spark.plans.pipeline import KGPipeline
from stackoverflowner_spark.session import get_spark
from stackoverflowner_spark.sources.pages import synth_pages

N_A = 120          # snapshot A: ids 0..119
N_DONOR = 20       # ids 120..139 donate content to "changed" pages
N_ADD = 20         # ids 140..159 appear only in B


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="sokg-incremental", master="local[8]",
                  shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="module")
def snapshots(spark):
    pool = synth_pages(spark, N_A + N_DONOR + N_ADD).withColumn(
        "pid", F.regexp_extract("url", r"(\d+)$", 1).cast("long"))
    a = pool.filter(F.col("pid") < N_A)
    removed = F.col("pid") % 10 == 0
    changed = F.col("pid") % 10 == 3
    donors = (pool.filter((F.col("pid") >= N_A)
                          & (F.col("pid") < N_A + N_DONOR))
              .select((F.col("pid") - N_A).alias("donor_slot"),
                      F.col("html").alias("d_html"),
                      F.col("text").alias("d_text"),
                      F.col("lang").alias("d_lang")))
    b_changed = (a.filter(changed)
                 .withColumn("donor_slot", F.col("pid") / F.lit(10))
                 .withColumn("donor_slot", F.col("donor_slot").cast("long"))
                 .join(F.broadcast(donors), "donor_slot")
                 .select("url", "warc_ts", F.col("d_html").alias("html"),
                         F.col("d_text").alias("text"),
                         F.col("d_lang").alias("lang"), "pid"))
    # metadata-only shift on the untouched pages: must stay "unchanged"
    b_same = (a.filter(~removed & ~changed)
              .withColumn("warc_ts", F.col("warc_ts")
                          + F.expr("interval 1 day")))
    b_added = pool.filter(F.col("pid") >= N_A + N_DONOR)
    b = b_same.unionByName(b_changed).unionByName(b_added)
    return (a.drop("pid").localCheckpoint(),
            b.drop("pid").localCheckpoint())


def test_incremental_equals_full_recompute(spark, snapshots, tmp_path):
    a, b = snapshots
    pipe = KGPipeline(spark, str(tmp_path / "kg"), tagger=GazetteerTagger())
    # snapshot A's triples persisted, as a real deployment would have them
    ta_path = str(tmp_path / "triples_a")
    pipe.run_fused(a).write.parquet(ta_path)
    triples_a = spark.read.parquet(ta_path)

    seen_pages = []

    def rebuild(pages):
        seen_pages.append(pages)
        return pipe.run_fused(pages)

    incr = incremental_update(a, b, triples_a, rebuild)
    full = pipe.run_fused(b)
    gi = sorted(map(tuple, incr.collect()))
    gf = sorted(map(tuple, full.collect()))
    assert gi == gf and len(gi) > 300

    # the kernel job saw only the changed+added pages
    assert len(seen_pages) == 1
    work_urls = {r.url for r in seen_pages[0].select("url").collect()}
    assert len(work_urls) == 32
    assert all(int(u.rsplit("/", 1)[1]) % 10 == 3
               or int(u.rsplit("/", 1)[1]) >= N_A + N_DONOR
               for u in work_urls)


def test_cli_incremental_mode(spark, snapshots, tmp_path, capsys):
    """run_pipeline --prev-pages/--prev-triples plumbing: the CLI's
    incremental output matches its own full-recompute output on B."""
    import json
    import sys
    from tests.oracle_harness import REPO
    sys.path.insert(0, REPO)
    from run_pipeline import main

    a, b = snapshots
    pa, pb = str(tmp_path / "pa"), str(tmp_path / "pb")
    a.write.parquet(pa)
    b.write.parquet(pb)
    base = ["--mode", "fused", "--tagger", "gazetteer"]
    assert main(["--pages", pa, "--out", str(tmp_path / "outA")] + base) == 0
    assert main(["--pages", pb, "--out", str(tmp_path / "outB_full")] + base) == 0
    capsys.readouterr()
    assert main(["--pages", pb, "--out", str(tmp_path / "outB_incr"),
                 "--prev-pages", pa,
                 "--prev-triples", str(tmp_path / "outA" / "triples")]
                + base) == 0
    lines = [json.loads(x) for x in
             capsys.readouterr().out.strip().splitlines() if x.startswith("{")]
    assert lines[0]["incremental_page_delta"] == {
        "removed": 12, "changed": 12, "added": 20, "unchanged": 96}
    full = sorted(map(tuple, spark.read.parquet(
        str(tmp_path / "outB_full" / "triples")).collect()))
    incr = sorted(map(tuple, spark.read.parquet(
        str(tmp_path / "outB_incr" / "triples")).collect()))
    assert full == incr and len(full) > 300
