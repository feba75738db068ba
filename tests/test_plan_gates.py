"""Plan-shape gates for the flagship fused pipeline.

VERDICT r4 #2/Next #3: PLANS.md drifted from the real plan once before (the
dossier kept showing a corpus-side ArrowEvalPython that commit adb7fd7 had
removed). These gates assert the plan SHAPE the dossier claims, directly on
``queryExecution().sparkPlan()`` at HEAD, so the documented plan can't
silently diverge from the executed one again:

* exactly ONE MapInPandas — the fused document kernel is the only
  corpus-sized Arrow crossing;
* zero ArrowEvalPython anywhere — the link score is a dictionary column,
  so no Python runs after the kernel or on the dictionary side;
* exactly ONE corpus-spine shuffle Exchange (the evidence-triple
  distinct) — any other Exchange must be dictionary-sized (no
  MapInPandas in its subtree); mention linking is ONE
  BroadcastHashJoin;
* the language filter reaches the parquet scan (PushedFilters) and
  ``warc_ts`` is pruned out of ReadSchema.
"""

import tempfile

import pytest

from stackoverflowner_spark.plans.pipeline import KGPipeline
from stackoverflowner_spark.session import get_spark
from stackoverflowner_spark.sources.pages import synth_pages


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="sokg-plangates", master="local[8]",
                  shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="module")
def flagship_plan(spark, tmp_path_factory):
    """The initial physical plan (post-EnsureRequirements, pre-AQE reopt) of
    the fused pages->triples DAG over a real parquet scan (pushdown is only
    visible on a file source)."""
    pages_path = str(tmp_path_factory.mktemp("pages") / "pages.parquet")
    synth_pages(spark, 50).write.mode("overwrite").parquet(pages_path)
    pipe = KGPipeline(spark, tempfile.mkdtemp())
    df = pipe.run_fused(spark.read.parquet(pages_path))
    ep = df._jdf.queryExecution().executedPlan()
    # AQE wraps the plan in AdaptiveSparkPlan whose children() is empty;
    # initialPlan is the exchange-inserted static plan we gate on
    return ep.initialPlan() if ep.nodeName() == "AdaptiveSparkPlan" else ep


def _nodes(jplan):
    out = [jplan]
    ch = jplan.children()
    for i in range(ch.size()):
        out.extend(_nodes(ch.apply(i)))
    return out


def test_flagship_single_fused_kernel(flagship_plan):
    mip = [n for n in _nodes(flagship_plan)
           if "MapInPandas" in n.nodeName()]
    assert len(mip) == 1, (
        f"expected exactly one fused kernel crossing, got {len(mip)} "
        "(a union-of-projections re-runs the Python kernel per arm)")


def test_flagship_no_python_downstream_of_kernel(flagship_plan):
    arrow = [n.nodeName() for n in _nodes(flagship_plan)
             if "ArrowEvalPython" in n.nodeName()]
    assert not arrow, (
        "ArrowEvalPython in the flagship plan — only the fused kernel may "
        "cross into Python; link scores are precomputed dictionary columns")


def test_flagship_single_corpus_shuffle(flagship_plan):
    shuffles = [n for n in _nodes(flagship_plan)
                if n.nodeName() == "Exchange"]
    spine = [n for n in shuffles if "MapInPandas" in n.toString()]
    assert len(spine) == 1, (
        f"expected ONE corpus-spine shuffle (triple distinct), got "
        f"{len(spine)} of {len(shuffles)} total")
    # everything else must be dictionary-sized (its subtree never touches
    # the page kernel, so its volume is O(dictionary), not O(corpus))
    assert all("FileScan parquet" not in n.toString()
               for n in shuffles if n not in spine)
    broadcasts = [n for n in _nodes(flagship_plan)
                  if "BroadcastHashJoin" in n.nodeName()]
    assert len(broadcasts) == 1, (
        f"expected ONE broadcast link join, got {len(broadcasts)}")


def test_flagship_scan_pushdown_and_pruning(flagship_plan):
    plan = flagship_plan.toString()
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    assert "warc_ts" not in plan, "ReadSchema must prune warc_ts"
