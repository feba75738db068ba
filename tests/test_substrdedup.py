"""Gates for exact repeated-substring detection (ExactSubstr, Lee et al.
2021) and its winnowing candidate path (Schleimer/Wilkerson/Aiken
SIGMOD'03), beyond the driver-strict oracle row ``substring_dedup``."""

import random

import pytest
from pyspark.sql import functions as F

from stackoverflowner_spark.operators.substrdedup import (
    repeated_spans, window_hashes, winnow_candidates, winnowed_fingerprints)
from stackoverflowner_spark.session import get_spark

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="sokg-substrdedup", master="local[8]",
                  shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _uniq(prefix, k):
    return [f"{prefix}{i}" for i in range(k)]


def test_driver_strict_and_nonvacuous(spark):
    from tests.oracle_harness import load_entry, run_all
    res = run_all(spark, SF, only=["substring_dedup"], strict=True)
    assert all(v == [] for v in res.values()), res
    # the fixture's seeded near-dup family must make the entry non-vacuous
    mod = load_entry()
    assert mod.q_substring_dedup(spark, SF).count() >= 2


def test_cross_doc_run_merges_to_one_span(spark):
    run = [f"r{i}" for i in range(12)]
    docs = _docs(spark, [
        (1, " ".join(_uniq("a", 5) + run + _uniq("b", 4))),
        (2, " ".join(_uniq("c", 3) + run + _uniq("d", 6))),
        (3, " ".join(_uniq("e", 30)))])
    out = {r.doc_id: r for r in repeated_spans(docs, n=8).collect()}
    # a 12-token shared run holds 12-8+1 = 5 duplicated windows that merge
    # into ONE maximal span of exactly the run's 12 tokens, in both docs
    assert set(out) == {1, 2}
    for d in (1, 2):
        assert (out[d].dup_windows, out[d].dup_spans,
                out[d].dup_tokens) == (5, 1, 12)


def test_within_doc_repeat_counts(spark):
    run = [f"q{i}" for i in range(8)]
    docs = _docs(spark, [
        (7, " ".join(run + _uniq("x", 5) + run))])
    out = repeated_spans(docs, n=8).collect()
    assert len(out) == 1
    r = out[0]
    # the 8-token run occurs at starts 0 and 13: two windows, two disjoint
    # spans, 16 duplicated tokens — within-document repeats count
    # (ExactSubstr semantics)
    assert (r.dup_windows, r.dup_spans, r.dup_tokens) == (2, 2, 16)


def test_touching_windows_merge(spark):
    run = [f"t{i}" for i in range(16)]
    docs = _docs(spark, [
        (1, " ".join(run + _uniq("y", 3))),
        (2, " ".join(_uniq("z", 4) + run))])
    out = {r.doc_id: r for r in repeated_spans(docs, n=8).collect()}
    # 16-token run: 9 duplicated windows whose [s, s+8) intervals chain
    # (each start == or < previous end) into one 16-token span
    for d in (1, 2):
        assert (out[d].dup_windows, out[d].dup_spans,
                out[d].dup_tokens) == (9, 1, 16)


def test_stride_detects_congruent_misses_misaligned(spark):
    """The documented stride>1 contract: whole-document duplicates (both
    occurrences start at 0 — congruent mod s) are always caught; a run
    whose occurrences start at incongruent offsets can be sampled at
    different relative positions and missed. Exactness needs stride=1."""
    text = " ".join(_uniq("w", 23))
    run = [f"m{i}" for i in range(11)]  # n + s - 1 long, still missable
    docs = _docs(spark, [
        (1, text), (2, text),
        (3, " ".join(_uniq("p", 1) + run)),   # run starts at 1
        (4, " ".join(run + _uniq("s", 4)))])  # run starts at 0
    got = {r.doc_id for r in
           repeated_spans(docs, n=8, stride=4).collect()}
    assert got == {1, 2}  # misaligned pair (3, 4) deterministically missed
    # stride=1 (the exact/default path) catches the misaligned pair too
    got1 = {r.doc_id for r in repeated_spans(docs, n=8).collect()}
    assert got1 == {1, 2, 3, 4}


def test_winnowing_guarantee_alignment_free(spark):
    """Winnowing theorem gate: every pair sharing a run of length
    >= n + w - 1 shares a fingerprint, wherever the run sits — the
    property stride-grids cannot give. Offsets are drawn randomly."""
    n, w = 6, 5
    rng = random.Random(0)
    rows, expected = [], set()
    for p in range(30):
        run = [f"p{p}run{i}" for i in range(n + w - 1)]
        for side in (0, 1):
            doc_id = 2 * p + side
            pre = [f"p{p}s{side}u{i}" for i in range(rng.randrange(0, 15))]
            post = [f"p{p}s{side}v{i}" for i in range(rng.randrange(1, 15))]
            rows.append((doc_id, " ".join(pre + run + post)))
        expected.add((2 * p, 2 * p + 1))
    docs = _docs(spark, rows)
    pairs = {(r.id_a, r.id_b)
             for r in winnow_candidates(docs, n=n, w=w).collect()}
    assert expected <= pairs
    # and the reduction is real: far fewer fingerprints than windows
    fp_rows = winnowed_fingerprints(docs, n=n, w=w).count()
    win_rows = window_hashes(docs, n=n).count()
    assert fp_rows < win_rows / 2


def test_winnow_short_docs_degenerate_gracefully(spark):
    # identical docs shorter than n + w - 1 still pair via the global-min
    # fingerprint; docs shorter than n emit nothing and never pair
    docs = _docs(spark, [(1, "a b c d e f g"), (2, "a b c d e f g"),
                         (3, "a b"), (4, "a b")])
    pairs = {(r.id_a, r.id_b)
             for r in winnow_candidates(docs, n=6, w=8).collect()}
    assert pairs == {(1, 2)}


def test_param_validation(spark):
    docs = _docs(spark, [(1, "a b")])
    with pytest.raises(ValueError):
        repeated_spans(docs, n=0)
    with pytest.raises(ValueError):
        repeated_spans(docs, n=4, stride=0)
    with pytest.raises(ValueError):
        winnowed_fingerprints(docs, n=4, w=0)


def _plan_nodes(df):
    ep = df._jdf.queryExecution().executedPlan()
    if ep.nodeName() == "AdaptiveSparkPlan":
        ep = ep.initialPlan()
    out, stack = [], [ep]
    while stack:
        node = stack.pop()
        out.append(node.nodeName())
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return out


def test_plans_are_bucketed_never_all_pairs(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for df in (repeated_spans(docs, n=8),
               winnow_candidates(docs, n=8, w=4)):
        nodes = _plan_nodes(df)
        assert not any("Cartesian" in x or "NestedLoop" in x
                       for x in nodes), nodes
