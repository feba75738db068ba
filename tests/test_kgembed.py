"""TransE gates (operators/kgembed.py): the distributed trainer must be
BITWISE equal to a single-process pure-Python replay (the determinism
claim: hash-random init, hash-corrupted negatives, row-local float64,
exact fixed-point gradient reduction), invariant to partitioning, and
must actually learn (true triples score closer than corrupted ones).
The epoch-0 gradient aggregate's DuckDB twin lives in __spark_entry__.py
(`transe_grad`, rotation-gated in tests/test_decontam.py)."""

import hashlib
import math

import pytest

from stackoverflowner_spark.operators.kgembed import (
    _FP, init_embeddings, transe_score, transe_train)
from stackoverflowner_spark.session import get_spark

SEED = 0
DIM = 4
LR = 0.01
MARGIN = 1.0


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="sokg-kgembed", master="local[4]",
                  shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _triples():
    # a two-community KG: libraries used_in languages, algos implemented_in
    # libraries — enough structure that translation vectors are learnable
    libs = [f"lib{i}" for i in range(6)]
    langs = [f"lang{i}" for i in range(3)]
    algos = [f"algo{i}" for i in range(5)]
    tri = []
    for i, l in enumerate(libs):
        tri.append((l, "used_in", langs[i % 3]))
    for i, a in enumerate(algos):
        tri.append((a, "implemented_in", libs[i % 6]))
        tri.append((a, "used_in", langs[(i + 1) % 3]))
    return sorted(set(tri))


def _unit(s: str) -> float:
    return float(int(hashlib.md5(s.encode()).hexdigest()[:15], 16)) \
        / float(16 ** 15)


def _init(ids, kind, dim=DIM, seed=SEED):
    bound = 6.0 / dim ** 0.5
    return {i: [(_unit(f"{seed}:{kind}:{i}:{d}") * 2.0 - 1.0) * bound
                for d in range(dim)] for i in ids}


def _norm(vec):
    acc = 0.0
    for x in vec:
        acc = acc + x * x
    n = math.sqrt(acc)
    return [x / n for x in vec]


def replay(triples, dim=DIM, epochs=3, lr=LR, margin=MARGIN, seed=SEED):
    """Pure-Python bit-for-bit replay of transe_train."""
    ents = sorted({t[0] for t in triples} | {t[2] for t in triples})
    n = len(ents)
    rels = sorted({t[1] for t in triples})
    ent = _init(ents, "ent", dim, seed)
    rel = {k: _norm(v) for k, v in _init(rels, "rel", dim, seed).items()}
    scale = lr / float(_FP)
    for epoch in range(epochs):
        ent = {k: _norm(v) for k, v in ent.items()}
        grads = {}  # (id, kind, dim) -> exact int sum

        def add(eid, kind, gvec):
            for d, g in enumerate(gvec):
                key = (eid, kind, d)
                grads[key] = grads.get(key, 0) + int(g * float(_FP))

        for (h, r, t) in triples:
            nid = ents[int(hashlib.md5(
                f"neg:{seed}:{epoch}:{h}:{r}:{t}".encode()
            ).hexdigest()[:15], 16) % n]
            hv, rv, tv, nv = ent[h], rel[r], ent[t], ent[nid]
            pos = [(hv[d] + rv[d]) - tv[d] for d in range(dim)]
            neg = [(hv[d] + rv[d]) - nv[d] for d in range(dim)]
            dpos = 0.0
            for x in pos:
                dpos = dpos + x * x
            dneg = 0.0
            for x in neg:
                dneg = dneg + x * x
            if not (margin + dpos - dneg > 0):
                continue
            ghr = [2.0 * (pos[d] - neg[d]) for d in range(dim)]
            add(h, "e", ghr)
            add(r, "r", ghr)
            add(t, "e", [-2.0 * p for p in pos])
            add(nid, "e", [2.0 * x for x in neg])
        for store, kind in ((ent, "e"), (rel, "r")):
            for eid, v in store.items():
                store[eid] = [v[d] - scale * float(grads.get((eid, kind, d), 0))
                              if (eid, kind, d) in grads else v[d]
                              for d in range(dim)]
    return ent, rel


def _collect(df):
    return {r.id: list(r.vec) for r in df.collect()}


def test_distributed_bitwise_equals_replay(spark):
    tri = _triples()
    df = spark.createDataFrame(tri, "subj string, pred string, obj string")
    ent, rel = transe_train(df, dim=DIM, epochs=3, lr=LR, margin=MARGIN,
                            seed=SEED)
    got_e, got_r = _collect(ent), _collect(rel)
    want_e, want_r = replay(tri, epochs=3)
    assert got_e.keys() == want_e.keys()
    assert got_r.keys() == want_r.keys()
    for k in want_e:
        assert got_e[k] == want_e[k], k  # exact float equality
    for k in want_r:
        assert got_r[k] == want_r[k], k


def test_partitioning_invariance(spark):
    tri = _triples()
    df = spark.createDataFrame(tri, "subj string, pred string, obj string")
    a = _collect(transe_train(df.repartition(1), dim=DIM, epochs=2,
                              partitions=2)[0])
    b = _collect(transe_train(df.repartition(7), dim=DIM, epochs=2,
                              partitions=5)[0])
    assert a == b


def test_learns_translation_structure(spark):
    tri = _triples()
    df = spark.createDataFrame(tri, "subj string, pred string, obj string")
    ent, rel = transe_train(df, dim=8, epochs=10, lr=0.05)
    pos = transe_score(df, ent, rel).collect()
    # corrupted tails: rotate objects within the triple list
    objs = [t[2] for t in tri]
    corrupted = [(t[0], t[1], objs[(i + 3) % len(objs)])
                 for i, t in enumerate(tri)
                 if objs[(i + 3) % len(objs)] != t[2]]
    cdf = spark.createDataFrame(corrupted,
                                "subj string, pred string, obj string")
    neg = transe_score(cdf, ent, rel).collect()
    mean_pos = sum(r.dist for r in pos) / len(pos)
    mean_neg = sum(r.dist for r in neg) / len(neg)
    assert mean_pos < mean_neg * 0.8, (mean_pos, mean_neg)
    # and training moved things: untrained embeddings don't separate
    e0 = init_embeddings(ent.select("id"), 8, SEED, "ent")
    r0 = init_embeddings(rel.select("id"), 8, SEED, "rel")
    pos0 = transe_score(df, e0, r0).collect()
    neg0 = transe_score(cdf, e0, r0).collect()
    sep0 = (sum(r.dist for r in pos0) / len(pos0)) \
        / (sum(r.dist for r in neg0) / len(neg0))
    assert mean_pos / mean_neg < sep0


def test_score_matches_replay_arithmetic(spark):
    tri = _triples()
    df = spark.createDataFrame(tri, "subj string, pred string, obj string")
    ent, rel = transe_train(df, dim=DIM, epochs=2)
    want_e, want_r = replay(tri, epochs=2)
    got = {(r.subj, r.pred, r.obj): r.dist
           for r in transe_score(df, ent, rel).collect()}
    for (h, r, t) in tri:
        hv, rv, tv = want_e[h], want_r[r], want_e[t]
        acc = 0.0
        for d in range(DIM):
            x = (hv[d] + rv[d]) - tv[d]
            acc = acc + x * x
        assert got[(h, r, t)] == acc, (h, r, t)

def _eval_replay(test, train, ent, rel, dim=DIM):
    """Pure-Python replay of transe_eval's filtered ranking protocol."""
    known = set(train) | set(test)
    ents = sorted(ent)
    ranks = []
    # the operator's inner joins drop test triples with entities or
    # relations unseen in training — the standard protocol
    test = [(h, r, t) for (h, r, t) in test
            if h in ent and t in ent and r in rel]
    for (h, r, t) in test:
        qv = [ent[h][d] + rel[r][d] for d in range(dim)]

        def dist(tid):
            acc = 0.0
            for d in range(dim):
                x = qv[d] - ent[tid][d]
                acc = acc + x * x
            return acc

        dtrue = dist(t)
        nb = sum(
            1 for c in ents
            if c != t and (h, r, c) not in known
            and (dist(c), c) < (dtrue, t))
        ranks.append(nb + 1)
    return ranks


def test_eval_matches_replay(spark):
    from stackoverflowner_spark.operators.kgembed import transe_eval
    tri = _triples()
    # hold out every 4th triple whose head stays connected through the rest
    test = [t for i, t in enumerate(tri) if i % 4 == 0]
    train = [t for t in tri if t not in test]
    tdf = spark.createDataFrame(train, "subj string, pred string, obj string")
    edf = spark.createDataFrame(test, "subj string, pred string, obj string")
    ent, rel = transe_train(tdf, dim=DIM, epochs=3)
    row = transe_eval(edf, tdf, ent, rel).collect()[0]
    want_e, want_r = replay(train, epochs=3)
    ranks = _eval_replay(test, train, want_e, want_r)
    n = len(ranks)
    assert row.n == n
    assert row.hits1 == sum(1 for k in ranks if k <= 1) / n
    assert row.hits3 == sum(1 for k in ranks if k <= 3) / n
    assert row.hits10 == sum(1 for k in ranks if k <= 10) / n
    # the reciprocal-rank sum is the one order-dependent float: tolerance
    import math as _m
    assert _m.isclose(row.mrr, sum(1.0 / k for k in ranks) / n,
                      rel_tol=1e-12)


def test_eval_beats_untrained(spark):
    """Trained embeddings must rank the tails of TRAINING triples far
    better than the normalized init (reconstruction — the learnability
    assertion a 14-entity toy can actually support; held-out
    generalization at this size is noise)."""
    from stackoverflowner_spark.operators.kgembed import transe_eval
    tri = _triples()
    probe = [t for i, t in enumerate(tri) if i % 3 == 0]
    tdf = spark.createDataFrame(tri, "subj string, pred string, obj string")
    edf = spark.createDataFrame(probe, "subj string, pred string, obj string")
    ent, rel = transe_train(tdf, dim=8, epochs=8, lr=0.05)
    trained = transe_eval(edf, tdf, ent, rel).collect()[0]
    from stackoverflowner_spark.operators.kgembed import (
        _l2_normalize, init_embeddings)
    e0 = _l2_normalize(init_embeddings(ent.select("id"), 8, SEED, "ent"))
    r0 = _l2_normalize(init_embeddings(rel.select("id"), 8, SEED, "rel"))
    untrained = transe_eval(edf, tdf, e0, r0).collect()[0]
    assert trained.n == untrained.n == len(probe)
    assert trained.mrr > untrained.mrr, (trained.mrr, untrained.mrr)

def test_cli_embeddings_flag(spark, tmp_path, capsys):
    """run_pipeline --embeddings trains TransE on the produced KG and
    emits entity/relation vectors plus a filtered-eval stats line."""
    import json
    import sys
    from tests.oracle_harness import REPO
    sys.path.insert(0, REPO)
    from run_pipeline import main

    out = str(tmp_path / "out")
    emb = str(tmp_path / "emb")
    assert main(["--synth", "200", "--mode", "fused", "--tagger",
                 "gazetteer", "--out", out, "--embeddings", emb,
                 "--embed-dim", "4", "--embed-epochs", "2"]) == 0
    lines = [json.loads(x) for x in
             capsys.readouterr().out.strip().splitlines()
             if x.startswith("{")]
    stats = next(l["embeddings"] for l in lines if "embeddings" in l)
    ent = spark.read.parquet(emb + "/entities")
    assert ent.count() == stats["entities"] > 0
    assert stats["relations"] > 0
    assert len(ent.first().vec) == 4
    assert 0.0 <= stats["mrr"] <= 1.0 and stats["eval_n"] >= 0
