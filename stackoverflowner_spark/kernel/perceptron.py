"""Averaged-perceptron sequence tagger (deterministic learned Tagger).

The reference's taggers are neural (BiLSTM-CRF, BERT) with external weights;
this module provides a *trainable in-sandbox* alternative with the same
token->BIO contract: a classic averaged perceptron (Collins 2002) with
greedy left-to-right decoding, lexical/shape/context features plus the
reference's auxiliary channels (markdown label, gazetteer hit, CTC-style
shape cues). Training is plain Python/numpy, bit-deterministic (fixed
iteration order, no RNG), fit once driver-side and broadcast.
"""

from __future__ import annotations

from collections import defaultdict
from typing import Dict, Iterable, List, Optional, Sequence, Tuple

import numpy as np


def _shape(word: str) -> str:
    out = []
    for ch in word[:8]:
        if ch.isupper():
            out.append("X")
        elif ch.islower():
            out.append("x")
        elif ch.isdigit():
            out.append("9")
        else:
            out.append(ch)
    return "".join(out)


def _cshape(word: str) -> str:
    """Collapsed shape over the whole word: character-class RUNS collapse to
    one symbol ("getElementById" -> "xXx", "v1.2.3" -> "x9.9.9"), so code
    identifiers of any length share a class — the generalization that exact
    ``w=``/``shape=`` features can't give on out-of-vocabulary tokens."""
    out = []
    last = ""
    for ch in word:
        if ch.isupper():
            c = "X"
        elif ch.islower():
            c = "x"
        elif ch.isdigit():
            c = "9"
        else:
            c = ch
        if c != last:
            out.append(c)
            last = c
    return "".join(out[:12])


def static_features(w: str) -> List[str]:
    """Context-free features of one token — the cached half of the model's
    emission sum (``StructuredPerceptron._static_vec`` MUST list exactly
    these). The char-4-gram block is the fasttext-style subword channel:
    measured +2.0 test F1 over the r3 feature set (BENCH/BASELINE.md
    ladder), and it is what lets out-of-vocabulary code identifiers share
    evidence with their in-vocabulary neighbors."""
    lw = w.lower()
    camel = any(a.islower() and b.isupper() for a, b in zip(w, w[1:]))
    padded = "<" + lw + ">"
    feats = [
        "b",
        "w=" + lw,
        "suf3=" + lw[-3:],
        "suf2=" + lw[-2:],
        "suf4=" + lw[-4:],
        "pre2=" + lw[:2],
        "pre3=" + lw[:3],
        "shape=" + _shape(w),
        "cshape=" + _cshape(w),
        "dot=" + ("1" if "." in w else "0"),
        "dig=" + ("1" if any(c.isdigit() for c in w) else "0"),
        "up=" + ("1" if w[:1].isupper() else "0"),
        "paren=" + ("1" if "(" in w or ")" in w else "0"),
        "low=" + ("1" if w == lw else "0"),
        "camel=" + ("1" if camel else "0"),
        "punc=" + ("".join(c for c in "-_:/@#=<>" if c in w) or "0"),
        "len=" + str(min(len(w), 10)),
    ]
    feats += sorted({"cg=" + padded[i:i + 4]
                     for i in range(max(len(padded) - 3, 1))})
    return feats


def token_features(words: Sequence[str], i: int, prev_tag: str,
                   md: str, gaz: str) -> List[str]:
    w = words[i]
    lw = w.lower()
    prev_w = words[i - 1].lower() if i > 0 else "<S>"
    next_w = words[i + 1].lower() if i + 1 < len(words) else "</S>"
    prev_w2 = words[i - 2].lower() if i > 1 else "<S>"
    next_w2 = words[i + 2].lower() if i + 2 < len(words) else "</S>"
    feats = static_features(w) + [
        "pw=" + prev_w,
        "nw=" + next_w,
        "pw2=" + prev_w + "|" + lw,
        "nw2=" + lw + "|" + next_w,
        "pt=" + prev_tag,
        "pt+w=" + prev_tag + "|" + lw,
        "md=" + md,
        "gaz=" + gaz,
        "pww=" + prev_w2,
        "nww=" + next_w2,
    ]
    return feats


class AveragedPerceptron:
    def __init__(self):
        self.weights: Dict[str, Dict[str, float]] = {}
        self.classes: List[str] = []

    # -- training internals ------------------------------------------------ #

    def _predict(self, feats: Sequence[str]) -> str:
        scores: Dict[str, float] = defaultdict(float)
        for f in feats:
            wts = self.weights.get(f)
            if wts:
                for label, w in wts.items():
                    scores[label] += w
        if not scores:
            return "O"
        # deterministic argmax: score desc, then label asc
        return min(scores, key=lambda c: (-scores[c], c))

    def fit(self, sentences: Iterable[Tuple[Sequence[str], Sequence[str],
                                            Sequence[str], Sequence[str]]],
            epochs: int = 3) -> None:
        """sentences: (words, md_tags, gaz_tags, gold_tags) tuples."""
        data = list(sentences)
        label_set = sorted({t for _, _, _, g in data for t in g})
        self.classes = label_set
        totals: Dict[Tuple[str, str], float] = defaultdict(float)
        tstamps: Dict[Tuple[str, str], int] = defaultdict(int)
        step = 0

        def upd(f: str, label: str, v: float) -> None:
            key = (f, label)
            w = self.weights.setdefault(f, {})
            totals[key] += (step - tstamps[key]) * w.get(label, 0.0)
            tstamps[key] = step
            w[label] = w.get(label, 0.0) + v

        for _ in range(epochs):
            for words, mds, gazs, golds in data:
                prev = "<S>"
                for i in range(len(words)):
                    feats = token_features(words, i, prev, mds[i], gazs[i])
                    step += 1
                    guess = self._predict(feats)
                    gold = golds[i]
                    if guess != gold:
                        for f in feats:
                            upd(f, gold, 1.0)
                            upd(f, guess, -1.0)
                    prev = gold  # gold prev-tag during training (teacher forcing)
        # average
        for f, wts in self.weights.items():
            for label in list(wts):
                key = (f, label)
                total = totals[key] + (step - tstamps[key]) * wts[label]
                avg = total / step
                if abs(avg) > 1e-9:
                    wts[label] = avg
                else:
                    del wts[label]
        self.weights = {f: w for f, w in self.weights.items() if w}

    # -- inference --------------------------------------------------------- #

    def tag_sentence(self, words: Sequence[str], mds: Sequence[str],
                     gazs: Sequence[str]) -> List[str]:
        prev = "<S>"
        out = []
        for i in range(len(words)):
            feats = token_features(words, i, prev, mds[i], gazs[i])
            scores: Dict[str, float] = defaultdict(float)
            for f in feats:
                wts = self.weights.get(f)
                if wts:
                    for label, w in wts.items():
                        scores[label] += w
            tag = min(scores, key=lambda c: (-scores[c], c)) if scores else "O"
            out.append(tag)
            prev = tag
        return out

    def tag_sentences(self, sentences) -> List[List[str]]:
        """``(words, mds, gazs)`` triples -> tags; the greedy decode has no
        batched form, so this loops ``tag_sentence``."""
        return [self.tag_sentence(*s) for s in sentences]


def _emission_features(words: Sequence[str], i: int, md: str, gaz: str
                       ) -> List[str]:
    """token_features minus the prev-tag features — the structured model
    carries tag-tag dependencies in its transition matrix instead."""
    return [f for f in token_features(words, i, "<T>", md, gaz)
            if not f.startswith("pt")]


class StructuredPerceptron:
    """Structured (Viterbi-decoded) averaged perceptron.

    Operator-shape parity with the reference's CRF decode (M10,
    code/Attentive_BiLSTM/model.py:603-655): a learned transition matrix
    with a START state pinned at -10000 for impossible starts, exact Viterbi
    decoding per sentence, sequence-level perceptron updates. Emission
    weights are per-feature numpy vectors over the label set; decoding is
    O(n * L^2) vectorized.
    """

    NEG = -10000.0  # reference's impossible-transition constant

    def __init__(self):
        self.labels: List[str] = []
        self.w: Dict[str, np.ndarray] = {}
        self.trans: Optional[np.ndarray] = None  # (L+1, L); row L = START

    def _emissions(self, words, mds, gazs) -> Tuple[np.ndarray, List[List[str]]]:
        n = len(words)
        L = len(self.labels)
        E = np.zeros((n, L))
        feats_per_tok = []
        for i in range(n):
            feats = _emission_features(words, i, mds[i], gazs[i])
            feats_per_tok.append(feats)
            for f in feats:
                vec = self.w.get(f)
                if vec is not None:
                    E[i] += vec
        return E, feats_per_tok

    def _trans_f32(self) -> np.ndarray:
        t = self.__dict__.get("_t32")
        if t is None:
            t = self.__dict__["_t32"] = self.trans.astype(np.float32)
        return t

    def _viterbi(self, E: np.ndarray) -> List[int]:
        """Per-sentence float64 decode: the training path, and the
        reference the float32 ``tag_sentences`` is gated against."""
        n, L = E.shape
        T = self.trans
        # transposed layout: cand[b, a] = dp[a] + T[a, b]; the argmax then
        # scans the CONTIGUOUS last axis (same additions, same first-index
        # tie-breaks over a -> bitwise-identical paths, ~3x less argmax time)
        TT = np.ascontiguousarray(T[:L].T)
        cols = np.arange(L)
        dp = T[L] + E[0]          # from START
        back = np.zeros((n, L), dtype=np.int64)
        for i in range(1, n):
            cand = dp[None, :] + TT        # (L, L): [b, a]
            bi = cand.argmax(axis=1)
            back[i] = bi
            dp = cand[cols, bi] + E[i]     # gather beats a second max pass
        path = [int(dp.argmax())]
        for i in range(n - 1, 0, -1):
            path.append(int(back[i][path[-1]]))
        return path[::-1]

    def fit(self, sentences, epochs: int = 3) -> None:
        # refitting invalidates every derived inference cache (float32
        # transitions, value-keyed context maps, per-word static vectors) —
        # without this a model that already decoded would keep serving
        # stale weights after fit()
        for k in ("_t32", "_ctx", "_static_cache"):
            self.__dict__.pop(k, None)
        data = list(sentences)
        self.labels = sorted({t for _, _, _, g in data for t in g})
        L = len(self.labels)
        idx = {t: i for i, t in enumerate(self.labels)}
        self.trans = np.zeros((L + 1, L))
        # START -> I-* is impossible in IOB2: pin at the reference's -10000
        for j, lab in enumerate(self.labels):
            if lab.startswith("I-"):
                self.trans[L, j] = self.NEG

        w_totals: Dict[str, np.ndarray] = {}
        w_stamp: Dict[str, int] = {}
        t_totals = np.zeros_like(self.trans)
        t_stamp = 0
        step = 0

        def upd_w(f: str, j: int, v: float) -> None:
            vec = self.w.get(f)
            if vec is None:
                vec = np.zeros(L)
                self.w[f] = vec
                w_totals[f] = np.zeros(L)
                w_stamp[f] = step
            else:
                w_totals[f] += (step - w_stamp[f]) * vec
                w_stamp[f] = step
            vec[j] += v

        for _ in range(epochs):
            for words, mds, gazs, golds in data:
                if not words:
                    continue
                step += 1
                E, feats_per_tok = self._emissions(words, mds, gazs)
                pred = self._viterbi(E)
                gold = [idx[g] for g in golds]
                if pred == gold:
                    continue
                t_totals += (step - t_stamp) * self.trans
                t_stamp = step
                prev_g, prev_p = L, L
                for i in range(len(words)):
                    if pred[i] != gold[i]:
                        for f in feats_per_tok[i]:
                            upd_w(f, gold[i], 1.0)
                            upd_w(f, pred[i], -1.0)
                    if (prev_g, gold[i]) != (prev_p, pred[i]):
                        if self.trans[prev_g, gold[i]] > self.NEG / 2:
                            self.trans[prev_g, gold[i]] += 1.0
                        if self.trans[prev_p, pred[i]] > self.NEG / 2:
                            self.trans[prev_p, pred[i]] -= 1.0
                    prev_g, prev_p = gold[i], pred[i]

        # average
        for f, vec in self.w.items():
            w_totals[f] += (step - w_stamp[f]) * vec
            avg = w_totals[f] / max(step, 1)
            self.w[f] = avg
        t_totals += (step - t_stamp) * self.trans
        pinned = self.trans <= self.NEG / 2
        self.trans = t_totals / max(step, 1)
        self.trans[pinned] = self.NEG

    # -- inference fast path ------------------------------------------------ #

    _STATIC_CACHE_MAX = 200_000

    def __getstate__(self):
        # the word-static cache and the re-keyed context maps are
        # executor-local; never ship them in the task-closure pickle
        d = dict(self.__dict__)
        d.pop("_static_cache", None)
        d.pop("_ctx", None)
        d.pop("_t32", None)  # float32 copy of trans: derived, rebuilt lazily
        # w ships packed: (keys, one C-contiguous (F, L) float64 matrix).
        # Spark pickles broadcasts at protocol 5, where every array becomes
        # a memoryview plus a managedbuffer, both GC-tracked: 84k weight
        # vectors would leave ~168k objects for every collection of the
        # worker to walk, and unpickle ~4x slower than one matrix.
        w = d["w"]
        d["w"] = (list(w), np.stack(list(w.values())) if w
                  else np.zeros((0, len(self.labels))))
        return d

    def __setstate__(self, state):
        """Packed state from ``__getstate__``, or the legacy one whose ``w``
        is a dict (the shipped ``.pkl.gz`` artifacts). ``w`` is rebuilt as
        row views of the matrix: same keys in the same order, same bits."""
        state = dict(state)
        if isinstance(state.get("w"), tuple):
            keys, mat = state["w"]
            state["w"] = dict(zip(keys, mat))
        self.__dict__.update(state)

    def _static_vec(self, w: str) -> np.ndarray:
        """Summed emission weights of the word's context-free features
        (w=, suffixes, prefix, shape, flags, bias) — cached per word, since
        web-text token frequency is Zipfian. Executor-local, size-capped."""
        cache = self.__dict__.get("_static_cache")
        if cache is None:
            cache = self.__dict__["_static_cache"] = {}
        v = cache.get(w)
        if v is None:
            v = np.zeros(len(self.labels))
            for f in static_features(w):
                vec = self.w.get(f)
                if vec is not None:
                    v = v + vec
            v = v.astype(np.float32)
            if len(cache) >= self._STATIC_CACHE_MAX:
                cache.clear()
            cache[w] = v
        return v

    def _ctx_vecs(self):
        """Context-feature weight vectors re-keyed by their VALUE instead of
        the full feature string ("pw=foo" -> ctx["pw"]["foo"]) — built once
        per process from ``self.w``, so the per-token hot loop hashes short
        keys and builds one temporary string (the pw2/nw2 pair key) instead
        of six prefixed ones. Pure re-indexing: the vectors are the same
        objects, summed in the same order -> bitwise-identical emissions."""
        ctx = self.__dict__.get("_ctx")
        if ctx is None:
            ctx = {k: {} for k in ("pw", "nw", "pw2", "nw2", "md", "gaz",
                                   "pww", "nww")}
            for f, vec in self.w.items():
                eq = f.find("=")
                if eq > 0:
                    d = ctx.get(f[:eq])
                    if d is not None:
                        d[f[eq + 1:]] = vec.astype(np.float32)
            self.__dict__["_ctx"] = ctx
        return ctx

    def _batch_emissions(self, inputs) -> np.ndarray:
        """Flat ``(total_tokens, L)`` emission matrix for a whole batch.

        Same model, same features as ``_emissions``, in float32: the
        word-static subtotal (``_static_vec``) plus the context channels in
        a fixed order (pw, nw, pw2, nw2, md, gaz, pww, nww). The Python
        loop only interns each distinct feature VALUE to a dense id; the L
        floats per token move in nine C-side gather/adds instead of ~7
        numpy row ops per token. An absent feature contributes registry row
        0 (an IEEE zero add, which cannot change any downstream comparison).
        Tag-level equality with the float64 ``_emissions`` + ``_viterbi``
        reference is gated in tests."""
        L = len(self.labels)
        ctx = self._ctx_vecs()
        pw_g, nw_g = ctx["pw"].get, ctx["nw"].get
        pw2_g, nw2_g = ctx["pw2"].get, ctx["nw2"].get
        md_g, gaz_g = ctx["md"].get, ctx["gaz"].get
        pww_g, nww_g = ctx["pww"].get, ctx["nww"].get
        svecs: List[np.ndarray] = []
        sindex: Dict[str, int] = {}
        sids: List[int] = []
        chans = []
        for _ in range(8):
            chans.append(({}, [np.zeros(L, dtype=np.float32)], []))  # index, vecs, ids
        # unrolled channel blocks: each channel's (index, vecs, ids, get)
        # binds to locals once and the probe logic is inlined — no
        # per-token dispatch-tuple construction, no per-probe function
        # call. Identical ids in identical order, so the accumulated
        # floats cannot move a bit (tag-equality gated in tests).
        (pw_ix, pw_vs, pw_id), (nw_ix, nw_vs, nw_id) = chans[0], chans[1]
        (pw2_ix, pw2_vs, pw2_id) = chans[2]
        (nw2_ix, nw2_vs, nw2_id) = chans[3]
        (md_ix, md_vs, md_id), (gz_ix, gz_vs, gz_id) = chans[4], chans[5]
        (pww_ix, pww_vs, pww_id) = chans[6]
        (nww_ix, nww_vs, nww_id) = chans[7]
        _m = object()
        sids_append = sids.append
        sindex_get = sindex.get
        for words, mds, gazs in inputs:
            n = len(words)
            lws = [w.lower() for w in words]
            for i in range(n):
                w = words[i]
                lw = lws[i]
                prev_w = lws[i - 1] if i else "<S>"
                next_w = lws[i + 1] if i + 1 < n else "</S>"
                j = sindex_get(w, _m)
                if j is _m:
                    j = sindex[w] = len(svecs)
                    svecs.append(self._static_vec(w))
                sids_append(j)

                jj = pw_ix.get(prev_w, _m)
                if jj is _m:
                    v = pw_g(prev_w)
                    if v is None:
                        jj = 0
                    else:
                        jj = len(pw_vs)
                        pw_vs.append(v)
                    pw_ix[prev_w] = jj
                pw_id.append(jj)

                jj = nw_ix.get(next_w, _m)
                if jj is _m:
                    v = nw_g(next_w)
                    if v is None:
                        jj = 0
                    else:
                        jj = len(nw_vs)
                        nw_vs.append(v)
                    nw_ix[next_w] = jj
                nw_id.append(jj)

                key = prev_w + "|" + lw
                jj = pw2_ix.get(key, _m)
                if jj is _m:
                    v = pw2_g(key)
                    if v is None:
                        jj = 0
                    else:
                        jj = len(pw2_vs)
                        pw2_vs.append(v)
                    pw2_ix[key] = jj
                pw2_id.append(jj)

                key = lw + "|" + next_w
                jj = nw2_ix.get(key, _m)
                if jj is _m:
                    v = nw2_g(key)
                    if v is None:
                        jj = 0
                    else:
                        jj = len(nw2_vs)
                        nw2_vs.append(v)
                    nw2_ix[key] = jj
                nw2_id.append(jj)

                key = mds[i]
                jj = md_ix.get(key, _m)
                if jj is _m:
                    v = md_g(key)
                    if v is None:
                        jj = 0
                    else:
                        jj = len(md_vs)
                        md_vs.append(v)
                    md_ix[key] = jj
                md_id.append(jj)

                key = gazs[i]
                jj = gz_ix.get(key, _m)
                if jj is _m:
                    v = gaz_g(key)
                    if v is None:
                        jj = 0
                    else:
                        jj = len(gz_vs)
                        gz_vs.append(v)
                    gz_ix[key] = jj
                gz_id.append(jj)

                key = lws[i - 2] if i > 1 else "<S>"
                jj = pww_ix.get(key, _m)
                if jj is _m:
                    v = pww_g(key)
                    if v is None:
                        jj = 0
                    else:
                        jj = len(pww_vs)
                        pww_vs.append(v)
                    pww_ix[key] = jj
                pww_id.append(jj)

                key = lws[i + 2] if i + 2 < n else "</S>"
                jj = nww_ix.get(key, _m)
                if jj is _m:
                    v = nww_g(key)
                    if v is None:
                        jj = 0
                    else:
                        jj = len(nww_vs)
                        nww_vs.append(v)
                    nww_ix[key] = jj
                nww_id.append(jj)
        sv = np.asarray(svecs)
        sid_arr = np.asarray(sids)
        mats = [(np.asarray(vecs), np.asarray(ids))
                for _index, vecs, ids in chans if len(vecs) > 1]
        N = len(sid_arr)
        E = np.empty((N, len(self.labels)), dtype=np.float32)
        # row-tiled accumulation: each ~670 KB tile takes all nine channel
        # adds while cache-resident instead of streaming the full (N, L)
        # array from DRAM once per channel; per-element add order is
        # unchanged (static, then channels in feature order) -> same bits
        TILE = 4096
        for t0 in range(0, N, TILE):
            sl = slice(t0, t0 + TILE)
            tile = sv[sid_arr[sl]]
            for vecs, ids in mats:
                tile += vecs[ids[sl]]
            E[sl] = tile
        return E

    def tag_sentence(self, words: Sequence[str], mds: Sequence[str],
                     gazs: Sequence[str]) -> List[str]:
        return self.tag_sentences([(words, mds, gazs)])[0]

    def tag_sentences(self, sentences) -> List[List[str]]:
        """The inference path: ``(words, mds, gazs)`` triples -> tags.

        One flat float32 emission pass over the whole batch, then sentences
        of equal length share one batched Viterbi — the native C kernel
        (kernel/viterbi_native.py, ~7x the numpy lattice's tokens/s) when
        it loads, else ``viterbi_paths_numpy``. Both run the same float32
        adds with first-occurrence argmax tie-breaks, so their paths are
        bitwise equal (gated in tests). float32 halves the lattice's memory
        traffic, the saturated-core bottleneck; tag equality with the
        float64 ``_emissions`` + ``_viterbi`` reference is gated on the gold
        split and on synthetic web pages — an empirical gate, not a proof:
        a near-tie lattice score on unseen data could still flip a tag."""
        from .viterbi_native import viterbi_lib, viterbi_paths

        out: List[List[str]] = [[] for _ in sentences]
        nonempty = [k for k, s in enumerate(sentences) if len(s[0])]
        if not nonempty:
            return out
        T = self._trans_f32()
        E_flat = self._batch_emissions([sentences[k] for k in nonempty])
        starts: Dict[int, int] = {}
        off = 0
        by_len: Dict[int, List[int]] = {}
        for k in nonempty:
            starts[k] = off
            off += len(sentences[k][0])
            by_len.setdefault(len(sentences[k][0]), []).append(k)
        native = viterbi_lib()
        # the tile bounds the (B, n, L) gather copy; the numpy lattice also
        # keeps its per-step (B, L, L) buffer L2-resident (128*41*41*4 ≈
        # 860 KB) — untiled, thousands of equal-length sentences per Arrow
        # batch make it tens of MB and every DP step round-trips DRAM
        tile_rows = 128 if native is None else 1024
        for n, idxs in by_len.items():
            for t0 in range(0, len(idxs), tile_rows):
                tile = idxs[t0:t0 + tile_rows]
                row0 = np.asarray([starts[k] for k in tile])
                E = E_flat[row0[:, None] + np.arange(n)]  # (B, n, L) gather
                paths = None if native is None else viterbi_paths(native, E, T)
                if paths is None:
                    paths = viterbi_paths_numpy(E, T)
                for b, k in enumerate(tile):
                    out[k] = [self.labels[j] for j in paths[b]]
        return out


def viterbi_paths_numpy(E: np.ndarray, T: np.ndarray) -> np.ndarray:
    """Batched Viterbi over same-length sentences: E (B, n, L), T (L+1, L)
    with row L = START -> paths (B, n) int64. The DP is per-sentence
    independent, so each path equals the per-sentence ``_viterbi`` run in
    E's dtype; the (B, L, L) form amortizes the per-step numpy-call
    overhead that dominates at L=41, n~12."""
    B, n, L = E.shape
    TT = np.ascontiguousarray(T[:L].T)
    cols = np.arange(L)
    rows = np.arange(B)[:, None]
    dp = T[L] + E[:, 0]                                 # (B, L)
    back = np.zeros((B, n, L), dtype=np.int8 if L <= 127 else np.int64)
    cand = np.empty((B, L, L), dtype=T.dtype)           # reused buffer
    for i in range(1, n):
        # cand[b, j, a] = dp[b, a] + T[a, j]: argmax over the contiguous
        # last axis, same values/tie-breaks as the (a, j) layout
        np.add(dp[:, None, :], TT[None], out=cand)
        bi = cand.argmax(axis=2)                        # (B, L)
        back[:, i] = bi
        dp = cand[rows, cols[None, :], bi] + E[:, i]
    paths = np.zeros((B, n), dtype=np.int64)
    paths[:, n - 1] = dp.argmax(axis=1)
    r = np.arange(B)
    for i in range(n - 1, 0, -1):
        paths[:, i - 1] = back[r, i, paths[:, i]]
    return paths
