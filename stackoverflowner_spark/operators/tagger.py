"""Row-local BIO taggers (model-pluggable mention stage).

Interface per SURVEY.md §7 step 5: ``Tagger.tag(tokens, md_tags) -> tags``.
The default deterministic implementation is a gazetteer + rules tagger
(longest-match against the broadcast software-entity dictionary, sentinel
md-labels passed through, CTC-style rule overrides). A transformer-based
tagger implementing the reference's M5-M7 wordpiece/inference path plugs into
the same interface when checkpoint weights are available (torch/transformers
are not in this sandbox; the plug point is ``ModelTagger``).
"""

from __future__ import annotations

import functools
from typing import Dict, List, Optional, Sequence, Tuple

from ..kernel.ctc import is_number_token, is_url_token
from ..kernel.memo import FifoMemo
from ..sources.dictionary import gazetteer_map

_SENTINEL_TYPES = {"Code_Block", "Output_Block", "Keyboard_IP"}


class Tagger:
    def tag(self, tokens: Sequence[str], md_tags: Sequence[str]) -> List[str]:
        raise NotImplementedError

    def tag_sentences(self, sentences: Sequence[Tuple[Sequence[str], Sequence[str]]]
                      ) -> List[List[str]]:
        """Tag a batch of ``(tokens, md_tags)``; taggers with a batched
        decode override this (same outputs as ``tag`` per sentence)."""
        return [self.tag(tokens, md_tags) for tokens, md_tags in sentences]


class GazetteerTagger(Tagger):
    """Deterministic gazetteer tagger: greedy longest alias match (up to
    ``max_ngram`` tokens) against ``alias_norm -> (canonical_id, type)``;
    markdown sentinel tags win over dictionary hits; IS_URL tokens become
    Website mentions unless already covered."""

    def __init__(self, alias_map: Optional[Dict[str, Tuple[str, str]]] = None,
                 max_ngram: int = 3, tag_urls: bool = True):
        self.alias_map = alias_map if alias_map is not None else gazetteer_map()
        self.max_ngram = max_ngram
        self.tag_urls = tag_urls
        # first words of multi-word aliases: an n>1 lookup can only hit when
        # the position's word starts one, so the common case probes 1-grams
        # only (same results, ~2x fewer dict probes)
        self._multi_first = {k.split(" ", 1)[0]
                             for k in self.alias_map if " " in k}

    def tag(self, tokens: Sequence[str], md_tags: Sequence[str]) -> List[str]:
        n = len(tokens)
        tags = ["O"] * n
        # 1. sentinel markdown labels pass through (they are gold by
        #    construction — the reference treats them the same way)
        for i, md in enumerate(md_tags):
            if md != "O" and md.split("-", 1)[-1] in _SENTINEL_TYPES:
                tags[i] = md
        # 2. greedy longest-match gazetteer. Hot-loop shape: lowercase once
        #    per sentence and probe the 1-gram dict directly — the n>1 join/
        #    overlap scan only runs when the token starts a multi-word alias
        #    (same results as the general loop, gated in tests).
        lws = [t.lower() for t in tokens]
        amap_get = self.alias_map.get
        multi_first = self._multi_first
        i = 0
        while i < n:
            if tags[i] != "O":
                i += 1
                continue
            lw = lws[i]
            matched = 0
            mtype = None
            if lw in multi_first and n - i > 1:
                for ln in range(min(self.max_ngram, n - i), 0, -1):
                    if any(tags[j] != "O" for j in range(i, i + ln)):
                        continue
                    hit = amap_get(" ".join(lws[i:i + ln]))
                    if hit:
                        matched = ln
                        mtype = hit[1]
                        break
            else:
                hit = amap_get(lw)
                if hit:
                    matched = 1
                    mtype = hit[1]
            if matched:
                tags[i] = "B-" + mtype
                for j in range(i + 1, i + matched):
                    tags[j] = "I-" + mtype
                i += matched
            else:
                i += 1
        # 3. rule overlay (cheapest predicate first — the prefix test kills
        #    almost every token before the regex/number checks run)
        if self.tag_urls:
            for i, tok in enumerate(tokens):
                if tags[i] == "O" and len(tok) > 4 \
                        and lws[i].startswith(("http", "www.")) \
                        and not is_number_token(tok) and is_url_token(tok):
                    tags[i] = "B-Website"
        return tags


class PerceptronTagger(Tagger):
    """Learned deterministic tagger: averaged perceptron
    (kernel/perceptron.py) over lexical/shape/context features plus the
    markdown channel and a gazetteer-hit channel. Trained driver-side on the
    gold train split in ~1 minute, broadcastable (few-MB dict artifact).

    Measured on the reference's annotated test split (r4 shipped default,
    multi-regime + char-4-grams): 59.2 F1 under deployment channels, 61.8
    under the reference's two-pass fixture protocol, 41.2 on the GitHub OOD
    split; the ref-regime twopass artifact scores 66.5 on the two-pass
    protocol — all far above the reference's own BiLSTM-CRF dev-F1
    breadcrumb (48.83, code/Attentive_BiLSTM/utils_so.py:15), with zero
    external weights. Full ladder: BENCH/BASELINE.md.
    """

    def __init__(self, model, alias_types: Dict[str, str],
                 ctc_dict: Optional[Dict[str, str]] = None,
                 use_seg_channel: bool = False):
        self.model = model
        self.alias_types = alias_types
        self.ctc_dict = ctc_dict
        self.use_seg_channel = use_seg_channel
        self._seg_base: Optional[GazetteerTagger] = None

    def _aux_channel(self, tokens: Sequence[str],
                     seg: Optional[Sequence[str]] = None) -> List[str]:
        # gazetteer hit + (optionally) CTC and segmenter predictions — the
        # reference's aux-label-channel design (E2E_SoftNER.py:65-127): aux
        # predictions ride as extra input channels to the tagger
        out = []
        for i, t in enumerate(tokens):
            c = self.alias_types.get(t.lower(), "O")
            if self.ctc_dict is not None:
                c += "|c" + self.ctc_dict.get(t, "?")
            if self.use_seg_channel:
                c += "|s" + (seg[i] if seg is not None else "O")
            out.append(c)
        return out

    def _infer_seg(self, tokens: Sequence[str],
                   md_tags: Sequence[str]) -> List[str]:
        """Deployment seg channel for one sentence: the alias segmenter
        (the two-pass E2E flow: segmenter first, NER consumes
        pred_seg_label)."""
        # the base segmenter is built once, not per sentence
        if self._seg_base is None:
            self._seg_base = GazetteerTagger(alias_map={
                k: ("x", v) for k, v in self.alias_types.items()})
        bio = self._seg_base.tag(tokens, md_tags)
        return ["Name" if t != "O" else "O" for t in bio]

    def _model_inputs(self, tokens: Sequence[str], md_tags: Sequence[str]):
        seg = self._infer_seg(tokens, md_tags) if self.use_seg_channel else None
        return (list(tokens), list(md_tags), self._aux_channel(tokens, seg))

    def tag(self, tokens: Sequence[str], md_tags: Sequence[str]) -> List[str]:
        return self.tag_sentences([(tokens, md_tags)])[0]

    _SENT_CACHE_MAX = 100_000

    def __getstate__(self):
        # executor-local caches never ride in the task-closure pickle
        d = dict(self.__dict__)
        d.pop("_sent_cache", None)
        d["_seg_base"] = None
        return d

    def tag_sentences(self, sentences: List[Tuple[Sequence[str], Sequence[str]]]
                      ) -> List[List[str]]:
        """The one inference path: every caller (``tag`` included) hands
        over a batch — the kernels pass all sentences of an Arrow batch —
        and the model decodes it in one ``tag_sentences`` call.

        Whole-sentence memo: web text is full of repeated boilerplate
        sentences (~25% of the synthetic corpus, more on real crawls), and
        the tagger is a pure function of (tokens, md_tags) — repeats skip
        the seg/aux channels, the emission lookups and the Viterbi lattice
        entirely. ``_sent_cache`` is a ``FifoMemo`` (kernel/memo.py) keyed
        ``(tuple(tokens), tuple(md_tags))``, capped at ``_SENT_CACHE_MAX``
        entries, never pickled. It lives on the tagger instance, and the
        kernels ship the tagger as a Spark broadcast (document_kernel
        ``_tagger_broadcast``), which each reused Python worker unpickles
        once and keeps across tasks and jobs — so the memo is per worker
        process, not per task."""
        cache = self.__dict__.get("_sent_cache")
        if cache is None:
            cache = self.__dict__["_sent_cache"] = FifoMemo(
                self._SENT_CACHE_MAX)
        out: List[Optional[List[str]]] = [None] * len(sentences)
        pending: Dict[tuple, List[int]] = {}
        for k, (t, m) in enumerate(sentences):
            key = (tuple(t), tuple(m))
            hit = cache.get(key)
            if hit is not None:
                out[k] = list(hit)
            else:
                # within-batch dedup: identical sentences decode once
                pending.setdefault(key, []).append(k)
        if pending:
            tagged = self.model.tag_sentences(
                [self._model_inputs(*sentences[ks[0]])
                 for ks in pending.values()])
            for (key, ks), tags in zip(pending.items(), tagged):
                cache.put(key, tags)
                for k in ks:
                    out[k] = list(tags)
        return out  # type: ignore[return-value]

    # -- training / persistence -------------------------------------------- #

    @classmethod
    def fit_from_gold(cls, gold_path: str, epochs: int = 5,
                      min_alias_count: int = 3, structured: bool = False,
                      ctc_path: Optional[str] = None,
                      seg_path: Optional[str] = None,
                      seg_mode: str = "ref") -> "PerceptronTagger":
        """``structured=True`` trains the Viterbi-decoded variant
        (kernel.perceptron.StructuredPerceptron — the M10 CRF-decode shape).
        ``ctc_path`` adds the reference's CTC prediction dictionary
        (auxilary_inputs_ner/ctc_pred.tsv shape); ``seg_path`` adds the
        reference's segmenter prediction channel aligned by sentence index
        (segmenter_pred_*.txt shape — the two-pass E2E flow).

        ``seg_mode`` picks the segmenter-channel REGIME the model trains in
        (only meaningful with a seg channel):

        * ``"ref"``  — channel values come from the reference's shipped
          prediction fixtures (``seg_path``). Matches the reference's own
          two-pass protocol; at deployment on arbitrary pages the channel
          instead comes from the internal alias segmenter the model never
          saw, a train/inference mismatch measured at -17 F1 on the gold
          test split under deployment channels.
        * ``"own"``  — channel values come from the SAME deterministic
          alias segmenter inference uses (``_model_inputs``), so training
          and deployment see one regime.
        * ``"multi"`` — each training sentence appears once per regime
          (ref fixture copy + own-segmenter copy). The model serves both:
          measured best on deployment channels AND on the OOD GitHub split
          (BENCH/BASELINE.md ladder), at a modest cost on the
          reference-fixture protocol number.

        r3 ladder (ref regime, reference-fixture eval): greedy 53.6 F1,
        Viterbi 55.2, +CTC 55.9, +seg 63.1. r4 numbers for the char-4-gram
        feature set and all three regimes are in BENCH/BASELINE.md (the seg
        fixtures were generated by the reference partially from gold, see
        make_segment_pred.py — the same caveat applies to the reference's
        own training runs that consume them)."""
        from collections import Counter

        from ..kernel.conlleval import extract_chunks
        from ..kernel.goldload import parse_gold_lines
        from ..kernel.perceptron import AveragedPerceptron, StructuredPerceptron

        ctc_dict: Optional[Dict[str, str]] = None
        if ctc_path:
            ctc_dict = {}
            for line in open(ctc_path):
                vals = line.rstrip("\n").split("\t")
                if len(vals) == 2 and vals[1] in ("0", "1"):
                    ctc_dict[vals[0]] = vals[1]

        seg_channels: Optional[list] = None
        if seg_path:
            seg_channels = []
            words, preds = [], []
            for line in open(seg_path):
                vals = line.strip().split()
                if len(vals) < 3:
                    if words:
                        seg_channels.append(preds)
                        words, preds = [], []
                    continue
                words.append(vals[0])
                preds.append(vals[2])
            if words:
                seg_channels.append(preds)

        sentences = parse_gold_lines(open(gold_path).read().splitlines())
        alias_counts: Counter = Counter()
        for s in sentences:
            words = [t.word for t in s]
            for typ, a, b in extract_chunks([t.tag for t in s]):
                alias_counts[(" ".join(words[a:b]).lower(), typ)] += 1
        alias_types: Dict[str, str] = {}
        for (surf, typ), n in alias_counts.most_common():
            if n >= min_alias_count and surf not in alias_types:
                alias_types[surf] = typ
        if seg_mode not in ("ref", "own", "multi"):
            raise ValueError(f"seg_mode={seg_mode!r}: use ref | own | multi")
        use_seg = seg_channels is not None or seg_mode in ("own", "multi")
        proto = cls(None, alias_types, ctc_dict, use_seg_channel=use_seg)
        data = []
        for i, s in enumerate(sentences):
            w = [t.word for t in s]
            md = [t.md_label for t in s]
            gold = [t.tag for t in s]
            if use_seg and seg_mode in ("own", "multi"):
                # the deployment channel, built exactly as inference does
                data.append((w, md, proto._model_inputs(w, md)[2], gold))
            if seg_mode in ("ref", "multi"):
                seg = None
                if seg_channels is not None and i < len(seg_channels) \
                        and len(seg_channels[i]) == len(w):
                    seg = seg_channels[i]
                if seg_mode == "ref" or seg is not None:
                    data.append((w, md, proto._aux_channel(w, seg), gold))
        model = StructuredPerceptron() if structured else AveragedPerceptron()
        model.fit(data, epochs=epochs)
        return cls(model, alias_types, ctc_dict, use_seg_channel=use_seg)

    def save(self, path: str) -> None:
        import gzip
        import pickle
        with gzip.open(path, "wb") as f:
            pickle.dump({"model": self.model, "alias_types": self.alias_types,
                         "ctc_dict": self.ctc_dict,
                         "use_seg_channel": self.use_seg_channel}, f)

    @classmethod
    def load(cls, path: str) -> "PerceptronTagger":
        """Keys other than the four ``save`` writes are ignored: older
        artifacts also carry the removed nested-segmenter field (None in
        both shipped ones)."""
        import gzip
        import pickle
        with gzip.open(path, "rb") as f:
            d = pickle.load(f)
        return cls(d["model"], d["alias_types"], d.get("ctc_dict"),
                   d.get("use_seg_channel", False))


@functools.lru_cache(maxsize=1)
def _load_default(path: str, mtime: float) -> PerceptronTagger:
    """One loaded artifact per ``(path, mtime)``; a newer artifact evicts
    the previous instance."""
    return PerceptronTagger.load(path)


def default_tagger() -> Tagger:
    """The engine's default mention tagger: the shipped multi-regime
    Viterbi+CTC+seg perceptron artifact when present (r4: 59.2 gold-test F1
    under deployment channels / 41.2 GitHub OOD, vs the gazetteer's 20.8;
    ~2 MB gzip pickle shipped in stackoverflowner_spark/artifacts/; see
    tools/train_tagger.py), else the deterministic gazetteer.

    Returns ONE cached instance per artifact version (keyed by mtime): the
    kernel ships the tagger as a Spark broadcast keyed by object identity
    (document_kernel._tagger_broadcast), so a shared instance lets repeated
    pipeline runs in a session reuse one broadcast — executors unpickle the
    model once and keep their warm feature caches — instead of paying a
    fresh 32-worker cold start per run (measured ~20 s/run at local[32]).
    """
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "artifacts", "viterbi_ctc_seg.pkl.gz")
    if not os.path.exists(path):
        return GazetteerTagger()
    return _load_default(path, os.path.getmtime(path))


class SegmenterTagger(Tagger):
    """Binary segmenter (reference M6 semantics: labels {O, Name},
    softner_segmenter_preditct_from_file.py). Deterministic default: a token
    span is a Name candidate when the gazetteer or a markdown sentinel covers
    it. The NER tagger consumes this as its ``pred_seg_label`` aux channel."""

    def __init__(self, base: Optional[GazetteerTagger] = None):
        self.base = base or GazetteerTagger()

    def tag(self, tokens: Sequence[str], md_tags: Sequence[str]) -> List[str]:
        bio = self.base.tag(tokens, md_tags)
        return ["Name" if t != "O" else "O" for t in bio]


class ModelTagger(Tagger):
    """Checkpoint-backed batched inference harness (reference M5-M7:
    utils_ner.py wordpiece featurization + softner_ner_predict_from_file.py
    batched forward + first-wordpiece prediction alignment).

    The whole harness — featurize, fixed-length batch, forward, unpad, align
    back to words — is real and tested; only the *forward function* is
    pluggable. ``forward_fn(input_ids[B,L], input_mask[B,L]) ->
    logits[B,L,n_labels]`` is either a user-supplied callable (tests use a
    deterministic numpy fake) or, when ``checkpoint_dir`` is set, a lazy
    per-executor torch+transformers load (weights are external downloads the
    reference does not ship, code/Readme.md:4-8 — the load path raises
    NotImplementedError without them)."""

    def __init__(self, labels: Sequence[str], vocab,
                 forward_fn=None, checkpoint_dir: Optional[str] = None,
                 max_seq_length: int = 128, batch_size: int = 32):
        self.labels = list(labels)
        self.label_map = {l: i for i, l in enumerate(self.labels)}
        self.vocab = vocab
        self.forward_fn = forward_fn
        self.checkpoint_dir = checkpoint_dir
        self.max_seq_length = max_seq_length
        self.batch_size = batch_size

    # -- forward resolution -------------------------------------------------- #

    def _resolve_forward(self):
        if self.forward_fn is not None:
            return self.forward_fn
        if self.checkpoint_dir:
            return _executor_model_forward(self.checkpoint_dir)
        raise NotImplementedError("ModelTagger needs forward_fn or checkpoint_dir")

    # -- batched inference (predict_from_file evaluate() shape) ------------- #

    def tag_sentences(self, sentences: List[Tuple[Sequence[str], Sequence[str]]]
                      ) -> List[List[str]]:
        """Tag many sentences with fixed-size forward batches. Words beyond
        the wordpiece budget get 'O' (the reference's writer *drops* them,
        softner_ner_predict_from_file.py:641-643 — a Tagger must stay total,
        so the truncated tail is padded instead; disclosed divergence)."""
        import numpy as np

        from ..kernel import wordpiece as wp

        forward = self._resolve_forward()
        feats = [
            wp.convert_example(toks, ["O"] * len(toks), [0] * len(toks),
                               ["O"] * len(toks), self.vocab, self.label_map,
                               self.max_seq_length)
            for toks, _md in sentences
        ]
        out: List[List[str]] = []
        for i in range(0, len(feats), self.batch_size):
            chunk = feats[i:i + self.batch_size]
            ids = np.array([f.input_ids for f in chunk], dtype=np.int64)
            mask = np.array([f.input_mask for f in chunk], dtype=np.int64)
            logits = np.asarray(forward(ids, mask))
            pred_ids = logits.argmax(axis=-1)
            for f, row, (toks, _md) in zip(chunk, pred_ids,
                                           sentences[i:i + self.batch_size]):
                kept = wp.unpad_predictions(f.label_ids, [int(x) for x in row])
                tags = [self.labels[p] for p in kept]
                tags += ["O"] * (len(toks) - len(tags))
                out.append(tags[:len(toks)])
        return out

    def tag(self, tokens: Sequence[str], md_tags: Sequence[str]) -> List[str]:
        return self.tag_sentences([(list(tokens), list(md_tags))])[0]


_EXECUTOR_MODELS: Dict[str, object] = {}


def _load_checkpoint_forward(checkpoint_dir: str):
    """Resolve a checkpoint directory to a forward callable. Two formats:

    * numpy checkpoint (``numpy_model.npz`` + ``config.json``,
      kernel/np_transformer.py) — loads without torch; this is the format
      the in-repo end-to-end gate uses, so the singleton/load/forward path
      has real test coverage in this container.
    * HF torch checkpoint — the reference's real SoftNER/segmenter weights
      (external downloads, code/Readme.md:4-8); needs torch+transformers.
    """
    import os

    from ..kernel import np_transformer as npt

    if os.path.exists(os.path.join(checkpoint_dir, npt.WEIGHTS)):
        return npt.NumpyTokenClassifier.load(checkpoint_dir).forward
    try:  # pragma: no cover - needs external weights + torch
        import torch  # noqa: F401
        from transformers import AutoModelForTokenClassification
    except ImportError as e:
        raise NotImplementedError(
            "checkpoint-backed ModelTagger needs torch+transformers "
            f"(external downloads): {e}")
    model = AutoModelForTokenClassification.from_pretrained(checkpoint_dir)
    model.eval()

    def torch_forward(input_ids, input_mask):  # pragma: no cover
        import torch
        with torch.no_grad():
            return model(input_ids=torch.as_tensor(input_ids),
                         attention_mask=torch.as_tensor(input_mask)
                         ).logits.numpy()
    return torch_forward


def _executor_model_forward(checkpoint_dir: str):
    """Executor-singleton checkpoint load: one model per worker process,
    shared across all Arrow batches (the reference loads once per run,
    softner_ner_predict_from_file.py:534-560)."""
    def forward(input_ids, input_mask):
        fwd = _EXECUTOR_MODELS.get(checkpoint_dir)
        if fwd is None:
            fwd = _load_checkpoint_forward(checkpoint_dir)
            _EXECUTOR_MODELS[checkpoint_dir] = fwd
        return fwd(input_ids, input_mask)
    return forward


def model_tag_stage(sentences, tagger: "ModelTagger"):
    """sentences (url, sent_idx, tokens, md_tags, ...) -> same rows plus a
    ``model_tags`` column: ONE Arrow-batched mapInPandas whose inner loop is
    the tagger's fixed-size forward batching — the Spark shape of the
    reference's batched-eval harness."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("sent_idx", T.IntegerType()),
        T.StructField("tokens", T.ArrayType(T.StringType())),
        T.StructField("md_tags", T.ArrayType(T.StringType())),
        T.StructField("model_tags", T.ArrayType(T.StringType())),
    ])

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            sents = [(list(t), list(m))
                     for t, m in zip(pdf["tokens"], pdf["md_tags"])]
            tags = tagger.tag_sentences(sents) if sents else []
            yield pd.DataFrame({
                "url": pdf["url"], "sent_idx": pdf["sent_idx"],
                "tokens": pdf["tokens"], "md_tags": pdf["md_tags"],
                "model_tags": pd.Series(tags, dtype=object, index=pdf.index),
            })

    return sentences.select("url", "sent_idx", "tokens", "md_tags").mapInPandas(
        run, schema=schema)
