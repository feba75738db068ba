"""Code-Token Classifier (CTC): LM features -> Gaussian binning -> MLP -> rules.

Operator-shape replication of the reference CTC stack:

* features: 5 floats per token — gigaword char-LM, gigaword word-LM,
  domain char-LM, domain word-LM, ``startswith("http")`` —
  ``/root/reference/code/BERT_NER/utils_ctc/features.py:36-49``.
  The kenlm/fasttext binaries are **not shipped** with the reference
  (``.MISSING_LARGE_BLOBS``); we substitute deterministic n-gram language
  models fit on a provided token corpus. Same operator shape, pluggable
  scores.
* binning: exact re-implementation of ``utils_ctc/binning.py:18-49``
  (np.histogram fit, RBF transform, row-normalized, sigma = 0.2*binwidth).
* model: Linear(5*102 -> 300) + tanh, concat a 300-d hashed word embedding
  (fasttext stand-in), Linear(600 -> 2), softmax argmax —
  ``utils_ctc/model.py:15-102``; trained full-batch like
  ``utils_ctc/prediction_ctc.py:217-276`` but with plain seeded numpy
  gradient descent so results are bit-deterministic across executors.
* rule overlay: IS_NUMBER -> 1, IS_URL -> 0
  (``utils_ctc/prediction_ctc.py:158-166``, ``utils_ctc/rules.py:48-66``).

Everything here is driver-side-fit + broadcast; the transform path is pure
numpy and runs vectorized inside pandas UDFs.
"""

from __future__ import annotations

import math
import re
from typing import Dict, Iterable, List, Sequence, Tuple

import numpy as np

from .sotok import URL

_URL_RE = re.compile(URL)


def is_number_token(token: str) -> bool:
    # rules.py:55-59
    return token.replace(".", "").replace("-", "").replace("+", "").isdigit()


def is_url_token(token: str) -> bool:
    # rules.py:48-52
    return bool(_URL_RE.search(token))


# --------------------------------------------------------------------------- #
# deterministic LM substitutes (kenlm stand-ins)
# --------------------------------------------------------------------------- #


class CharTrigramLM:
    """Add-one-smoothed character trigram model; ``score`` returns a log10
    probability like kenlm's full-sentence score over space-joined chars."""

    def __init__(self, corpus: Iterable[str]):
        self.counts: Dict[str, Dict[str, int]] = {}
        self.vocab = set()
        for word in corpus:
            chars = ["^", "^"] + list(word) + ["$"]
            self.vocab.update(chars)
            for i in range(2, len(chars)):
                ctx = chars[i - 2] + chars[i - 1]
                bucket = self.counts.setdefault(ctx, {})
                bucket[chars[i]] = bucket.get(chars[i], 0) + 1
        self.v = max(len(self.vocab), 1)
        self._totals = {ctx: sum(b.values()) for ctx, b in self.counts.items()}

    def score(self, word: str) -> float:
        chars = ["^", "^"] + list(word) + ["$"]
        lp = 0.0
        for i in range(2, len(chars)):
            ctx = chars[i - 2] + chars[i - 1]
            bucket = self.counts.get(ctx, {})
            num = bucket.get(chars[i], 0) + 1
            den = self._totals.get(ctx, 0) + self.v
            lp += math.log10(num / den)
        return lp


class WordUnigramLM:
    def __init__(self, corpus: Iterable[str]):
        self.counts: Dict[str, int] = {}
        for w in corpus:
            self.counts[w] = self.counts.get(w, 0) + 1
        self.total = max(sum(self.counts.values()), 1)
        self.v = max(len(self.counts), 1)

    def score(self, word: str) -> float:
        return math.log10((self.counts.get(word, 0) + 1) / (self.total + self.v))


# --------------------------------------------------------------------------- #
# Gaussian binner (binning.py:18-49, exact)
# --------------------------------------------------------------------------- #


class GaussianBinner:
    def __init__(self, bins: int = 100, w: float = 0.2):
        self.bin_values: List[List[float]] = []
        self.sigmas: List[float] = []
        self.bins = bins
        self.width = w
        self.eps = 1e-6

    def fit(self, x: np.ndarray, n_features: int) -> None:
        for idx in range(n_features):
            dim = x[:, idx]
            edges = np.histogram(dim, bins=self.bins)[1]
            means = [(edges[i] + edges[i + 1]) / 2.0 for i in range(len(edges) - 1)]
            half = abs(edges[1] - edges[0]) / 2.0
            means[0:0] = [edges[0] - half]
            means.append(edges[len(edges) - 1] + half)
            self.bin_values.append(means)
            self.sigmas.append(abs(edges[1] - edges[0]) * self.width)

    def transform(self, x: np.ndarray, n_features: int) -> np.ndarray:
        out = [x[:, n_features:]]
        for idx in range(n_features):
            means = np.array(self.bin_values[idx])
            diff = np.tile(x[:, idx], (self.bins + 2, 1)).T - means
            sig = self.sigmas[idx]
            proj = np.exp(-np.power(diff, 2.0) / (2 * sig * sig))
            sums = np.sum(proj, axis=1)
            sums[sums == 0] = self.eps
            proj = (proj.T / sums).T
            out.append(proj)
        return np.concatenate(out, axis=1)

    @classmethod
    def from_range(cls, mn: float, mx: float, bins: int = 100,
                   w: float = 0.2) -> "GaussianBinner":
        """Fit a single-feature binner from the data RANGE alone.

        ``np.histogram(x, bins)[1]`` is ``linspace(x.min(), x.max(), bins+1)``
        (expanded by +-0.5 when min == max), so ``fit`` depends on the data
        only through (min, max) — which lets the Spark operator fit the
        binner from two aggregated scalars instead of collecting the whole
        value column to the driver. Bit-identical to ``fit`` (asserted in
        tests)."""
        if mn == mx:
            mn, mx = mn - 0.5, mx + 0.5
        edges = np.linspace(mn, mx, bins + 1)
        b = cls(bins, w)
        means = [(edges[i] + edges[i + 1]) / 2.0 for i in range(len(edges) - 1)]
        half = abs(edges[1] - edges[0]) / 2.0
        means[0:0] = [edges[0] - half]
        means.append(edges[len(edges) - 1] + half)
        b.bin_values.append(means)
        b.sigmas.append(abs(edges[1] - edges[0]) * w)
        return b

    def to_dict(self) -> dict:
        return {"bin_values": [list(b) for b in self.bin_values],
                "sigmas": list(self.sigmas), "bins": self.bins, "width": self.width}

    @classmethod
    def from_dict(cls, d: dict) -> "GaussianBinner":
        b = cls(d["bins"], d["width"])
        b.bin_values = [list(v) for v in d["bin_values"]]
        b.sigmas = list(d["sigmas"])
        return b


# --------------------------------------------------------------------------- #
# hashed word embedding (fasttext stand-in) and MLP
# --------------------------------------------------------------------------- #

_EMBED_DIM = 300
_HIDDEN = 300  # MLP hidden width
_LR = 0.05  # full-batch gradient step


def hashed_embedding(words: Sequence[str], dim: int = _EMBED_DIM) -> np.ndarray:
    """Deterministic per-word embedding from character n-gram hashes
    (fasttext-shaped stand-in: subword hashes summed, L2-normalized)."""
    out = np.zeros((len(words), dim), dtype=np.float64)
    for r, w in enumerate(words):
        token = "<" + w + ">"
        for n in (3, 4):
            for i in range(max(len(token) - n + 1, 1)):
                gram = token[i:i + n]
                h = 2166136261
                for ch in gram.encode("utf-8", "ignore"):
                    h = ((h ^ ch) * 16777619) & 0xFFFFFFFF
                out[r, h % dim] += 1.0 if (h >> 16) & 1 else -1.0
        norm = np.linalg.norm(out[r])
        if norm > 0:
            out[r] /= norm
    return out


class CTCModel:
    """Binned-feature MLP with the reference architecture (model.py:15-102)."""

    def __init__(self, n_binned: int):
        rng = np.random.default_rng(9911)
        lim1 = math.sqrt(6.0 / (n_binned + _HIDDEN))
        self.w1 = rng.uniform(-lim1, lim1, size=(n_binned, _HIDDEN))
        self.b1 = np.zeros(_HIDDEN)
        lim2 = math.sqrt(6.0 / (_HIDDEN + _EMBED_DIM + 2))
        self.w2 = rng.uniform(-lim2, lim2, size=(_HIDDEN + _EMBED_DIM, 2))
        self.b2 = np.zeros(2)

    def _forward(self, feats: np.ndarray, embeds: np.ndarray
                 ) -> Tuple[np.ndarray, np.ndarray]:
        h = np.tanh(feats @ self.w1 + self.b1)
        z = np.concatenate([h, embeds], axis=1) @ self.w2 + self.b2
        z -= z.max(axis=1, keepdims=True)
        e = np.exp(z)
        probs = e / e.sum(axis=1, keepdims=True)
        return h, probs

    def fit(self, feats: np.ndarray, embeds: np.ndarray, labels: np.ndarray,
            epochs: int = 70) -> None:
        """Full-batch gradient descent (deterministic; the reference trains
        full-batch for 70 epochs, prediction_ctc.py:217-276)."""
        y = np.zeros((len(labels), 2))
        y[np.arange(len(labels)), labels] = 1.0
        n = len(labels)
        for _ in range(epochs):
            h, probs = self._forward(feats, embeds)
            hz = np.concatenate([h, embeds], axis=1)
            dz = (probs - y) / n
            dw2 = hz.T @ dz
            db2 = dz.sum(axis=0)
            dh = dz @ self.w2[: h.shape[1]].T * (1 - h * h)
            dw1 = feats.T @ dh
            db1 = dh.sum(axis=0)
            self.w2 -= _LR * dw2
            self.b2 -= _LR * db2
            self.w1 -= _LR * dw1
            self.b1 -= _LR * db1

    def predict(self, feats: np.ndarray, embeds: np.ndarray) -> np.ndarray:
        _, probs = self._forward(feats, embeds)
        return probs.argmax(axis=1)


# --------------------------------------------------------------------------- #
# end-to-end fitted artifact (broadcastable)
# --------------------------------------------------------------------------- #


class CTCArtifact:
    """Fitted CTC stack: LMs + binner + model. Fit once on the driver,
    broadcast, applied vectorized per Arrow batch."""

    N_FEATURES = 5

    def __init__(self, natural_corpus: Sequence[str], code_corpus: Sequence[str]):
        self.char_lm_general = CharTrigramLM(w.lower() for w in natural_corpus)
        self.word_lm_general = WordUnigramLM(w.lower() for w in natural_corpus)
        domain = list(natural_corpus) + list(code_corpus)
        self.char_lm_domain = CharTrigramLM(domain)
        self.word_lm_domain = WordUnigramLM(domain)

        train_words = list(dict.fromkeys(list(natural_corpus) + list(code_corpus)))
        code_set = set(code_corpus)
        labels = np.array([1 if w in code_set else 0 for w in train_words])

        raw = self.raw_features(train_words)
        self.binner = GaussianBinner()
        self.binner.fit(raw, self.N_FEATURES)
        binned = self.binner.transform(raw, self.N_FEATURES)
        embeds = hashed_embedding(train_words)
        self.model = CTCModel(binned.shape[1])
        self.model.fit(binned, embeds, labels)

    def raw_features(self, words: Sequence[str]) -> np.ndarray:
        feats = np.empty((len(words), self.N_FEATURES), dtype=np.float64)
        for i, w in enumerate(words):
            feats[i, 0] = self.char_lm_general.score(w.lower())
            feats[i, 1] = self.word_lm_general.score(w.lower())
            feats[i, 2] = self.char_lm_domain.score(w)
            feats[i, 3] = self.word_lm_domain.score(w)
            feats[i, 4] = 1.0 if w.startswith("http") else 0.0
        return feats

    def predict(self, words: Sequence[str]) -> np.ndarray:
        """MLP prediction + rule overlay (prediction_ctc.py:158-166)."""
        if len(words) == 0:
            return np.zeros(0, dtype=np.int64)
        binned = self.binner.transform(self.raw_features(words), self.N_FEATURES)
        preds = self.model.predict(binned, hashed_embedding(words))
        for i, w in enumerate(words):
            if is_number_token(w):
                preds[i] = 1
            elif is_url_token(w):
                preds[i] = 0
        return preds
