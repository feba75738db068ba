"""Document-level label-consistency post-pass.

The sentence-scoped tagger's structural gap: a novel project name tagged
confidently once in a thread stays O in the thread's other sentences (the
binding GH-OOD recall constraint measured in BENCH/BASELINE.md — Application
FNs are thread-repeated names like PASTA/Makeen/TaskWarrior). The reference
attacks cross-sentence evidence with HAN attention over the document
(``/root/reference/code/Attentive_BiLSTM/nn_so.py`` sentence-level
attention; our declared non-goal M9); this pass is the deterministic
engine-side counterpart: one confident single-token entity mention votes for
its surface form, and other in-document occurrences of the same surface that
the tagger left O inherit the majority label.

Pure kernel (no Spark): the fused hot path applies it inside the page
loop (``kernel/document.py`` ``page_batch_mentions``) — a page IS the document, so the pass costs
zero shuffle; the declarative Spark twin (``operators/consistency.py``)
states the same votes/relabel semantics as window + join for the driver
oracle.

Design choices (dev-tuned, see tools/tune_consistency.py; the gold test and
GH splits were never touched during tuning):

* Only single-token mentions vote, and only exact-case surface matches
  propagate — case-insensitive matching drags common words in.
* A shape gate keeps propagation to name-like surfaces (an uppercase
  letter, a digit, or an identifier character ``._-/``; length >= 2; at
  least one alphanumeric) — "the"/"is" can never propagate even if the
  tagger mislabels one occurrence.
* Ties between entity types for the same surface do not propagate.
* ``min_votes`` distinct mention sentences must agree before a surface
  propagates (default 1: a single confident Viterbi mention).
"""

from __future__ import annotations

from collections import Counter
from typing import Dict, List, Optional, Sequence, Set, Tuple

from .conlleval import extract_chunks

_IDENT_CHARS = set("._-/")


def name_like(surface: str) -> bool:
    """Shape gate: propagate only identifier-ish surfaces."""
    if len(surface) < 2:
        return False
    if not any(c.isalnum() for c in surface):
        return False
    return any(c.isupper() or c.isdigit() or c in _IDENT_CHARS
               for c in surface)


def collect_votes(sent_tokens: Sequence[Sequence[str]],
                  sent_tags: Sequence[Sequence[str]],
                  allowed_types: Optional[Set[str]] = None,
                  max_ngram: int = 1,
                  ) -> Dict[Tuple[str, ...], Counter]:
    """Per-surface entity-type vote counts from whole-mention surfaces,
    keyed by token tuple.

    With ``max_ngram=1`` (the shipped default) only single-token mentions
    vote — a multi-token chunk's per-token surfaces are not independent
    evidence (e.g. "Visual Studio" must not vote "Studio"). Raising
    ``max_ngram`` lets chunks up to that length vote for their FULL token
    tuple (never a sub-span), propagated only onto exact whole-tuple
    matches.
    """
    votes: Dict[Tuple[str, ...], Counter] = {}
    for tokens, tags in zip(sent_tokens, sent_tags):
        for typ, a, b in extract_chunks(tags):
            if not 1 <= b - a <= max_ngram:
                continue
            if allowed_types is not None and typ not in allowed_types:
                continue
            surf = tuple(tokens[a:b])
            if not any(name_like(t) for t in surf):
                continue
            votes.setdefault(surf, Counter())[typ] += 1
    return votes


def majority_labels(votes: Dict[Tuple[str, ...], Counter],
                    min_votes: int = 1) -> Dict[Tuple[str, ...], str]:
    """Resolve votes to one type per surface; ties never propagate."""
    out: Dict[Tuple[str, ...], str] = {}
    for surf, ctr in votes.items():
        ranked = ctr.most_common(2)
        if ranked[0][1] < min_votes:
            continue
        if len(ranked) > 1 and ranked[1][1] == ranked[0][1]:
            continue
        out[surf] = ranked[0][0]
    return out


def apply_consistency(sent_tokens: Sequence[Sequence[str]],
                      sent_tags: Sequence[Sequence[str]],
                      min_votes: int = 1,
                      allowed_types: Optional[Set[str]] = None,
                      max_ngram: int = 1,
                      ) -> List[List[str]]:
    """Propagate in-document majority labels onto O tokens.

    Returns new tag rows (inputs are not mutated). Only positions currently
    O are touched, so every existing chunk survives verbatim; a propagated
    span becomes a fresh B-/I- chunk. Longer surfaces apply first (a bigram
    match beats the unigram vote of either of its tokens); within a length,
    left-to-right first-match wins on overlap since claimed positions leave
    O as they are relabeled.
    """
    labels = majority_labels(
        collect_votes(sent_tokens, sent_tags, allowed_types, max_ngram),
        min_votes)
    out: List[List[str]] = []
    if not labels:
        return [list(t) for t in sent_tags]
    # hot path (fused kernel): unigram surfaces stay a dict lookup per
    # position; only the (rare) multi-token surfaces scan, longest first
    uni = {s[0]: t for s, t in labels.items() if len(s) == 1}
    multi = sorted(((s, t) for s, t in labels.items() if len(s) > 1),
                   key=lambda kv: -len(kv[0]))
    for tokens, tags in zip(sent_tokens, sent_tags):
        new = list(tags)
        for surf, typ in multi:
            n = len(surf)
            for i in range(len(tokens) - n + 1):
                if (tuple(tokens[i:i + n]) == surf
                        and all(t == "O" for t in new[i:i + n])):
                    new[i] = "B-" + typ
                    for j in range(i + 1, i + n):
                        new[j] = "I-" + typ
        if uni:
            for i, (tok, tag) in enumerate(zip(tokens, new)):
                if tag != "O":
                    continue
                typ = uni.get(tok)
                if typ is not None:
                    new[i] = "B-" + typ
        out.append(new)
    return out


_PUNCT_ONLY = set("=+-*/{}[]()<>;:,.!?|&^%$#@~`'\"\\")


def suppress_punct_code_spans(tokens: Sequence[str],
                              tags: Sequence[str]) -> List[str]:
    """Drop predicted Code_Block chunks made solely of punctuation tokens.

    GH error profile (BENCH/BASELINE.md r5): 97 Code_Block false positives
    are markdown-boundary punctuation singles (``=``, ``{``, ``}``, ``[``,
    ``]``). OPT-IN, off by default: the SO gold data legitimately labels
    all-punct Code_Block chunks (109 in train, 23 in dev — ``}``, ``;``,
    ``++`` …), and the dev gate measured the blanket rule at -0.24 F1
    in-domain (tools/tune_consistency.py), so it ships disabled and exists
    for markdown-heavy corpora where the boundary-artifact pattern holds.
    """
    new = list(tags)
    for typ, a, b in extract_chunks(tags):
        if typ != "Code_Block":
            continue
        if all(t and all(c in _PUNCT_ONLY for c in t) for t in tokens[a:b]):
            for i in range(a, b):
                new[i] = "O"
    return new


def doc_postpass(sent_tokens: Sequence[Sequence[str]],
                 sent_tags: Sequence[Sequence[str]],
                 consistency: bool = True,
                 punct_suppress: bool = False,
                 min_votes: int = 1,
                 allowed_types: Optional[Set[str]] = None,
                 ) -> List[List[str]]:
    """The shipped per-document post-pass: optional punctuation suppression
    first (so suppressed chunks never vote — opt-in, see
    suppress_punct_code_spans), then label-consistency propagation
    (min_votes=1, all types: the dev-selected configuration, +0.34 F1 /
    +0.61 recall on the dev split with a train-only model)."""
    tags: List[List[str]] = [list(t) for t in sent_tags]
    if punct_suppress:
        tags = [suppress_punct_code_spans(tok, tg)
                for tok, tg in zip(sent_tokens, tags)]
    if consistency:
        tags = apply_consistency(sent_tokens, tags, min_votes=min_votes,
                                 allowed_types=allowed_types)
    return tags
