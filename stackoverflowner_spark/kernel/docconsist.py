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
loop (``kernel/document.py`` ``page_batch_mentions``) — a page IS the
document, so the pass costs zero shuffle; the Spark twin
(``operators/consistency.py`` ``propagate_mentions``) states the same rule
over the mention table for the checkpointed path.

One configuration ships, selected on the dev split with a train-only model
(BENCH/BASELINE.md; the gold test and GH splits were never touched during
tuning):

* Only single-token mentions vote, and only exact-case surface matches
  propagate — case-insensitive matching drags common words in.
* A shape gate keeps propagation to name-like surfaces (an uppercase
  letter, a digit, or an identifier character ``._-/``; length >= 2; at
  least one alphanumeric) — "the"/"is" can never propagate even if the
  tagger mislabels one occurrence.
* Ties between entity types for the same surface do not propagate; one
  confident Viterbi mention is enough otherwise.
"""

from __future__ import annotations

from collections import Counter
from typing import Dict, List, Sequence

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
                  sent_tags: Sequence[Sequence[str]]) -> Dict[str, Counter]:
    """Per-surface entity-type vote counts, keyed by token string.

    Only single-token mentions vote — a multi-token chunk's per-token
    surfaces are not independent evidence (e.g. "Visual Studio" must not
    vote "Studio").
    """
    votes: Dict[str, Counter] = {}
    for tokens, tags in zip(sent_tokens, sent_tags):
        for typ, a, b in extract_chunks(tags):
            if b - a == 1 and name_like(tokens[a]):
                votes.setdefault(tokens[a], Counter())[typ] += 1
    return votes


def majority_labels(votes: Dict[str, Counter]) -> Dict[str, str]:
    """Resolve votes to one type per surface; ties never propagate."""
    out: Dict[str, str] = {}
    for surf, ctr in votes.items():
        ranked = ctr.most_common(2)
        if len(ranked) > 1 and ranked[1][1] == ranked[0][1]:
            continue
        out[surf] = ranked[0][0]
    return out


def doc_postpass(sent_tokens: Sequence[Sequence[str]],
                 sent_tags: Sequence[Sequence[str]]) -> List[List[str]]:
    """Propagate in-document majority labels onto O tokens.

    Returns new tag rows (inputs are not mutated). Only positions currently
    O are touched, each becoming a single-token ``B-<type>`` chunk, so every
    existing chunk survives verbatim (dev: +0.34 F1 / +0.61 recall with a
    train-only model). A stray ``I-X`` (an ``I-`` after O, which conlleval
    already reads as a chunk start) is first rewritten to ``B-X``, so a
    propagated O before it never grows it into a 2-token chunk.
    """
    labels = majority_labels(collect_votes(sent_tokens, sent_tags))
    out: List[List[str]] = []
    for tokens, tags in zip(sent_tokens, sent_tags):
        new = list(tags)
        if labels:
            prev = "O"
            for i, (tok, tag) in enumerate(zip(tokens, tags)):
                if tag == "O":
                    typ = labels.get(tok)
                    if typ is not None:
                        new[i] = "B-" + typ
                elif prev == "O" and tag.startswith("I-"):
                    new[i] = "B-" + tag[2:]
                prev = tag
        out.append(new)
    return out
