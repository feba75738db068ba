"""Standoff-annotation -> token-level BIO labels (CoNLL rows).

Re-implements the per-document computation of
``/root/reference/code/BERT_NER/utils_preprocess/anntoconll.py``:
``text_to_conll`` (:132-202), ``relabel`` (:205-251) and
``eliminate_overlaps`` (:306-326). At Spark granularity this is an interval
join between token spans and annotation spans that stays row-local because
both sides live in one document's arrays.
"""

from __future__ import annotations

from functools import lru_cache
from typing import Dict, List, NamedTuple, Optional, Sequence, Tuple

from .offsets import map_tokens_to_offsets
from .sentencize import Standoff
from .sotok import tokenize


@lru_cache(maxsize=65536)
def _tokenize_with_offsets(sentence: str) -> Tuple[Tuple[str, int], ...]:
    """Executor-local memoization of (tokenize + offset-map) per sentence.

    Web text repeats massively — every sentinel line
    (``CODE_BLOCK: Q_1 (code omitted for annotation)``) and most boilerplate
    sentences recur across documents, and both tokenization and the offset
    scan are pure functions of the sentence string (the document offset is
    additive). Deterministic: cache hits return the identical value the
    cold path would compute.

    Whitespace tokens are dropped HERE (every consumer filtered them with
    the identical ``isspace`` test per occurrence; doing it once per
    distinct sentence yields the same token stream for free)."""
    tokens = tokenize(sentence)
    return tuple((tok, pos)
                 for tok, pos in map_tokens_to_offsets(sentence, tokens, 0)
                 if not tok.isspace())


class ConllRow(NamedTuple):
    sent_idx: int
    tok_idx: int
    token: str
    tag: str
    start: int
    end: int


def eliminate_overlaps(spans: Sequence[Standoff]) -> List[Standoff]:
    # anntoconll.py:306-326 — pairwise, longer span wins; equal-length
    # overlapping spans eliminate each other.
    drop: Dict[Standoff, bool] = {}
    for a in spans:
        for b in spans:
            if a is b:
                continue
            if b.start >= a.end or b.end <= a.start:
                continue
            if a.end - a.start > b.end - b.start:
                drop[b] = True
            else:
                drop[a] = True
    return [s for s in spans if s not in drop]


def _relabel(rows: List[Optional[list]], spans: Sequence[Standoff]) -> None:
    # anntoconll.py:205-243 — first covered char wins; B- on label change.
    offset_label: Dict[int, Standoff] = {}
    for tb in spans:
        for i in range(tb.start, tb.end):
            offset_label[i] = tb
    if not offset_label:
        # no covered char anywhere: every row keeps its "O" and the
        # prev_label chain never leaves None — the loop is a no-op
        return
    # tokens wholly outside the covered range can't probe a hit; the
    # bound check skips their per-char dict scan (same labels)
    lo = min(offset_label)
    hi = max(offset_label) + 1

    prev_label: Optional[str] = None
    for row in rows:
        if not row:
            prev_label = None
            continue
        tag, start, end, token = row
        label = None
        if start < hi and end > lo:
            for o in range(start, end):
                if o in offset_label:
                    label = offset_label[o].type
                    break
        if label is not None:
            tag = ("I-" if label == prev_label else "B-") + label
        prev_label = label
        row[0] = tag


def _labelled_rows(final_text: str, spans: Sequence[Standoff]
                   ) -> List[Optional[list]]:
    """Tokenize each line of ``final_text`` and BIO-label ``spans``: one
    ``[tag, start, end, token]`` row per token, ``None`` after each line.
    Raises TokenizerGuardError if any line trips the tokenizer guard."""
    rows: List[Optional[list]] = []
    offset = 0
    for s in final_text.splitlines(keepends=True):
        for tok, pos in _tokenize_with_offsets(s):
            rows.append(["O", pos + offset, pos + offset + len(tok), tok])
        rows.append(None)
        offset += len(s)
    _relabel(rows, eliminate_overlaps(spans))
    return rows


def sentence_token_tags(final_text: str, spans: Sequence[Standoff]
                        ) -> List[Tuple[int, List[str], List[str]]]:
    """(sent_idx, tokens, tags) per non-empty sentence — the fused-kernel
    variant of ``text_to_conll_rows`` that never builds per-token
    ConllRow objects (the hot path only consumes the per-sentence
    token/tag lists; the NamedTuple constructions were ~8% of the kernel
    at corpus scale). Sentence numbering, token order and tags are
    IDENTICAL to grouping ``text_to_conll_rows`` output by sent_idx —
    gated by the fused-vs-modular equality tests."""
    rows = _labelled_rows(final_text, spans)
    out: List[Tuple[int, List[str], List[str]]] = []
    toks: List[str] = []
    tags: List[str] = []
    sent_idx = 0
    for row in rows:
        if row is None:
            if toks:
                out.append((sent_idx, toks, tags))
                sent_idx += 1
                toks = []
                tags = []
            continue
        tags.append(row[0])
        toks.append(row[3])
    return out


def text_to_conll_rows(final_text: str, spans: Sequence[Standoff]) -> List[ConllRow]:
    """Tokenize a post's final text line-wise and BIO-label sentinel spans.

    Mirrors ``text_to_conll`` with ``--nosplit`` (the default,
    anntoconll.py:54-56,136-137): each line of the text file is one sentence;
    char offsets accumulate across lines including the newline chars.

    Raises TokenizerGuardError if any sentence trips the deterministic
    tokenizer guard; the caller drops the whole document (the reference skips
    the file, anntoconll.py:265-269).
    """
    rows = _labelled_rows(final_text, spans)
    out: List[ConllRow] = []
    sent_idx = 0
    tok_idx = 0
    for row in rows:
        if row is None:
            if tok_idx:
                sent_idx += 1
                tok_idx = 0
            continue
        out.append(ConllRow(sent_idx, tok_idx, row[3], row[0], row[1], row[2]))
        tok_idx += 1
    return out
