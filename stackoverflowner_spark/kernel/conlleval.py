"""conlleval-style chunk extraction and P/R/F1.

Row-local span extraction mirroring the chunk state machine of
``/root/reference/code/Attentive_BiLSTM/conlleval_py.py:88-244``; the engine
aggregates the extracted spans distributively (explode -> groupBy type) and
computes metrics with ``calc_metrics`` (conlleval_py.py:137-148 semantics).
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence, Tuple


def _split_tag(chunk_tag: str) -> Tuple[str, Optional[str]]:
    if chunk_tag == "O":
        return "O", None
    if "-" in chunk_tag:
        tag, typ = chunk_tag.split("-", 1)
        return tag, typ
    return chunk_tag, None


def _is_chunk_end(prev_tag: str, tag: str, prev_type, typ) -> bool:
    return (
        (prev_tag == "B" and tag == "B")
        or (prev_tag == "B" and tag == "O")
        or (prev_tag == "I" and tag == "B")
        or (prev_tag == "I" and tag == "O")
        or (prev_tag == "E" and tag in ("E", "I", "O"))
        or (prev_tag not in ("O", ".") and prev_type != typ)
        or (prev_tag in ("]", "["))
    )


def _is_chunk_start(prev_tag: str, tag: str, prev_type, typ) -> bool:
    return (
        (prev_tag == "B" and tag == "B")
        or (prev_tag == "I" and tag == "B")
        or (prev_tag == "O" and tag in ("B", "I", "E"))
        or (prev_tag == "E" and tag in ("E", "I"))
        or (tag not in ("O", ".") and prev_type != typ)
        or (tag in ("]", "["))
    )


def extract_chunks(tags: Sequence[str]) -> List[Tuple[str, int, int]]:
    """Return ``(type, start_tok, end_tok_exclusive)`` spans of one sentence."""
    chunks: List[Tuple[str, int, int]] = []
    prev_tag, prev_type = "O", None
    open_start: Optional[int] = None
    open_type: Optional[str] = None
    for i, chunk_tag in enumerate(tags):
        tag, typ = _split_tag(chunk_tag)
        if open_start is not None and _is_chunk_end(prev_tag, tag, prev_type, typ):
            chunks.append((open_type, open_start, i))
            open_start, open_type = None, None
        if _is_chunk_start(prev_tag, tag, prev_type, typ):
            open_start, open_type = i, typ
        prev_tag, prev_type = tag, typ
    if open_start is not None:
        chunks.append((open_type, open_start, len(tags)))
    return chunks


def calc_metrics(tp: int, p: int, t: int) -> Tuple[float, float, float]:
    """(precision, recall, FB1) in percent, as conlleval prints them."""
    precision = tp / p if p else 0
    recall = tp / t if t else 0
    fb1 = 2 * precision * recall / (precision + recall) if precision + recall else 0
    return 100 * precision, 100 * recall, 100 * fb1


def evaluate_sentences(golds: Sequence[Sequence[str]], preds: Sequence[Sequence[str]]
                       ) -> Dict[str, Dict[str, float]]:
    """Driver-side reference evaluation (test oracle for the Spark agg)."""
    correct: Dict[str, int] = {}
    guessed: Dict[str, int] = {}
    truth: Dict[str, int] = {}
    for g_tags, p_tags in zip(golds, preds):
        g_spans = set(extract_chunks(g_tags))
        p_spans = set(extract_chunks(p_tags))
        for typ, a, b in g_spans:
            truth[typ] = truth.get(typ, 0) + 1
        for typ, a, b in p_spans:
            guessed[typ] = guessed.get(typ, 0) + 1
        for span in g_spans & p_spans:
            correct[span[0]] = correct.get(span[0], 0) + 1
    report: Dict[str, Dict[str, float]] = {}
    types = sorted(set(truth) | set(guessed))
    tp_all = sum(correct.values())
    p_all = sum(guessed.values())
    t_all = sum(truth.values())
    pr, rc, f1 = calc_metrics(tp_all, p_all, t_all)
    report["__overall__"] = {"precision": pr, "recall": rc, "f1": f1,
                             "tp": tp_all, "guessed": p_all, "truth": t_all}
    for typ in types:
        pr, rc, f1 = calc_metrics(correct.get(typ, 0), guessed.get(typ, 0), truth.get(typ, 0))
        report[typ] = {"precision": pr, "recall": rc, "f1": f1,
                       "tp": correct.get(typ, 0), "guessed": guessed.get(typ, 0),
                       "truth": truth.get(typ, 0)}
    return report
