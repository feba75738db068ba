"""Gold annotated-corpus parsing (the reference's official data API).

Re-implements ``loader_so_text`` from
``/root/reference/code/DataReader/loader_so.py:77-158``: 4-column CoNLL
(``word  gold_label  raw_word  md_label``), blank line = sentence break,
sentinel sentences dropped (CODE_BLOCK/OP_BLOCK bodies, Question_ID /
Question_URL headers), ``-----`` un-masked to spaces, labels merged and
low-frequency types replaced by O.
"""

from __future__ import annotations

from typing import Iterable, List, NamedTuple

from .labels import MERGE_MAP, merge_label, selected_tags


class GoldToken(NamedTuple):
    word: str
    md_label: str
    tag: str


def _drop_sentence(joined: str) -> bool:
    # loader_so.py:107-128
    if "code omitted for annotation" in joined and "CODE_BLOCK :" in joined:
        return True
    if "omitted for annotation" in joined and "OP_BLOCK :" in joined:
        return True
    if "Question_URL :" in joined or "Question_ID :" in joined:
        return True
    return False


def parse_gold_lines(lines: Iterable[str]) -> List[List[GoldToken]]:
    selected = {MERGE_MAP.get(t, t) for t in selected_tags()}
    sentences: List[List[GoldToken]] = []
    sentence: List[GoldToken] = []
    for line in lines:
        if line.strip() == "":
            if sentence:
                joined = " ".join(t.word for t in sentence)
                if not _drop_sentence(joined):
                    sentences.append(sentence)
                sentence = []
            continue
        vals = line.strip().split()
        if len(vals) < 4:
            continue
        word, gold_label, _raw_word, md_label = vals[0], vals[1], vals[2], vals[3]
        word = " ".join(word.split("-----"))
        gold_label = merge_label(gold_label)
        name = gold_label.replace("B-", "").replace("I-", "")
        if gold_label != "O" and name not in selected:
            gold_label = "O"
        sentence.append(GoldToken(word, md_label, gold_label))
    if sentence:
        joined = " ".join(t.word for t in sentence)
        if not _drop_sentence(joined):
            sentences.append(sentence)
    return sentences


def document_keys(lines: Iterable[str]) -> List[str]:
    """One document key per ``parse_gold_lines`` sentence, in order.

    The corpora mark document boundaries with header sentences: the SO
    splits open each question with a ``Question_ID :`` header (dropped by
    the parser, loader_so.py:107-128), the GitHub split opens each issue
    event with a kept ``Repository_Name : <owner/repo>`` sentence. SO
    sentences get the question id as key; GH sentences get the repository
    string, so every comment of one thread shares a document — the scope
    the label-consistency post-pass (kernel/docconsist.py) propagates over.
    """
    keys: List[str] = []
    current = "doc0"
    sentence: List[str] = []

    def _flush() -> None:
        nonlocal current, sentence
        if not sentence:
            return
        joined = " ".join(sentence)
        if joined.startswith("Question_ID :"):
            current = "q:" + joined.split(":", 1)[1].strip()
        elif joined.startswith("Repository_Name :"):
            current = "r:" + joined.split(":", 1)[1].strip()
        if not _drop_sentence(joined):
            keys.append(current)
        sentence = []

    for line in lines:
        if line.strip() == "":
            _flush()
            continue
        vals = line.strip().split()
        if len(vals) < 4:
            continue
        sentence.append(" ".join(vals[0].split("-----")))
    _flush()
    return keys
