"""Char-encoding repair (SURVEY.md P6).

Re-implements ``code/BERT_NER/utils_preprocess/fix_char_encoding.py:24-88``:

* ``Fix_Word_Label``: skip entity-escape words; repair mojibake (ftfy's
  ``fix_text`` role — ftfy is not in this container, so ``fix_text_lite``
  implements its core transform: iteratively re-decode text that was UTF-8
  bytes mis-decoded as cp1252/latin-1), then the reference's hand-curated
  substitution table; retokenize the fixed word with the software tokenizer;
  replicate labels across the new tokens with B- -> I- continuation
  (``Get_List_of_Labels``).
* ``fix_gold_lines``: the ``Read_File`` loop — per 4-col line, emit one line
  per new token, dropping empty tokens and forcing ``'s`` to gold O.
"""

from __future__ import annotations

from typing import List, Sequence, Tuple

from .sotok import TokenizerGuardError, tokenize

_SKIP_MARKERS = ("&zwnj", "&nbsp", "&amp")

# fix_char_encoding.py:31 — found by the reference's own error analysis;
# written as codepoint escapes (several entries contain raw C1 codepoints
# that do not survive visual copy-paste)
SUBSTITUTIONS = [
    ("\u00b4", "'"),
    ("\u00c2\u0141", "\u00a3"),
    ("\u0102\u017c", "\u00ff"),
    ("\u00c2\u017c", "\u00bf"),
    ("\u00c2\u0179", "\u00ac"),
    ("\u0e23\u0e01", "\u00e1"),
    ("\u00e2\u0080", "\u2020"),
    ("`\u011a\u0080N", "`\u0300N"),
]


def _weirdness(s: str) -> int:
    """Count of characters that look like mojibake debris (C1 controls and
    the classic cp1252-misdecode leaders Ã/Â/â followed by punctuation)."""
    bad = 0
    for i, ch in enumerate(s):
        o = ord(ch)
        if 0x80 <= o <= 0x9F:
            bad += 2
        elif ch in "ÃÂ" and i + 1 < len(s):
            bad += 1
        elif ch == "â" and i + 2 < len(s) and ord(s[i + 1]) >= 0x80:
            bad += 1
    return bad


def _sloppy_cp1252_bytes(s: str) -> bytes | None:
    """Encode like ftfy's 'sloppy-windows-1252': cp1252 per char, with the
    5 unmapped cp1252 slots (0x81/0x8D/0x8F/0x90/0x9D) falling back to their
    raw latin-1 byte. Returns None when any char has no single-byte form."""
    out = bytearray()
    for ch in s:
        try:
            out += ch.encode("cp1252")
        except UnicodeEncodeError:
            o = ord(ch)
            if o <= 0xFF:
                out.append(o)
            else:
                return None
    return bytes(out)


def fix_text_lite(s: str) -> str:
    """ftfy.fix_text's core repair: text that is UTF-8 bytes mis-decoded as
    cp1252/latin-1 is re-encoded and decoded as UTF-8, as long as that
    strictly reduces mojibake debris. Pure and deterministic; no external
    dependency."""
    cur = s
    for _ in range(2):
        raw = _sloppy_cp1252_bytes(cur)
        if raw is None:
            break
        try:
            dec = raw.decode("utf-8")
        except UnicodeDecodeError:
            break
        if dec == cur or _weirdness(dec) >= _weirdness(cur):
            break
        cur = dec
    return cur


def _apply_substitutions(s: str) -> str:
    for a, b in SUBSTITUTIONS:
        s = s.replace(a, b)
    return s


def get_list_of_labels(n: int, main_label: str) -> List[str]:
    """Get_List_of_Labels: first token keeps the label; continuations get
    B- -> I- (O stays O, I- stays I-)."""
    if main_label == "O":
        new_label = "O"
    elif main_label[0] == "B":
        new_label = main_label.replace("B-", "I-")
    else:
        new_label = main_label
    return [main_label] + [new_label] * (n - 1)


def fix_word_label(word: str, gold_label: str, raw_label: str
                   ) -> Tuple[List[str], List[str], List[str], bool]:
    """Fix_Word_Label (fix_char_encoding.py:24-51)."""
    if any(m in word for m in _SKIP_MARKERS):
        return [word], [gold_label], [raw_label], False
    fixed = _apply_substitutions(fix_text_lite(word))
    if fixed == word:
        return [fixed], [gold_label], [raw_label], False
    try:
        toks = tokenize(fixed)
    except TokenizerGuardError:
        toks = fixed.split()
    if len(toks) == 2 and toks[0] == "'":
        return [fixed], [gold_label], [raw_label], True
    return (toks, get_list_of_labels(len(toks), gold_label),
            get_list_of_labels(len(toks), raw_label), True)


def fix_gold_lines(lines: Sequence[str]) -> List[str]:
    """Read_File (fix_char_encoding.py:53-88): 4-col lines in, repaired
    4-col lines out; blank lines pass through; empty tokens dropped; ``'s``
    forced to gold O."""
    out: List[str] = []
    for line in lines:
        if line.strip() == "":
            out.append(line)
            continue
        vals = line.strip().split()
        if len(vals) < 4:
            out.append(line)
            continue
        word, gold, _raw_word, raw = vals[0], vals[1], vals[2], vals[3]
        toks, golds, raws = fix_word_label(word, gold, raw)[:3]
        for i, tok in enumerate(toks):
            if tok.strip() == "":
                continue
            g = "O" if tok == "'s" else golds[i]
            out.append(f"{tok}\t{g}\t{tok}\t{raws[i]}")
    return out
