"""Tag-scheme utilities: IOB1->IOB2, IOB<->IOBES, digit zeroing, cap class.

Semantics from the reference's ``code/Attentive_BiLSTM/utils_so.py:78-160``.
It applies them per sentence in ``loader_so.py:289-313``
(``update_tag_scheme``); that driver loop is not ported.
"""

from __future__ import annotations

import re
from typing import List


def zero_digits(s: str) -> str:
    # utils_so.py:78-84
    return re.sub(r"\d", "0", s)


def to_iob2(tags: List[str]) -> bool:
    """Validate + in-place convert IOB1 -> IOB2 (utils_so.py:86-105)."""
    for i, tag in enumerate(tags):
        if tag == "O":
            continue
        parts = tag.split("-")
        if len(parts) != 2 or parts[0] not in ("I", "B"):
            return False
        if parts[0] == "B":
            continue
        if i == 0 or tags[i - 1] == "O":
            tags[i] = "B" + tag[1:]
        elif tags[i - 1][1:] == tag[1:]:
            continue
        else:
            tags[i] = "B" + tag[1:]
    return True


def iob_to_iobes(tags: List[str]) -> List[str]:
    # utils_so.py:108-130
    out = []
    for i, tag in enumerate(tags):
        if tag == "O":
            out.append(tag)
        elif tag.split("-")[0] == "B":
            if i + 1 != len(tags) and tags[i + 1].split("-")[0] == "I":
                out.append(tag)
            else:
                out.append(tag.replace("B-", "S-"))
        elif tag.split("-")[0] == "I":
            if i + 1 < len(tags) and tags[i + 1].split("-")[0] == "I":
                out.append(tag)
            else:
                out.append(tag.replace("I-", "E-"))
        else:
            raise ValueError("Invalid IOB format!")
    return out


def iobes_to_iob(tags: List[str]) -> List[str]:
    # utils_so.py:133-149
    out = []
    for tag in tags:
        head = tag.split("-")[0]
        if head == "B" or head == "I" or tag == "O":
            out.append(tag)
        elif head == "S":
            out.append(tag.replace("S-", "B-"))
        elif head == "E":
            out.append(tag.replace("E-", "I-"))
        else:
            raise ValueError("Invalid format!")
    return out


def cap_class(word: str) -> int:
    """0 = all-lower, 1 = all-upper, 2 = title-initial, 3 = mixed
    (loader_so.py:365-380)."""
    if word.lower() == word:
        return 0
    if word.upper() == word:
        return 1
    if word and word[0].upper() == word[0]:
        return 2
    return 3
