"""SOTokenizer variant (T2) — the tokenizer that produced the gold corpus.

Re-implements ``/root/reference/code/SOTokenizer/stokenizer.py`` (SURVEY.md
§2.3 T2). Shares the ark-twokenize pattern data with the normative E2E
variant (kernel/sotok.py = T1) and differs exactly where the reference files
differ:

* ``Func_Name`` / ``Class_Func_Name`` allow quotes/spaces/$ in arguments and
  ``Func_Name_Recursive`` exists and is the FIRST protected alternative;
* ``Numbered_List`` lacks the leading boundary lookahead;
* ``SPECIAL_WORDS`` lacks the contraction entries;
* Protected order differs (``arbitraryAbbrev`` near the end, no Mask_Rule);
* ``splitEdgePunct`` masks Func_Name_Recursive AND Class_Func words, splits
  per-word trailing end punctuation (no comma) early, and RESTORES the
  removed spaces at the end — protected function calls keep interior spaces
  in the final tokens;
* the colon-split gate is inverted (split unless the word is SPECIAL);
* bracket splitting pads single-sided (``" )"`` not ``" ) "``);
* no ``Split_Punc_At_End_of_Word`` pass and no final empty-drop/space-explode
  — tokens may contain spaces, exactly like the Readme's worked example
  (``code/Readme.md:106-122``), which is this module's golden test.

Unguarded reference crash paths (empty token list, unbalanced-paren pops)
surface as exceptions; callers treat them like the tokenizer-failure skip.
"""

from __future__ import annotations

import re
from typing import Dict, List, Tuple

from .sotok import (
    ARBITRARY_ABBREV, ARROWS, AT_MENTION, BOUND, COMPARISON_OPERATORS,
    CLASS_NAME, CONTRACTIONS_RE, EDGE_PUNCT_LEFT_RE, EDGE_PUNCT_RIGHT_RE,
    EMAIL, EMOTICON, FILE_EXT, FILE_PATH_W_FILE_NAME, HASHTAG, HEARTS,
    HTML_TAG, OR_WORDS, PATH, URL, WINDOWS_PATH, _any_of, _decorations,
    _embedded_apostrophe, _entity, _num_comb, _number_with_commas,
    _numbered_list_pattern, _punct_seq, _separators, _squeeze_ws, _time_like,
    _normalize_entities,
)

FUNC_NAME_T2 = r"([\w@\-]+\((?:[\$\w@\-\'\"\s?]+(?:,\s*)?)*\))" + "(?=" + BOUND + ")"
FUNC_NAME_RECURSIVE = (
    r"([\w@\-.\(\)]+\((?:[\$\w@\-\'\"\s?]+(?:,\s*)?)*\))" + "(?=" + BOUND + ")"
)
CLASS_FUNC_NAME_T2 = (
    r"([\$\w.:\-\>]*[\.:\-\>][\w\$]*\((?:[\$\w@\-\"\'\s]+[\.:\-\>\s=]*[\$\w]*"
    r"(?:,\s*)?)*\))" + "(?=" + BOUND + ")"
)
# exactly generate_number_list(5) + "(?=Bound)": T2 has no LEADING lookahead
NUMBERED_LIST_T2 = _numbered_list_pattern()[len("(?=" + BOUND + ")"):]
SPECIAL_WORDS_T2 = r"^http:|^HTTP:|^vs.|^c#.net|^C#.net" + "(?=" + BOUND + ")"

PROTECTED_T2_RE = re.compile(
    _any_of(
        FUNC_NAME_RECURSIVE,
        HEARTS,
        URL,
        EMAIL,
        SPECIAL_WORDS_T2,
        OR_WORDS,
        NUMBERED_LIST_T2,
        WINDOWS_PATH,
        CLASS_FUNC_NAME_T2,
        EMOTICON,
        FUNC_NAME_T2,
        COMPARISON_OPERATORS,
        CLASS_NAME,
        FILE_PATH_W_FILE_NAME,
        FILE_EXT,
        HASHTAG,
        PATH,
        _time_like,
        _number_with_commas,
        _num_comb,
        EMOTICON,
        ARROWS,
        _entity,
        _punct_seq,
        ARBITRARY_ABBREV,
        _separators,
        _decorations,
        _embedded_apostrophe,
        AT_MENTION,
    ),
    re.UNICODE,
)

ARBITRARY_ABBREV_RE = re.compile(ARBITRARY_ABBREV)
NUMBERED_LIST_T2_RE = re.compile(NUMBERED_LIST_T2)
EMOTICON_RE = re.compile(EMOTICON)
CLASS_FUNC_T2_RE = re.compile(CLASS_FUNC_NAME_T2)
FUNC_NAME_T2_RE = re.compile(FUNC_NAME_T2)
FUNC_NAME_RECURSIVE_RE = re.compile(FUNC_NAME_RECURSIVE)
SPECIAL_WORDS_T2_RE = re.compile(SPECIAL_WORDS_T2)
URL_RE = re.compile(URL)
HTML_TAG_RE = re.compile(HTML_TAG)
MULTI_DOT_RE = re.compile(r"\w*[.][.]+\w*")

_MASK_BASE = "x" * 80
_END_PUNCS_T2 = [".", ":", "?", ";", "-", "!"]  # NO comma in T2
_OPENERS = ("(", "[", "{")
_CLOSERS = (")", "]", "}")
_PAIR = {")": "(", "}": "{", "]": "["}


def _balanced_paren_words_t2(line: str) -> List[str]:
    # T2 variant: unguarded stack pop (SOTokenizer/stokenizer.py:842-876)
    found = []
    for word in line.split():
        n_open = word.count("(") + word.count("{") + word.count("[")
        if n_open <= 1 and (word[0] == "(" or (word[0] == "{" and word[0] == "[")):
            continue
        if ("(" in word and ")" not in word) or (")" in word and "(" not in word):
            continue
        if ("{" in word and "}" not in word) or ("}" in word and "{" not in word):
            continue
        if ("[" in word and "]" not in word) or ("]" in word and "[" not in word):
            continue
        stack: List[str] = []
        seen = False
        balanced = False
        for ch in word:
            if ch in _OPENERS:
                seen = True
                stack.append(ch)
            if ch in _CLOSERS:
                # the reference pops unguarded and CRASHES on a closer with
                # an empty stack (stokenizer.py:849, e.g. 'order())') — such
                # a word is unbalanced either way, so conclude that instead
                # of dying; a total tokenizer is non-negotiable at 10^12 docs
                if not stack:
                    balanced = False
                    break
                prev = stack.pop()
                balanced = _PAIR[ch] == prev
                if not balanced:
                    break
        if not stack and seen and balanced:
            found.append(word)
    return found


def _mask_words_t2(text: str) -> Tuple[Dict[str, str], str]:
    masks: Dict[str, str] = {}
    counter = 0
    for w in HTML_TAG_RE.findall(text):
        counter += 1
        key = _MASK_BASE + str(counter)
        masks[key] = w
        text = text.replace(w, key)
    balanced = _balanced_paren_words_t2(text)
    pieces = []
    for word in text.split():
        if word in balanced:
            counter += 1
            key = _MASK_BASE + str(counter)
            masks[key] = word
            pieces.append(key)
        else:
            pieces.append(word)
    return masks, " ".join(pieces)


def _unmask_t2(tokens: List[str], masks: Dict[str, str]) -> List[str]:
    # exact-token first pass (SOTokenizer variant), then base-split pass
    first = [masks.get(tok, tok) for tok in tokens]
    out = []
    for tok in first:
        if _MASK_BASE in tok:
            for piece in tok.split():
                out.append(masks.get(piece, piece))
        else:
            out.append(tok)
    return out


def _split_final_sentence_punct_t2(tokens: List[str]) -> List[str]:
    # the reference crashes on an empty token list (Split_End_of_Sentence_
    # Punc indexes tokens[-1] unguarded); empty in -> empty out instead —
    # totality, same as the unbalanced-closer guard above
    if not tokens or len(tokens[-1]) == 1:
        return tokens
    if ARBITRARY_ABBREV_RE.findall(tokens[-1]):
        return tokens
    last = tokens[-1]
    if last[-1] in _END_PUNCS_T2 and last[-1] != last[-2]:
        tokens[-1] = last[:-1]
        tokens.append(last[-1])
    return tokens


def _split_edge_punct_t2(text: str) -> str:
    fnr_found = FUNC_NAME_RECURSIVE_RE.findall(text)
    fnr_pairs = []
    for w in fnr_found:
        w_ = re.sub(r"[\s]", "", w)
        fnr_pairs.append((w, w_))
        text = text.replace(w, w_)
    fnr_squeezed = [w_ for _, w_ in fnr_pairs]

    cf_found = CLASS_FUNC_T2_RE.findall(text)
    cf_pairs = []
    for w in cf_found:
        w_ = re.sub(r"[\s]", "", w)
        cf_pairs.append((w, w_))
        text = text.replace(w, w_)
    cf_squeezed = [w_ for _, w_ in cf_pairs]

    special = ["vs.", "http:"]
    out = []
    for word_main in text.split():
        if word_main.lower() in special:
            words = [word_main]
        else:
            words = _split_final_sentence_punct_t2([word_main])
        for word in words:
            if word in fnr_squeezed or word in cf_squeezed:
                out.append(word)
            else:
                word = EDGE_PUNCT_LEFT_RE.sub(r"\1\2 \3", word)
                word = EDGE_PUNCT_RIGHT_RE.sub(r"\1\2 \3", word)
                out.append(word)
    joined = " ".join(out)
    # restore the interior spaces of protected function calls
    for main, squeezed in fnr_pairs:
        joined = joined.replace(squeezed, main)
    for main, squeezed in cf_pairs:
        joined = joined.replace(squeezed, main)
    return joined


def _interleave_protected_t2(text: str) -> List[str]:
    text = _split_edge_punct_t2(text)
    bads = []
    spans = []
    for m in PROTECTED_T2_RE.finditer(text):
        if m.start() != m.end():
            bads.append([text[m.start():m.end()]])
            spans.append((m.start(), m.end()))
    edges = [0]
    for a, b in spans:
        edges.extend((a, b))
    edges.append(len(text))
    goods = []
    for i in range(0, len(edges), 2):
        goods.append(text[edges[i]:edges[i + 1]].strip().split(" "))

    zipped: List[str] = []

    def _add(items):
        for s in items:
            s = s.strip()
            if s:
                zipped.append(s)

    for i in range(len(bads)):
        _add(goods[i])
        _add(bads[i])
    _add(goods[len(bads)])

    final = []
    for tok in zipped:
        m = CONTRACTIONS_RE.search(tok)
        if m:
            final.extend([m.group(1), m.group(2)])
        else:
            final.append(tok)
    return final


def _split_multi_dot_t2(word: str) -> List[str]:
    out: List[str] = []
    for m in MULTI_DOT_RE.findall(word):
        splitter = "." * m.count(".")
        idx = 0
        for piece in m.split(splitter):
            if piece == "":
                continue
            if idx > 0:
                out.append(splitter)
            out.append(piece)
            idx += 1
        if idx == 1:
            out.append(splitter)
    return out


def _split_nonfunction_paren_t2(word: str) -> List[str]:
    if len(word) == 1:
        return [word]
    if NUMBERED_LIST_T2_RE.search(word) or EMOTICON_RE.search(word):
        return [word]
    if CLASS_FUNC_T2_RE.search(word) or FUNC_NAME_T2_RE.search(word):
        return [word]
    if ")" in word and "(" not in word:
        return [word.replace(")", " )")]
    if "(" in word and ")" not in word:
        return [word.replace("(", "( ")]
    if "]" in word and "[" not in word:
        return [word.replace("]", " ]")]
    if "[" in word and "]" not in word:
        return [word.replace("[", "[ ")]
    return [word]


def _split_trailing_colon_t2(word: str) -> List[str]:
    # INVERTED gate vs T1: SPECIAL words are protected from the split
    if SPECIAL_WORDS_T2_RE.findall(word):
        return [word]
    if len(word) == 1 or word.count(":") > 1:
        return [word]
    if word and word[-1] == ":":
        return [word[:-1], ":"]
    return [word]


def _split_trailing_quote_t2(word: str) -> List[str]:
    if len(word) == 1:
        return [word]
    if CLASS_FUNC_T2_RE.search(word) or FUNC_NAME_T2_RE.search(word):
        return [word]
    out = [word]
    if word.count("'") == 1 and word and word[-1] == "'":
        out = [word[:-1], " '"]
    if word.count('"') == 1 and word and word[-1] == '"':
        out = [word[:-1], ' "']
    return out


def _split_inside_brackets_t2(word: str) -> List[str]:
    if (word[0] == "[" and word[-1] == "]") or (word[0] == "{" and word[-1] == "}") \
            or (word[0] == "(" and word[-1] == ")"):
        word = (word.replace(",", " , ").replace("{", " { ").replace("}", " } ")
                .replace("[", " [ ").replace("]", " ] "))
    return [word]


def _split_url_end_paren_t2(word: str) -> List[str]:
    urls = URL_RE.findall(word)
    without_balanced = [u for u in urls if not _balanced_paren_words_t2(u)]
    if urls and without_balanced:
        if word[-1] == ")" or word[-1] == "]" or word == "}":
            return [word[:-1], ")"]
    return [word]


def _wrapper_t2(tokens: List[str]) -> List[str]:
    tokens = _split_final_sentence_punct_t2(tokens)
    nxt: List[str] = []
    for w in tokens:
        pieces = _split_multi_dot_t2(w)
        if not pieces:
            nxt.append(w)
        else:
            nxt.extend(pieces)
    stage: List[str] = []
    for w in nxt:
        stage.extend(_split_nonfunction_paren_t2(w))
    nxt = []
    for w in stage:
        nxt.extend(_split_trailing_colon_t2(w))
    stage = []
    for w in nxt:
        stage.extend(_split_trailing_quote_t2(w))
    nxt = []
    for w in stage:
        nxt.extend(_split_inside_brackets_t2(w))
    stage = []
    for w in nxt:
        stage.extend(_split_url_end_paren_t2(w))
    # (the reference builds a whitespace-normalized copy and discards it)
    return stage


def tokenize_t2(text: str) -> List[str]:
    """SOTokenizer ``tokenize`` (T2): tokens may contain interior spaces."""
    masks, masked = _mask_words_t2(text)
    raw = _interleave_protected_t2(_squeeze_ws(_normalize_entities(masked)))
    unmasked = _unmask_t2(raw, masks)
    return _wrapper_t2(unmasked)
