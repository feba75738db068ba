"""Software-domain tokenizer (the engine's byte-identity-critical operator).

From-scratch re-implementation of the E2E tokenizer semantics defined by
``/root/reference/code/BERT_NER/utils_preprocess/stokenizer.py`` (itself an
extension of the public ark-twokenize tweet tokenizer,
https://github.com/myleott/ark-twokenize-py). The regular-expression pattern
*data* below is transcribed from that lineage verbatim — alternation order,
capture-group positions and even scrambled backreferences inside the combined
"protected" pattern are observable behavior and must be preserved — while the
surrounding control flow is written fresh.

Pipeline (stokenizer.py:1040-1067):
  1. mask HTML-tag-like and balanced-paren words with ``x``*80 + counter
  2. HTML-unescape, squeeze whitespace
  3. protected-span interleave split (twokenize "bads/goods")
  4. contraction split
  5. unmask
  6. seven wrapper passes (end punctuation, multi-dot, non-function parens,
     trailing colon, trailing quote, inside-paren, URL-end-paren)
  7. drop empty-ish tokens and explode residual single spaces

Known reference quirks preserved on purpose:
  * the wrapper returns the list built *before* its final whitespace
    normalization pass (stokenizer.py:874-892), so tokens can carry spaces;
  * step 7 then splits those on single spaces, which can emit ``""`` tokens;
  * multi-dot splitting drops characters outside the regex match
    (stokenizer.py:628-653);
  * Split_On_last_letter_Colon_Mark only fires on SPECIAL_WORDS matches
    (stokenizer.py:717-720);
  * URL-end-paren splitting always emits ``")"`` even for ``]``
    (stokenizer.py:810-813).
"""

from __future__ import annotations

import html as _html
import re
from functools import lru_cache
from typing import Dict, List, Tuple

# --------------------------------------------------------------------------- #
# pattern data (ark-twokenize lineage + software-domain additions)
# --------------------------------------------------------------------------- #


def _any_of(*alternatives: str) -> str:
    return "(?:" + "|".join(alternatives) + ")"


CONTRACTIONS_RE = re.compile(
    "(?i)(\\w+)(n['\u2019\u2032]t|['\u2019\u2032]ve|['\u2019\u2032]ll|['\u2019\u2032]d|"
    "['\u2019\u2032]re|['\u2019\u2032]s|['\u2019\u2032]m)$",
    re.UNICODE,
)
WHITESPACE_RE = re.compile(
    "[\\s\u0020\u00a0\u1680\u180e\u202f\u205f\u3000\u2000-\u200a]+", re.UNICODE
)

_punct_chars = r"['\"“”‘’.?!…,:;]"
_punct_seq = r"['\"“”‘’]+|[.?!,…]+|[:;]+"
_entity = r"&(?:amp|lt|gt|quot);"

_url_start1 = r"(?:https?://|\bwww\.)"
_common_tlds = (
    r"(?:com|org|edu|gov|net|mil|aero|asia|biz|cat|coop|info|int|jobs|mobi|museum|"
    r"name|pro|tel|travel|xxx|aspx)"
)
_cc_tlds = (
    r"(?:ac|ad|ae|af|ag|ai|al|am|an|ao|aq|ar|as|at|au|aw|ax|az|ba|bb|bd|be|bf|bg|bh|bi|bj|bm|bn|bo|br|bs|bt|"
    r"bv|bw|by|bz|ca|cc|cd|cf|cg|ch|ci|ck|cl|cm|cn|co|cr|cs|cu|cv|cx|cy|cz|dd|de|dj|dk|dm|do|dz|ec|ee|eg|eh|"
    r"er|es|et|eu|fi|fj|fk|fm|fo|fr|ga|gb|gd|ge|gf|gg|gh|gi|gl|gm|gn|gp|gq|gr|gs|gt|gu|gw|gy|hk|hm|hn|hr|ht|"
    r"hu|id|ie|il|im|in|io|iq|ir|is|it|je|jm|jo|jp|ke|kg|kh|ki|km|kn|kp|kr|kw|ky|kz|la|lb|lc|li|lk|lr|ls|lt|"
    r"lu|lv|ly|ma|mc|md|me|mg|mh|mk|ml|mm|mn|mo|mp|mq|mr|ms|mt|mu|mv|mw|mx|my|mz|na|nc|ne|nf|ng|ni|nl|no|np|"
    r"nr|nu|nz|om|pa|pe|pf|pg|ph|pk|pl|pm|pn|pr|ps|pt|pw|py|qa|re|ro|rs|ru|rw|sa|sb|sc|sd|se|sg|sh|si|sj|sk|"
    r"sl|sm|sn|so|sr|ss|st|su|sv|sy|sz|tc|td|tf|tg|th|tj|tk|tl|tm|tn|to|tp|tr|tt|tv|tw|tz|ua|ug|uk|us|uy|uz|"
    r"va|vc|ve|vg|vi|vn|vu|wf|ws|ye|yt|za|zm|zw)"
)
_url_start2 = (
    r"\b(?:[A-Za-z\d-])+(?:\.[A-Za-z0-9]+){0,3}\."
    + _any_of(_common_tlds, _cc_tlds)
    + r"(?:\." + _cc_tlds + r")?(?=\W|$)"
)
_url_body = r"(?:[^\.\s<>][^\s<>]*?)?"
_url_extra_crap = _any_of(_punct_chars, _entity) + "+?"
_url_end = r"(?:\.\.+|[<>]|\s|$)"
URL = _any_of(_url_start1, _url_start2) + _url_body + "(?=(?:" + _url_extra_crap + ")?" + _url_end + ")"

_time_like = r"\d+(?::\d+){1,2}"
_number_with_commas = r"(?:(?<!\d)\d{1,3},)+?\d{3}" + r"(?=(?:[^,\d]|$))"
_num_comb = (
    "[\u0024\u058f\u060b\u09f2\u09f3\u09fb\u0af1\u0bf9\u0e3f\u17db\ua838\ufdfc"
    "\ufe69\uff04\uffe0\uffe1\uffe5\uffe6\u00a2-\u00a5\u20a0-\u20b9]?\\d+(?:\\.\\d+)+%?"
)

_boundary_not_dot = _any_of("$", r"\s", r"[“\"?!,:;]", _entity)
_aa1 = r"(?:[A-Za-z]\.){2,}(?=" + _boundary_not_dot + ")"
_aa2 = r"[^A-Za-z](?:[A-Za-z]\.){1,}[A-Za-z](?=" + _boundary_not_dot + ")"
_standard_abbrevs = r"\b(?:[Mm]r|[Mm]rs|[Mm]s|[Dd]r|[Ss]r|[Jj]r|[Rr]ep|[Ss]en|[Ss]t)\."
ARBITRARY_ABBREV = _any_of(_aa1, _aa2, _standard_abbrevs)

_separators = "(?:--+|―|—|~|–|=)"
_decorations = "(?:[♫♪]+|[★☆]+|[♥❤♡]+|[\u2639-\u263b]+|[\ue001-\uebbb]+)"
_things_that_split_words = r"[^\s\.,?\"]"
_embedded_apostrophe = _things_that_split_words + r"+['’′]" + _things_that_split_words + "*"

_normal_eyes = "[:=]"
_wink = "[;]"
_nose_area = "(?:|-|[^a-zA-Z0-9 ])"
_happy_mouths = r"[D\)\]\}]+"
_sad_mouths = r"[\(\[\{]+"
_tongue = "[pPd3]+"
_other_mouths = r"(?:[oO]+|[/\\]+|[vV]+|[Ss]+|[|]+)"

_bf_left = "(♥|0|[oO]|°|[vV]|\\$|[tT]|[xX]|;|\u0ca0|@|ʘ|•|・|◕|\\^|¬|\\*)"
_bf_center = r"(?:[\.]|[_-]+)"
_bf_right = r"\2"
_s3 = r"(?:--['\"])"
_s4 = r"(?:<|&lt;|>|&gt;)[\._-]+(?:<|&lt;|>|&gt;)"
_s5 = "(?:[.][_]+[.])"
_basicface = "(?:" + _bf_left + _bf_center + _bf_right + ")|" + _s3 + "|" + _s4 + "|" + _s5

_ee_left = r"[＼\\ƪԄ\(（<>;ヽ\-=~\*]+"
_ee_right = "[\\-=\\);'\u0022<>ʃ）/／ノﾉ丿╯σっµ~\\*]+"
_ee_symbol = r"[^A-Za-z0-9\s\(\)\*:=-]"
_east_emote = _ee_left + "(?:" + _basicface + "|" + _ee_symbol + ")+" + _ee_right
_oo_emote = r"(?:[oO]" + _bf_center + r"[oO])"

EMOTICON = _any_of(
    "(?:>|&gt;)?"
    + _any_of(_normal_eyes, _wink)
    + _any_of(_nose_area, "[Oo]")
    + _any_of(
        _tongue + r"(?=\W|$|RT|rt|Rt)",
        _other_mouths + r"(?=\W|$|RT|rt|Rt)",
        _sad_mouths,
        _happy_mouths,
    ),
    _any_of("(?<=(?: ))", "(?<=(?:^))")
    + _any_of(_sad_mouths, _happy_mouths, _other_mouths)
    + _nose_area
    + _any_of(_normal_eyes, _wink)
    + "(?:<|&lt;)?",
    _east_emote.replace("2", "1", 1),
    _basicface,
    _oo_emote,
)

HEARTS = "(?:<+/?3+)+"
ARROWS = _any_of(r"(?:<*[-―—=]*>+|<+[-―—=]*>*)", "[\u2190-\u21ff]+")
HASHTAG = "#[a-zA-Z0-9_]+"
AT_MENTION = "[@＠][a-zA-Z0-9_]+"
BOUND = r"(?:\W|^|$)"
EMAIL = (
    _any_of("(?<=(?:\\W))", "(?<=(?:^))")
    + r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,4}(?=" + BOUND + ")"
)

FILE_EXT = r"[.]?[\w.\-]*\.[\w]+(?=" + BOUND + ")"
PATH = r"(?:/?[\w\-.]+\/+)+"
FILE_PATH_W_FILE_NAME = PATH + "(?:" + FILE_EXT + ")*"
OR_WORDS = r"([\w\-.:]*\/[\w\.:]*)+" + "(?=" + BOUND + ")"
WINDOWS_PATH = r"((?:(?:[a-zA-Z]:)?\\)[\\\S|*\S]?\S*)" + "(?=" + BOUND + ")"
CLASS_NAME = r"[\w.:\-\>]*[\.:\-\>][\w\*]*(?=" + BOUND + ")"
FUNC_NAME = r"([\w@\-]+\((?:[\w@\-]+(?:,\s*)?)*\))" + "(?=" + BOUND + ")"
CLASS_FUNC_NAME = (
    r"([\w.:\-\>]*[\.:\-\>][\w]*\((?:[\w@\-]+[\.:\-\>\s=]*[\w]*(?:,\s*)?)*\))"
    + "(?=" + BOUND + ")"
)
HTML_TAG = r"<.*>" + "(?=" + BOUND + ")"
COMPARISON_OPERATORS = r"==|!=|<=|>=|:="
SPECIAL_WORDS = r"^http:|^HTTP:|^vs.|^c#.net|^C#.net|^'ve|^'s|^'re" + "(?=" + BOUND + ")"
MASK_RULE = r"x{80,80}[0-9]{1,2}"


def _roman(n: int) -> str:
    vals = [(1000, "M"), (900, "CM"), (500, "D"), (400, "CD"), (100, "C"), (90, "XC"),
            (50, "L"), (40, "XL"), (10, "X"), (9, "IX"), (5, "V"), (4, "IV"), (1, "I")]
    out = ""
    for v, sym in vals:
        while n >= v:
            out += sym
            n -= v
    return out


def _numbered_list_pattern() -> str:
    # stokenizer.py:260-282 — note the boundary lookaheads bind only to the
    # first and last alternatives (no grouping), which we keep as-is.
    parts = []
    for i in range(1, 6):
        upper = _roman(i)
        parts.extend([upper + "\\)", upper.lower() + "\\)", str(i) + "\\)"])
    return "(?=" + BOUND + ")" + "|".join(parts) + "(?=" + BOUND + ")"


NUMBERED_LIST = _numbered_list_pattern()

PROTECTED_RE = re.compile(
    _any_of(
        ARBITRARY_ABBREV,
        MASK_RULE,
        HEARTS,
        URL,
        EMAIL,
        SPECIAL_WORDS,
        OR_WORDS,
        NUMBERED_LIST,
        WINDOWS_PATH,
        CLASS_FUNC_NAME,
        EMOTICON,
        FUNC_NAME,
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
        _separators,
        _decorations,
        _embedded_apostrophe,
        AT_MENTION,
    ),
    re.UNICODE,
)

_edge_punct_chars = "'\"“”‘’«»{}\\(\\)\\[\\]\\*&"
_edge_punct = "[" + _edge_punct_chars + "]"
_not_edge_punct = "[a-zA-Z0-9]"
_off_edge = r"(^|$|:|;|\s|\.|,)"
EDGE_PUNCT_LEFT_RE = re.compile(_off_edge + "(" + _edge_punct + "+)(" + _not_edge_punct + ")", re.UNICODE)
EDGE_PUNCT_RIGHT_RE = re.compile("(" + _not_edge_punct + ")(" + _edge_punct + "+)" + _off_edge, re.UNICODE)

ARBITRARY_ABBREV_RE = re.compile(ARBITRARY_ABBREV)
NUMBERED_LIST_RE = re.compile(NUMBERED_LIST)
EMOTICON_RE = re.compile(EMOTICON)
CLASS_FUNC_NAME_RE = re.compile(CLASS_FUNC_NAME)
FUNC_NAME_RE = re.compile(FUNC_NAME)
SPECIAL_WORDS_RE = re.compile(SPECIAL_WORDS)
URL_RE = re.compile(URL)
HTML_TAG_RE = re.compile(HTML_TAG)
MULTI_DOT_RE = re.compile(r"\w*[.][.]+\w*")

_MASK_BASE = "x" * 80
_END_PUNCS = [".", ":", "?", ";", "-", "!", ","]
_OPENERS = ("(", "[", "{")
_CLOSERS = (")", "]", "}")
_PAIR = {")": "(", "}": "{", "]": "["}


class TokenizerGuardError(Exception):
    """Deterministic stand-in for the reference's tokenizer-failure path
    (anntoconll.py:164-171 skips the whole file when tokenization fails)."""


# --------------------------------------------------------------------------- #
# masking of HTML-tag-like and balanced-paren words (stokenizer.py:894-981)
# --------------------------------------------------------------------------- #


def _balanced_paren_words(line: str) -> List[str]:
    found = []
    for word in line.split():
        n_open = word.count("(") + word.count("{") + word.count("[")
        # fast path: no opener means the word can never be appended (no
        # opener + no closer -> seen stays False; a closer without its
        # opener hits the mismatch continues below) — skip the per-char
        # stack walk the common bracket-less word otherwise pays
        if n_open == 0:
            continue
        # precedence quirk kept: `a or b and c` == `a or (b and c)`
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
                if stack:
                    balanced = _PAIR[ch] == stack.pop()
                if not balanced:
                    break
        if not stack and seen and balanced:
            found.append(word)
    return found


def _mask_protected_words(text: str) -> Tuple[Dict[str, str], str]:
    masks: Dict[str, str] = {}
    counter = 0
    # fast path: the tag regex needs a literal '<' (same output, scan saved)
    for w in (HTML_TAG_RE.findall(text) if "<" in text else ()):
        counter += 1
        key = _MASK_BASE + str(counter)
        masks[key] = w
        text = text.replace(w, key)
    # set membership: the list scan was O(words x balanced)
    balanced = set(_balanced_paren_words(text))
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


def _unmask(tokens: List[str], masks: Dict[str, str]) -> List[str]:
    # stokenizer.py:985-1031 — substring scan, then a second pass splitting
    # tokens that still contain the mask base. Every key starts with
    # _MASK_BASE, so one substring check replaces the per-key scan for the
    # (overwhelmingly common) unmasked token.
    first_pass = []
    for tok in tokens:
        hit = ""
        if masks and _MASK_BASE in tok:
            for key in masks:
                if key in tok:
                    hit = key
                    break
        if hit:
            first_pass.append(tok.replace(hit, masks[hit]))
        else:
            first_pass.append(tok)
    out = []
    for tok in first_pass:
        if _MASK_BASE in tok:
            for piece in tok.split():
                out.append(masks.get(piece, piece))
        else:
            out.append(tok)
    return out


# --------------------------------------------------------------------------- #
# twokenize-style protected interleave (stokenizer.py:354-599)
# --------------------------------------------------------------------------- #


_WS_SQUEEZE_RE = re.compile(r"[\s]")
_EDGE_CHARS = set(_edge_punct_chars.replace("\\", ""))


def _split_edge_punct(text: str) -> str:
    # fast path: the class/func pattern needs a literal '(' (scan saved)
    cf_found = CLASS_FUNC_NAME_RE.findall(text) if "(" in text else []
    cf_squeezed = []
    for w in cf_found:
        w_ = _WS_SQUEEZE_RE.sub("", w)
        cf_squeezed.append(w_)
        text = text.replace(w, w_)

    out = []
    for word in text.split():
        if word in cf_squeezed:
            out.append(word)
        elif _EDGE_CHARS.isdisjoint(word):
            # no edge-punct char -> both subs are identity
            out.append(word)
        else:
            word = EDGE_PUNCT_LEFT_RE.sub(r"\1\2 \3", word)
            word = EDGE_PUNCT_RIGHT_RE.sub(r"\1\2 \3", word)
            out.append(word)
    return " ".join(out)


@lru_cache(maxsize=262144)
def _word_protected_spans(word: str) -> Tuple[Tuple[int, int], ...]:
    return tuple((m.start(), m.end())
                 for m in PROTECTED_RE.finditer(word)
                 if m.start() != m.end())


def _protected_spans(text: str) -> List[Tuple[int, int]]:
    """Non-empty PROTECTED_RE match spans over ``text``.

    Fast path: when the text has no '(' no alternation branch can consume a
    space (the only space-consuming branches are the function/class-call
    patterns, which require a literal paren), and every lookaround in the
    pattern treats a space boundary and ^/$ identically — so the global scan
    equals the union of per-word scans, which lets the hot regex run on an
    LRU cache keyed by word. Web-text token frequency is Zipfian, so the hit
    rate is high. Equivalence to the global scan is differentially tested on
    the full gold corpus + goldens + property-based random strings
    (tests/test_kernel_units.py)."""
    if "(" in text:
        return [(m.start(), m.end())
                for m in PROTECTED_RE.finditer(text)
                if m.start() != m.end()]
    spans: List[Tuple[int, int]] = []
    pos = 0
    for word in text.split(" "):
        if word:
            for a, b in _word_protected_spans(word):
                spans.append((pos + a, pos + b))
        pos += len(word) + 1
    return spans


def _interleave_protected(text: str) -> List[str]:
    text = _split_edge_punct(text)
    bads = []
    spans = []
    for a, b in _protected_spans(text):
        bads.append([text[a:b]])
        spans.append((a, b))
    edges = [0]
    for a, b in spans:
        edges.extend((a, b))
    edges.append(len(text))
    goods = []
    for i in range(0, len(edges), 2):
        goods.append(text[edges[i]:edges[i + 1]].strip().split(" "))

    zipped: List[str] = []

    def _add(items: List[str]) -> None:
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
        # fast path: the contractions pattern needs an apostrophe
        if "'" in tok or "’" in tok or "′" in tok:
            m = CONTRACTIONS_RE.search(tok)
            if m:
                final.extend([m.group(1), m.group(2)])
                continue
        final.append(tok)
    return final


def _normalize_entities(text: str) -> str:
    return _html.unescape(text.replace("&amp;", "&"))


def _squeeze_ws(text: str) -> str:
    return WHITESPACE_RE.sub(" ", text).strip()


# --------------------------------------------------------------------------- #
# wrapper passes (stokenizer.py:490-892)
# --------------------------------------------------------------------------- #


def _split_final_sentence_punct(tokens: List[str]) -> List[str]:
    if len(tokens) <= 1 or len(tokens[-1]) == 1:
        return tokens
    # fast path: every abbreviation branch requires a '.'
    if "." in tokens[-1] and ARBITRARY_ABBREV_RE.findall(tokens[-1]):
        return tokens
    last = tokens[-1]
    if last[-1] in _END_PUNCS and last[-1] != last[-2]:
        tokens[-1] = last[:-1]
        tokens.append(last[-1])
    return tokens


def _split_final_word_punct(word: str) -> List[str]:
    if word[-1] in _END_PUNCS:
        return [word[:-1], word[-1]]
    return [word]


def _split_multi_dot(word: str) -> List[str]:
    if len(word) <= 0:
        return [word]
    if ".." not in word:  # fast path: the regex needs two adjacent dots
        return []
    matches = MULTI_DOT_RE.findall(word)
    out: List[str] = []
    for m in matches:
        splitter = "." * m.count(".")
        pieces = m.split(splitter)
        idx = 0
        for piece in pieces:
            if piece == "":
                continue
            if idx > 0:
                out.append(splitter)
            out.append(piece)
            idx += 1
        if idx == 1:
            out.append(splitter)
    return out


def _split_nonfunction_paren(word: str) -> List[str]:
    if len(word) == 1:
        return [word]
    # fast path: without any bracket the function is an identity regardless
    # of the regex gates, so skip them (same output, ~4 regex scans saved)
    if not any(c in word for c in "()[]"):
        return [word]
    if NUMBERED_LIST_RE.search(word) or EMOTICON_RE.search(word):
        return [word]
    if CLASS_FUNC_NAME_RE.search(word) or FUNC_NAME_RE.search(word):
        return [word]
    if ")" in word and "(" not in word:
        return [word.replace(")", " ) ")]
    if "(" in word and ")" not in word:
        return [word.replace("(", " ( ")]
    if "]" in word and "[" not in word:
        return [word.replace("]", " ] ")]
    if "[" in word and "]" not in word:
        return [word.replace("[", " [ ")]
    return [word]


def _split_trailing_colon(word: str) -> List[str]:
    # fast path: every branch below returns [word] unchanged unless the word
    # ends in ':', so the SPECIAL_WORDS scan is only needed then
    if len(word) <= 0 or word[-1] != ":":
        return [word]
    if not SPECIAL_WORDS_RE.findall(word):
        return [word]
    if len(word) == 1 or word.count(":") > 1:
        return [word]
    return [word[:-1], ":"]


def _split_trailing_quote(word: str) -> List[str]:
    if len(word) <= 1:
        return [word]
    # fast path: identity unless a lone trailing quote exists
    if not ((word.count("'") == 1 and word[-1] == "'")
            or (word.count('"') == 1 and word[-1] == '"')):
        return [word]
    if CLASS_FUNC_NAME_RE.search(word) or FUNC_NAME_RE.search(word):
        return [word]
    out = [word]
    if word.count("'") == 1 and word[-1] == "'":
        out = [word[:-1], " '"]
    if word.count('"') == 1 and word[-1] == '"':
        out = [word[:-1], ' "']
    return out


def _split_inside_brackets(word: str) -> List[str]:
    if len(word) <= 0:
        return [word]
    if (word[0] == "[" and word[-1] == "]") or (word[0] == "{" and word[-1] == "}") \
            or (word[0] == "(" and word[-1] == ")"):
        word = (word.replace(",", " , ").replace("{", " { ").replace("}", " } ")
                .replace("[", " [ ").replace("]", " ] "))
    return [word]


def _split_url_end_paren(word: str) -> List[str]:
    if len(word) <= 0:
        return [word]
    # fast path: output differs from input only when the word ends in ")" or
    # "]" (or equals "}"), so skip the URL regex otherwise
    if not (word[-1] == ")" or word[-1] == "]" or word == "}"):
        return [word]
    urls = URL_RE.findall(word)
    without_balanced = [u for u in urls if not _balanced_paren_words(u)]
    if urls and without_balanced:
        if word[-1] == ")" or word[-1] == "]" or word == "}":
            return [word[:-1], ")"]
    return [word]


@lru_cache(maxsize=262144)
def _word_wrapper_chain(word: str) -> Tuple[str, ...]:
    """The six per-word wrapper stages composed for ONE input word. Every
    stage maps a word to pieces independently of its neighbors, so the
    list-level pipeline equals the concatenation of per-word chains — which
    makes the whole chain LRU-cacheable by word (Zipfian repeats).
    Equivalence to the staged pipeline is property-gated."""
    stage = _split_final_word_punct(word)
    nxt: List[str] = []
    for w in stage:
        pieces = _split_multi_dot(w)
        if not pieces:
            nxt.append(w)
        else:
            nxt.extend(pieces)
    stage = []
    for w in nxt:
        stage.extend(_split_nonfunction_paren(w))
    nxt = []
    for w in stage:
        nxt.extend(_split_trailing_colon(w))
    stage = []
    for w in nxt:
        stage.extend(_split_trailing_quote(w))
    nxt = []
    for w in stage:
        nxt.extend(_split_inside_brackets(w))
    stage = []
    for w in nxt:
        stage.extend(_split_url_end_paren(w))
    return tuple(stage)


def _wrapper_passes(tokens: List[str]) -> List[str]:
    # only the first pass (_split_final_sentence_punct) is list-level — it
    # touches the LAST token only; everything after is per-word and cached
    tokens = _split_final_sentence_punct(tokens)
    out: List[str] = []
    for w in tokens:
        out.extend(_word_wrapper_chain(w))
    # The reference builds a whitespace-normalized copy here but returns the
    # un-normalized list (stokenizer.py:874-892); we do the same.
    return out


# --------------------------------------------------------------------------- #
# public API
# --------------------------------------------------------------------------- #

MAX_SENTENCE_CHARS = 20000
"""Deterministic guard replacing the reference's wall-clock tokenizer timeout
(anntoconll.py:164-171). Signals don't exist on Spark executor threads and a
time-based fallback is non-deterministic; a length budget is stable across
cluster sizes. Rows tripping the guard are flagged in lineage."""


def tokenize(text: str) -> List[str]:
    """Tokenize one sentence with the reference's E2E semantics."""
    if len(text) > MAX_SENTENCE_CHARS:
        raise TokenizerGuardError(f"sentence length {len(text)} exceeds guard")
    masks, masked = _mask_protected_words(text)
    raw = _interleave_protected(_squeeze_ws(_normalize_entities(masked)))
    unmasked = _unmask(raw, masks)
    wrapped = _wrapper_passes(unmasked)
    out: List[str] = []
    for w in wrapped:
        if w.strip() == "":
            continue
        pieces = w.split(" ")
        if len(pieces) > 1:
            out.extend(pieces)
        else:
            out.append(w)
    return out
