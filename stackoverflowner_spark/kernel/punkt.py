"""Untrained Punkt-style sentence boundary detection.

The reference splits extracted post text with an *untrained* NLTK
``PunktSentenceTokenizer`` carrying only a hand-picked abbreviation set
(``/root/reference/code/DataReader/read_so_post_info.py:24-28`` and the
identical setup in ``code/BERT_NER/utils_preprocess/format_markdown.py:23-28``).

This module re-implements the untrained decision procedure of the Punkt
algorithm (Kiss & Strunk 2006, "Unsupervised Multilingual Sentence Boundary
Detection") as used by NLTK when no training has happened: all learned tables
(collocations, sentence starters, orthographic contexts) are empty, so the
behavior collapses to a small deterministic rule system.  Output is validated
byte-for-byte against the reference's shipped golden files
(``code/DataReader/text_files/*.txt``) in ``tests/test_kernel_parity.py``.

No code is copied from NLTK; this is a from-scratch implementation of the
published algorithm specialized to the empty-parameter case.
"""

from __future__ import annotations

import re
from typing import Iterable, Iterator, List, Optional, Tuple

ABBREVIATIONS = frozenset(
    # read_so_post_info.py:26 / format_markdown.py:26
    ["u.s.a", "fig", "etc", "eg", "mr", "mrs", "e.g", "no", "vs", "i.e"]
)

_SENT_END = (".", "?", "!")

# Language-variable regexes of the Punkt algorithm (empty-parameter variant).
_NON_WORD = r"(?:[?!)\";}\]\*:@\'\({\[])"
_WORD_START = r"[^\(\"\`{\[:;&\#\*@\)}\]\-,]"
_MULTI_PUNCT = r"(?:\-{2,}|\.{2,}|(?:\.\s){2,}\.)"
_BOUNDARY_REALIGN = re.compile(r'["\')\]}]+?(?:\s+|(?=--)|$)', re.MULTILINE)

_WORD_TOKEN_RE = re.compile(
    r"""(
        %(MultiChar)s
        |
        (?=%(WordStart)s)\S+?
        (?=
            \s|
            $|
            %(NonWord)s|%(MultiChar)s|
            ,(?=$|\s|%(NonWord)s|%(MultiChar)s)
        )
        |
        \S
    )"""
    % {"NonWord": _NON_WORD, "WordStart": _WORD_START, "MultiChar": _MULTI_PUNCT},
    re.UNICODE | re.VERBOSE,
)

_END_CONTEXT_RE = re.compile(
    r"""[\.\?!](?=(?P<after_tok>%(NonWord)s|\s+(?P<next_tok>\S+)))""" % {"NonWord": _NON_WORD},
    re.UNICODE | re.VERBOSE,
)

_RE_ELLIPSIS = re.compile(r"\.\.+$")
_RE_NUMERIC = re.compile(r"^-?[\.,]?\d[\d,\.-]*\.?$")
_RE_INITIAL = re.compile(r"[^\W\d]\.$", re.UNICODE)


class _Tok:
    __slots__ = (
        "tok",
        "parastart",
        "linestart",
        "sentbreak",
        "abbr",
        "ellipsis",
        "period_final",
    )

    def __init__(self, tok: str, parastart: bool = False, linestart: bool = False):
        self.tok = tok
        self.parastart = parastart
        self.linestart = linestart
        self.sentbreak = False
        self.abbr = False
        self.ellipsis = False
        self.period_final = tok.endswith(".")

    @property
    def type(self) -> str:
        return _RE_NUMERIC.sub("##number##", self.tok.lower())

    @property
    def type_no_period(self) -> str:
        t = self.type
        if len(t) > 1 and t.endswith("."):
            return t[:-1]
        return t

    @property
    def type_no_sentperiod(self) -> str:
        if self.sentbreak:
            return self.type_no_period
        return self.type

    @property
    def first_upper(self) -> bool:
        return bool(self.tok) and self.tok[0].isupper()

    @property
    def first_lower(self) -> bool:
        return bool(self.tok) and self.tok[0].islower()

    @property
    def is_ellipsis(self) -> bool:
        return bool(_RE_ELLIPSIS.match(self.tok))

    @property
    def is_initial(self) -> bool:
        return bool(_RE_INITIAL.match(self.tok))


def _pairwise_with_none(items: Iterable) -> Iterator[Tuple[object, Optional[object]]]:
    it = iter(items)
    try:
        prev = next(it)
    except StopIteration:
        return
    for cur in it:
        yield prev, cur
        prev = cur
    yield prev, None


class SentenceSplitter:
    """Untrained Punkt sentence splitter with a fixed abbreviation set."""

    # ------------------------------------------------------------------ #
    # word-level tokenization (Punkt's internal word tokenizer)
    # ------------------------------------------------------------------ #

    def _word_tokens(self, text: str) -> Iterator[_Tok]:
        parastart = False
        for line in text.split("\n"):
            if line.strip():
                toks = _WORD_TOKEN_RE.findall(line)
                if not toks:
                    continue
                yield _Tok(toks[0], parastart=parastart, linestart=True)
                parastart = False
                for t in toks[1:]:
                    yield _Tok(t)
            else:
                parastart = True

    # ------------------------------------------------------------------ #
    # annotation passes
    # ------------------------------------------------------------------ #

    def _annotate_first(self, tok: _Tok) -> None:
        raw = tok.tok
        if raw in _SENT_END:
            tok.sentbreak = True
        elif tok.is_ellipsis:
            tok.ellipsis = True
        elif tok.period_final and not raw.endswith(".."):
            head = raw[:-1].lower()
            if head in ABBREVIATIONS or head.split("-")[-1] in ABBREVIATIONS:
                tok.abbr = True
            else:
                tok.sentbreak = True

    def _ortho(self, tok: _Tok):
        # With no training data every orthographic context is empty, so the
        # heuristic reduces to: sentence-internal punctuation or a
        # lowercase-initial token can never start a sentence; everything else
        # is unknown.
        if tok.tok in (";", ":", ",", ".", "!", "?"):
            return False
        if tok.first_lower:
            return False
        return "unknown"

    def _annotate_second(self, tok: _Tok, nxt: Optional[_Tok]) -> None:
        if nxt is None or not tok.period_final:
            return
        typ = tok.type_no_period
        tok_is_initial = tok.is_initial

        # Abbreviation / ellipsis reclassification: with empty learned tables
        # the orthographic heuristic never returns True and there are no
        # frequent sentence starters, so nothing flips back to a break here.
        if (tok.abbr or tok.ellipsis) and not tok_is_initial:
            if self._ortho(nxt) is True:
                tok.sentbreak = True
                return
            # sent_starters table empty -> no-op

        # Initials and ordinal numbers: undo the break when the next token
        # cannot start a sentence, or (for initials) when capitalization is
        # uninformative.
        if tok_is_initial or typ == "##number##":
            decision = self._ortho(nxt)
            if decision is False:
                tok.sentbreak = False
                tok.abbr = True
                return
            if decision == "unknown" and tok_is_initial and nxt.first_upper:
                # ortho_context LC bit is always unset when untrained
                tok.sentbreak = False
                tok.abbr = True

    def _annotate(self, tokens: Iterable[_Tok]) -> List[_Tok]:
        toks = list(tokens)
        for t in toks:
            self._annotate_first(t)
        for t, nxt in _pairwise_with_none(toks):
            self._annotate_second(t, nxt)
        return toks

    def _contains_sentbreak(self, context: str) -> bool:
        seen = False
        for t in self._annotate(self._word_tokens(context)):
            if seen:
                return True
            if t.sentbreak:
                seen = True
        return False

    # ------------------------------------------------------------------ #
    # boundary candidates
    # ------------------------------------------------------------------ #

    def _candidate_contexts(self, text: str):
        """Yield (match, context) pairs left-to-right, where context is the
        whitespace-delimited word containing the candidate end char plus the
        lookahead material.

        The word is what ``text[:m.start()].rsplit(None, 1)[-1]`` gives,
        found by scanning back from the candidate; a candidate inside the
        word before a later kept one is skipped. Each character is scanned
        at most once, so the pass is linear in the text.
        """
        kept = []
        word_start = None
        for m in reversed(list(_END_CONTEXT_RE.finditer(text))):
            if kept and m.end() > word_start:
                continue
            end = m.start()
            while end and text[end - 1].isspace():
                end -= 1
            word_start = end
            while word_start and not text[word_start - 1].isspace():
                word_start -= 1
            kept.append((m, text[word_start:end]))
        for m, word in reversed(kept):
            yield m, word + m.group() + m.group("after_tok")

    def _raw_slices(self, text: str) -> Iterator[slice]:
        last_break = 0
        for m, context in self._candidate_contexts(text):
            if self._contains_sentbreak(context):
                yield slice(last_break, m.end())
                if m.group("next_tok"):
                    last_break = m.start("next_tok")
                else:
                    last_break = m.end()
        yield slice(last_break, len(text.rstrip()))

    def _realigned_slices(self, text: str, slices: Iterable[slice]) -> Iterator[slice]:
        realign = 0
        for cur, nxt in _pairwise_with_none(slices):
            cur = slice(cur.start + realign, cur.stop)
            if nxt is None:
                if text[cur]:
                    yield cur
                continue
            m = _BOUNDARY_REALIGN.match(text[nxt])
            if m:
                yield slice(cur.start, nxt.start + len(m.group(0).rstrip()))
                realign = m.end()
            else:
                realign = 0
                if text[cur]:
                    yield cur

    # ------------------------------------------------------------------ #
    # public API
    # ------------------------------------------------------------------ #

    def span_tokenize(self, text: str) -> List[Tuple[int, int]]:
        return [
            (s.start, s.stop) for s in self._realigned_slices(text, self._raw_slices(text))
        ]

    def tokenize(self, text: str) -> List[str]:
        return [text[a:b] for a, b in self.span_tokenize(text)]


_DEFAULT = SentenceSplitter()


def split_sentences(text: str) -> List[str]:
    """Split ``text`` into sentences with the reference's Punkt configuration."""
    return _DEFAULT.tokenize(text)
