"""Spark-free per-document kernel: the engine's one copy of the page loop.

The reference's per-post chain (E2E_SoftNER.py:149-195): extract with
sentinel substitution, Punkt sentencize, tokenize + BIO, tag, document-level
label consistency, chunk. ``extract_stage`` and ``pages_to_mentions_fused``
(operators/document_kernel.py) are the ``mapInPandas`` glue over this
module.
"""

from __future__ import annotations

from hashlib import blake2b
from itertools import groupby
from operator import itemgetter
from typing import Dict, Iterator, List, Sequence, Tuple

from .bio import sentence_token_tags
from .conlleval import extract_chunks
from .docconsist import doc_postpass
from .htmltext import ExtractionError, extract_text
from .memo import FifoMemo
from .sentencize import Standoff, sentencize
from .sotok import TokenizerGuardError

MAX_HTML_BYTES = 2_000_000
"""Spill policy for pathological pages (SURVEY.md §4 'giant pages bounded'):
bodies above this cap are truncated at the cap before extraction and the row
is countable via the `truncated` observation column in extract_stage. A 2 MB
html body is ~50x the Common-Crawl median; beyond it the text is boilerplate
with vanishing mention yield, and unbounded rows are what OOM executors."""

# each page lands in exactly one of ok / null_row / extract_error /
# tokenizer_guard; truncated flags capped pages on top of that
COUNT_KEYS = ("pages", "ok", "null_row", "extract_error", "tokenizer_guard",
              "truncated")


class PageError(ExtractionError):
    """A page row that yields no text; ``reason`` is its drop counter."""

    def __init__(self, msg: str, reason: str, truncated: bool = False):
        super().__init__(msg)
        self.reason = reason
        self.truncated = truncated


def read_page(url: str, html, text) -> Tuple[str, List[Standoff], bool]:
    """One page row -> ``(final_text, anns, truncated)``. html bytes win
    over text; either is cut at ``MAX_HTML_BYTES``. Raises ``PageError`` for
    a row with neither body or one the extractor rejects."""
    if html is None and text is None:
        raise PageError("row has neither html nor text", "null_row")
    truncated = False
    try:
        if html is not None:
            raw = bytes(html)
            truncated = len(raw) > MAX_HTML_BYTES
            extracted = extract_text(
                raw[:MAX_HTML_BYTES].decode("utf-8", "replace"))
        else:
            truncated = len(text) > MAX_HTML_BYTES
            extracted = text[:MAX_HTML_BYTES]
        final, anns = sentencize(extracted, url.rsplit("/", 1)[-1])
    except ExtractionError as e:
        raise PageError(str(e), "extract_error", truncated) from e
    return final, anns, truncated


def mention_rows(key: tuple, tokens: Sequence[str], tags: Sequence[str]
                 ) -> Iterator[tuple]:
    """``key + (tok_start, tok_end, surface, surface_norm, tag_type)`` per
    chunk of one tagged sentence."""
    for typ, a, b in extract_chunks(tags):
        surface = " ".join(tokens[a:b])
        yield key + (a, b, surface, surface.lower(), typ)


_PAGE_MEMO = FifoMemo(8_192)
"""Per-worker memo of each capture body's pre-tag state: a recrawl row
whose body this worker already read skips extract, sentencize and
tokenize+BIO. Keyed ``(url, body kind, blake2b-128 of the body)`` — the url
because ``sentencize`` takes the doc id from it. Tags are not memoized here:
they depend on the tagger, and the tagger's own memo serves repeats."""


def _body_key(url: str, html, text):
    """The memo key of the body ``read_page`` uses; None for a null row."""
    if html is not None:
        return url, "html", blake2b(html, digest_size=16).digest()
    if text is not None:
        return url, "text", blake2b(text.encode("utf-8", "surrogatepass"),
                                    digest_size=16).digest()
    return None


def _page_state(url: str, html, text) -> Tuple[str, bool, tuple]:
    """One page row -> ``(outcome, truncated, sentences)``: the ``COUNT_KEYS``
    outcome it lands in, its cap flag, and ``(sent_idx, tokens, md_tags)``
    tuples (empty unless the outcome is ``ok``)."""
    try:
        final, anns, truncated = read_page(url, html, text)
    except PageError as e:
        return e.reason, e.truncated, ()
    try:
        per_sent = sentence_token_tags(final, anns)
    except TokenizerGuardError:  # the reference skips the file
        return "tokenizer_guard", truncated, ()
    return "ok", truncated, tuple((i, tuple(toks), tuple(mds))
                                  for i, toks, mds in per_sent)


def page_batch_mentions(urls: Sequence[str], htmls: Sequence, texts: Sequence,
                        tagger, doc_consistency: bool
                        ) -> Tuple[List[tuple], Dict[str, int]]:
    """One batch of pages -> ``(rows, counts)``: ``mention_rows`` keyed by
    ``(page position, sent_idx)``, and the ``COUNT_KEYS`` counters.

    Each phase runs batch-wide: every page's pre-tag state (``_page_state``,
    served from the worker's ``_PAGE_MEMO`` when this worker already read
    the same body under the same url; a hit counts exactly as a miss
    would), ONE ``tag_sentences`` call (a batched decode amortizes across
    the batch), the opt-in doc-consistency pass per page, then chunking."""
    counts = dict.fromkeys(COUNT_KEYS, 0)
    sents = []  # (page_pos, url, sent_idx, tokens, md_tags)
    for pos, (url, html, text) in enumerate(zip(urls, htmls, texts)):
        key = _body_key(url, html, text)
        state = None if key is None else _PAGE_MEMO.get(key)
        if state is None:
            state = _page_state(url, html, text)
            if key is not None:
                _PAGE_MEMO.put(key, state)
        outcome, truncated, per_sent = state
        counts["pages"] += 1
        counts[outcome] += 1
        counts["truncated"] += truncated
        sents.extend((pos, url, i, toks, mds) for i, toks, mds in per_sent)

    tags = tagger.tag_sentences([(s[3], s[4]) for s in sents])
    if doc_consistency:
        # a run of sentences sharing a url is one document, so adjacent
        # recaptures of a url vote together
        tags = list(tags)
        i = 0
        for _url, run in groupby(sents, key=itemgetter(1)):
            toks = [s[3] for s in run]
            j = i + len(toks)
            tags[i:j] = doc_postpass(toks, tags[i:j])
            i = j

    rows: List[tuple] = []
    for (pos, _url, sent_idx, toks, _mds), sent_tags in zip(sents, tags):
        rows.extend(mention_rows((pos, sent_idx), toks, sent_tags))
    return rows, counts
