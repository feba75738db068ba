"""Spark-free gates for the per-document kernel (kernel/document.py).

Every page of a batch lands in exactly one outcome counter (ok, null_row,
extract_error, tokenizer_guard); ``truncated`` flags capped pages on top.
The per-worker page memo is exact: a batch gives the same rows and counts
with the memo bypassed, cold, warm, and with its rows duplicated.
"""

from unittest import mock

import pytest
from hypothesis import given, settings, strategies as st

from stackoverflowner_spark.kernel import document
from stackoverflowner_spark.kernel.document import (
    COUNT_KEYS, MAX_HTML_BYTES, PageError, page_batch_mentions, read_page)
from stackoverflowner_spark.kernel.memo import FifoMemo, MemoInfo
from stackoverflowner_spark.kernel.sotok import MAX_SENTENCE_CHARS
from stackoverflowner_spark.operators.tagger import GazetteerTagger

_TAGGER = GazetteerTagger()
DROPS = ("null_row", "extract_error", "tokenizer_guard")

_html_piece = st.one_of(
    st.sampled_from(["<p>", "</p>", "<kbd>", "</kbd>", "<b>", "</b>",
                     "<pre><code>", "</code></pre>", "<code>", "</code>",
                     "<blockquote>", "</blockquote>", "<br/>", "&amp;",
                     "&#x", "\n", ". ", "?", "Python 3", "jQuery", "npm"]),
    st.text(max_size=20))
html_strategy = st.one_of(
    st.none(),
    st.binary(max_size=300),
    st.lists(_html_piece, max_size=20).map(lambda xs: "".join(xs).encode()))
_GUARD_TEXT = "word " * (MAX_SENTENCE_CHARS // 5 + 10)
# memo specimens: one url with two bodies, the same bytes as html and as
# text, a null row, a guard trigger, bad html, and a >2 MB page that is
# cheap to extract (the cut lands in trailing whitespace)
PLANTED = [
    ("u/two", b"<p>I upgraded Python and jQuery.</p>", None),
    ("u/two", b"<p>Docker runs on Linux.</p>", None),
    ("u/same", b"<p>Use <code>npm</code> with Python.</p>", None),
    ("u/same", None, "<p>Use <code>npm</code> with Python.</p>"),
    ("u/null", None, None),
    ("u/guard", None, _GUARD_TEXT),
    ("u/kbd", b"<p>ok <kbd>two <b>children</b></kbd></p>", None),
    ("u/big", b"<p>We use Python and jQuery here.</p>"
     + b" " * MAX_HTML_BYTES, None),
]
page_strategy = st.one_of(
    st.tuples(st.text(max_size=30), html_strategy,
              st.one_of(st.none(), st.text(max_size=300))),
    st.sampled_from(PLANTED))


def _run(pages, doc_consistency=False):
    return page_batch_mentions([p[0] for p in pages], [p[1] for p in pages],
                               [p[2] for p in pages], _TAGGER, doc_consistency)


@settings(max_examples=200, deadline=None)
@given(st.lists(page_strategy, max_size=6), st.booleans())
def test_every_page_is_output_or_counted_drop(pages, doc_consistency):
    rows, counts = _run(pages, doc_consistency)
    assert set(counts) == set(COUNT_KEYS)
    assert counts["pages"] == len(pages)
    assert counts["ok"] + sum(counts[k] for k in DROPS) == counts["pages"]
    assert all(0 <= r[0] < len(pages) for r in rows)


def _run_memo_off(pages, doc_consistency):
    # every page keyless, as a null row is: computed, never stored
    with mock.patch.object(document, "_body_key", lambda *_: None):
        return _run(pages, doc_consistency)


@settings(max_examples=200, deadline=None)
@given(st.lists(page_strategy, max_size=6), st.booleans(), st.randoms())
def test_page_memo_is_exact(pages, doc_consistency, rnd):
    want = _run_memo_off(pages, doc_consistency)
    document._PAGE_MEMO.clear()
    assert _run(pages, doc_consistency) == want      # cold memo
    _run(PLANTED)                                    # every specimen stored
    assert _run(pages, doc_consistency) == want      # warm memo
    twice = pages + pages                            # duplicated, interleaved
    rnd.shuffle(twice)
    assert _run(twice, doc_consistency) == _run_memo_off(twice,
                                                         doc_consistency)


def test_page_memo_planted_hits():
    document._PAGE_MEMO.clear()
    cold = _run(PLANTED)
    assert cold[1] == {"pages": 8, "ok": 5, "null_row": 1,
                       "extract_error": 1, "tokenizer_guard": 1,
                       "truncated": 1}
    # both bodies of u/two and both kinds of u/same are their own entries;
    # the null row is never stored
    assert document._PAGE_MEMO.info() == MemoInfo(
        hits=0, misses=7, maxsize=document._PAGE_MEMO.maxsize, currsize=7)
    assert _run(PLANTED) == cold
    assert document._PAGE_MEMO.info().hits == 7


def test_fifo_memo_eviction_and_counters():
    memo = FifoMemo(3)
    for k in "abc":
        memo.put(k, k.upper())
    assert memo.get("a") == "A"          # a hit does not refresh an entry
    memo.put("b", "B2")                  # nor does overwriting one
    memo.put("d", "D")                   # evicts the oldest insert, "a"
    assert "a" not in memo and len(memo) == 3
    assert [memo.get(k) for k in "abcd"] == [None, "B2", "C", "D"]
    assert memo.info() == MemoInfo(hits=4, misses=1, maxsize=3, currsize=3)
    memo.put("e", "E")
    assert "b" not in memo and "e" in memo
    assert memo.info().hits == 4         # membership tests are not counted
    memo.clear()
    assert memo.info() == MemoInfo(0, 0, 3, 0)


def test_planted_pages_exact_counts():
    big = (b"<p>We use Python and jQuery here.</p>"
           * (MAX_HTML_BYTES // 30 + 1))
    assert len(big) > MAX_HTML_BYTES
    rows, counts = _run([
        ("u/ok", b"<p>I upgraded Python and jQuery.</p>", None),
        ("u/kbd", b"<p>ok <kbd>two <b>children</b></kbd></p>", None),
        ("u/guard", None, "word " * (MAX_SENTENCE_CHARS // 5 + 10)),
        ("u/null", None, None),
        ("u/big", big, None),
    ])
    assert counts == {"pages": 5, "ok": 2, "null_row": 1, "extract_error": 1,
                      "tokenizer_guard": 1, "truncated": 1}
    assert {r[0] for r in rows} == {0, 4}
    # the truncated page still yields its mentions
    assert {r[5] for r in rows if r[0] == 4} >= {"python", "jquery"}


def test_read_page_errors_keep_extract_stage_text_and_flags():
    with pytest.raises(PageError) as null:
        read_page("u", None, None)
    assert (null.value.reason, f"extract:{null.value}", null.value.truncated) \
        == ("null_row", "extract:row has neither html nor text", False)
    # the cap flag survives an extraction failure after the cut
    with pytest.raises(PageError) as bad:
        read_page("u", b"<p><kbd>a <b>b</b></kbd></p>" + b" " * MAX_HTML_BYTES,
                  None)
    assert bad.value.reason == "extract_error" and bad.value.truncated is True
    final, _anns, truncated = read_page("u", None, "plain text.")
    assert truncated is False and "plain text." in final


def test_default_tag_sentences_loops_tag():
    t = GazetteerTagger()
    xs = [(["I", "use", "Python", "and", "jQuery"], ["O"] * 5),
          ([], []),
          (["see", "https://example.com/x", "npm"], ["O", "O", "O"])]
    assert t.tag_sentences(xs) == [t.tag(*x) for x in xs]
