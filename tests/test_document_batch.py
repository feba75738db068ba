"""Spark-free gates for the per-document kernel (kernel/document.py).

Every page of a batch lands in exactly one outcome counter (ok, null_row,
extract_error, tokenizer_guard); ``truncated`` flags capped pages on top.
"""

import pytest
from hypothesis import given, settings, strategies as st

from stackoverflowner_spark.kernel.document import (
    COUNT_KEYS, MAX_HTML_BYTES, PageError, page_batch_mentions, read_page)
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
page_strategy = st.tuples(st.text(max_size=30), html_strategy,
                          st.one_of(st.none(), st.text(max_size=300)))


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
