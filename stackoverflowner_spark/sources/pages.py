"""Deterministic synthetic ``pages`` source (Common-Crawl-style input table).

Schema per BASELINE.json input_hint:
``pages(url string, warc_ts timestamp, html binary, text string, lang string)``.

Pages are generated by a seeded grammar keyed on the page id alone, so the
table is identical regardless of partitioning, executor count or generation
order — the property that makes the two-cluster-size scaling benchmark and
the kill/resume test meaningful. The grammar exercises every branch of the
extraction kernel: ``<p>`` text, ``<pre><code>`` blocks, inline ``<code>``
with ``.`` / ``?`` / newline content, ``<blockquote>``, ``<kbd>``, HTML
entities, plus dictionary entities injected into prose so the tagger finds
mentions and the pipeline emits triples.
"""

from __future__ import annotations

import datetime as _dt
import random
from typing import Iterator, List

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..kernel.htmltext import extract_text
from .dictionary import build_dictionary_rows

_NATURAL = (
    "the a an and or but if then else when while for is was are were be been "
    "有 один with without using method call value result error problem question answer "
    "code function class variable table data file line string number list "
    "works fails returns throws prints reads writes loads saves runs compiles "
    "how why what where which this that these those it they you we i one two "
    "need want try tried found got set get new old fast slow big small same "
    "different correct wrong simple complex main test example input output"
).split()

_PUNCTS = [".", ".", ".", "?", "!", ","]

_CODE_SNIPPETS = [
    "foo.bar()", "x = 1", "print(x)", "df.select", "a[0]", "obj->ptr",
    "self.run()", "i++", "return 0", "new Map<K,V>()", "len(xs)", "x != y",
]

_ENTITY_NAMES: List[str] = sorted({r["alias"] for r in build_dictionary_rows()})

_LANGS = ["en"] * 8 + ["es", "xx"]


def _zipf_pick(rng: random.Random, items: List[str]) -> str:
    # head-skewed choice: exercises head-entity skew at link time
    n = len(items)
    r = rng.random()
    idx = min(int(n * (r ** 3)), n - 1)
    return items[idx]


def _sentence(rng: random.Random, inject_entity: bool) -> str:
    n = rng.randint(5, 14)
    words = [rng.choice(_NATURAL) for _ in range(n)]
    if inject_entity:
        pos = rng.randint(0, len(words) - 1)
        words[pos] = _zipf_pick(rng, _ENTITY_NAMES)
    return " ".join(words) + rng.choice(_PUNCTS)


def _paragraph_html(rng: random.Random) -> str:
    parts = []
    for _ in range(rng.randint(1, 4)):
        s = _sentence(rng, inject_entity=rng.random() < 0.7)
        parts.append(s[0].upper() + s[1:])
    html = " ".join(parts)
    roll = rng.random()
    if roll < 0.25:
        snippet = rng.choice(_CODE_SNIPPETS)
        html += " Use <code>" + snippet + "</code> here."
    elif roll < 0.30:
        html += " Press <kbd>Ctrl</kbd> now."
    elif roll < 0.35:
        html += " It shows &lt;tag&gt; &amp; &quot;quotes&quot;."
    elif roll < 0.40:
        html += " See <code>multi\nline code</code> block."
    return "<p>" + html + "</p>"


def synth_page(page_id: int, seed: int = 42) -> dict:
    rng = random.Random((page_id + 1) * 1_000_003 + seed)
    blocks = [_paragraph_html(rng)]
    for _ in range(rng.randint(1, 5)):
        roll = rng.random()
        if roll < 0.25:
            code = "\n".join(rng.choice(_CODE_SNIPPETS) for _ in range(rng.randint(2, 6)))
            blocks.append("<pre><code>" + code + "</code></pre>")
        elif roll < 0.35:
            blocks.append("<blockquote>" + _sentence(rng, False) + "</blockquote>")
        else:
            blocks.append(_paragraph_html(rng))
    html = "\n\n".join(blocks)
    lang = _LANGS[rng.randrange(len(_LANGS))]
    ts = _dt.datetime(2024, 1, 1) + _dt.timedelta(seconds=(page_id * 37) % 31_536_000)
    return {
        "url": f"https://example.com/q/{page_id:09d}",
        "warc_ts": ts,
        "html": html.encode("utf-8"),
        "text": extract_text(html),
        "lang": lang,
    }


PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), False),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])


def synth_pages(spark: SparkSession, n_pages: int) -> DataFrame:
    """Distributed deterministic generation: spark.range -> mapInPandas."""
    import pandas as pd

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = [synth_page(int(i)) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    # 4x tasks per core: page cost varies (html length, entity density), so
    # fat one-task-per-core partitions gate the job on the slowest task;
    # finer granularity lets the scheduler rebalance (same reasoning as
    # spark.sql.files.maxPartitionBytes tuning for real scans at 100 TB).
    n_parts = 4 * spark.sparkContext.defaultParallelism
    rng_df = spark.range(0, n_pages, numPartitions=n_parts)
    return rng_df.mapInPandas(gen, schema=PAGES_SCHEMA)
