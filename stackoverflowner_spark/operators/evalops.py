"""Distributed evaluation: conlleval chunk metrics + triple P/R.

Spark restatement of the reference scorer (conlleval_py.py:146-341, A10/A11):
per-sentence span extraction is row-local (kernel.conlleval.extract_chunks in
a pandas UDF over tag arrays); counting is a distributed groupBy; the final
per-type P/R/F1 is a tiny driver-side collect.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernel.conlleval import calc_metrics, extract_chunks

_SPANS_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("sent_idx", T.IntegerType()),
    T.StructField("entity_type", T.StringType()),
    T.StructField("tok_start", T.IntegerType()),
    T.StructField("tok_end", T.IntegerType()),
    T.StructField("side", T.StringType()),
])


def spans_table(tagged_sentences: DataFrame) -> DataFrame:
    """(url, sent_idx, gold_tags array, pred_tags array) -> exploded spans."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for url, sent_idx, gold, pred in zip(
                    pdf["url"], pdf["sent_idx"], pdf["gold_tags"],
                    pdf["pred_tags"]):
                for typ, a, b in extract_chunks(list(gold)):
                    out.append((url, int(sent_idx), typ, a, b, "gold"))
                for typ, a, b in extract_chunks(list(pred)):
                    out.append((url, int(sent_idx), typ, a, b, "pred"))
            yield pd.DataFrame(out, columns=[
                "url", "sent_idx", "entity_type", "tok_start", "tok_end", "side"])

    return tagged_sentences.mapInPandas(run, schema=_SPANS_SCHEMA)


def chunk_counts(spans: DataFrame) -> DataFrame:
    """Per-type guessed / truth / correct counts (distributed).

    Single two-level aggregation instead of the earlier
    filter-twice + self-join shape: span keys are unique per (sentence,
    side) — extract_chunks cannot emit two chunks starting at the same
    offset — so "correct" is exactly the span keys seen on BOTH sides.
    One pass also means the upstream Python span extraction runs once;
    the branchy version re-executed it up to 4x past the mapInPandas."""
    per_span = spans.groupBy(
        "url", "sent_idx", "entity_type", "tok_start", "tok_end").agg(
        F.sum(F.when(F.col("side") == "gold", 1).otherwise(0)).alias("g"),
        F.sum(F.when(F.col("side") == "pred", 1).otherwise(0)).alias("p"))
    return per_span.groupBy("entity_type").agg(
        F.sum("g").alias("truth"),
        F.sum("p").alias("guessed"),
        F.sum(((F.col("g") > 0) & (F.col("p") > 0)).cast("long"))
        .alias("correct"))


def conll_report(counts: DataFrame) -> dict:
    rows = counts.collect()
    report = {}
    tp = sum(r["correct"] for r in rows)
    p = sum(r["guessed"] for r in rows)
    t = sum(r["truth"] for r in rows)
    pr, rc, f1 = calc_metrics(tp, p, t)
    report["__overall__"] = {"precision": pr, "recall": rc, "f1": f1,
                             "tp": tp, "guessed": p, "truth": t}
    for r in rows:
        pr, rc, f1 = calc_metrics(r["correct"], r["guessed"], r["truth"])
        report[r["entity_type"]] = {
            "precision": pr, "recall": rc, "f1": f1,
            "tp": r["correct"], "guessed": r["guessed"], "truth": r["truth"]}
    return report


def format_report(report: dict, fmt: str = "text") -> str:
    """A11 reporting (conlleval_py.py:246-341 / print_result.py:9-97):
    P/R/F1 rounded to 2 decimals, per-type rows sorted by name, overall last.
    Formats: conlleval-style text, latex tabular, tsv."""
    types = sorted(k for k in report if k != "__overall__")
    rows = [
        (t, round(report[t]["precision"], 2), round(report[t]["recall"], 2),
         round(report[t]["f1"], 2), report[t]["guessed"], report[t]["tp"])
        for t in types
    ]
    o = report["__overall__"]
    rows.append(("overall", round(o["precision"], 2), round(o["recall"], 2),
                 round(o["f1"], 2), o["guessed"], o["tp"]))
    if fmt == "tsv":
        header = "\t".join(["type", "Precision", "Recall", "F1",
                            "Predicted", "Correctly Predicted"])
        return "\n".join([header] + ["\t".join(str(x) for x in r) for r in rows])
    if fmt == "latex":
        lines = ["\\begin{tabular}{lrrrrr}",
                 " & Precision & Recall & F1 & Predicted & Correct \\\\"]
        lines += [" & ".join(str(x) for x in r) + " \\\\" for r in rows]
        lines.append("\\end{tabular}")
        return "\n".join(lines)
    out = []
    for name, p, r, f1, guessed, tp in rows:
        out.append("%17s: precision: %6.2f%%; recall: %6.2f%%; FB1: %6.2f"
                   " foundGuessed:  %d" % (name, p, r, f1, guessed))
    return "\n".join(out)


def triple_pr(candidate: DataFrame, reference: DataFrame) -> dict:
    """P/R of candidate (subj,pred,obj) triples vs a reference set
    (the north-rule quality gate)."""
    c = candidate.select("subj", "pred", "obj").distinct()
    r = reference.select("subj", "pred", "obj").distinct()
    n_c = c.count()
    n_r = r.count()
    n_i = c.join(r, ["subj", "pred", "obj"], "left_semi").count()
    precision = n_i / n_c if n_c else 0.0
    recall = n_i / n_r if n_r else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {"precision": precision, "recall": recall, "f1": f1,
            "candidate": n_c, "reference": n_r, "intersection": n_i}
