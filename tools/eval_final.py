#!/usr/bin/env python3
"""Single-shot evaluation of the SHIPPED default tagger on the gold test
split and the GitHub OOD split, with and without the document-level
post-pass the pipeline ships (kernel/docconsist.py). Run AFTER all
dev-gated decisions are frozen — these splits are never tuned on.

    python tools/eval_final.py
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stackoverflowner_spark.kernel.conlleval import evaluate_sentences  # noqa: E402
from stackoverflowner_spark.kernel.docconsist import doc_postpass  # noqa: E402
from stackoverflowner_spark.kernel.goldload import (document_keys,  # noqa: E402
                                                    parse_gold_lines)
from stackoverflowner_spark.operators.tagger import default_tagger  # noqa: E402

SO = "/root/reference/resources/annotated_ner_data/StackOverflow/"
GH = "/root/reference/resources/annotated_ner_data/GitHub/GH_test_set.txt"


def tag_split(tagger, gold_path: str):
    """Deployment-channel predictions + gold + doc grouping for a split."""
    raw = open(gold_path).read().splitlines()
    sents = parse_gold_lines(raw)
    keys = document_keys(raw)
    assert len(keys) == len(sents), (len(keys), len(sents))
    golds = [[t.tag for t in s] for s in sents]
    toks = [[t.word for t in s] for s in sents]
    inputs = [tagger._model_inputs([t.word for t in s],
                                   [t.md_label for t in s]) for s in sents]
    preds = tagger.model.tag_sentences(inputs)
    return toks, golds, preds, keys


def group_docs(keys):
    docs = {}
    for i, k in enumerate(keys):
        docs.setdefault(k, []).append(i)
    return list(docs.values())


def eval_with_postpass(tagger, gold_path):
    toks, golds, preds, keys = tag_split(tagger, gold_path)
    base = evaluate_sentences(golds, preds)["__overall__"]
    tags = [list(t) for t in preds]
    for idxs in group_docs(keys):
        new = doc_postpass([toks[i] for i in idxs], [tags[i] for i in idxs])
        for i, t in zip(idxs, new):
            tags[i] = t
    post = evaluate_sentences(golds, tags)["__overall__"]
    return base, post


def main():
    tagger = default_tagger()
    for name, path in (("SO test", SO + "test.txt"), ("GH OOD", GH)):
        base, post = eval_with_postpass(tagger, path)
        print(f"{name} deployment-channel: "
              f"base F1={base['f1']:.2f} P={base['precision']:.2f} "
              f"R={base['recall']:.2f} | +docpass F1={post['f1']:.2f} "
              f"P={post['precision']:.2f} R={post['recall']:.2f}")


if __name__ == "__main__":
    main()
