#!/usr/bin/env python3
"""Train the shipped tagger artifacts (Viterbi StructuredPerceptron with the
CTC + segmenter aux channels and the r4 char-4-gram feature set).

Two artifacts, one model family, two segmenter-channel regimes (see
PerceptronTagger.fit_from_gold seg_mode and BENCH/BASELINE.md ladder):

* ``viterbi_ctc_seg.pkl.gz`` (the DEFAULT the pipeline loads) — seg_mode
  "multi": each train+dev sentence seen under the reference-fixture channel
  AND the deployment alias-segmenter channel. Best where the engine
  actually runs (no reference fixtures exist for arbitrary web pages):
  gold test under deployment channels + the OOD GitHub split.
* ``viterbi_twopass_ref.pkl.gz`` — seg_mode "ref": the reference's two-pass
  protocol (train on its shipped segmenter fixtures, evaluate with its test
  fixtures), the apples-to-apples ladder artifact.

Both train on train+dev (test is never touched); deterministic, ~2-4 min
each.

    python tools/train_tagger.py [out_dir] [epochs]
"""

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stackoverflowner_spark.operators.tagger import PerceptronTagger  # noqa: E402

SO = "/root/reference/resources/annotated_ner_data/StackOverflow/"
AUX = "/root/reference/code/Attentive_BiLSTM/auxilary_inputs_ner/"
CTC = AUX + "ctc_pred.tsv"
ART_DIR = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "stackoverflowner_spark", "artifacts")


def _concat(paths, out):
    with open(out, "w") as f:
        for p in paths:
            f.write(open(p).read())
    return out


# Anonymization-placeholder augmentation (VERDICT r4 Next #9). Web/VCS
# corpora anonymize identifying strings with Capitalized_Snake_Case
# placeholder tokens — the SO data's own Question_ID / Question_URL headers
# and the GitHub set's Repository_Name / Issue_Event_Link / Repository_Link
# follow the same convention. parse_gold_lines drops the SO header
# boilerplate sentences, so the parsed training data contains only SEVEN
# Aa_Aa-shaped tokens, all entity-labeled — the model learns
# "capitalized-snake => Variable" and tags every placeholder in OOD text as
# an entity (measured: 884 of 975 GH Variable false positives are the
# literal token Repository_Name). The augmentation teaches the SHAPE, not a
# token list: placeholders are drawn from random 2-3-word combinations of a
# generic web-vocabulary pool (each specific combination appears ~0-2
# times, so the w= identity feature stays untrained and the correction has
# to ride cshape/char-gram features), embedded in real training-sentence
# contexts with gold O.
PLACEHOLDER_PARTS = [
    "Repository", "Issue", "Event", "Link", "Name", "User", "Email",
    "Address", "Commit", "Branch", "Project", "Page", "Image", "Profile",
    "Website", "Section", "Comment", "Post", "Question", "Answer", "Error",
    "Output", "Log", "Path", "Url", "Id", "Number", "Date", "Time",
    "Title", "Content", "Body", "Label", "Status", "Report", "Request",
    "Response", "Token", "Key", "Value", "Code",
]


def placeholder_aug_lines(sentences, n_aug: int = 600,
                          seed: int = 20260817) -> list:
    """Gold-format lines (4-col) for ``n_aug`` augmentation sentences:
    half prefix a real sentence with "<Placeholder> :" (the issue-title
    shape), half replace one O-labeled token in place."""
    import random

    rng = random.Random(seed)
    out = []
    idxs = [rng.randrange(len(sentences)) for _ in range(n_aug)]
    for j, si in enumerate(idxs):
        sent = sentences[si]
        p = "_".join(rng.sample(PLACEHOLDER_PARTS, rng.randint(2, 3)))
        toks = [(t.word, t.tag, t.md_label) for t in sent]
        o_pos = [i for i, (_, g, _) in enumerate(toks) if g == "O"]
        if j % 2 == 0 or not o_pos:
            toks = [(p, "O", "O"), (":", "O", "O")] + toks
        else:
            toks[rng.choice(o_pos)] = (p, "O", "O")
        for w, g, m in toks:
            ww = w.replace(" ", "-----")
            out.append(f"{ww}\t{g}\t{ww}\t{m}\n")
        out.append("\n")
    return out


# @-handle augmentation (r5 GH error map: User_Name recall 4.9 — 55 of 182
# GH User_Name truths are @-handles; SO train attests the convention in only
# 14 of 108 User_Name examples, so the model is data-starved on the shape).
# Generated handles are LOWERCASE (letters, optional digits) so the case
# signal keeps @Override-style Java annotations (B-Library_Class, 35 in SO
# train) separable; each literal handle appears ~once so the correction
# rides the @-prefix char-gram/shape features, not token identity.
HANDLE_WORDS = [
    "alex", "sam", "chris", "dev", "max", "code", "jan", "pat", "lee",
    "kim", "joe", "ben", "tom", "ana", "eva", "leo", "mia", "ray", "roy",
    "amy", "ned", "gil", "ivy", "sky", "fox", "owl", "elm", "ash", "oak",
]


def handle_aug_lines(sentences, n_aug: int = 300,
                     seed: int = 20260818) -> list:
    """Gold-format lines for ``n_aug`` @-mention augmentation sentences:
    half prefix a real sentence with a B-User_Name @handle (the GH comment
    opener shape: "@petergoldstein Thanks for ..."), half replace an
    existing single-token User_Name mention in place."""
    import random

    rng = random.Random(seed)
    from stackoverflowner_spark.kernel.conlleval import extract_chunks

    # sentences holding a single-token User_Name chunk = replacement sites
    sites = []
    for si, sent in enumerate(sentences):
        tags = [t.tag for t in sent]
        for typ, a, b in extract_chunks(tags):
            if typ == "User_Name" and b - a == 1:
                sites.append((si, a))
    out = []
    for j in range(n_aug):
        handle = "@" + "".join(rng.sample(HANDLE_WORDS, rng.randint(1, 2)))
        if rng.random() < 0.4:
            handle += str(rng.randrange(100))
        if j % 2 == 0 or not sites:
            sent = sentences[rng.randrange(len(sentences))]
            toks = [(handle, "B-User_Name", "O")] + \
                [(t.word, t.tag, t.md_label) for t in sent]
        else:
            si, a = sites[rng.randrange(len(sites))]
            toks = [(t.word, t.tag, t.md_label) for t in sentences[si]]
            toks[a] = (handle, "B-User_Name", toks[a][2])
        for w, g, m in toks:
            ww = w.replace(" ", "-----")
            out.append(f"{ww}\t{g}\t{ww}\t{m}\n")
        out.append("\n")
    return out


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else ART_DIR
    epochs = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    tmp = tempfile.mkdtemp(prefix="sokg_train_")
    gold = _concat([SO + "train.txt", SO + "dev.txt"], tmp + "/gold.txt")
    seg = _concat([AUX + "segmenter_pred/segmenter_pred_train.txt",
                   AUX + "segmenter_pred/segmenter_pred_dev.txt"],
                  tmp + "/seg.txt")
    # the deployment (multi) artifact additionally trains on the
    # anonymization-placeholder augmentation; appended AFTER the real
    # sentences, so they fall past the seg-fixture index range and train
    # under the own-segmenter channel only (exactly the channel OOD text
    # gets). The two-pass ref artifact stays fixture-faithful, unaugmented.
    from stackoverflowner_spark.kernel.goldload import parse_gold_lines

    parsed = parse_gold_lines(open(gold).read().splitlines())
    gold_aug = tmp + "/gold_aug.txt"
    with open(gold_aug, "w") as f:
        f.write(open(gold).read())
        f.writelines(placeholder_aug_lines(parsed))
        # @-handle User_Name augmentation, dev-gated at n_aug=100
        # (BENCH/BASELINE.md r5b: overall dev F1 +0.25 alone, +0.60
        # combined with the doc-consistency pass; n_aug=300 regressed
        # -0.66 and was rejected)
        f.writelines(handle_aug_lines(parsed, n_aug=100))
    for name, seg_mode, gold_path in (
            ("viterbi_ctc_seg.pkl.gz", "multi", gold_aug),
            ("viterbi_twopass_ref.pkl.gz", "ref", gold)):
        tagger = PerceptronTagger.fit_from_gold(
            gold_path, epochs=epochs, structured=True, ctc_path=CTC,
            seg_path=seg, seg_mode=seg_mode)
        out = os.path.join(out_dir, name)
        tagger.save(out)
        print("saved", out, "features:", len(tagger.model.w),
              "bytes:", os.path.getsize(out))


if __name__ == "__main__":
    main()
