"""Deterministic software-entity dictionary (the broadcast linking side).

Per FIXTURES.md §3: ``entity_dict(canonical_id, alias, entity_type,
embedding, freq_rank, link_score)``. Synthesized deterministically (no
external data): a fixed seed list of software entities with alias variants
(case, dots, dashes — the shapes the tokenizer protects, e.g.
``javax.swing.Timer``), Zipfian ``freq_rank`` so head entities exercise skew
handling, and hashed surface-form embeddings standing in for fasttext vectors
(the reference's fasttext binary is an external download,
utils_ctc/prediction_ctc.py:36-43).

``link_score`` is the cosine a mention gets when it links to the row. The
linker joins on ``surface_norm == alias_norm``, so that cosine depends on the
row alone and is computed here, once per alias, by ``alias_link_score``.

``dictionary_df`` is a driver-local relation (a pandas frame converted over
Arrow plans as a ``LocalTableScan``), so the broadcast side of the link join
is built on the JVM and no op starts a Python job to re-read the constant
table.
"""

from __future__ import annotations

import math
from typing import List, Sequence, Tuple

import numpy as np

from ..kernel.ctc import hashed_embedding

# (canonical name, entity type) — software-domain seed inventory covering the
# retained label set (kernel/labels.py).
_SEED_ENTITIES: List[Tuple[str, str]] = [
    ("python", "Language"), ("java", "Language"), ("javascript", "Language"),
    ("c#", "Language"), ("c++", "Language"), ("php", "Language"),
    ("ruby", "Language"), ("scala", "Language"), ("go", "Language"),
    ("sql", "Language"), ("html", "Language"), ("css", "Language"),
    ("numpy", "Library"), ("pandas", "Library"), ("jquery", "Library"),
    ("react", "Library"), ("spark", "Library"), ("tensorflow", "Library"),
    ("hibernate", "Library"), ("rails", "Library"), ("django", "Library"),
    ("spring", "Library"), ("boost", "Library"), ("nltk", "Library"),
    ("linux", "Operating_System"), ("windows", "Operating_System"),
    ("ubuntu", "Operating_System"), ("android", "Operating_System"),
    ("macos", "Operating_System"), ("ios", "Operating_System"),
    ("mysql", "Application"), ("postgresql", "Application"),
    ("eclipse", "Application"), ("netbeans", "Application"),
    ("chrome", "Application"), ("firefox", "Application"),
    ("excel", "Application"), ("docker", "Application"),
    ("git", "Application"), ("maven", "Application"),
    ("arraylist", "Class"), ("hashmap", "Class"), ("string", "Class"),
    ("dataframe", "Class"), ("textview", "Class"), ("gridlayout", "Class"),
    ("println", "Function"), ("printf", "Function"), ("malloc", "Function"),
    ("settext", "Function"), ("getelementbyid", "Function"),
    ("json", "File_Type"), ("xml", "File_Type"), ("csv", "File_Type"),
    ("array", "Data_Structure"), ("hashtable", "Data_Structure"),
    ("tree", "Data_Structure"), ("queue", "Data_Structure"),
    ("int", "Data_Type"), ("float", "Data_Type"), ("boolean", "Data_Type"),
    ("quicksort", "Algorithm"), ("dijkstra", "Algorithm"),
    ("regex", "Algorithm"), ("minhash", "Algorithm"),
    ("button", "User_Interface_Element"), ("checkbox", "User_Interface_Element"),
    ("dropdown", "User_Interface_Element"), ("textbox", "User_Interface_Element"),
    ("github", "Website"), ("stackoverflow", "Website"),
    ("iphone", "Device"), ("raspberry-pi", "Device"),
    ("nullpointerexception", "Error_Name"), ("segfault", "Error_Name"),
]


def _alias_variants(name: str) -> List[str]:
    variants = {name, name.lower(), name.upper(), name.capitalize()}
    if "-" in name:
        variants.add(name.replace("-", ""))
        variants.add(name.replace("-", "_"))
    if "." not in name and len(name) > 4:
        variants.add(name + ".js" if name in ("react", "jquery") else name)
    return sorted(variants)


def alias_link_score(alias_norm: str, embedding: Sequence[float]) -> float:
    """Cosine of the hashed surface-form embedding of ``alias_norm`` against
    a dictionary row's float32-rounded ``embedding``, as a strict
    left-to-right float64 fold: dot, then sqrt of the sum of squares, then
    ``max(norm, 1e-12)``. The summation order is part of the contract (the
    oracles replay it), so no ``np.dot``."""
    q = hashed_embedding([alias_norm], dim=64)[0]
    dot = 0.0
    for a, b in zip(q, embedding):
        dot += float(a) * b
    sq = 0.0
    for b in embedding:
        sq += b * b
    return dot / max(math.sqrt(sq), 1e-12)


def build_dictionary_rows(extra_entities: List[Tuple[str, str]] | None = None
                          ) -> List[dict]:
    """Return dictionary rows as plain dicts (driver-side; the table is tiny
    and broadcast — a few thousand aliases at most)."""
    entities = list(_SEED_ENTITIES) + list(extra_entities or [])
    rows: List[dict] = []
    for rank, (name, etype) in enumerate(entities, start=1):
        cid = "soft:" + name.lower()
        for alias in _alias_variants(name):
            alias_norm = alias.lower()
            emb = hashed_embedding([alias_norm], dim=64)[0]
            emb = [float(x) for x in emb.astype(np.float32)]
            rows.append({
                "canonical_id": cid,
                "alias": alias,
                "alias_norm": alias_norm,
                "entity_type": etype,
                "embedding": emb,
                "freq_rank": rank,
                "link_score": alias_link_score(alias_norm, emb),
            })
    return rows


def dictionary_df(spark, extra_entities: List[Tuple[str, str]] | None = None):
    """The dictionary table; a ``LocalTableScan`` in every plan (gated in
    tests/test_plan_gates.py — PySpark silently falls back to a Python RDD
    when the Arrow conversion fails)."""
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("canonical_id", T.StringType()),
        T.StructField("alias", T.StringType()),
        T.StructField("alias_norm", T.StringType()),
        T.StructField("entity_type", T.StringType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("freq_rank", T.IntegerType()),
        T.StructField("link_score", T.DoubleType()),
    ])
    return spark.createDataFrame(
        pd.DataFrame(build_dictionary_rows(extra_entities)), schema)


def gazetteer_map() -> dict:
    """alias_norm -> (canonical_id, entity_type) for the row-local tagger."""
    out = {}
    for row in build_dictionary_rows():
        out.setdefault(row["alias_norm"], (row["canonical_id"], row["entity_type"]))
    return out
