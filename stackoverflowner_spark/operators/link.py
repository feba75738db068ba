"""Entity linking: mentions x broadcast alias dictionary with skew handling.

North-rule operator (SURVEY.md §2.8): detected mentions are scored against a
software-entity dictionary (aliases + surface-form embeddings).

Two physical strategies, same logical result:

* ``link_broadcast`` — the dictionary is small (thousands of aliases), so the
  join is a map-side broadcast hash join: zero shuffle, immune to head-entity
  skew by construction. This is the default at any scale where the dictionary
  fits comfortably in executor memory.
* ``link_salted`` — for a dictionary too large to broadcast: explicit salted
  repartition join (``salted_join``). The mention side gets
  ``salt = pmod(xxhash64(row), S)``; the dictionary side is replicated xS
  via ``explode(sequence(...))``. Head
  aliases ("python") then spread across S reducers instead of one. AQE skew
  join remains enabled as a backstop (session.py).

Scoring: the cosine between the mention's hashed surface-form embedding
and the alias embedding (the fasttext stand-in). The join is on
``surface_norm == alias_norm``, so the score is a property of the dictionary
row; the dictionary builders compute it once per alias
(sources/dictionary.py ``alias_link_score``) and linking is one JVM join
filtered on ``link_score >= MIN_LINK_SCORE`` — no Python at link time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LINKED_COLS = [
    "url", "sent_idx", "tok_start", "tok_end", "surface", "surface_norm",
    "tag_type", "canonical_id", "entity_type", "link_score",
]

MIN_LINK_SCORE = 0.99


def _linkable(dictionary: DataFrame) -> DataFrame:
    return (dictionary.filter(f"link_score >= {MIN_LINK_SCORE!r}D")
            .selectExpr("alias_norm", "canonical_id", "entity_type",
                        "link_score"))


def link_broadcast(mentions: DataFrame, dictionary: DataFrame) -> DataFrame:
    """The join condition and projection are SQL strings: each
    ``functions``/``Column`` call costs the driver several py4j round trips,
    and the flagship builds this once per op."""
    return mentions.join(
        F.broadcast(_linkable(dictionary)), F.expr("surface_norm = alias_norm"),
        "inner").selectExpr(*LINKED_COLS)


def link_salted(mentions: DataFrame, dictionary: DataFrame,
                n_salts: int = 16) -> DataFrame:
    """``salted_join`` with the dictionary on the replicated side, keyed on
    the mention's ``surface_norm``."""
    aliases = _linkable(dictionary).withColumnRenamed("alias_norm",
                                                      "surface_norm")
    return salted_join(mentions, aliases, "surface_norm",
                       n_salts).select(*LINKED_COLS)


def salted_join(big: DataFrame, small: DataFrame, key: str,
                n_salts: int = 16, how: str = "inner") -> DataFrame:
    """Generic skew-defeating equi-join: the big side gets a random salt,
    the small side is replicated once per salt, and the join key becomes
    (key, salt) — a hot key's rows spread over ``n_salts`` reducers instead
    of one. Results are salt-independent (oracled in the driver contract);
    use when the small side is too large to broadcast but a key is hot.

    ``how`` is restricted to the join types whose semantics survive
    replicating the small side: an unmatched small-side row would otherwise
    be emitted once per salt under right/full-outer."""
    allowed = {"inner", "left", "left_outer", "leftouter",
               "left_semi", "leftsemi", "left_anti", "leftanti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join: how={how!r} unsupported — the small side is "
            f"replicated {n_salts}x, so right/full-outer would duplicate "
            f"unmatched small rows; use one of {sorted(allowed)}")
    b = big.withColumn(
        "_salt", F.pmod(F.xxhash64(*big.columns), F.lit(n_salts)).cast("int"))
    s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))))
    out = b.join(s.hint("shuffle_hash"), [key, "_salt"], how)
    return out.drop("_salt")


def link_fuzzy(mentions: DataFrame, dictionary: DataFrame,
               min_len: int = 4) -> DataFrame:
    """link_broadcast plus a typo-repair pass for the leftovers: mentions
    whose surface_norm matches NO alias exactly are re-keyed to their
    nearest alias within Levenshtein distance 1 (FastSS blocked join,
    operators/fuzzylink.py; best = min dist, then alias order — a total
    order, so the repair is deterministic) and linked through the same
    dictionary join. Exact rows are bit-identical to plain link_broadcast —
    the repair only ever touches rows the exact pass dropped.

    Scale shape: the anti-join and re-join ride the same broadcast
    dictionary; the fuzzy candidate join runs over DISTINCT unmatched
    surfaces (vocabulary-sized, not corpus-sized). Surfaces shorter than
    ``min_len`` are left unlinked rather than fuzzy-matched (short-string
    neighborhoods degenerate — 'js'→'j2'-class false repairs)."""
    from .fuzzylink import fuzzy_join
    from pyspark.sql.window import Window

    exact = link_broadcast(mentions, dictionary)
    aliases = dictionary.select("alias_norm").distinct()
    unmatched = mentions.join(
        F.broadcast(aliases),
        mentions.surface_norm == aliases.alias_norm, "left_anti")
    cand = fuzzy_join(unmatched.select(F.col("surface_norm")).distinct(),
                      aliases, "surface_norm", "alias_norm",
                      max_dist=1, min_len=min_len)
    w = (Window.partitionBy("surface_norm")
         .orderBy(F.col("dist").asc(), F.col("alias_norm").asc()))
    best = (cand.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("surface_norm", F.col("alias_norm").alias("_repair")))
    repaired = (unmatched.join(F.broadcast(best), "surface_norm")
                .drop("surface_norm")
                .withColumnRenamed("_repair", "surface_norm"))
    return exact.unionByName(
        link_broadcast(repaired, dictionary))


_STRATEGIES = {"broadcast": link_broadcast, "salted": link_salted,
               "fuzzy": link_fuzzy}


def link(mentions: DataFrame, dictionary: DataFrame,
         strategy: str = "broadcast") -> DataFrame:
    if strategy not in _STRATEGIES:
        raise ValueError(f"unknown link strategy {strategy!r}; "
                         "expected broadcast|salted|fuzzy")
    return _STRATEGIES[strategy](mentions, dictionary)
