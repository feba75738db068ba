"""Deduplication operators for training-data pipelines.

* exact_dedup        — hash-groupBy on a content fingerprint (one shuffle).
* minhash signatures — k independent min-hashes over word shingles. Hash =
  md5(shingle || ":" || seed), minimized lexicographically; md5 is identical
  in every engine, which makes the operator oracle-checkable in DuckDB and
  reproducible across resume boundaries (no JVM-specific hash).
* LSH banding        — signatures -> (band, band_hash) buckets -> candidate
  pairs via self-join on bucket. The self-join is the only quadratic-ish
  step and it only touches colliding buckets.
* simhash            — 64-bit sign-aggregated word-hash fingerprint,
  computed with xxhash64 per word (JVM-side).
* n-gram Jaccard     — verification step on candidate pairs.

Scale notes: signatures are fixed-width per doc (k strings), so the shuffle
volume of banding is O(docs * k), independent of doc length. Pair
verification joins only within buckets; with b bands / r rows the collision
probability follows the standard S-curve, so the expensive Jaccard UDF runs
on a vanishing fraction of pairs at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def normalized_text():
    return F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))


def exact_dedup(df: DataFrame) -> DataFrame:
    """Keep the minimum id per identical normalized text; return survivors
    with group size."""
    h = F.md5(normalized_text())
    return (
        df.select(F.col("doc_id"), h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("dup_count"))
    )


def word_shingles(df: DataFrame, n: int = 3,
                  distinct: bool = False) -> DataFrame:
    """Explode n-word shingles of the normalized text.

    ``distinct=True`` drops within-document repeats row-locally
    (``array_distinct`` — no shuffle) BEFORE the explode: correct for
    consumers whose aggregate is idempotent over repeats (MinHash's min,
    Jaccard's set semantics) and saves the per-occurrence hash CPU.

    Parallelism note: shingling fans out ~50x per row, so the INPUT must
    arrive splittable — at 100 TB the scan has thousands of row-group
    splits; for the single-row-group test fixtures that is
    ``sources/fixtures.splittable_path`` (input repair, zero in-plan
    Exchange). The former in-plan ``df.rdd.getNumPartitions()`` probe +
    conditional repartition (r3/r4 flagged: forced plan analysis, an RDD
    conversion, and an Exchange on narrow inputs) is gone — callers own
    input shape, this operator owns row-local fanout only."""
    toks = F.filter(F.split(normalized_text(), " "), lambda x: x != "")
    sh = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    if distinct:
        sh = F.array_distinct(sh)
    return df.select(F.col("doc_id"), F.explode(sh).alias("shingle"))


def minhash_signatures(df: DataFrame, n: int = 3, k: int = 8
                       ) -> DataFrame:
    """(doc, seed, min md5(shingle:seed)) -> one row per doc per hash seed."""
    # distinct shingles per doc: min() is idempotent over repeats, so
    # the k seeded hashes run once per distinct shingle, not occurrence
    shingles = word_shingles(df, n=n, distinct=True)
    seeded = shingles.withColumn("seed", F.explode(F.sequence(F.lit(0), F.lit(k - 1))))
    return (
        seeded.withColumn(
            "h", F.md5(F.concat_ws(":", F.col("shingle"), F.col("seed"))))
        .groupBy("doc_id", "seed")
        .agg(F.min("h").alias("minhash"))
    )


def minhash_signatures_fast(df: DataFrame, n: int = 3, k: int = 8
                            ) -> DataFrame:
    """Scale variant of ``minhash_signatures``: JVM ``xxhash64(shingle, lane)``
    longs instead of md5 strings — one cheap codegen hash per lane vs k md5
    string passes (~4x less CPU, 8-byte min-agg keys instead of 32-char
    strings). Same (doc, seed, minhash) shape; minhash is a LONG. The md5
    variant remains the cross-engine-oracle path (r01 trade, documented)."""
    shingles = word_shingles(df, n=n, distinct=True)
    seeded = shingles.withColumn("seed", F.explode(F.sequence(F.lit(0), F.lit(k - 1))))
    return (
        seeded.withColumn("h", F.xxhash64("shingle", "seed"))
        .groupBy("doc_id", "seed")
        .agg(F.min("h").alias("minhash"))
    )


def lsh_candidate_pairs(signatures: DataFrame, rows_per_band: int = 2
                        ) -> DataFrame:
    """Band the signature rows and self-join on (band, band_hash)."""
    banded = (
        signatures.withColumn("band", (F.col("seed") / rows_per_band).cast("int"))
        .groupBy("doc_id", "band")
        .agg(F.md5(F.concat_ws("|", F.sort_array(F.collect_list("minhash"))))
             .alias("band_hash"))
    )
    a = banded.select(F.col("doc_id").alias("id_a"), "band", "band_hash")
    b = banded.select(F.col("doc_id").alias("id_b"), "band", "band_hash")
    return (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b").distinct()
    )


def ngram_jaccard_pairs(df: DataFrame, pairs: DataFrame, n: int = 3,
                        threshold: float = 0.7) -> DataFrame:
    """Verify candidate pairs with exact n-gram Jaccard similarity."""
    # row-local array_distinct == distinct on (id, shingle), minus the
    # corpus-wide Exchange the old .distinct() paid
    sh = word_shingles(df, n=n, distinct=True)
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("shingle"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("shingle"))
    inter = (
        pairs.join(a, "id_a").join(b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b").agg(F.count("*").alias("n_inter"))
    )
    # sizes is corpus-sized (one row per doc) — no broadcast hint; AQE
    # broadcasts it only when it measures small (the intersect side is the
    # candidate set, usually far smaller)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sa = sizes.select(F.col("doc_id").alias("id_a"),
                      F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"),
                      F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") /
                    (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def embedding_near_dup_pairs(vectors: DataFrame, dim: int,
                             threshold: float = 0.9, bands: int = 3,
                             rows_per_band: int = 4) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH-bucket the corpus with
    deterministic random hyperplanes (b bands x r rows, OR-amplified),
    self-join within band buckets only, verify with exact cosine.
    Candidate volume is sum over buckets of bucket^2, not corpus^2; the
    multi-band union keeps recall high (a pair differing in one bit of one
    band still collides in the other bands)."""
    from .similarity import _dot_col, _norm_col, banded_signatures, hyperplanes

    planes = hyperplanes(dim, bands * rows_per_band)
    sig = banded_signatures(vectors.select("vec_id", "embedding"),
                            planes, bands, rows_per_band, "vec_id", "embedding")
    a = sig.select(F.col("vec_id").alias("id_a"),
                   F.col("embedding").alias("v_a"), "band", "band_sig")
    b = sig.select(F.col("vec_id").alias("id_b"),
                   F.col("embedding").alias("v_b"), "band", "band_sig")
    return (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn(
            "cosine",
            F.round(
                _dot_col(F.col("v_a"), F.col("v_b"))
                / (F.greatest(_norm_col(F.col("v_a")), F.lit(1e-12))
                   * F.greatest(_norm_col(F.col("v_b")), F.lit(1e-12))), 4))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def simhash(df: DataFrame) -> DataFrame:
    """Sign-aggregated word-hash fingerprint, emitted as a 64-char
    '0'/'1' string (MSB first).

    Word hash = first 16 hex chars of md5(word): md5 is identical in every
    engine (unlike xxhash64), so the whole operator is DuckDB-oracleable.
    All arithmetic is columnar/JVM-side; one shuffle (groupBy doc)."""
    toks = df.select(
        F.col("doc_id"),
        F.explode(F.filter(F.split(normalized_text(), " "),
                           lambda x: x != "")).alias("word"),
    ).withColumn("h", F.md5("word"))
    # hex nibbles extracted once per word (16 instr calls), bits derived
    # by shift/mod — same integers as a per-bit substring+instr (the form
    # of the DuckDB oracle; shiftright == its floor division for
    # nonnegative nibbles), ~4x fewer string ops per word and a much
    # smaller codegen body
    nibs = F.transform(
        F.sequence(F.lit(1), F.lit(16)),
        lambda c: F.instr(F.lit("123456789abcdef"),
                          F.substring(F.col("h"), c, 1)))
    toks = toks.withColumn("_nib", nibs)
    bit_cols = [
        F.sum(F.when(
            F.shiftright(F.element_at("_nib", 16 - b // 4),
                         b % 4) % 2 == 1, 1).otherwise(-1)).alias(f"b{b}")
        for b in range(64)
    ]
    agg = toks.groupBy("doc_id").agg(*bit_cols)
    sim = F.concat(*[
        F.when(F.col(f"b{b}") > 0, F.lit("1")).otherwise(F.lit("0"))
        for b in reversed(range(64))
    ])
    return agg.select(F.col("doc_id"), sim.alias("simhash"))


def simhash_pairs(df: DataFrame, bands: int = 4,
                  max_hamming: int = 3) -> DataFrame:
    """Hamming-distance near-duplicate pairs over ``simhash`` fingerprints.

    Band the 64-char fingerprint into ``bands`` equal bit-blocks and
    self-join on exact block equality — the same bucketed-LSH shape as
    ``lsh_candidate_pairs``, so candidate volume is sum-of-bucket^2, never
    corpus^2. By pigeonhole the banding is EXACT, not approximate, whenever
    ``max_hamming < bands``: a pair within ``max_hamming`` differing bits
    can corrupt at most ``max_hamming`` blocks, so at least one block
    matches and the pair is guaranteed to surface (recall 1.0 — which is
    what makes the operator fully DuckDB-oracleable rather than
    recall-gated). Verification popcounts the full fingerprint with JVM
    higher-order functions; one narrow filter, no Python.

    At 100 TB: block width ``64 // bands`` controls bucket sizes (16-bit
    blocks -> 65536 bucket values per band); raise ``bands`` (and accept a
    lower exactness bound) or feed a pre-partitioned corpus if head buckets
    still skew — AQE skew-join handles the residual.
    """
    if 64 % bands != 0:
        raise ValueError(f"64 bits not divisible by bands={bands}")
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming={max_hamming} >= bands={bands}: the pigeonhole "
            "recall guarantee needs max_hamming < bands")
    block = 64 // bands
    sig = simhash(df)
    banded = sig.select(
        F.col("doc_id"), F.col("simhash"),
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     F.substring("simhash", i * block + 1, block)
                     .alias("block"))
            for i in range(bands)])).alias("t"),
    ).select("doc_id", "simhash", "t.band", "t.block")
    a = banded.select(F.col("doc_id").alias("id_a"),
                      F.col("simhash").alias("sim_a"), "band", "block")
    b = banded.select(F.col("doc_id").alias("id_b"),
                      F.col("simhash").alias("sim_b"), "band", "block")
    hamming = F.size(F.filter(
        F.zip_with(F.split(F.col("sim_a"), ""), F.split(F.col("sim_b"), ""),
                   lambda x, y: x != y),
        lambda d: d))
    return (
        a.join(b, ["band", "block"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
