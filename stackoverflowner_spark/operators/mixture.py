"""Temperature-based mixture resampling: rebalance a corpus across sources
(languages, domains, crawls) by sampling each group at a rate proportional
to ``count^alpha`` — the standard pretraining-mixture reweighting
(alpha=1 keeps natural proportions, alpha=0 weights every source equally,
alpha~0.3-0.7 is the usual multilingual compromise).

Shape: one dimension-sized aggregation (per-source counts), weight
arithmetic on that tiny table, then ONE broadcast join back to the corpus
and a deterministic md5 unit-hash filter — the corpus is touched exactly
once and never shuffles; membership is a pure function of
(doc key, salt, per-source rate):

    rate_s = min(1, target_total * w_s / (n_s * sum(w)))   with w_s = n_s^alpha
    keep   = unit_hash(key, salt) < rate_s

Cross-engine exactness (the r4 q7ish lesson — never let float ordering
near a bitwise gate): ``sum(w)`` is computed as a SEQUENTIAL left fold in
ascending-source order (a running window on the dimension-sized counts
table — the SinglePartition exchange it needs is O(sources), not corpus),
so both engines add the same doubles in the same order; and for the
alpha=0.5 default the weight uses ``sqrt``, which IEEE-754 requires
correctly rounded in both engines, instead of ``pow``, which it does not
(other alphas keep pow and may differ from DuckDB in the last ulp — fine
for the operator, documented as not bitwise-oracle-able). The driver
oracle replays the alpha=0.5 operator bitwise (`temperature_sample`).

Backfill caveat (documented, not hidden): unlike ``hash_split``/
``pack_greedy``, the RATES depend on per-source counts, so growing the
corpus changes rates and therefore membership. Freeze rates for stable
snapshots via ``mixture_rates`` + ``sample_with_rates`` (the two halves
are exposed separately for exactly this reason); the composed
``temperature_sample`` recomputes rates each run.

Reference parity note: the reference trains on one fixed corpus; mixture
control is engine-beyond-reference surface (SURVEY.md §2.9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_DENOM = float(16 ** 15)  # 15 md5 hex chars -> uniform [0, 1)


def _unit_hash(key, salt: str):
    h = F.md5(F.concat_ws(":", F.lit(salt), key.cast("string")))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("double") / F.lit(_DENOM)


def _weight(n, alpha: float):
    if alpha == 0.5:
        return F.sqrt(n.cast("double"))  # correctly rounded — bitwise-safe
    return F.pow(n.cast("double"), F.lit(float(alpha)))


def mixture_rates(docs: DataFrame, target_total: int, alpha: float = 0.5,
                  source_col: str = "source") -> DataFrame:
    """(source, n, rate): per-source keep-rates for ``count^alpha``
    weighting, capped at 1. Dimension-sized output; deterministic to the
    bit at alpha=0.5 (see module docstring)."""
    counts = docs.groupBy(source_col).agg(F.count("*").alias("n"))
    run = (Window.orderBy(source_col)
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    full = (Window.orderBy(source_col)
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    w = _weight(F.col("n"), alpha)
    # sequential fold; cw is monotone so max == the fold's final value
    cums = counts.withColumn("cw", F.sum(_weight(F.col("n"), alpha)).over(run))
    return (cums.withColumn("tw", F.max("cw").over(full))
            .select(source_col, "n",
                    F.least(F.lit(1.0),
                            F.lit(float(target_total)) * w
                            / (F.col("n").cast("double") * F.col("tw")))
                    .alias("rate")))


def sample_with_rates(docs: DataFrame, rates: DataFrame,
                      key_col: str = "doc_id",
                      source_col: str = "source") -> DataFrame:
    """Filter the corpus by the per-source rates: keep iff
    unit_hash(key) < rate. Broadcast join — the corpus never shuffles."""
    r = rates.select(source_col, "rate")
    return (docs.join(F.broadcast(r), source_col)
            .filter(_unit_hash(F.col(key_col), "mix") < F.col("rate"))
            .drop("rate"))


def temperature_sample(docs: DataFrame, target_total: int,
                       alpha: float = 0.5,
                       source_col: str = "source") -> DataFrame:
    """Composed rates + sample. Expected output size ~= target_total (up to
    per-source hash variance and the rate cap for underrepresented
    sources)."""
    rates = mixture_rates(docs, target_total, alpha, source_col)
    return sample_with_rates(docs, rates, "doc_id", source_col)
