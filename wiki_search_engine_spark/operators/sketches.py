"""Mergeable sketch operators: HyperLogLog cardinality and
Misra-Gries heavy hitters.

At 10^12 documents the corpus-stats questions a pipeline operator asks
("how many distinct terms?", "which terms dominate the token stream?")
cannot afford an exact shuffle-wide answer on every run: exact distinct
is a full shuffle of the vocabulary, exact top-k a full groupBy of the
token relation. Both sketches here reduce that to O(sketch) state that
merges associatively across partitions, so the plan is one narrow
partial+final aggregate:

- ``hll_register_sketch`` — HyperLogLog (Flajolet et al. 2007) with
  2^p registers over an md5-derived 64-bit hash. The register table
  (<= 2^p rows of (register, rho)) IS the sketch: register-wise ``max``
  is the merge operator, so Spark's partial aggregation ships 2^p
  integers per map task instead of the vocabulary. Every step is
  integer-exact (bucket = top p bits of the hash, rho via binary string
  length — no float log2), so a DuckDB oracle replays the identical
  table (``to_base(w, 2)`` / Spark ``bin(w)``).
- ``hll_estimate`` — the standard bias-corrected harmonic-mean estimate
  with the small-range linear-counting correction, computed driver-side
  from the (<= 2^p row) register table.
- ``hll_merge`` — union + register-wise max: sketch(A ∪ B) ==
  merge(sketch(A), sketch(B)) exactly (pytest property).
- ``mg_heavy_hitters`` — weighted Misra-Gries (mergeable-summaries
  form, Agarwal et al. PODS'12): each partition folds its batches into
  a <= capacity-entry summary via mapInPandas (prune = subtract the
  (capacity+1)-th largest count, drop <= 0), then a single groupBy-sum
  unions the per-partition summaries. Estimates never exceed the true
  count and undercount by at most total_weight / (capacity + 1); any
  item heavier than that bound is guaranteed to survive. When no
  partition ever exceeds ``capacity`` distinct keys the result is EXACT
  — which is how the sf0.01 oracle entry value-checks the operator
  while hypothesis tests cover the lossy regime.

Reference analogue: the reference keeps corpus-level stats as exact
Mongo singletons (metaDataInsert.py) — affordable at its scale, not at
10^12 docs; these sketches are the scale path for the same questions.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# 64-bit hash = first 16 hex chars of md5, split p=12 / 52 at the hex
# boundary (3 chars -> register, 13 chars -> remainder) so both engines
# extract identical bits with pure integer arithmetic and no sign issues
# (2^52 - 1 fits a signed BIGINT).
HLL_P = 12
_HLL_M = 1 << HLL_P          # 4096 registers
_W_BITS = 52                 # bits of the rho-remainder


def hll_register_sketch(df: DataFrame, col: str) -> DataFrame:
    """(register, rho) table — the HLL sketch of ``col``'s distinct
    values, one row per register that was hit (absent register == 0).

    register = top 12 bits of the 64-bit hash (first 3 md5 hex chars);
    rho = position of the leftmost 1-bit in the remaining 52 bits
    (1-based), i.e. 52 - bitlen(w) + 1, or 53 when w == 0 — computed
    with ``length(bin(w))`` so it is integer-exact and the DuckDB
    oracle can replay it with ``length(to_base(w, 2))``.

    Plan shape: one hash aggregate with map-side partial max — the
    sketch (<= 4096 (int, int) rows) is what crosses the wire, never
    the distinct values themselves.
    """
    h = F.md5(F.col(col).cast("string"))
    register = F.conv(F.substring(h, 1, 3), 16, 10).cast("long")
    w = F.conv(F.substring(h, 4, 13), 16, 10).cast("long")
    rho = (
        F.when(w == 0, F.lit(_W_BITS + 1))
        .otherwise(F.lit(_W_BITS + 1) - F.length(F.bin(w)))
        .cast("long")
    )
    return (
        df.select(register.alias("register"), rho.alias("rho"))
        .groupBy("register")
        .agg(F.max("rho").alias("rho"))
    )


def hll_merge(*sketches: DataFrame) -> DataFrame:
    """Union sketches of disjoint-or-not inputs: register-wise max.
    Exactly equals the sketch of the unioned input (pytest property) —
    the property that makes HLL a partial aggregate at 100 TB."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("register").agg(F.max("rho").alias("rho"))


def hll_estimate(sketch: DataFrame, p: int = HLL_P) -> float:
    """Driver-side estimate from a register table (<= 2^p rows
    collected — the sketch is tiny by construction).

    alpha_m * m^2 / sum(2^-rho) with empty registers contributing
    2^0 = 1, plus the small-range linear-counting correction
    (E <= 2.5m and zeros > 0 -> m * ln(m / zeros))."""
    import math

    m = 1 << p
    rows = sketch.collect()
    hit = {int(r["register"]): int(r["rho"]) for r in rows}
    zeros = m - len(hit)
    denom = zeros + sum(2.0 ** -rho for rho in hit.values())
    alpha = 0.7213 / (1.0 + 1.079 / m)  # m >= 128 constant
    e = alpha * m * m / denom
    if e <= 2.5 * m and zeros > 0:
        e = m * math.log(m / zeros)
    return e


def _mg_fold(summary: "pd.Series", counts: "pd.Series", cap: int):
    """Merge a batch's exact counts into a Misra-Gries summary and
    prune back to <= cap entries (mergeable-summaries rule: subtract
    the (cap+1)-th largest value, keep > 0)."""
    s = summary.add(counts, fill_value=0.0) if len(summary) else counts
    if len(s) > cap:
        delta = s.nlargest(cap + 1).iloc[-1]
        s = s - delta
        s = s[s > 0]
    return s


def mg_heavy_hitters(
    df: DataFrame,
    term_col: str = "term",
    weight_col: str | None = None,
    capacity: int = 1024,
    k: int = 20,
) -> DataFrame:
    """Top-k heaviest values of ``term_col`` (weighted by ``weight_col``
    if given) via distributed weighted Misra-Gries.

    Each partition folds its Arrow batches into a <= ``capacity``-entry
    summary (mapInPandas — never materializes the full groupBy), then
    one groupBy-sum unions the per-partition summaries (<= capacity ×
    n_partitions rows — the only shuffle, and it is sketch-sized).

    Guarantees (hypothesis-tested): estimate <= true count;
    true - estimate <= total_weight / (capacity + 1); every item with
    true weight above that bound survives into the union. Exact when no
    partition sees more than ``capacity`` distinct keys.

    Output: (term, est_count BIGINT) — top k by est desc, term asc.
    ``est_count`` is exact in the exact regime (the sf0.01 oracle gate)
    and a lower bound otherwise.
    """
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")
    wcol = weight_col

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        summary = pd.Series(dtype="float64")
        for b in batches:
            if wcol is None:
                counts = b.groupby(term_col).size().astype("float64")
            else:
                counts = (
                    b.groupby(term_col)[wcol].sum().astype("float64")
                )
            summary = _mg_fold(summary, counts, capacity)
        if len(summary):
            yield pd.DataFrame(
                {term_col: summary.index, "est": summary.values}
            )

    cols = [F.col(term_col).cast("string").alias(term_col)]
    if wcol is not None:
        cols.append(F.col(wcol))
    partials = df.select(*cols).mapInPandas(
        fold, schema=f"{term_col} string, est double"
    )
    return (
        partials.groupBy(term_col)
        .agg(F.sum("est").cast("long").alias("est_count"))
        .orderBy(F.desc("est_count"), F.asc(term_col))
        .limit(k)
    )


def log_histogram(
    df: DataFrame, value_col: str, base: float = 2.0
) -> DataFrame:
    """Mergeable log-binned histogram of a non-negative numeric column:
    (bin, n, lo, hi) where bin = floor(log_base(v)) (v <= 0 lands in
    bin -1 with lo = hi = 0) and [lo, hi) = [base^bin, base^(bin+1)).

    The third mergeable-summary sketch in this module (HLL counts
    distinct, Misra-Gries finds heavy hitters, this one holds a
    distribution): the bin table IS the sketch — ~64 rows cover any
    realistic doc-length range at base 2, per-partition partial counts
    combine map-side, and histograms of disjoint corpus slices merge
    by adding counts (pytest: hist(A ∪ B) == merge(hist A, hist B)
    exactly). The classic corpus-analytics companion: doc-length /
    tokens-per-doc distributions and their quantiles at 100 TB for one
    64-row shuffle, incrementally maintainable across crawl batches —
    where exact percentiles need a corpus sort and Spark's built-in
    approx_percentile yields an opaque, non-mergeable, non-replayable
    state."""
    import math

    v = F.col(value_col).cast("double")
    int_types = ("int", "bigint", "smallint", "tinyint", "long")
    if base == 2.0 and str(
        df.schema[value_col].dataType.simpleString()
    ) in int_types:
        # INTEGER-EXACT binning for the common case: floor(log2(n)) ==
        # binary-digit count - 1 — no floating log whose last-ulp
        # behavior could flip the bin at exact powers of two (and
        # diverge from an oracle using a different libm)
        b = F.when(v <= 0, F.lit(-1)).otherwise(
            F.length(F.bin(F.col(value_col).cast("bigint"))) - 1
        ).cast("int")
    else:
        b = F.when(v <= 0, F.lit(-1)).otherwise(
            F.floor(F.log(v) / math.log(base))
        ).cast("int")
    lo = F.when(
        F.col("bin") < 0, F.lit(0.0)
    ).otherwise(F.pow(F.lit(base), F.col("bin")))
    hi = F.when(
        F.col("bin") < 0, F.lit(0.0)
    ).otherwise(F.pow(F.lit(base), F.col("bin") + 1))
    return (
        df.select(b.alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").cast("long").alias("n"))
        .select(
            "bin", "n",
            F.round(lo, 6).alias("lo"),
            F.round(hi, 6).alias("hi"),
        )
    )


def histogram_quantiles(
    hist: DataFrame, qs: list[float], base: float = 2.0
) -> DataFrame:
    """(q, est) quantile estimates from a log_histogram sketch:
    rank = q * total; inside the first bin whose cumulative count
    reaches the rank, interpolate the EXPONENT —
    est = base^(bin + (rank - cum_before) / n_bin) (bin -1 -> 0).
    A rank on the bin's upper cumulative boundary (q=1 included)
    interpolates to exactly hi, so the estimate is clamped to the
    6-decimal grid point below hi. Deterministic arithmetic over the
    ~64-row sketch (one window cumsum — no corpus access), so a DuckDB
    oracle replays it exactly; the estimate is always within the bin's
    [lo, hi) bounds (pytest vs the exact percentile)."""
    import math

    from pyspark.sql import Window

    w = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = hist.select(
        "bin", "n",
        F.coalesce(F.sum("n").over(w), F.lit(0)).alias("cum_before"),
    )
    total = hist.agg(F.sum("n").cast("double").alias("total"))
    out = None
    for q in qs:
        rank = F.col("total") * F.lit(float(q))
        est = (
            cum.crossJoin(F.broadcast(total))
            .filter(
                (F.col("cum_before") + F.col("n")) >= rank
            )
            .orderBy("bin")
            .limit(1)
            .select(
                F.lit(float(q)).alias("q"),
                F.when(F.col("bin") < 0, F.lit(0.0)).otherwise(
                    F.least(
                        F.round(
                            F.pow(
                                F.lit(base),
                                F.col("bin")
                                + (rank - F.col("cum_before"))
                                / F.col("n").cast("double"),
                            ),
                            6,
                        ),
                        F.round(F.pow(F.lit(base), F.col("bin") + 1), 6)
                        - F.lit(1e-6),
                    )
                ).alias("est"),
            )
        )
        out = est if out is None else out.unionByName(est)
    return out
