"""Sketch operators: HyperLogLog cardinality + Misra-Gries heavy
hitters (operators/sketches.py).

Spark-side tests cover the distributed paths once each (accuracy,
merge property, exact regime); the Misra-Gries error-bound guarantees
are hypothesis-tested on the pure folding kernel so the property sweep
doesn't pay per-example Spark jobs.
"""

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from wiki_search_engine_spark.operators.sketches import (
    HLL_P,
    _mg_fold,
    hll_estimate,
    hll_merge,
    hll_register_sketch,
    mg_heavy_hitters,
)


def _ids(spark, lo, hi):
    from pyspark.sql import functions as F

    return spark.range(lo, hi).select(
        F.concat(F.lit("v"), F.col("id")).alias("v")
    )


def test_hll_accuracy_and_duplicates(spark):
    """50k distinct (each value emitted twice — duplicates must not
    move the estimate) -> within 5% (3 sigma at p=12 is ~4.9%)."""
    df = _ids(spark, 0, 50_000)
    est = hll_estimate(hll_register_sketch(df.union(df), "v"))
    assert abs(est - 50_000) / 50_000 < 0.05


def test_hll_small_range_linear_counting(spark):
    """Tiny cardinality routes through the linear-counting correction
    and is near-exact there."""
    est = hll_estimate(hll_register_sketch(_ids(spark, 0, 100), "v"))
    assert abs(est - 100) / 100 < 0.05


def test_hll_merge_equals_whole(spark):
    """sketch(A U B) == merge(sketch(A), sketch(B)) register-for-
    register, with overlap — the partial-aggregate property."""
    whole = (
        hll_register_sketch(_ids(spark, 0, 20_000), "v")
        .orderBy("register")
        .collect()
    )
    merged = (
        hll_merge(
            hll_register_sketch(_ids(spark, 0, 12_000), "v"),
            hll_register_sketch(_ids(spark, 8_000, 20_000), "v"),
        )
        .orderBy("register")
        .collect()
    )
    assert [tuple(r) for r in whole] == [tuple(r) for r in merged]
    assert len(whole) <= (1 << HLL_P)


def test_mg_exact_regime_matches_groupby(spark):
    """capacity >= distinct keys everywhere -> MG output == the exact
    weighted groupBy top-k, counts included."""
    from pyspark.sql import functions as F

    rows = [(f"t{i % 37}", 1 + i % 3) for i in range(5_000)]
    df = spark.createDataFrame(rows, "term string, w long")
    got = [
        tuple(r)
        for r in mg_heavy_hitters(
            df, weight_col="w", capacity=1_000, k=10
        ).collect()
    ]
    exp = [
        tuple(r)
        for r in df.groupBy("term")
        .agg(F.sum("w").cast("long").alias("est_count"))
        .orderBy(F.desc("est_count"), F.asc("term"))
        .limit(10)
        .collect()
    ]
    assert got == exp


def test_mg_lossy_regime_keeps_heavy_hitter(spark):
    """capacity far below the key count: the planted heavy item
    survives with est <= true and undercount <= total/(capacity+1)."""
    rows = [(f"k{i}", ) for i in range(3_000)] + [("hot",)] * 1_000
    df = spark.createDataFrame(rows, "term string").repartition(4)
    got = {
        r["term"]: r["est_count"]
        for r in mg_heavy_hitters(df, capacity=64, k=5).collect()
    }
    assert "hot" in got
    assert got["hot"] <= 1_000
    assert 1_000 - got["hot"] <= 4_000 / 65


def test_mg_rejects_bad_capacity(spark):
    df = spark.createDataFrame([("a",)], "term string")
    with pytest.raises(ValueError, match="capacity"):
        mg_heavy_hitters(df, capacity=0)


# ---- hypothesis: the folding kernel's guarantees -------------------------

_stream = st.lists(
    st.tuples(st.integers(min_value=0, max_value=30),
              st.integers(min_value=1, max_value=9)),
    min_size=1,
    max_size=200,
)


@settings(max_examples=60, deadline=None)
@given(stream=_stream, cap=st.integers(min_value=1, max_value=12),
       batch=st.integers(min_value=1, max_value=17))
def test_mg_fold_bounds(stream, cap, batch):
    """For any stream, batching, and capacity: estimates never exceed
    true counts, undercount by at most total/(cap+1), and any item
    heavier than that bound is present in the summary."""
    true = {}
    for k, w in stream:
        true[k] = true.get(k, 0) + w
    total = sum(true.values())

    summary = pd.Series(dtype="float64")
    for i in range(0, len(stream), batch):
        chunk = stream[i:i + batch]
        counts = pd.Series(dtype="float64")
        for k, w in chunk:
            counts[f"t{k}"] = counts.get(f"t{k}", 0.0) + w
        summary = _mg_fold(summary, counts, cap)

    assert len(summary) <= cap
    bound = total / (cap + 1)
    for key, est in summary.items():
        t = true[int(key[1:])]
        assert est <= t + 1e-9
        assert t - est <= bound + 1e-9
    for k, t in true.items():
        if t > bound:
            assert f"t{k}" in summary.index


def test_log_histogram_merge_and_quantile_bounds(spark):
    """hist(A ∪ B) == merge(hist A, hist B) EXACTLY (counts add per
    bin); quantile estimates land inside the hit bin's [lo, hi) and
    bracket the exact percentile's bin; integer-exact binning at
    powers of two."""
    import random

    from pyspark.sql import functions as F

    from wiki_search_engine_spark.operators.sketches import (
        histogram_quantiles, log_histogram,
    )

    rng = random.Random(5)
    # include exact powers of two to pin the integer binning
    vals_a = [rng.randint(1, 5000) for _ in range(4000)] + [256] * 10
    vals_b = [rng.randint(1, 300) for _ in range(2000)] + [1024] * 5
    da = spark.createDataFrame([(v,) for v in vals_a], "n int")
    db = spark.createDataFrame([(v,) for v in vals_b], "n int")
    dall = spark.createDataFrame(
        [(v,) for v in vals_a + vals_b], "n int"
    )
    ha = {r["bin"]: r["n"] for r in log_histogram(da, "n").collect()}
    hb = {r["bin"]: r["n"] for r in log_histogram(db, "n").collect()}
    hall = {
        r["bin"]: r["n"] for r in log_histogram(dall, "n").collect()
    }
    merged = {
        b: ha.get(b, 0) + hb.get(b, 0) for b in set(ha) | set(hb)
    }
    assert merged == hall
    # 256 lands in bin 8 exactly ([256, 512)), 1024 in bin 10
    rows = {
        r["bin"]: (r["lo"], r["hi"])
        for r in log_histogram(dall, "n").collect()
    }
    assert rows[8] == (256.0, 512.0) and 10 in rows
    # quantile estimates: inside the same bin as the exact percentile
    import numpy as np

    hist = log_histogram(dall, "n")
    ests = {
        r["q"]: r["est"]
        for r in histogram_quantiles(hist, [0.5, 0.9]).collect()
    }
    arr = np.sort(np.array(vals_a + vals_b))
    for q, est in ests.items():
        exact = float(arr[min(len(arr) - 1, int(q * len(arr)))])
        lo_e, hi_e = 2 ** np.floor(np.log2(exact)), 2 ** (
            np.floor(np.log2(exact)) + 1
        )
        assert lo_e <= est <= hi_e, (q, est, exact)


def test_histogram_quantiles_stay_below_bin_hi(spark):
    """A rank exactly on a bin's upper cumulative boundary — q=1.0, and
    q=0.5 over [1, 1, 2, 3] (rank 2 == bin 0's count) — interpolates to
    the bin's hi; the estimate must stay inside the hit bin's [lo, hi)."""
    from wiki_search_engine_spark.operators.sketches import (
        histogram_quantiles, log_histogram,
    )

    df = spark.createDataFrame([(v,) for v in (1, 1, 2, 3)], "n int")
    ests = {
        r["q"]: r["est"]
        for r in histogram_quantiles(
            log_histogram(df, "n"), [0.5, 1.0]
        ).collect()
    }
    assert 1.0 <= ests[0.5] < 2.0  # bin 0 = [1, 2)
    assert 2.0 <= ests[1.0] < 4.0  # bin 1 = [2, 4)
    assert ests[1.0] == pytest.approx(4.0 - 1e-6)
