"""Summary statistics the benchmark reports.

Kept free of Spark and of the engine so the tests in ``perfbench/tests``
can check them on small hand-made samples.
"""

from __future__ import annotations

import math
import statistics

# the highest percentile reported must have at least this many samples
# strictly beyond it, or it is a single sample's noise
MIN_BEYOND = 10


def percentile(values, q: float) -> float:
    """Nearest-rank percentile: the value at rank ceil(q*n) of the
    sorted sample (q in (0, 1]). With n=200 and q=0.95 that is rank 190,
    leaving 10 samples beyond it."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0.0 < q <= 1.0:
        raise ValueError(f"q must be in (0, 1], got {q}")
    xs = sorted(values)
    rank = max(1, math.ceil(q * len(xs) - 1e-9))
    return xs[rank - 1]


def samples_beyond(n: int, q: float) -> int:
    """How many of n samples lie strictly beyond the q percentile."""
    return n - max(1, math.ceil(q * n - 1e-9))


def tail_supported(n: int, q: float) -> bool:
    """True when the q percentile of n samples has MIN_BEYOND samples
    beyond it."""
    return samples_beyond(n, q) >= MIN_BEYOND


def highest_supported(n: int, candidates=(0.999, 0.99, 0.95, 0.9, 0.5)):
    """The highest candidate percentile n samples support, else None."""
    for q in sorted(candidates, reverse=True):
        if tail_supported(n, q):
            return q
    return None


def median(values) -> float:
    return float(statistics.median(values))


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median with statistics.quantiles(n=4) — the run-to-run
    spread a metric is held to."""
    if len(values) < 2:
        raise ValueError("quartile spread needs at least two values")
    q1, q2, q3 = statistics.quantiles(values, n=4)
    if q2 == 0:
        raise ValueError("quartile spread of a sample with median 0")
    return (q3 - q1) / q2


def latencies_from_due(records) -> list[float]:
    """Open-loop latency in ms: completion minus the time the request
    was DUE, so a stalled generator or server charges its delay to every
    request queued behind it. ``records`` carry ``due``/``done`` in
    seconds on one monotonic clock."""
    return [1000.0 * (r["done"] - r["due"]) for r in records]


def lateness(records) -> dict:
    """How late the generator sent requests (sent - due, ms): a large
    value means the generator, not the server, set the pace."""
    late = [1000.0 * max(0.0, r["sent"] - r["due"]) for r in records]
    if not late:
        return {"p50_ms": 0.0, "max_ms": 0.0, "late_over_1ms": 0}
    return {
        "p50_ms": percentile(late, 0.5),
        "max_ms": max(late),
        "late_over_1ms": sum(1 for x in late if x > 1.0),
    }


def error_share(outcomes) -> float:
    """Failed, refused or wrong answers over attempted. ``outcomes`` is
    one string per attempted operation: 'ok', 'unchecked' (served, no
    reference for it) or anything else (a failure)."""
    outcomes = list(outcomes)
    if not outcomes:
        raise ValueError("error share of zero attempted operations")
    bad = sum(1 for o in outcomes if o not in ("ok", "unchecked"))
    return bad / len(outcomes)


def main(argv=None) -> int:
    """``python3 perfbench/stats.py RESULT.json ...``: per workload and
    end-to-end metric, the median and quartile spread over the given
    result files (how a benchmark's steadiness is judged)."""
    import json
    import sys

    values: dict[tuple[str, str], list[float]] = {}
    for path in argv if argv is not None else sys.argv[1:]:
        with open(path) as f:
            res = json.load(f)
        workload = res["context"]["workload"]
        for name, m in {**res["end_to_end"],
                        **res.get("result_file_only", {})}.items():
            values.setdefault((workload, name), []).append(m["value"])
    for (workload, name), vals in sorted(values.items()):
        spread = quartile_spread(vals) if len(vals) > 1 else float("nan")
        print(f"{workload:12s} {name:22s} n={len(vals):2d} "
              f"median={median(vals):.6g} spread={spread:.3f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
