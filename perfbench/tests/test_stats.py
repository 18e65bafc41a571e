"""The benchmark's own statistics on small hand-made samples.

    python -m pytest perfbench/tests -q
"""

import statistics
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from perfbench import checks, stats
from perfbench.loadgen import run_open_loop


def test_percentile_is_nearest_rank():
    xs = list(range(1, 201))  # 1..200
    assert stats.percentile(xs, 0.5) == 100
    assert stats.percentile(xs, 0.95) == 190
    assert stats.percentile(xs, 1.0) == 200
    assert stats.percentile([7.0], 0.95) == 7.0
    assert stats.percentile(list(reversed(xs)), 0.95) == 190
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)
    with pytest.raises(ValueError):
        stats.percentile(xs, 0.0)


def test_ten_samples_beyond_rule():
    assert stats.samples_beyond(200, 0.95) == 10
    assert stats.tail_supported(200, 0.95)
    assert stats.samples_beyond(199, 0.95) == 9
    assert not stats.tail_supported(199, 0.95)
    assert stats.tail_supported(1000, 0.99)
    assert not stats.tail_supported(999, 0.99)
    assert stats.highest_supported(230) == 0.95
    assert stats.highest_supported(1000) == 0.99
    assert stats.highest_supported(100) == 0.9
    assert stats.highest_supported(20) == 0.5
    assert stats.highest_supported(19) is None


def test_latency_counts_from_due_and_lateness_from_send():
    # request 1 was sent 30 ms late because the generator stalled: its
    # latency carries the stall, the lateness says who caused it
    recs = [
        {"due": 0.000, "sent": 0.000, "done": 0.010},
        {"due": 0.010, "sent": 0.040, "done": 0.050},
        {"due": 0.020, "sent": 0.020, "done": 0.025},
    ]
    assert stats.latencies_from_due(recs) == pytest.approx([10.0, 40.0, 5.0])
    late = stats.lateness(recs)
    assert late["max_ms"] == pytest.approx(30.0)
    assert late["p50_ms"] == pytest.approx(0.0)
    assert late["late_over_1ms"] == 1
    assert stats.lateness([])["late_over_1ms"] == 0


class _Slow(BaseHTTPRequestHandler):
    def do_GET(self):  # noqa: N802
        time.sleep(0.02)
        body = b"{}"
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):
        pass


def test_open_loop_charges_queueing_to_due_time():
    """One connection, 20 ms service, a request due every 5 ms: the
    backlog grows, so latency from due time grows along the schedule
    while service time stays flat, and later requests go out late."""
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Slow)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        recs = run_open_loop(
            srv.server_address[1], ["/x"] * 8, rate=200.0, max_conns=1,
            timeout=10,
        )
    finally:
        srv.shutdown()
        srv.server_close()
        t.join(timeout=10)
    assert not t.is_alive()
    assert [r["status"] for r in recs] == [200] * 8
    lat = stats.latencies_from_due(recs)
    service = [1000 * (r["done"] - r["sent"]) for r in recs]
    assert lat[-1] > lat[0] + 60  # ~7 x (20 - 5) ms of backlog
    assert max(service) < lat[-1]
    assert stats.lateness(recs)["max_ms"] > 60
    dues = [r["due"] for r in recs]
    assert all(b - a == pytest.approx(0.005) for a, b in zip(dues, dues[1:]))


def test_error_share_counts_failed_refused_and_wrong():
    assert stats.error_share(["ok", "ok", "unchecked", "ok"]) == 0.0
    assert stats.error_share(["ok", "failed", "wrong", "ok"]) == 0.5
    assert stats.error_share(["failed"]) == 1.0
    with pytest.raises(ValueError):
        stats.error_share([])


def test_quartile_spread():
    xs = [float(x) for x in range(1, 11)]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert stats.quartile_spread(xs) == pytest.approx((q3 - q1) / q2)
    assert stats.quartile_spread([5.0, 5.0, 5.0, 5.0]) == 0.0
    # scale-free: the spread of a metric does not depend on its unit
    assert stats.quartile_spread([1000 * x for x in xs]) == pytest.approx(
        stats.quartile_spread(xs)
    )
    with pytest.raises(ValueError):
        stats.quartile_spread([1.0])


def test_answer_comparison():
    exp = [(3, 2.5), (1, 1.0)]
    assert checks.same_ranking([(3, 2.5 * (1 + 1e-12)), (1, 1.0)], exp)
    assert not checks.same_ranking([(1, 1.0), (3, 2.5)], exp)
    assert not checks.same_ranking([(3, 2.5)], exp)
    assert not checks.same_ranking([(3, 2.6), (1, 1.0)], exp)
    assert not checks.same_ranking([(3, 2.5), (3, 2.5)], exp)


def test_answer_comparison_treats_near_equal_scores_as_ties():
    # docs 2 and 7 tie; a one-ulp summation difference may order them
    # either way or pick either one at the cut
    exp = [(5, 3.0), (2, 1.0), (7, 1.0 + 2e-16), (8, 0.5)]
    assert checks.same_ranking([(5, 3.0), (7, 1.0), (2, 1.0), (8, 0.5)], exp)
    assert checks.same_ranking([(5, 3.0), (7, 1.0)], exp, limit=2)
    assert checks.same_ranking([(7, 1.0)], exp, start=1, limit=1)
    # a doc the reference scores differently is still wrong
    assert not checks.same_ranking([(5, 3.0), (8, 1.0)], exp, limit=2)
    assert not checks.same_ranking([(5, 3.0), (9, 1.0)], exp, limit=2)
    assert not checks.same_ranking([(5, 3.0), (2, 1.0), (8, 0.5)], exp)


def test_request_window():
    assert checks.window({"query": "a"}) == (0, checks.K)
    assert checks.window({"page": "3", "resultsPerPage": "10"}) == (20, 10)


def test_query_params_map_to_engine_keywords():
    kw = checks.query_response_kwargs({
        "query": "a b", "optionName": "bm25", "negation": "true",
        "page": "2", "resultsPerPage": "10", "boost": "static",
    })
    assert kw == {
        "option_name": "bm25", "k": 50, "semantics": "or",
        "negation": True, "page": 2, "per_page": 10, "boost": "static",
    }


def test_tracer_counts_and_spans():
    from perfbench.trace import Tracer, durations

    tr = Tracer("t")
    tr.count("engine.term_lookups", 3)
    tr.count("engine.term_lookups", 2)
    assert tr.counts == {"engine.term_lookups": 5}
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    (sid_i, parent_i, *_), (sid_o, parent_o, *_) = tr.spans
    assert parent_i == sid_o and parent_o is None
    assert len(durations(tr.spans, "inner")) == 1


def test_warm_terms_fit_or_overflow_the_cache():
    """serve_head's warm-up fits the server's 1024-term cache; serve_mixed's
    overflows it, so its cache is full and evicting when timing starts."""
    from perfbench.common import CACHE_TERMS
    from perfbench.inputs import HEAD_TERMS, warm_terms

    head = warm_terms("serve_head", 1)
    mixed = warm_terms("serve_mixed", 1)
    assert len(head) <= HEAD_TERMS < CACHE_TERMS
    assert len(mixed) > CACHE_TERMS
    assert warm_terms("serve_mixed", 1) == mixed  # seeded


def test_requested_k_sets_the_window_and_keyword():
    assert checks.window({"query": "a", "k": "10"}) == (0, 10)
    assert checks.query_response_kwargs({"query": "a", "k": "10"})["k"] == 10


def test_wait_gone_ends_every_child():
    """What a run started must not outlive it: ``descendants`` finds a
    child and ``wait_gone`` kills it once its grace time is up."""
    import subprocess
    import sys

    from perfbench.common import descendants, wait_gone

    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    try:
        assert child.pid in descendants()
        t0 = time.monotonic()
        wait_gone([child.pid], timeout=0.2)
        assert time.monotonic() - t0 < 10
        assert child.wait(timeout=10) != 0
        assert child.pid not in descendants()
    finally:
        child.kill()
        child.wait()
