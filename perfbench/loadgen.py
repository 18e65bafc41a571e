"""Open-loop HTTP load: requests go out on a fixed-rate schedule whether
or not earlier ones have returned, from at most ``max_conns``
concurrent connections.

Request i is due at ``start + i / rate``. A worker that is free sleeps
until its request is due; when every worker is busy the request waits,
and that wait is charged to it because latency is measured from the due
time (stats.latencies_from_due). ``sent - due`` says how late the
generator itself ran.
"""

from __future__ import annotations

import http.client
import itertools
import threading
import time


def _get(port: int, path: str, rid: int, timeout: float):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
    try:
        conn.request("GET", path, headers={"X-Request-Id": str(rid)})
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def run_open_loop(port: int, paths: list[str], rate: float,
                  max_conns: int = 4, timeout: float = 60.0) -> list[dict]:
    """Send ``paths`` (request targets, e.g. '/query-stem?query=x') at
    ``rate`` per second; one record per request with ``due``, ``sent``,
    ``done`` (perf_counter seconds), ``status`` (-1 = no HTTP answer)
    and ``body``."""
    n = len(paths)
    records: list[dict | None] = [None] * n
    order = itertools.count()
    lock = threading.Lock()
    start = time.perf_counter() + 0.05

    def worker() -> None:
        while True:
            with lock:
                i = next(order)
            if i >= n:
                return
            due = start + i / rate
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            sent = time.perf_counter()
            try:
                status, body = _get(port, paths[i], i, timeout)
            except (OSError, http.client.HTTPException) as e:
                status, body = -1, repr(e).encode()
            records[i] = {
                "i": i, "due": due, "sent": sent,
                "done": time.perf_counter(), "status": status, "body": body,
            }

    threads = [
        threading.Thread(target=worker, daemon=True)
        for _ in range(max_conns)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout + n / rate + 60)
        if t.is_alive():
            raise RuntimeError("load generator worker did not finish")
    return records


def main() -> int:
    """Generator process: ``loadgen.py JOB OUT`` reads the job (port,
    paths, rate, max_conns) from JSON file JOB, runs the schedule and
    writes the records, bodies as text, to JSON file OUT. Keeping the
    generator in its own small process keeps the orchestrator's Spark
    driver off the clock."""
    import json
    import sys

    job_path, out_path = sys.argv[1:3]
    with open(job_path) as f:
        job = json.load(f)
    records = run_open_loop(
        job["port"], job["paths"], job["rate"], job.get("max_conns", 4)
    )
    for r in records:
        r["body"] = r["body"].decode("utf-8", "replace")
    with open(out_path, "w") as f:
        json.dump(records, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
