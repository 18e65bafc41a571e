"""The serving process: the program's HTTP server over one index.

The server answers on the local path (``path_mode='local'``), which reads
the index with pyarrow and runs no Spark job, so this process starts no
Spark session: the engine gets ``spark=None``.

Started by run.py, it speaks JSON lines over stdin/stdout:

  <- {"index": DIR}
  -> {"event": "ready", "port": P, "setup_s": S}
  <- {"cmd": "setup", "reps": N}
  -> {"event": "setup", "setup_s": [...]}
  <- {"cmd": "warm", "terms": [...]}
  -> {"event": "warm", "cached": N}
  <- {"cmd": "trace"}                     (traced runs only)
  -> {"event": "tracing"}
  <- {"cmd": "stop"}
  -> {"event": "stopped", "counts": {...}}   (then the process exits)

One set-up is engine open + ``server.start_server`` + first /health
answer. ``ready`` reports the set-up of the server that takes the load;
``setup`` times ``reps`` more, side by side with it, and shuts them
down after they are timed, so only the serving one stays up. run.py
asks for set-ups between the load's rounds, so the samples spread over
the run. ``warm`` empties the served engine's posting-list cache and
loads the given analyzed terms into it through its loader
(``_cached_term_lists``), as serving them would, without scoring them,
so every warm-up leaves the same cache state. ``trace`` installs the
layer wrappers (trace.py) in the running server, so a traced run can
serve the same requests untraced and then traced; the spans are written
to ``--spans`` and the counters sent back when the server stops.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import CACHE_TERMS, prepare_process  # noqa: E402


def _send(msg: dict) -> None:
    sys.stdout.write(json.dumps(msg) + "\n")
    sys.stdout.flush()


def _open_and_serve(index: str):
    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.server import start_server

    t0 = time.perf_counter()
    engine = SearchEngine(None, index, cache_terms=CACHE_TERMS)
    srv = start_server(engine)
    port = srv.server_address[1]
    with urllib.request.urlopen(
        f"http://127.0.0.1:{port}/health", timeout=30
    ) as r:
        r.read()
    return srv, time.perf_counter() - t0


def _shutdown(srv) -> threading.Thread:
    """Stop ``srv`` in the background: ``shutdown`` waits out one
    ``serve_forever`` poll interval (0.5 s)."""

    def stop() -> None:
        srv.shutdown()
        srv.server_close()

    t = threading.Thread(target=stop)
    t.start()
    return t


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--spans", default=None)
    args = ap.parse_args()

    prepare_process(args.scratch)
    # imported before the clock starts: set-up times the engine, not imports
    import wiki_search_engine_spark.engine  # noqa: F401
    import wiki_search_engine_spark.server  # noqa: F401

    tracer = None
    srv = None
    stopping: list[threading.Thread] = []
    try:
        req = json.loads(sys.stdin.readline())
        srv, dt = _open_and_serve(req["index"])
        _send({"event": "ready", "port": srv.server_address[1], "setup_s": dt})
        for line in sys.stdin:  # commands until {"cmd": "stop"} or EOF
            cmd = json.loads(line)
            if cmd["cmd"] == "stop":
                break
            if cmd["cmd"] == "setup":
                for t in stopping:
                    t.join(timeout=30)
                setup, timed = [], []
                for _ in range(cmd["reps"]):
                    extra, dt = _open_and_serve(req["index"])
                    timed.append(extra)
                    setup.append(dt)
                # they stop in the background (each waits out one 0.5 s
                # poll of serve_forever) and are joined before the next
                # set-ups or the exit
                stopping = [_shutdown(x) for x in timed]
                del timed
                _send({"event": "setup", "setup_s": setup})
            if cmd["cmd"] == "warm":
                srv.engine.clear_cache()
                srv.engine._cached_term_lists(cmd["terms"])
                _send({"event": "warm", "cached": len(srv.engine._term_cache)})
            if cmd["cmd"] == "trace" and tracer is None:
                from perfbench.trace import Tracer, install

                tracer = Tracer("server")
                install(tracer)
                _send({"event": "tracing"})
    finally:
        if srv is not None:
            stopping.append(_shutdown(srv))
        for t in stopping:
            t.join(timeout=30)
    if tracer is not None and args.spans:
        tracer.dump(args.spans)
    _send({"event": "stopped", "counts": tracer.counts if tracer else {}})
    return 0


if __name__ == "__main__":
    sys.exit(main())
