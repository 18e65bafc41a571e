"""In-memory spans around calls into the program's layers.

A traced run installs wrappers on the public functions of each layer.
Every span records its name, start, end, parent span and request id; the
spans stay in memory and are written out once, when the process ends.

A wrapper has to replace a name where its CALLER looks it up:
``operators.wand`` binds ``decode_block`` at import time, so the wrapper
goes on ``wand.decode_block`` as well as ``codec.decode_block``; the
engine imports ``score_shard_topk`` and ``compact`` imports
``merge_indexes``/``delete_docs`` at call time, so patching the module
attribute is enough for those.

Besides spans, a tracer keeps counters (``count``): the engine's
posting-list cache wrapper counts the distinct terms each lookup asks
for and how many of them were not cached.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, process: str):
        self.process = process
        self.spans: list[tuple] = []
        self.counts: dict[str, int] = {}
        self._count_lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()

    # -- recording ---------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @property
    def request_id(self):
        return getattr(self._local, "rid", None)

    @request_id.setter
    def request_id(self, rid) -> None:
        self._local.rid = rid

    @contextmanager
    def span(self, name: str):
        st = self._stack()
        sid = next(self._ids)
        parent = st[-1] if st else None
        st.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            st.pop()
            # list.append is atomic under the interpreter lock
            self.spans.append((sid, parent, self.request_id, name, t0, t1))

    def count(self, name: str, n: int) -> None:
        with self._count_lock:
            self.counts[name] = self.counts.get(name, 0) + n

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        wrapper.__wrapped_by_tracer__ = True
        return wrapper

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, parent, rid, name, t0, t1 in self.spans:
                f.write(json.dumps({
                    "id": sid, "parent": parent, "request": rid,
                    "name": name, "start": t0, "end": t1,
                    "process": self.process,
                }) + "\n")



def read_spans(path: str) -> list[tuple]:
    """The spans a ``Tracer.dump`` wrote, as Tracer.spans tuples."""
    with open(path) as f:
        return [
            (s["id"], s["parent"], s["request"], s["name"], s["start"], s["end"])
            for s in map(json.loads, f)
        ]


def durations(spans, name: str) -> list[float]:
    """Durations (s) of every span called ``name``."""
    return [t1 - t0 for _s, _p, _r, n, t0, t1 in spans if n == name]


def _patch_attr(tracer: Tracer, owner, attr: str, name: str, done: dict):
    fn = getattr(owner, attr)
    key = id(fn)
    if getattr(fn, "__wrapped_by_tracer__", False):
        return
    if key not in done:
        done[key] = tracer.wrap(name, fn)
    setattr(owner, attr, done[key])


def install(tracer: Tracer) -> None:
    """Wrap the serving, storage, codec, kernel, tiered and merge entry
    points for ``tracer``. Idempotent."""
    import pyarrow.parquet as pq

    from wiki_search_engine_spark import engine, server, tiered
    from wiki_search_engine_spark.operators import codec, wand
    from wiki_search_engine_spark.plans import merge

    done: dict = {}
    targets = [
        (pq, "read_table", "parquet.read_table"),
        (codec, "decode_block", "codec.decode_block"),
        (wand, "decode_block", "codec.decode_block"),
        (wand, "score_shard_topk", "wand.score_shard_topk"),
        (engine.SearchEngine, "query_response", "engine.query_response"),
        (engine.SearchEngine, "lookup_docs", "engine.lookup_docs"),
        (engine.SearchEngine, "term_df", "engine.term_df"),
        (tiered.TieredEngine, "query_response", "tiered.query_response"),
        (merge, "merge_indexes", "merge.merge_indexes"),
        (merge, "delete_docs", "merge.delete_docs"),
    ]
    for owner, attr, name in targets:
        _patch_attr(tracer, owner, attr, name, done)

    # the posting-list cache: distinct terms asked for and cache misses
    # (a term absent from the LRU when the lookup starts)
    eng = engine.SearchEngine
    if not getattr(eng._cached_term_lists, "__wrapped_by_tracer__", False):
        lists = eng._cached_term_lists

        def _cached_term_lists(self, terms):
            want = list(dict.fromkeys(terms))
            tracer.count("engine.term_lookups", len(want))
            tracer.count("engine.term_misses", sum(
                1 for t in want if t not in self._term_cache))
            with tracer.span("engine.cached_term_lists"):
                return lists(self, terms)

        _cached_term_lists.__wrapped_by_tracer__ = True
        eng._cached_term_lists = _cached_term_lists

    handler = server._Handler
    if not getattr(handler.do_GET, "__wrapped_by_tracer__", False):
        inner = handler.do_GET

        def do_GET(self):  # noqa: N802 (stdlib handler contract)
            tracer.request_id = self.headers.get("X-Request-Id")
            try:
                with tracer.span("server.do_GET"):
                    inner(self)
            finally:
                tracer.request_id = None

        do_GET.__wrapped_by_tracer__ = True
        handler.do_GET = do_GET
