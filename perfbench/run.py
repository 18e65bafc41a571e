"""Layered end-to-end benchmark of the search engine.

    python3 perfbench/run.py --workload serve_head --seed 1 --seconds 10 --trace 0

One run is one index lifecycle on a seeded corpus:

1. build   -- ``plans.build.build_index`` over the corpus with ``text``
              NULL (html extraction included), every stage on, in a
              fresh Spark session, as the build command runs it;
2. measure -- ``--seconds`` of open-loop HTTP load at the workload's
              fixed rate on the program's server, in its own process,
              cut into rounds; after each, takedown batches land as
              deletes segments and are published and queried through
              ``TieredEngine.query_response``, and between rounds the
              server's set-up is timed. Traced runs add a crawl batch
              (``SearchEngine.build``) and ``tiered.compact``.

Answers are checked (checks.py); a failed, refused or wrong answer is a
failed operation. The last stdout line is the JSON summary; everything
else goes to ``perfbench/results/<workload>-seed<N>-trace<T>.json``.
With ``--trace 1`` the HTTP requests are served twice, untraced and then
with the layer wrappers (trace.py) installed, from the same cache state;
the difference is the trace overhead. Spans are written next to the
result file and the summary carries the per-layer metrics instead of the
end-to-end ones.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import queue
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import (  # noqa: E402
    BENCH_DIR, CACHE_TERMS, MASTER, RESULTS_DIR, ROOT, WORK_DIR,
    cpu_ticks, descendants, prepare_process, spark_session, steal_share,
    stop_spark, wait_gone,
)

# corpus and refresh shape: 48 runs of the two workloads must fit 3,420 s
N_DOCS = 400
PAGERANK_ITERS = 2
BATCH_DOCS = 40
ROUNDS = 12  # the timed window's rounds (Run.measure)
SETUP_REPS = 5  # server set-ups per round, besides the serving one's
PUBLISHES_PER_ROUND = 3
TAKEDOWN_DOCS = 4
TIERED_QUERIES = 10  # per round
CRAWL_QUERIES = 60  # over the crawl batch, traced runs
EXHAUSTIVE_SAMPLE = 1
WARM_TIERED = 12  # untimed tiered queries before the first publish
WARM_REQUESTS = 12  # untimed HTTP requests before the cache warm-up
KERNEL_SAMPLE = 64

# per workload: the fixed open-loop rate (requests/s), under half the
# closed-loop capacity ``--capacity`` measured on seed 1 (53.0 and 50.1
# requests/s, see README.md; 20/s over 10 s leaves 10 samples beyond the
# p95), and the build options of its index.
# serve_head builds with the defaults; serve_mixed adds every sidecar
# its request classes read (positions, PageRank static rank).
WORKLOADS = {
    "serve_head": {"rate": 20.0, "build": {}},
    "serve_mixed": {
        "rate": 20.0,
        "build": {"positions": True, "pagerank_iters": PAGERANK_ITERS},
    },
}

END_TO_END_UNITS = {
    "setup_s": "s",
    "build_docs_per_s": "docs/s",
    "index_bytes_per_doc": "bytes/doc",
    "query_p50_ms": "ms",
    "publish_s": "s",
    "tiered_query_p50_ms": "ms",
}
# measured every run and written to the result file, but no BENCHMARK.json
# metric: on a shared VM it follows the hypervisor's stalls more than the
# program (README.md, "Steadiness")
RESULT_FILE_UNITS = {"query_p95_ms": "ms"}

# manifest units, postings_g* summed into one stage
BUILD_STAGES = (
    "tokens", "docs", "stats", "postings", "term_stats", "title_tf",
    "positions", "static_rank",
)

CORPUS_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(path)
        for f in files
    )


class ServerProcess:
    """serve_proc.py as a child process speaking JSON lines."""

    def __init__(self, scratch: str, spans: str):
        self.log_path = os.path.join(scratch, "server.log")
        self._log = open(self.log_path, "w")
        self.proc = subprocess.Popen(
            [
                sys.executable, os.path.join(BENCH_DIR, "serve_proc.py"),
                "--scratch", scratch, "--spans", spans,
            ],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self._log, text=True, cwd=ROOT,
        )
        self._lines: queue.Queue = queue.Queue()
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            self._lines.put(line)
        self._lines.put("")

    def send(self, msg: dict) -> None:
        self.proc.stdin.write(json.dumps(msg) + "\n")
        self.proc.stdin.flush()

    def receive(self, timeout: float = 120.0) -> dict:
        line = self._lines.get(timeout=timeout)
        if not line:
            with open(self.log_path) as f:
                tail = f.read()[-2000:]
            raise RuntimeError(f"server process exited:\n{tail}")
        return json.loads(line)

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.close()
            except OSError:
                pass
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait(timeout=30)
        self._reader.join(timeout=10)
        self._log.close()


class Run:
    def __init__(self, args, scratch: str):
        from perfbench.trace import Tracer

        self.args = args
        self.workload = args.workload
        self.seed = args.seed
        self.scratch = scratch
        self.trace = bool(args.trace)
        self.tracer = Tracer("main") if self.trace else None
        self.rng = random.Random(f"run-{self.workload}-{self.seed}")
        stem = f"{self.workload}-seed{self.seed}"
        self.spans_server = os.path.join(RESULTS_DIR, f"{stem}-spans-server.jsonl")
        self.spans_main = os.path.join(RESULTS_DIR, f"{stem}-spans-main.jsonl")
        self.metrics: dict[str, float] = {}
        self.analyzed: dict[str, list[str]] = {}  # text -> reference tokens
        self.layers: dict[str, tuple[float, str]] = {}
        self.context: dict = {}
        self.outcomes: list[tuple[str, str, str]] = []  # (phase, class, outcome)
        self.errors: list[str] = []
        self.server: ServerProcess | None = None
        self.spark = None

    # -- helpers -----------------------------------------------------------
    def path(self, *parts: str) -> str:
        return os.path.join(self.scratch, *parts)

    def span(self, name: str):
        from contextlib import nullcontext

        return self.tracer.span(name) if self.tracer else nullcontext()

    def layer(self, name: str, value: float, unit: str) -> None:
        self.layers[name] = (float(value), unit)

    def outcome(self, phase: str, cls: str, result: str, err=None) -> None:
        self.outcomes.append((phase, cls, result))
        if err is not None and len(self.errors) < 20:
            self.errors.append(f"{phase}/{cls}: {err}")

    def close(self) -> None:
        try:
            if self.server is not None:
                self.server.close()
        finally:
            if self.spark is not None:
                stop_spark(self.spark)

    # -- phases ------------------------------------------------------------
    def execute(self) -> None:
        import platform

        from concurrent.futures import ThreadPoolExecutor

        import pyarrow
        import pyspark

        from perfbench import inputs

        self.server = ServerProcess(self.scratch, self.spans_server)
        # the corpus is generated while the JVM starts
        t0 = time.perf_counter()
        with ThreadPoolExecutor(1) as pool:
            corpus = pool.submit(inputs.corpus_frame, N_DOCS, self.seed)
            self.spark = spark_session("perfbench", self.scratch)
            spark_start_s = time.perf_counter() - t0
            self.frame = corpus.result()
        self.context.update(
            spark_start_s=spark_start_s,
            nproc=os.cpu_count(), master=MASTER,
            pyspark=pyspark.__version__, pyarrow=pyarrow.__version__,
            python=platform.python_version(), corpus_docs=N_DOCS,
            workload=self.workload, seed=self.seed,
            seconds=self.args.seconds, trace=self.trace,
        )
        if self.tracer:
            from perfbench.trace import install

            install(self.tracer)
        if self.args.capacity:
            phases = [self.build, self.prepare, self.capacity]
        else:
            phases = [self.build, self.prepare, self.measure,
                      self.finish_serve, self.finish_refresh]
        if self.tracer:
            phases += [self.crawl_and_compact, self.kernels]
        walls = self.context["phase_s"] = {}
        ticks = cpu_ticks()
        for phase in phases:
            t0 = time.perf_counter()
            phase()
            walls[phase.__name__] = time.perf_counter() - t0
        self.context["cpu_steal_share"] = steal_share(ticks, cpu_ticks())
        if self.tracer:
            self.tracer.dump(self.spans_main)

    def build(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from perfbench import inputs
        from wiki_search_engine_spark.plans.build import build_index

        corpus_dir = self.path("corpus")
        os.makedirs(corpus_dir)
        schema = pa.schema([
            ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
        ])
        pq.write_table(
            pa.Table.from_pandas(
                inputs.build_input(self.frame), schema=schema,
                preserve_index=False,
            ),
            os.path.join(corpus_dir, "part-0.parquet"),
        )
        self.index = self.path("index")
        t0 = time.perf_counter()
        with self.span("build.build_index"):
            manifest = build_index(
                self.spark, self.spark.read.parquet(corpus_dir), self.index,
                **WORKLOADS[self.workload]["build"],
            )
        build_s = time.perf_counter() - t0
        index_bytes = _dir_bytes(self.index)
        self.metrics["build_docs_per_s"] = N_DOCS / build_s
        self.metrics["index_bytes_per_doc"] = index_bytes / N_DOCS
        self.context.update(build_s=build_s, index_bytes=index_bytes)
        # a stage the workload's build options skip reads 0
        stages = {st: [0.0, 0] for st in BUILD_STAGES}
        for unit, e in manifest.entries.items():
            if unit == "all":
                continue
            st = stages.setdefault(
                "postings" if unit.startswith("postings_g") else unit, [0.0, 0]
            )
            st[0] += (e.get("wall_ms") or 0) / 1000.0
            st[1] += e.get("bytes_out") or 0
        for stage, (sec, nbytes) in stages.items():
            self.layer(f"build.{stage}_s", sec, "s")
            if stage != "stats":  # the manifest records no stats bytes
                self.layer(f"build.{stage}_bytes", nbytes, "bytes")
        self.check_build(manifest)

    def check_build(self, manifest) -> None:
        """N matches the corpus, every stage is done, and the staged
        tokens of a sample equal the analyzer over ``extract_text`` of
        its html (the build keeps no text column, so its extraction is
        compared through the exact token multiset it produced)."""
        from collections import Counter

        import pyarrow.dataset as pads
        import pyarrow.parquet as pq

        from wiki_search_engine_spark.functions.analyzer import tokens_for
        from wiki_search_engine_spark.functions.extraction import extract_text

        problems = []
        n = int(pq.read_table(f"{self.index}/stats").column("N")[0].as_py())
        if n != N_DOCS:
            problems.append(f"stats.N={n} != {N_DOCS}")
        not_done = [
            u for u, e in manifest.entries.items() if e.get("status") != "done"
        ]
        if not_done:
            problems.append(f"stages not done: {not_done}")
        self.url_docid = self.docid_map(self.index)
        rows = self.rng.sample(range(N_DOCS), 8)
        sample = {
            self.url_docid[self.frame.url[i]]: self.frame.html[i] for i in rows
        }
        tbl = pads.dataset(f"{self.index}/tokens", partitioning="hive").to_table(
            columns=["docid", "term", "tf"],
            filter=pads.field("docid").isin(list(sample)),
        ).to_pylist()
        got: dict[int, Counter] = {d: Counter() for d in sample}
        for r in tbl:
            got[r["docid"]][r["term"]] += r["tf"]
        for d, html in sample.items():
            exp = Counter(tokens_for(extract_text(html.decode("utf-8")), "porter"))
            if got[d] != exp:
                problems.append(f"docid {d}: staged tokens != extract_text")
        self.outcome("build", "build", "wrong" if problems else "ok",
                     "; ".join(problems) or None)

    @staticmethod
    def docid_map(index_dir: str) -> dict[str, int]:
        import pyarrow.parquet as pq

        t = pq.read_table(f"{index_dir}/docs", columns=["url", "docid"])
        return dict(zip(t.column("url").to_pylist(), t.column("docid").to_pylist()))

    def oracle(self, texts: dict[str, str]):
        """The reference scorer over ``url -> text``. Each text is
        analyzed once per run: the refresh checks build one scorer per
        round, over corpora that differ by a few docs."""
        from wiki_search_engine_spark.oracle_py.oracle import IndexOracle

        memo = self.analyzed

        class Oracle(IndexOracle):
            def _analyze(self, text: str) -> list[str]:
                if text not in memo:
                    memo[text] = super()._analyze(text)
                return memo[text]

        o = Oracle(stem=True)
        for url, text in texts.items():
            o.add_document(self.url_docid[url], text)
        return o

    def prepare(self) -> None:
        """Untimed: the references, the request schedule, the serving
        process with its first set-up, its warm-up, and the refresh's
        inputs."""
        from perfbench import checks, inputs
        from wiki_search_engine_spark.engine import SearchEngine

        engine = SearchEngine(self.spark, self.index)
        if self.workload == "serve_mixed":
            t0 = time.perf_counter()
            engine.set_synonyms([inputs.synonym_group(self.seed)])
            engine.build_spellindex()
            self.context["mixed_prep_s"] = time.perf_counter() - t0
        texts = dict(zip(self.frame.url, self.frame.text))
        self.ref = checks.Reference(self.oracle(texts), engine, EXHAUSTIVE_SAMPLE)
        stream = inputs.QueryStream(self.workload, self.seed, self.frame)
        self.rate = WORKLOADS[self.workload]["rate"]
        n = max(ROUNDS, int(self.rate * self.args.seconds))
        self.reqs = [stream.next() for _ in range(n)]
        self.paths = [f"/query-stem?{inputs.query_string(p)}"
                      for _c, p in self.reqs]
        self.warm = {"cmd": "warm",
                     "terms": inputs.warm_terms(self.workload, self.seed)}
        first = inputs.QueryStream(self.workload, self.seed, self.frame,
                                   stream="warm")
        first_paths = [f"/query-stem?{inputs.query_string(first.next()[1])}"
                       for _ in range(WARM_REQUESTS)]

        self.server.send({"index": self.index})
        ready = self.server.receive()
        self.port = ready["port"]
        self.setup_samples = [ready["setup_s"]]
        t0 = time.perf_counter()
        # a few requests of the workload take the server past its
        # first-request set-up, then the cache is filled
        self.generate(self.port, first_paths, 1e9)
        self.server.send(self.warm)
        self.context["cached_terms_at_start"] = self.server.receive()["cached"]
        self.context["warm_s"] = time.perf_counter() - t0
        self.refresh_prepare()

    def capacity(self) -> None:
        """Closed-loop capacity probe: 300 requests all due at once."""
        paths = (self.paths * (300 // len(self.paths) + 1))[:300]
        records = self.generate(self.port, paths, 1e9)
        span = max(r["done"] for r in records) - min(r["sent"] for r in records)
        self.context["capacity_rps"] = len(records) / span
        self.server.send({"cmd": "stop"})
        self.server.receive()

    def measure(self) -> None:
        """The timed window, in ROUNDS rounds so that every end-to-end
        metric samples the whole window rather than one stretch of it
        (the box's speed drifts over seconds): per round, SETUP_REPS
        server set-ups, 1/ROUNDS of the HTTP schedule at the workload's
        rate, then PUBLISHES_PER_ROUND takedown publishes and a tiered
        query pass."""
        n = len(self.paths)
        bounds = [n * r // ROUNDS for r in range(ROUNDS + 1)]
        self.records: list[dict] = []
        serve_ticks = [0, 0]
        for r in range(ROUNDS):
            self.server.send({"cmd": "setup", "reps": SETUP_REPS})
            self.setup_samples += self.server.receive()["setup_s"]
            ticks = cpu_ticks()
            with self.span("loadgen.open_loop"):
                self.records += self.generate(
                    self.port, self.paths[bounds[r]:bounds[r + 1]], self.rate)
            t1 = cpu_ticks()
            serve_ticks = [a + b - c for a, b, c in zip(serve_ticks, t1, ticks)]
            done = len(self.tiered_times)
            self.refresh_round(r)
            self.context.setdefault("tiered_p50_by_round_ms", []).append(
                statistics.median(self.tiered_times[done:] or [float("nan")]))
        self.context["serve_cpu_steal_share"] = steal_share((0, 0), serve_ticks)
        self.metrics["setup_s"] = statistics.median(self.setup_samples)
        self.context["setup_samples_s"] = self.setup_samples

    def finish_serve(self) -> None:
        """Serve metrics and answer checks; a traced run first serves the
        whole schedule again, traced, from the same cache state."""
        from perfbench import checks, stats

        passes = [("serve", self.records)]
        if self.trace:
            self.server.send(self.warm)
            self.server.receive()
            self.server.send({"cmd": "trace"})
            self.server.receive()
            passes.append(("serve_traced",
                           self.generate(self.port, self.paths, self.rate)))
        self.server.send({"cmd": "stop"})
        counts = self.server.receive()["counts"]
        t0 = time.perf_counter()
        records, n = self.records, len(self.records)
        lat = stats.latencies_from_due(records)
        self.metrics["query_p50_ms"] = stats.percentile(lat, 0.5)
        self.metrics["query_p95_ms"] = stats.percentile(lat, 0.95)
        self.context["query_p50_by_round_ms"] = [
            stats.percentile(lat[n * r // ROUNDS:n * (r + 1) // ROUNDS], 0.5)
            for r in range(ROUNDS)
        ]
        by_class: dict[str, list[float]] = {}
        for (cls, _p), r in zip(self.reqs, records):
            by_class.setdefault(cls, []).append(1000.0 * (r["done"] - r["sent"]))
        self.context["service_ms_by_class"] = {
            c: {"n": len(v), "p50": stats.percentile(v, 0.5), "max": max(v)}
            for c, v in sorted(by_class.items())
        }
        self.context.update(
            rate_rps=self.rate, requests=n,
            p95_has_10_beyond=stats.tail_supported(n, 0.95),
            highest_supported_percentile=stats.highest_supported(n),
            generator_lateness=stats.lateness(records),
        )
        for phase, recs in passes:
            for (cls, params), rec in zip(self.reqs, recs):
                try:
                    res = checks.judge(
                        cls, params, rec["status"], rec["body"], self.ref)
                    err = None if res in ("ok", "unchecked") else (
                        f"{params} -> {rec['status']} {rec['body'][:200]}")
                except Exception as e:  # a malformed answer is a failed one
                    res, err = "failed", repr(e)
                self.outcome(phase, cls, res, err)
        self.context["serve_checks_s"] = time.perf_counter() - t0
        if self.trace:
            traced = passes[1][1]
            lat_t = stats.latencies_from_due(traced)
            self.overhead = {
                name: (self.metrics[name], stats.percentile(lat_t, q))
                for name, q in (("query_p50_ms", 0.5), ("query_p95_ms", 0.95))
            }
            self.serve_layers(traced, counts)

    def generate(self, port: int, paths: list[str], rate: float) -> list[dict]:
        """Run the open-loop schedule from the generator process."""
        job, out = self.path("loadgen-job.json"), self.path("loadgen-out.json")
        with open(job, "w") as f:
            json.dump({"port": port, "paths": paths, "rate": rate}, f)
        timeout = 120 + len(paths) / min(rate, 1e3)
        subprocess.run(
            [sys.executable, os.path.join(BENCH_DIR, "loadgen.py"), job, out],
            check=True, timeout=timeout, cwd=ROOT,
        )
        with open(out) as f:
            return json.load(f)

    def serve_layers(self, records, counts: dict) -> None:
        from perfbench import stats
        from perfbench.trace import durations, read_spans

        measures: dict[str, list[float]] = {}
        overhead = []
        for r in records:
            if r["status"] != 200:
                continue
            prof = json.loads(r["body"])["profile"]["measures"]
            m = {x["name"]: x["duration_ms"] for x in prof}
            for k, v in m.items():
                measures.setdefault(k, []).append(v)
            overhead.append(1000.0 * (r["done"] - r["sent"]) - m["total_request"])
        self.layer("server.overhead_ms", stats.median(overhead), "ms")
        self.layer("engine.term_cache_miss_share",
                   counts.get("engine.term_misses", 0)
                   / max(1, counts.get("engine.term_lookups", 0)), "share")
        for name in ("stem_query", "get_documents", "fetch_results"):
            self.layer(f"engine.{name}_ms", stats.median(measures[name]), "ms")

        # spans of the HTTP requests (set-up's /health carries no id)
        spans = [s for s in read_spans(self.spans_server) if s[2] is not None]
        q = max(1, sum(1 for s in spans if s[3] == "server.do_GET"))

        def count(name: str) -> int:
            return len(durations(spans, name))

        def per_call(name: str, scale: float) -> float:
            d = durations(spans, name)
            return scale * stats.median(d) if d else 0.0

        self.layer("engine.lookup_docs_ms", per_call("engine.lookup_docs", 1e3), "ms")
        self.layer("engine.term_df_calls_per_query",
                   count("engine.term_df") / q, "count")
        self.layer("parquet.read_table_calls_per_query",
                   count("parquet.read_table") / q, "count")
        self.layer("parquet.read_table_ms", per_call("parquet.read_table", 1e3), "ms")
        self.layer("codec.blocks_decoded_per_query",
                   count("codec.decode_block") / q, "count")
        self.layer("codec.decode_block_us", per_call("codec.decode_block", 1e6), "us")
        self.layer("wand.score_shard_topk_calls_per_query",
                   count("wand.score_shard_topk") / q, "count")
        self.layer("wand.score_shard_topk_ms",
                   per_call("wand.score_shard_topk", 1e3), "ms")

    def tiered_sets(self):
        """One tiered query set per round (TIERED_QUERIES each) and one
        of CRAWL_QUERIES for the crawl batch of traced runs: serve_head's
        head bag queries, or serve_mixed's classes round robin (fuzzy
        left out: it needs a spell layout per segment, which the refresh
        does not build)."""
        from perfbench import inputs

        stream = inputs.QueryStream(self.workload, self.seed, self.frame,
                                    stream="tiered")
        classes = [c for c, _w in inputs.MIXED_CLASSES if c != "fuzzy"]
        dealt = itertools.count()

        def one():
            if self.workload == "serve_head":
                return stream.next()
            cls = classes[next(dealt) % len(classes)]
            return cls, stream.mixed(cls)

        sets = [[one() for _ in range(TIERED_QUERIES)] for _ in range(ROUNDS)]
        return sets + [[one() for _ in range(CRAWL_QUERIES)]]

    @staticmethod
    def tiered_pass(te, queries, times: list) -> list:
        """Serve ``queries`` through ``te.query_response`` in order and
        record the latency of each answered one in ``times``. A raised
        exception is the answer the HTTP layer would turn into a 500: it
        counts as a failure, and its latency is left out."""
        from perfbench import checks

        answers = []
        for cls, params in queries:
            t0 = time.perf_counter()
            try:
                resp = te.query_response(
                    params["query"], **checks.query_response_kwargs(params)
                )
            except Exception as e:
                resp = e
            else:
                times.append(1000.0 * (time.perf_counter() - t0))
            answers.append(resp)
        return answers

    def refresh_prepare(self) -> None:
        """Untimed: the refresh's inputs, and a first tiered open and
        query pass (a process's first ones are slower than later ones:
        lazy imports and set-up; a serving process is past them)."""
        from perfbench import inputs
        from wiki_search_engine_spark import tiered

        sets = self.tiered_sets()
        self.round_queries, self.crawl_queries = sets[:-1], sets[-1]
        self.probe = inputs.head_probe(self.seed)
        te = tiered.TieredEngine(self.spark, [self.index], cache_terms=CACHE_TERMS)
        self.tiered_pass(te, [("bag", self.probe)]
                         + self.crawl_queries[:WARM_TIERED], [])
        self.batch = inputs.refresh_batch(N_DOCS, BATCH_DOCS, self.seed)
        self.takedown_sets = inputs.takedowns(
            N_DOCS, ROUNDS * PUBLISHES_PER_ROUND, TAKEDOWN_DOCS, self.seed,
            set(self.batch.url),
        )
        self.publishes: list[float] = []
        self.round_answers: list[tuple[list[str], list]] = []
        self.tiered_times: list[float] = []
        self.opens: list[float] = []

    def publish(self, segments: list[str], t0: float):
        """Open ``TieredEngine`` over ``segments`` and answer the probe;
        the seconds from ``t0`` (the batch landing) to that answer are
        one publish. Returns (engine, publish seconds)."""
        from perfbench import checks
        from wiki_search_engine_spark import tiered

        t1 = time.perf_counter()
        with self.span("tiered.open"):
            te = tiered.TieredEngine(self.spark, segments, cache_terms=CACHE_TERMS)
        self.opens.append(time.perf_counter() - t1)
        te.query_response(self.probe["query"],
                          **checks.query_response_kwargs(self.probe))
        return te, time.perf_counter() - t0

    def refresh_round(self, r: int) -> None:
        """PUBLISHES_PER_ROUND independent takedown batches, each landed
        as a deletes segment over the base and published (probe query
        of the same shape for every seed, inputs.head_probe); then the
        round's tiered query set over the last of them. The answers are
        checked in finish_refresh."""
        from wiki_search_engine_spark import tiered

        for j in range(PUBLISHES_PER_ROUND):
            i = r * PUBLISHES_PER_ROUND + j
            gone = self.takedown_sets[i]
            self.dele = self.path(f"del{i}")
            t0 = time.perf_counter()
            with self.span("tiered.write_deletes_segment"):
                tiered.write_deletes_segment(
                    self.dele, docids=[self.url_docid[u] for u in gone]
                )
            te, took = self.publish([self.index, self.dele], t0)
            self.publishes.append(took)
        answers = self.tiered_pass(te, self.round_queries[r], self.tiered_times)
        self.round_answers.append((gone, answers))

    def finish_refresh(self) -> None:
        """Every round's tiered answers against the reference scorer over
        the corpus live in that round's last publish, and the refresh
        metrics."""
        corpus = dict(zip(self.frame.url, self.frame.text))
        for queries, (gone, answers) in zip(self.round_queries,
                                            self.round_answers):
            texts = {u: t for u, t in corpus.items() if u not in set(gone)}
            live = self.oracle(texts)
            for (cls, params), resp in zip(queries, answers):
                self.outcome("tiered", cls, *self.judge_tiered(
                    cls, params, resp, live, None))
        self.live_texts = texts
        self.metrics["publish_s"] = statistics.median(self.publishes)
        self.metrics["tiered_query_p50_ms"] = statistics.median(self.tiered_times)
        self.context.update(publish_samples_s=self.publishes,
                            tiered_queries=len(self.tiered_times))

    def crawl_and_compact(self) -> None:
        """Traced runs only: a crawl batch (re-crawled and new urls)
        lands as an index segment over [base, last deletes], serves
        CRAWL_QUERIES tiered queries, and the three segments are
        compacted; every answer must equal the reference scorer (bag
        classes) and the compacted index. A segment build and two merge
        folds cost 30-50 s of Spark, which only the few traced runs can
        carry."""
        from perfbench import inputs, stats
        from perfbench.trace import durations
        from wiki_search_engine_spark import tiered
        from wiki_search_engine_spark.engine import SearchEngine

        seg = self.path("seg0")
        segments = [self.index, self.dele, seg]
        df = self.spark.createDataFrame(inputs.build_input(self.batch),
                                        CORPUS_SCHEMA)
        t0 = time.perf_counter()
        with self.span("tiered.segment_build"):
            SearchEngine.build(
                self.spark, df, seg,
                positions=WORKLOADS[self.workload]["build"].get(
                    "positions", False),
            )
        te, crawl_s = self.publish(segments, t0)
        final = self.tiered_pass(te, self.crawl_queries, [])
        self.context["crawl_publish_s"] = crawl_s
        self.url_docid.update(self.docid_map(seg))
        texts = dict(self.live_texts)
        texts.update(zip(self.batch.url, self.batch.text))
        live = self.oracle(texts)
        with self.span("tiered.compact"):
            tiered.compact(self.spark, segments, self.path("compacted"),
                           work_dir=self.path("compact_work"))
        compacted = SearchEngine(self.spark, self.path("compacted"))
        for (cls, params), resp in zip(self.crawl_queries, final):
            self.outcome("tiered", cls, *self.judge_tiered(
                cls, params, resp, live, compacted))

        spans = {n: durations(self.tracer.spans, n) for n in (
            "tiered.segment_build", "tiered.write_deletes_segment",
            "merge.merge_indexes", "merge.delete_docs")}
        self.layer("tiered.segment_build_s", spans["tiered.segment_build"][0], "s")
        self.layer("tiered.write_deletes_segment_s",
                   stats.median(spans["tiered.write_deletes_segment"]), "s")
        self.layer("tiered.open_s", stats.median(self.opens), "s")
        ms: dict[str, list[float]] = {}
        for resp in final:
            if isinstance(resp, dict):
                for x in resp["profile"]["measures"]:
                    ms.setdefault(x["name"], []).append(x["duration_ms"])
        self.layer("tiered.get_documents_ms", stats.median(ms["get_documents"]), "ms")
        self.layer("tiered.fetch_results_ms", stats.median(ms["fetch_results"]), "ms")
        self.context["compact_s"] = durations(self.tracer.spans, "tiered.compact")[0]
        self.layer("merge.merge_indexes_s", sum(spans["merge.merge_indexes"]), "s")
        self.layer("merge.delete_docs_s", sum(spans["merge.delete_docs"]), "s")

    @staticmethod
    def judge_tiered(cls, params, resp, live, compacted):
        """(outcome, error) for one tiered answer: bag-scored classes
        against the reference scorer over the live corpus, and every
        class against the compacted index when there is one."""
        from perfbench import checks

        if isinstance(resp, Exception):  # the server would answer 500
            return "failed", repr(resp)
        got = checks.pairs(resp)
        win = checks.window(params)
        checked = False
        kw = checks.query_response_kwargs(params)
        if cls in ("bag", "highlight", "facets", "page"):
            exp = live.search(params["query"], k=None, mode=kw["option_name"])
            if not checks.same_ranking(got, exp, *win):
                return "wrong", f"{params}: tiered != reference scorer"
            checked = True
        if compacted is not None:
            kw.pop("page", None)
            kw.pop("per_page", None)
            kw["k"] = 2 * checks.K
            try:
                exp = checks.pairs(compacted.query_response(params["query"], **kw))
            except Exception as e:
                return "failed", f"compacted index: {e!r}"
            if not checks.same_ranking(got, exp, *win):
                return "wrong", f"{params}: tiered != compacted"
            checked = True
        return ("ok" if checked else "unchecked"), None

    def kernels(self) -> None:
        """Driver-side throughput of the build's Python kernels on a
        seeded sample of this run's corpus (executor workers cannot be
        wrapped from the driver)."""
        import numpy as np
        import pandas as pd

        from perfbench import stats
        from wiki_search_engine_spark.functions.analyzer import tokenize_frame
        from wiki_search_engine_spark.functions.extraction import extract_text
        from wiki_search_engine_spark.operators.codec import encode_partition_flat

        rows = self.rng.sample(range(N_DOCS), KERNEL_SAMPLE)
        html = [self.frame.html[i].decode("utf-8") for i in rows]

        def rate(fn, units: int) -> float:
            walls = []
            for _ in range(3):
                t0 = time.perf_counter()
                fn()
                walls.append(time.perf_counter() - t0)
            return units / stats.median(walls)

        texts = [extract_text(h) for h in html]
        self.layer("extraction.extract_text_docs_per_s",
                   rate(lambda: [extract_text(h) for h in html], len(html)),
                   "docs/s")
        docids = pd.Series(np.arange(len(texts), dtype=np.int64))
        series = pd.Series(texts)
        self.layer("analyzer.tokenize_frame_docs_per_s",
                   rate(lambda: tokenize_frame(docids, series, True), len(texts)),
                   "docs/s")
        tok = tokenize_frame(docids, series, True).sort_values(["term", "docid"])
        terms = tok["term"].to_numpy()
        new_group = np.ones(len(terms), dtype=bool)
        new_group[1:] = terms[1:] != terms[:-1]
        args = (
            new_group, tok["docid"].to_numpy(np.int64),
            tok["tf"].to_numpy(np.int64), tok["doc_len"].to_numpy(np.int64),
        )
        avgdl = float(tok.groupby("docid")["doc_len"].first().mean())
        self.layer("codec.encode_partition_flat_postings_per_s",
                   rate(lambda: encode_partition_flat(*args, avgdl=avgdl), len(terms)),
                   "postings/s")

    # -- summary -----------------------------------------------------------
    def summary(self) -> dict:
        from perfbench import stats

        attempted = len(self.outcomes)
        bad = [o for o in self.outcomes if o[2] not in ("ok", "unchecked")]
        by_class: dict[str, dict[str, int]] = {}
        for phase, cls, res in self.outcomes:
            c = by_class.setdefault(f"{phase}/{cls}", {})
            c[res] = c.get(res, 0) + 1
        result = {
            "correct": not any(o[2] == "wrong" for o in self.outcomes),
            "attempted": attempted,
            "failed": len(bad),
            "error_share": stats.error_share(o[2] for o in self.outcomes),
            "outcomes": by_class,
            "errors": self.errors,
            "end_to_end": {
                k: {"value": self.metrics[k], "unit": u}
                for k, u in END_TO_END_UNITS.items() if k in self.metrics
            },
            "result_file_only": {
                k: {"value": self.metrics[k], "unit": u}
                for k, u in RESULT_FILE_UNITS.items() if k in self.metrics
            },
            "per_layer": {
                k: {"value": v, "unit": u} for k, (v, u) in sorted(self.layers.items())
            },
            "context": self.context,
        }
        if self.trace:
            result["spans"] = [self.spans_server, self.spans_main]
            result["trace_overhead"] = self.trace_overhead()
        return result

    def trace_overhead(self) -> dict:
        """The HTTP latencies of the traced pass against the untraced
        pass of the same requests, index and cache state in this run.
        (The other end-to-end metrics carry one outer span per call, so
        their tracing cost is not separated from run-to-run spread.)"""
        return {
            k: {"untraced": u, "traced": t, "share": t / u - 1.0}
            for k, (u, t) in self.overhead.items()
        }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--capacity", action="store_true",
                    help="closed-loop capacity probe of the serve phase "
                         "(how the fixed rates were chosen); no refresh")
    args = ap.parse_args(argv)

    scratch = os.path.join(
        WORK_DIR, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    )
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    os.makedirs(RESULTS_DIR, exist_ok=True)
    run = None
    # a termination signal unwinds through the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        prepare_process(scratch)
        import wiki_search_engine_spark  # noqa: F401  (fail before any work)

        run = Run(args, scratch)
        run.execute()
    finally:
        try:
            if run is not None:
                run.close()
        finally:
            # nothing this run started may outlive it
            wait_gone(descendants(), timeout=5.0)
            shutil.rmtree(scratch, ignore_errors=True)

    result = run.summary()
    out = os.path.join(
        RESULTS_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    if args.capacity:
        print(json.dumps({"capacity_rps": run.context["capacity_rps"]}))
        return 0
    with open(out, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    metrics = result["per_layer"] if args.trace else result["end_to_end"]
    print(f"perfbench {args.workload} seed={args.seed}: {out}")
    for k, o in result.get("trace_overhead", {}).items():
        print(f"trace overhead {k}: {100 * o['share']:+.1f}% "
              "(traced vs untraced pass of the same requests)")
    print(json.dumps({
        "correct": result["correct"], "attempted": result["attempted"],
        "failed": result["failed"], "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
