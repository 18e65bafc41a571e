"""SearchEngine facade — the rebuild's public API.

Mirrors the reference's HTTP surface (GET /query-stem?query=...&optionName=
tfidf|bm25 -> top-50 docs with snippets; empty query -> error;
backend/controllers/queryController.js:11-59) as a library API:

    eng = SearchEngine.build(spark, corpus_df, index_dir)   # or .load(...)
    eng.search("messi argentina", k=50, mode="bm25")        # hydrated DF
    eng.search_ids("...", k=10, mode="bm25", path="wand")   # (docid, score)

Query flow (SURVEY §3.1 "Rebuild lifecycle"): driver-side analysis with the
SAME analyzer as indexing -> bucket-pruned scan of the postings table ->
per-shard block-max kernel (or the exhaustive Catalyst path) -> global
orderBy(score desc, docid asc).limit(k) -> broadcast hydration join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.analyzer import analyze_query
from .operators.postings import DEFAULT_BUCKETS, decode_postings_df, term_bucket
from .operators.scoring import score_exhaustive
from .operators.wand import search_topk
from .plans.build import build_index


class EmptyQueryError(ValueError):
    """Reference returns HTTP 400 {success:false, error:'Empty query'}
    for blank queries (backend/controllers/queryController.js:21-25)."""


def salt_of(docid: int, salt_bits: int) -> int:
    """Driver-side salt of a docid, matching the build's UNSIGNED shift
    (shiftrightunsigned). New builds reject negative docids, but a
    pre-r3 index built from negative external ids placed them in salt
    directories >= 2^salt_bits — Python's arithmetic >> would compute a
    negative salt and silently miss those docs on lookup."""
    return (int(docid) & 0xFFFFFFFFFFFFFFFF) >> (63 - salt_bits)


def resolve_index_dir(path: str, snapshot: str | None = None) -> str:
    """Pointer-root resolution: a path whose directory contains a
    ``current`` file is a SNAPSHOT ROOT — the file names the live
    snapshot subdirectory (streaming/ingest.py flips it atomically on
    every incremental fold, the local analogue of an Iceberg manifest
    pointer commit). Readers resolve through the pointer; a plain index
    directory resolves to itself. An engine instance PINS the resolved
    snapshot: it keeps serving that snapshot across later flips until
    reloaded (POSIX keeps open files alive; on object storage, until
    snapshot GC).

    ``snapshot`` is TIME TRAVEL: resolve to that named snapshot instead
    of the pointer target (only meaningful on a snapshot root kept with
    retain_snapshots > 1; the error lists what is still travelable)."""
    import os

    p = os.path.join(path, "current")
    if os.path.isfile(p):
        if snapshot is not None:
            sp = os.path.join(path, snapshot)
            if not os.path.isdir(sp):
                from .streaming.ingest import list_snapshots

                raise FileNotFoundError(
                    f"snapshot {snapshot!r} not found under {path}; "
                    f"available: {list_snapshots(path)} (older ones may "
                    "have been expired — raise retain_snapshots)"
                )
            return sp
        with open(p) as f:
            name = f.read().strip()
        return os.path.join(path, name)
    if snapshot is not None:
        raise ValueError(
            f"{path} is a plain index directory, not a snapshot root — "
            "time travel needs the pointer-file layout "
            "(streaming.ingest.enroll_index_root)"
        )
    return path


def sys_snapshot() -> dict:
    """Driver-process memory snapshot mirroring the reference's
    profiler sysSnapshot shape (backend/utils/profiler.js:20-29):
    rss_mb / heapUsed_mb / heapTotal_mb / eventLoopDelay_ms. Values come
    from /proc/self/status (VmRSS / VmData / VmSize); on platforms
    without procfs the fields degrade to 0.0 rather than erroring a
    query response."""
    vals = {"VmRSS": 0.0, "VmData": 0.0, "VmSize": 0.0}
    try:
        with open("/proc/self/status") as f:
            for line in f:
                key = line.split(":")[0]
                if key in vals:
                    vals[key] = float(line.split()[1]) / 1024.0  # kB->MB
    except OSError:
        pass
    return {
        "rss_mb": round(vals["VmRSS"], 1),
        "heapUsed_mb": round(vals["VmData"], 1),
        "heapTotal_mb": round(vals["VmSize"], 1),
        "eventLoopDelay_ms": 0,
    }


def assemble_reference_response(
    query: str,
    option_name: str,
    analyze,
    get_ids,
    lookup_docs,
    page: int | None = None,
    per_page: int = 10,
    decorate_snippet=None,
) -> dict:
    """The ONE implementation of the reference HTTP response shape
    (queryController.js:11-59), shared by SearchEngine and TieredEngine
    (a second copy of the span/assembly machinery drifted once already).
    ``get_ids(mode) -> [(docid, score), ...]`` supplies scoring;
    ``lookup_docs(docids) -> rows`` supplies hydration; spans and the
    sysSnapshot follow utils/profiler.js.

    ``page`` enables SERVER-side pagination — the reference does it in
    the client (react-app/src/App.js:145-147: startIndex =
    (currentPage-1)*resultsPerPage, slice, resultsPerPage=10) over the
    full top-k it downloaded; passing page replays that exact slice
    over BOTH textResult and imageResult here and adds totalResults /
    page / resultsPerPage so a pager can render without shipping all k
    hydrated rows per request. page=None (default) keeps the reference
    API byte-shape."""
    import time

    mode = (option_name or "tfidf").lower()
    if mode not in ("tfidf", "bm25", "bm25f"):
        mode = "tfidf"
    t_all = time.time()
    measures = []

    def span(name, fn):
        t0 = time.time()
        out = fn()
        measures.append(
            {"name": name,
             "duration_ms": round(1000 * (time.time() - t0), 3)}
        )
        return out

    try:
        span(
            "validate_input",
            lambda: (_ for _ in ()).throw(EmptyQueryError("Empty query"))
            if not query or not query.strip()
            else None,
        )
        terms = span("stem_query", lambda: analyze(query))
    except EmptyQueryError:
        return {"success": False, "result": [], "error": "Empty query"}
    ids = span("get_documents", lambda: get_ids(mode))
    id_rows = [(int(d), float(s)) for d, s in ids]
    score_map = dict(id_rows)
    # result hydration is a point lookup over the k result ids — never a
    # second search and never a docs-table scan/join
    docs = span(
        "fetch_results",
        lambda: sorted(
            lookup_docs([d for d, _ in id_rows]),
            key=lambda r: (-score_map[r["docid"]], r["docid"]),
        ),
    )
    text_result = [
        {
            "docId": r["title"],
            "chunkedBody": (
                r["snippet"]
                if decorate_snippet is None
                else decorate_snippet(r["snippet"])
            ),
            "url": r["url"],
            "file_id": str(r["docid"]),
            "score": score_map[r["docid"]],
        }
        for r in docs
    ]
    image_result = span(
        "get_image_filenames",
        lambda: [
            img["image_id"]
            for r in docs
            for img in (r.get("images") or [])
        ],
    )
    measures.append(
        {"name": "total_request",
         "duration_ms": round(1000 * (time.time() - t_all), 3)}
    )
    resp = {
        "imageResult": image_result,
        "textResult": text_result,
        "searchTime": round(time.time() - t_all, 3),
        "profile": {
            "measures": measures,
            "sysSnapshot": sys_snapshot(),
        },
        "query_terms": terms,
    }
    if page is not None:
        # App.js:145-147 verbatim: slice(start, start+per) on whichever
        # list the client is viewing — both are sliced consistently so
        # either view paginates; hydration above already happened over
        # all k ids, matching what the client-side scheme fetched
        page = max(1, int(page))
        per_page = max(1, int(per_page))
        start = (page - 1) * per_page
        resp["totalResults"] = {
            "text": len(text_result), "image": len(image_result),
        }
        resp["page"] = page
        resp["resultsPerPage"] = per_page
        resp["textResult"] = text_result[start:start + per_page]
        resp["imageResult"] = image_result[start:start + per_page]
    return resp


class SearchEngine:
    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        stem: bool | None = None,
        n_buckets: int | None = None,
        cache_terms: int = 0,
        snapshot: str | None = None,
    ):
        """``cache_terms`` > 0 enables a bounded LRU cache of hot
        posting lists for the driver-local serving path (search_local):
        term -> (global df, per-salt block rows). Real search heads
        cache hot terms; here it cuts repeated-term local p50 from
        ~25ms (two pyarrow reads) to sub-ms. The cache belongs to THIS
        engine instance and therefore to the index snapshot it opened —
        after an index swap (streaming maintenance) load a fresh engine
        or call clear_cache()."""
        import json
        import os

        self.spark = spark
        self.index_dir = index_dir = resolve_index_dir(
            index_dir, snapshot=snapshot
        )
        meta = {}
        meta_path = f"{index_dir}/meta.json"
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                meta = json.load(f)
        from .plans.build import FORMAT_VERSION

        version = meta.get("format_version")
        if version is not None and int(version) != FORMAT_VERSION:
            raise ValueError(
                f"index at {index_dir} has format_version={version}, this "
                f"engine reads format_version={FORMAT_VERSION} "
                "(bucket-partitioned postings + term_stats lexicon); "
                "rebuild the index with plans.build.build_index"
            )
        if not meta and os.path.isdir(f"{index_dir}/postings") and not any(
            e.startswith("bucket=")
            for e in os.listdir(f"{index_dir}/postings")
        ):
            raise ValueError(
                f"index at {index_dir} has no meta.json and a legacy "
                "non-bucketed postings layout — rebuild with "
                "plans.build.build_index (format_version "
                f"{FORMAT_VERSION})"
            )
        self.stem = meta.get("stem", True) if stem is None else stem
        self.n_buckets = (
            meta.get("n_buckets", DEFAULT_BUCKETS)
            if n_buckets is None
            else n_buckets
        )
        self.salt_bits = int(meta.get("salt_bits", 3))
        self.analyzer = meta.get(
            "analyzer", "porter" if self.stem else "base"
        )
        import pyarrow.parquet as pq

        stats = pq.read_table(f"{index_dir}/stats").to_pandas().iloc[0]
        self.n = int(stats["N"])
        self.avgdl = float(stats["avgdl"])
        self.total_length = int(stats["total_length"])
        import threading
        from collections import OrderedDict

        self._cache_cap = int(cache_terms)
        self._datasets: dict = {}
        # (subdir, key) -> parquet footers of that directory, filled
        # lazily by _footer_index (never here: opening an engine reads
        # nothing beyond meta + stats)
        self._footers: dict = {}
        self._term_cache: "OrderedDict[str, tuple[int, list]]" = (
            OrderedDict()
        )
        # the cache is served from ThreadingHTTPServer worker threads:
        # check-then-use against concurrent eviction needs a lock (loads
        # happen outside it; a double-load of the same term is a benign
        # idempotent insert)
        self._cache_lock = threading.Lock()

    def clear_cache(self) -> None:
        with self._cache_lock:
            self._term_cache.clear()
        self._footers = {}

    def _footer_index(self, sub: str, key: str) -> list:
        """[(path, FileMetaData, [(min, max) of ``key`` or None per row
        group])] for the parquet files directly under ``index_dir/sub``
        ([] when the directory is absent). Read on the first touch of
        the directory and cached: the engine pins an immutable snapshot,
        so its file list and footers never change. Footers only, never
        data — the index's file count bounds the cache."""
        import os

        import pyarrow.parquet as pq

        hit = self._footers.get((sub, key))
        if hit is not None:
            return hit
        d = f"{self.index_dir}/{sub}"
        files = []
        for name in sorted(os.listdir(d)) if os.path.isdir(d) else []:
            path = f"{d}/{name}"
            # the prefixes pyarrow's dataset discovery skips too
            # (_SUCCESS, .crc checksums)
            if name.startswith((".", "_")) or not os.path.isfile(path):
                continue
            md = pq.read_metadata(path)
            j = next(
                i for i in range(md.num_columns)
                if md.schema.column(i).path == key
            )
            ranges = []
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(j).statistics
                ranges.append(
                    (st.min, st.max)
                    if st is not None and st.has_min_max
                    else None
                )
            files.append((path, md, ranges))
        # a concurrent first touch computes the same list; either wins
        return self._footers.setdefault((sub, key), files)

    def _point_read(self, key: str, columns, reads: dict):
        """Rows whose ``key`` is in the requested values, projected to
        ``columns`` (which include ``key``), as one pyarrow Table — or
        None when no row group can hold a value (absent directories
        included). ``reads`` maps each subdirectory of the index to the
        values that can live in it: the key picks the directory (term ->
        bucket, docid -> salt), so no value has rows in another one. The
        one read behind every per-query point lookup: hydration, lexicon
        df, posting lists, title rows.

        Per directory it reads only the row groups whose cached key
        min/max can hold one of that directory's values (a row group
        without statistics is read, never skipped); one filter over all
        of them keeps the exact matches. Each call opens its own readers
        over the cached footers, so ThreadingHTTPServer workers share no
        reader state."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        tables = []
        for sub, values in reads.items():
            for path, md, ranges in self._footer_index(sub, key):
                groups = [
                    g for g, r in enumerate(ranges)
                    if r is None or any(r[0] <= v <= r[1] for v in values)
                ]
                if groups:
                    # a few small row groups: Arrow's thread pool costs
                    # more than it saves, and the server already runs
                    # one query per handler thread
                    with pq.ParquetFile(path, metadata=md) as pf:
                        tables.append(pf.read_row_groups(
                            groups, columns=columns, use_threads=False
                        ))
        if not tables:
            return None
        # directories written by separate jobs (bucket groups, merges)
        # may disagree on a column's nullability
        tbl = pa.concat_tables(tables, promote_options="default")
        wanted = [v for values in reads.values() for v in values]
        return tbl.filter(pc.is_in(
            tbl[key],
            value_set=pa.array(wanted, type=tbl.schema.field(key).type),
        ))

    def _bucket_reads(self, table: str, terms) -> dict:
        """_point_read's ``reads`` for a term-bucketed table (term_stats,
        postings, title_tf): each term under its bucket directory."""
        reads: dict[str, list[str]] = {}
        for t in terms:
            b = term_bucket(t, self.n_buckets)
            reads.setdefault(f"{table}/bucket={b}", []).append(t)
        return reads

    def _cached_term_lists(self, terms: list[str]):
        """(term -> (df, [(salt, blocks), ...])) for every present term,
        loading misses from the lexicon + postings buckets and evicting
        LRU past ``cache_terms``. df == 0 terms are cached as absent."""
        out: dict[str, tuple[int, list]] = {}
        missing: list[str] = []
        with self._cache_lock:
            for t in dict.fromkeys(terms):
                if t in self._term_cache:
                    self._term_cache.move_to_end(t)
                    out[t] = self._term_cache[t]
                else:
                    missing.append(t)
        if missing:
            df_map = self.term_df(missing)
            loaded: dict[str, tuple[int, list]] = {
                t: (0, []) for t in missing
            }
            present = [t for t in missing if df_map.get(t, 0) > 0]
            tbl = self._point_read(
                "term", ["term", "salt", "blocks"],
                self._bucket_reads("postings", present),
            )
            if tbl is not None:
                for row in tbl.to_pylist():
                    t = row["term"]
                    loaded[t] = (
                        df_map[t],
                        loaded[t][1] + [(row["salt"], row["blocks"])],
                    )
            with self._cache_lock:
                for t, v in loaded.items():
                    out[t] = v
                    if self._cache_cap:
                        self._term_cache[t] = v
                        self._term_cache.move_to_end(t)
                while len(self._term_cache) > self._cache_cap:
                    self._term_cache.popitem(last=False)
        return out

    # -- lifecycle ---------------------------------------------------------
    @classmethod
    def build(
        cls,
        spark: SparkSession,
        corpus: DataFrame,
        index_dir: str,
        stem: bool = True,
        resume: bool = False,
        **kwargs,
    ) -> "SearchEngine":
        build_index(
            spark, corpus, index_dir, stem=stem, resume=resume, **kwargs
        )
        return cls(spark, index_dir, stem=stem)

    @classmethod
    def load(
        cls,
        spark: SparkSession,
        index_dir: str,
        stem: bool | None = None,
        snapshot: str | None = None,
    ):
        """``snapshot`` time-travels a pointer-root index to a named
        retained commit (streaming.ingest.maintain_index_incremental's
        retain_snapshots; see resolve_index_dir)."""
        return cls(spark, index_dir, stem=stem, snapshot=snapshot)

    @classmethod
    def merge(
        cls,
        spark: SparkSession,
        base_dir: str,
        delta_dir: str,
        out_dir: str,
        resume: bool = False,
        bucket_groups: int = 1,
        docid_broadcast_limit: int | None = None,
    ) -> "SearchEngine":
        """Fold a delta index (a build over a new crawl batch) into a
        base index — incremental indexing without rebuilding unchanged
        posting lists (plans/merge.py; the reference's analogue rewrites
        the whole index, Indexer/merge_index_files.py:5-15).
        ``docid_broadcast_limit``: updated-docid count above which the
        delta set ships as a per-salt sidecar instead of a broadcast."""
        from .plans.merge import DOCID_BROADCAST_LIMIT, merge_indexes

        merge_indexes(
            spark, base_dir, delta_dir, out_dir, resume=resume,
            bucket_groups=bucket_groups,
            docid_broadcast_limit=(
                DOCID_BROADCAST_LIMIT
                if docid_broadcast_limit is None
                else docid_broadcast_limit
            ),
        )
        return cls(spark, out_dir)

    @classmethod
    def delete(
        cls,
        spark: SparkSession,
        base_dir: str,
        out_dir: str,
        urls: list[str] | None = None,
        docids: list[int] | None = None,
        resume: bool = False,
    ) -> "SearchEngine":
        """Purge documents (by url or docid) from an index without a
        rebuild — stale postings removed via the merge kernel's
        block-range purge (plans/merge.py delete_docs)."""
        from .plans.merge import delete_docs

        delete_docs(
            spark, base_dir, out_dir, urls=urls, docids=docids,
            resume=resume,
        )
        return cls(spark, out_dir)

    # -- internals ---------------------------------------------------------
    def _postings(self, terms: list[str]) -> DataFrame:
        """Postings scan for the query terms (the Spark analogue of the
        reference's Mongo $in over the `word` B-tree,
        backend/services/mongoService.js:18-20). The driver computes each
        term's md5 bucket locally and filters on the bucket partition
        column — pure directory pruning, only |distinct buckets| dirs are
        listed/read — then the downstream isin(term) filter prunes row
        groups inside them via the term-sorted min/max footer stats."""
        buckets = sorted({term_bucket(t, self.n_buckets) for t in terms})
        return self.spark.read.parquet(f"{self.index_dir}/postings").filter(
            F.col("bucket").isin(buckets)
        )

    def analyze(self, query: str) -> list[str]:
        if not query or not query.strip():
            raise EmptyQueryError("Empty query")
        return analyze_query(query, stem=self.stem, analyzer=self.analyzer)

    def term_df(self, terms: list[str]) -> dict[str, int]:
        """Driver-side lexicon lookup: global df per query term from the
        term_stats side table (hash-bucketed, term-sorted), NO Spark job.
        Each term's bucket directory is point-read over its cached
        parquet footers (_point_read): after the first touch of a bucket
        a lookup reads only the row groups whose term min/max can hold a
        query term — no directory listing, footer parse or dataset
        discovery per query. Terms of an absent bucket directory are
        simply absent. The reference's analogue is the
        metaData/posting-length read per query (mongoService.js:16-32)."""
        tbl = self._point_read(
            "term", ["term", "df"], self._bucket_reads("term_stats", terms)
        )
        if tbl is None:
            return {}
        return {
            term: int(df)
            for term, df in zip(
                tbl.column("term").to_pylist(), tbl.column("df").to_pylist()
            )
        }

    def suggest(self, prefix: str, k: int = 10) -> list[tuple[str, int]]:
        """Autocomplete: top-k index terms starting with ``prefix``,
        ranked by df desc then term asc — a driver-side RANGE scan of
        the term_stats lexicon, zero Spark jobs.

        The lexicon is hash-bucketed for point lookups, so a prefix
        range has members in every bucket directory — but each bucket's
        files are term-sorted, so pyarrow's footer min/max stats prune
        each directory to the row groups straddling
        [prefix, prefix_hi): at a 10^9-term lexicon that is
        O(n_buckets) row groups read, not a lexicon scan. (An
        autocomplete-heavy head would additionally materialize a
        term-sorted top-df projection; this path needs no extra
        table.) The reference's `word` B-tree serves the same range
        shape (mongoService.js does point $in; this is the range
        form). Distributed twin: __spark_entry__ q_term_prefix_topk —
        pytest asserts the two agree on a built index.

        Reads go through ONE cached pyarrow dataset over the bucket
        directories (threaded scan + footer-stats row-group pruning)
        — measured ~4x faster than per-bucket sequential read_table
        on a 64-bucket lexicon."""
        import re

        import pyarrow.dataset as pads

        p = re.sub(r"[^a-z0-9]", "", (prefix or "").lower())
        if not p:
            raise EmptyQueryError("Empty query")
        hi = p[:-1] + chr(ord(p[-1]) + 1)
        tbl = self._side_dataset("term_stats").to_table(
            columns=["term", "df"],
            filter=(pads.field("term") >= p) & (pads.field("term") < hi),
        )
        matches = sorted(
            zip(
                (int(x) for x in tbl.column("df").to_pylist()),
                tbl.column("term").to_pylist(),
            ),
            key=lambda t: (-t[0], t[1]),
        )
        return [(term, df) for df, term in matches[:k]]

    # Lucene-style cap on wildcard expansions: highest-df matches win
    # (suggest already ranks by df desc), so a short prefix over a
    # 10^9-term lexicon can't explode the query
    MAX_WILDCARD_EXPANSIONS = 128

    # BM25F title-field weight (mode='bm25f'): a title occurrence
    # counts this many times (weight 1 == plain BM25 exactly; see
    # operators/scoring.py score_bm25f for the formula and the
    # reference parity notes)
    DEFAULT_TITLE_WEIGHT = 2.0

    def build_title_tf(self, analyzer: str | None = None) -> None:
        """Materialize the title-field sidecar (``title_tf/``) on an
        existing index — the retrofit path for indexes built before
        BM25F existed (CLI: ``titleindex``). New builds write it as a
        standard stage (plans/build.py write_title_tf)."""
        from .plans.build import write_title_tf

        write_title_tf(
            self.spark, self.index_dir, self.n_buckets,
            analyzer=analyzer or self.analyzer,
        )
        self._title_cache = {}
        self._footers = {}

    def _title_rows(self, terms: list[str]) -> dict:
        """term -> (docids, title_tfs, body_doc_lens) numpy arrays from
        the title_tf sidecar — pyarrow over the terms' bucket
        directories (term-sorted row groups), no Spark job, the same
        cached-footer point read as term_df. Missing sidecar raises with
        the titleindex remedy."""
        import os

        import numpy as np

        root = f"{self.index_dir}/title_tf"
        if not os.path.isdir(root):
            raise FileNotFoundError(
                f"{root} missing — BM25F needs the title-field sidecar; "
                "run engine.build_title_tf() (CLI: titleindex) or "
                "rebuild the index"
            )
        cache = getattr(self, "_title_cache", None)
        if cache is None:
            cache = self._title_cache = {}
        out: dict = {}
        want: list[str] = []
        for t in dict.fromkeys(terms):
            if t in cache:
                out[t] = cache[t]
            else:
                want.append(t)
        empty = (
            np.empty(0, np.int64),
            np.empty(0, np.float64),
            np.empty(0, np.float64),
        )
        for t in want:
            out[t] = empty
        tbl = self._point_read(
            "term", ["term", "docid", "tf", "doc_len"],
            self._bucket_reads("title_tf", want),
        )
        if tbl is not None:
            terms_a = tbl.column("term").to_pylist()
            did = tbl.column("docid").to_numpy()
            tf = tbl.column("tf").to_numpy().astype(np.float64)
            dl = tbl.column("doc_len").to_numpy().astype(np.float64)
            for t in want:
                sel = np.fromiter(
                    (x == t for x in terms_a), bool, len(terms_a)
                )
                td, ttf, tdl = did[sel], tf[sel], dl[sel]
                order = np.argsort(td, kind="stable")
                out[t] = (td[order], ttf[order], tdl[order])
        for t, v in out.items():
            cache[t] = v
        return out

    # additive static-authority boost weight (boost='static'):
    # score' = score + W * ln(1 + N * pagerank) — the same formula the
    # oracle-checked bm25_static_rank entry replays in DuckDB
    STATIC_BOOST_WEIGHT = 2.0

    def _static_rank_arrays(self):
        """(docid-sorted ids, ranks) doc-values from the static_rank
        sidecar (build with pagerank_iters=N / CLI --pagerank N) —
        one column-pruned pyarrow read cached per engine instance,
        like the facet doc-values. Docs absent from the link graph get
        no row (zero boost); a sidecar with no data file (a corpus
        without intra-corpus links) is empty arrays, so every doc gets
        zero boost."""
        import os

        import numpy as np

        cached = getattr(self, "_rank_cache", None)
        if cached is not None:
            return cached
        root = f"{self.index_dir}/static_rank"
        if not os.path.isdir(root):
            raise FileNotFoundError(
                f"{root} missing — boost='static' needs the PageRank "
                "sidecar; rebuild with pagerank_iters=N (CLI: build "
                "--pagerank N)"
            )
        ds = self._side_dataset("static_rank")
        if not ds.files:
            self._rank_cache = (np.empty(0, np.int64), np.empty(0))
            return self._rank_cache
        tbl = ds.to_table(columns=["docid", "rank"])
        d = tbl.column("docid").to_numpy()
        r = tbl.column("rank").to_numpy().astype(np.float64)
        order = np.argsort(d, kind="stable")
        self._rank_cache = (d[order], r[order])
        return self._rank_cache

    def _search_local_boosted(
        self, terms: list[str], k: int, mode: str,
        exc_by_salt: dict | None = None,
    ) -> list[tuple[int, float]]:
        """Driver-side retrieval with the static-authority boost:
        full-decode accumulate (block-max pruning would be unsound —
        the boost can lift a doc past an unboosted upper bound), then
        score += W * ln(1 + N * rank) per candidate, NOT exclusion,
        top-k. The distributed twin is the bm25_static_rank entry."""
        import numpy as np

        from . import B, K1
        from .operators.codec import decode_posting_list
        from .oracle_py.oracle import bm25_idf, tfidf_idf

        lists = self._cached_term_lists(terms)
        all_d, all_s = [], []
        for t in dict.fromkeys(terms):
            df, salted = lists.get(t, (0, []))
            if df <= 0:
                continue
            ds, tfs, dls = [], [], []
            for _salt, blocks in salted:
                d_, tf_, dl_ = decode_posting_list(
                    [
                        b if isinstance(b, dict) else b.asDict()
                        for b in blocks
                    ]
                )
                ds.append(d_)
                tfs.append(tf_)
                dls.append(dl_)
            d = np.concatenate(ds)
            tf = np.concatenate(tfs).astype(np.float64)
            dl = np.concatenate(dls).astype(np.float64)
            idf = (
                bm25_idf(self.n, df)
                if mode == "bm25"
                else tfidf_idf(self.n, df)
            )
            if mode == "bm25":
                s = (
                    idf * tf * (K1 + 1.0)
                    / (tf + K1 * (1.0 - B + B * dl / self.avgdl))
                )
            else:
                s = tf * idf
            all_d.append(d)
            all_s.append(s)
        if not all_d:
            return []
        d = np.concatenate(all_d)
        s = np.concatenate(all_s)
        uniq, inv = np.unique(d, return_inverse=True)
        acc = np.zeros(uniq.size)
        np.add.at(acc, inv, s)
        rd, rr = self._static_rank_arrays()
        if rd.size:
            pos = np.searchsorted(rd, uniq)
            safe = np.minimum(pos, rd.size - 1)
            hit = rd[safe] == uniq
            boost = np.zeros(uniq.size)
            boost[hit] = self.STATIC_BOOST_WEIGHT * np.log1p(
                float(self.n) * rr[safe[hit]]
            )
            acc = acc + boost
        if exc_by_salt:
            exc = np.concatenate(list(exc_by_salt.values()))
            keep = ~np.isin(uniq, exc)
            uniq, acc = uniq[keep], acc[keep]
        idx = np.lexsort((uniq, -acc))[: min(k, uniq.size)]
        return [(int(uniq[i]), float(acc[i])) for i in idx]

    def _parse_field_clauses(
        self, should_q: str, must_q: str, neg_q: str
    ) -> tuple:
        """Extract ``title:``-scoped terms from already-split boolean
        clause texts. Returns (plain_should, plain_must, plain_neg,
        t_should, t_must, t_not, contradiction) — field tokens run
        through the index analyzer (a multi-word source token can
        yield several field terms) and the Lucene overlap rule applies
        within the title namespace (+title:t -title:t contradicts;
        SHOULD title:t -title:t drops the SHOULD occurrence)."""
        from .functions.analyzer import (
            resolve_boolean_overlap, split_field_terms,
        )

        should_q, f_s = split_field_terms(should_q)
        must_q, f_m = split_field_terms(must_q)
        neg_q, f_n = split_field_terms(neg_q)

        def _an(toks):
            out = []
            for t in toks:
                if "*" in t:
                    raise ValueError(
                        "wildcards are not supported in field-scoped "
                        "terms"
                    )
                try:
                    out.extend(self.analyze(t))
                except EmptyQueryError:
                    pass
            return list(dict.fromkeys(out))

        t_s, t_m, t_n = _an(f_s), _an(f_m), _an(f_n)
        pos, contra = resolve_boolean_overlap(
            list(dict.fromkeys(t_s + t_m)), t_m, t_n
        )
        t_s = [t for t in t_s if t in pos and t not in t_m]
        return should_q, must_q, neg_q, t_s, t_m, t_n, contra

    def _search_local_fielded(
        self, bag_terms: list[str], bag_required: list[str],
        t_should: list[str], t_must: list[str], t_not: list[str],
        bag_excluded: list[str], k: int, mode: str,
    ) -> list[tuple[int, float]]:
        """Driver-side Lucene FIELD-SCOPED scoring: ``title:term``
        clauses score on the TITLE field — tf = title occurrences,
        df = count of docs whose title contains the term (the live
        title_tf row count), dl = the doc's BODY length norm (the
        sidecar row shape) — while bag clauses score exactly as plain
        BM25/TF-IDF. ``+title:t`` gates membership on title
        containment, ``-title:t`` excludes on it. Rank-identical to
        the tagged-relation distributed form (pytest)."""
        import numpy as np

        from . import B, K1
        from .operators.codec import decode_posting_list
        from .oracle_py.oracle import bm25_idf, tfidf_idf

        def _score(tf, dl, df):
            idf = (
                bm25_idf(self.n, df)
                if mode == "bm25"
                else tfidf_idf(self.n, df)
            )
            if mode == "bm25":
                return (
                    idf * tf * (K1 + 1.0)
                    / (tf + K1 * (1.0 - B + B * dl / self.avgdl))
                )
            return tf * idf

        lists = (
            self._cached_term_lists(bag_terms) if bag_terms else {}
        )
        trows = self._title_rows(
            list(dict.fromkeys(t_should + t_must + t_not))
        )
        all_d, all_s, req_sets = [], [], []
        for t in dict.fromkeys(bag_terms):
            df, salted = lists.get(t, (0, []))
            if df <= 0:
                if t in bag_required:
                    return []
                continue
            ds, tfs, dls = [], [], []
            for _salt, blocks in salted:
                d_, tf_, dl_ = decode_posting_list(
                    [
                        b if isinstance(b, dict) else b.asDict()
                        for b in blocks
                    ]
                )
                ds.append(d_)
                tfs.append(tf_)
                dls.append(dl_)
            d = np.concatenate(ds)
            tf = np.concatenate(tfs).astype(np.float64)
            dl = np.concatenate(dls).astype(np.float64)
            all_d.append(d)
            all_s.append(_score(tf, dl, df))
            if t in bag_required:
                req_sets.append(np.unique(d))
        for t in dict.fromkeys(t_should + t_must):
            td, ttf, tdl = trows[t]
            if not td.size:
                if t in t_must:
                    return []  # absent required title term
                continue
            all_d.append(td)
            all_s.append(_score(ttf, tdl, int(td.size)))
            if t in t_must:
                req_sets.append(td)  # sorted-unique by construction
        if not all_d:
            return []
        d = np.concatenate(all_d)
        s = np.concatenate(all_s)
        uniq, inv = np.unique(d, return_inverse=True)
        acc = np.zeros(uniq.size)
        np.add.at(acc, inv, s)
        for rs in req_sets:
            keep = np.isin(uniq, rs)
            uniq, acc = uniq[keep], acc[keep]
            if not uniq.size:
                return []
        exc_arrays = []
        if bag_excluded:
            exc_arrays.extend(
                self._excluded_docids_by_salt(bag_excluded).values()
            )
        for t in dict.fromkeys(t_not):
            td, _ttf, _tdl = trows[t]
            if td.size:
                exc_arrays.append(td)
        if exc_arrays:
            exc = np.unique(np.concatenate(exc_arrays))
            keep = ~np.isin(uniq, exc)
            uniq, acc = uniq[keep], acc[keep]
        idx = np.lexsort((uniq, -acc))[: min(k, uniq.size)]
        return [(int(uniq[i]), float(acc[i])) for i in idx]

    def _search_ids_fielded(
        self, bag_terms: list[str], bag_required: list[str],
        t_should: list[str], t_must: list[str], t_not: list[str],
        bag_excluded: list[str], k: int, mode: str,
    ) -> DataFrame:
        """Distributed field-scoped scoring as ONE tagged relation:
        title clauses become pseudo-terms named ``title:<term>`` whose
        rows come from the title_tf sidecar (tf = title occurrences,
        doc_len = body length), unioned with the body posting decode,
        then the standard exhaustive scorer runs once — its live df
        recompute, MUST count gate and NOT anti-join all operate on
        the tagged names, so field semantics need no new aggregation
        machinery. Rank-identical to _search_local_fielded (pytest)."""
        import os as _os

        from .operators.postings import term_bucket
        from .operators.scoring import score_exhaustive

        if not _os.path.isdir(f"{self.index_dir}/title_tf"):
            raise FileNotFoundError(
                f"{self.index_dir}/title_tf missing — field-scoped "
                "queries need the title sidecar; run "
                "engine.build_title_tf() (CLI: titleindex)"
            )

        def tag(ts):
            return [f"title:{t}" for t in ts]

        read_bag = list(dict.fromkeys(bag_terms + bag_excluded))
        title_terms = list(
            dict.fromkeys(t_should + t_must + t_not)
        )
        tbuckets = sorted(
            {term_bucket(t, self.n_buckets) for t in title_terms}
        )
        title_rel = (
            self.spark.read.parquet(f"{self.index_dir}/title_tf")
            .filter(F.col("bucket").isin(tbuckets))
            .filter(F.col("term").isin(title_terms))
            .select(
                F.concat(F.lit("title:"), F.col("term")).alias("term"),
                F.col("docid").cast("long").alias("docid"),
                F.col("tf").cast("int").alias("tf"),
                F.col("doc_len").cast("int").alias("doc_len"),
            )
        )
        if read_bag:
            body_rel = decode_postings_df(
                self._postings(read_bag).filter(
                    F.col("term").isin(read_bag)
                )
            ).select("term", "docid", "tf", "doc_len")
            rel = body_rel.unionByName(title_rel)
        else:
            rel = title_rel
        return score_exhaustive(
            rel,
            list(dict.fromkeys(bag_terms + tag(t_should + t_must))),
            self.n,
            self.avgdl,
            k,
            mode,
            semantics="or",
            exclude_terms=(bag_excluded + tag(t_not)) or None,
            required_terms=(bag_required + tag(t_must)) or None,
        )

    def _search_local_bm25f(
        self, terms: list[str], k: int, exc_by_salt: dict | None = None,
        title_weight: float | None = None,
    ) -> list[tuple[int, float]]:
        """Driver-side BM25F: per term, body postings merge with the
        title sidecar rows — tf' = tf + (w-1)*tf_title, title-only
        matches normalize against their stored BODY length, df = docs
        with tf' > 0 (== body df at w == 1, preserving the plain-BM25
        identity). Exclusion (NOT) applies to body-posting membership
        after accumulation, like the synonyms kernel. Rank-identical
        to the distributed operator (pytest)."""
        import numpy as np

        from . import B, K1
        from .operators.codec import decode_posting_list
        from .oracle_py.oracle import bm25_idf

        w = (
            self.DEFAULT_TITLE_WEIGHT
            if title_weight is None
            else float(title_weight)
        )
        lists = self._cached_term_lists(terms)
        trows = self._title_rows(terms)
        all_d, all_s = [], []
        for t in dict.fromkeys(terms):
            _df, salted = lists.get(t, (0, []))
            ds, tfs, dls = [], [], []
            for _salt, blocks in salted:
                d_, tf_, dl_ = decode_posting_list(
                    [
                        b if isinstance(b, dict) else b.asDict()
                        for b in blocks
                    ]
                )
                ds.append(d_)
                tfs.append(tf_)
                dls.append(dl_)
            if ds:
                d = np.concatenate(ds)
                tf = np.concatenate(tfs).astype(np.float64)
                dl = np.concatenate(dls).astype(np.float64)
                order = np.argsort(d, kind="stable")
                d, tf, dl = d[order], tf[order], dl[order]
            else:
                d = np.empty(0, np.int64)
                tf = dl = np.empty(0, np.float64)
            td, ttf, tdl = trows.get(
                t,
                (
                    np.empty(0, np.int64),
                    np.empty(0, np.float64),
                    np.empty(0, np.float64),
                ),
            )
            if w != 1.0 and td.size:
                pos = np.searchsorted(d, td)
                safe = np.minimum(pos, max(d.size - 1, 0))
                in_body = (
                    (pos < d.size) & (d[safe] == td)
                    if d.size
                    else np.zeros(td.size, bool)
                )
                tf = tf.copy()
                tf[pos[in_body]] += (w - 1.0) * ttf[in_body]
                d = np.concatenate([d, td[~in_body]])
                tf = np.concatenate([tf, (w - 1.0) * ttf[~in_body]])
                dl = np.concatenate([dl, tdl[~in_body]])
            keep = tf > 0
            d, tf, dl = d[keep], tf[keep], dl[keep]
            if not d.size:
                continue
            idf = bm25_idf(self.n, int(d.size))
            s = (
                idf * tf * (K1 + 1.0)
                / (tf + K1 * (1.0 - B + B * dl / self.avgdl))
            )
            all_d.append(d)
            all_s.append(s)
        if not all_d:
            return []
        d = np.concatenate(all_d)
        s = np.concatenate(all_s)
        uniq, inv = np.unique(d, return_inverse=True)
        scores = np.zeros(uniq.size)
        np.add.at(scores, inv, s)
        if exc_by_salt:
            exc = np.concatenate(list(exc_by_salt.values()))
            keep = ~np.isin(uniq, exc)
            uniq, scores = uniq[keep], scores[keep]
        idx = np.lexsort((uniq, -scores))[: min(k, uniq.size)]
        return [(int(uniq[i]), float(scores[i])) for i in idx]

    def build_lexicon_rev(self, partitions: int | None = None) -> None:
        """Materialize the REVERSED-term lexicon sidecar under
        ``index_dir/lexicon_rev``: (term_rev, term, df) globally
        range-sorted on term_rev, so a leading wildcard (``*ing``)
        becomes a PREFIX range scan over term_rev — pyarrow's footer
        min/max stats prune the read to the row groups straddling
        [rev(suffix), rev(suffix)_hi), exactly the shape ``suggest``
        uses on the forward lexicon. One lexicon-sized Spark job
        (range repartition + in-partition sort — scales to a 10^9-term
        lexicon because the sort is distributed); afterwards leading
        and infix wildcards serve driver-side with zero Spark jobs.
        Derived purely from term_stats: a ``_SOURCE_STAMP.json``
        fingerprint of the term_stats files is written alongside and
        checked at read time, so a sidecar left behind by a superseded
        lexicon FAILS LOUDLY (rebuild remedy) instead of silently
        expanding wildcards against ghost or missing terms."""
        import json as _json

        from pyspark.sql import functions as F

        out = f"{self.index_dir}/lexicon_rev"
        df = self.spark.read.parquet(
            f"{self.index_dir}/term_stats"
        ).select(F.reverse("term").alias("term_rev"), "term", "df")
        n_parts = partitions or max(
            4, int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        )
        (
            df.repartitionByRange(n_parts, "term_rev")
            .sortWithinPartitions("term_rev")
            .write.mode("overwrite")
            .parquet(out)
        )
        with open(f"{out}/_SOURCE_STAMP.json", "w") as f:
            _json.dump({"term_stats": self._term_stats_fingerprint()}, f)
        self._datasets.pop("lexicon_rev", None)
        self._lexrev_stamp_ok = None

    def _term_stats_fingerprint(self) -> str:
        """Deterministic fingerprint of the term_stats dataset files
        (relative name, size, mtime_ns) — changes whenever the lexicon
        is rewritten, cheap to compute (directory metadata only)."""
        import hashlib
        import os

        root = f"{self.index_dir}/term_stats"
        entries = []
        for dirpath, _dirs, files in sorted(os.walk(root)):
            rel = os.path.relpath(dirpath, root)
            for name in sorted(files):
                if name.startswith(("_", ".")):
                    continue
                st = os.stat(os.path.join(dirpath, name))
                entries.append(f"{rel}/{name}:{st.st_size}:{st.st_mtime_ns}")
        return hashlib.md5("\n".join(entries).encode()).hexdigest()

    def _check_lexicon_rev_fresh(self) -> None:
        """Raise when lexicon_rev predates the current term_stats (e.g.
        after an in-place merge/delete rewrote the lexicon): a stale
        reversed sidecar would silently expand leading/infix wildcards
        against the OLD vocabulary. Verified once per engine instance
        (the fingerprint is directory metadata; an engine instance is
        pinned to one index state anyway)."""
        import json as _json
        import os

        if getattr(self, "_lexrev_stamp_ok", None):
            return
        stamp_path = f"{self.index_dir}/lexicon_rev/_SOURCE_STAMP.json"
        stale_msg = (
            f"{self.index_dir}/lexicon_rev is STALE (term_stats changed "
            "since it was built) — leading/infix wildcard expansion "
            "would use the old vocabulary; rerun "
            "engine.build_lexicon_rev() (CLI: revindex)"
        )
        if os.path.isfile(stamp_path):
            with open(stamp_path) as f:
                stamp = _json.load(f).get("term_stats")
            if stamp != self._term_stats_fingerprint():
                raise FileNotFoundError(stale_msg)
        # pre-stamp sidecars (built by an older engine) can't be
        # verified — trust them as before rather than breaking
        # existing indexes
        self._lexrev_stamp_ok = True

    def _term_range(
        self, dataset_name: str, sort_col: str, prefix: str
    ) -> list[tuple[str, int]]:
        """All (term, df) whose ``sort_col`` starts with ``prefix`` —
        a footer-stats-pruned range read of a sorted side table."""
        import pyarrow.dataset as pads

        hi = prefix[:-1] + chr(ord(prefix[-1]) + 1)
        tbl = self._side_dataset(dataset_name).to_table(
            columns=["term", "df"],
            filter=(pads.field(sort_col) >= prefix)
            & (pads.field(sort_col) < hi),
        )
        return list(
            zip(
                tbl.column("term").to_pylist(),
                (int(x) for x in tbl.column("df").to_pylist()),
            )
        )

    def expand_wildcard(
        self, pattern: str, cap: int | None = None
    ) -> list[tuple[str, int]]:
        """Expand one wildcard token (``snow*``, ``*ing``, ``s*ing``,
        multi-star) to its top-df lexicon matches, capped at
        ``MAX_WILDCARD_EXPANSIONS``.

        Strategy (the Lucene automaton's range-scan slice, made
        distributed-storage-friendly): take the LONGER of the literal
        prefix / literal suffix as the candidate source — a
        footer-pruned range scan of the forward lexicon (prefix) or
        the reversed-term sidecar (suffix; ``build_lexicon_rev``,
        CLI ``revindex``) — then regex-filter the pruned candidates
        against the full pattern and keep the highest-df ``cap``
        matches. The scan is O(range straddle), never a lexicon scan;
        the regex touches only pruned candidate rows. Filtering
        happens BEFORE the cap, so selective infixes aren't starved
        by high-df prefix cousins. A pattern with no literal anchor
        (``*``) raises EmptyQueryError; a leading/infix pattern whose
        only anchor is the suffix raises FileNotFoundError with the
        revindex remedy when the sidecar is absent."""
        import os
        import re as _re

        cap = cap or self.MAX_WILDCARD_EXPANSIONS
        p = _re.sub(r"[^a-z0-9*]", "", (pattern or "").lower())
        segs = p.split("*")
        if not any(segs):
            raise EmptyQueryError("Empty query")
        prefix, suffix = segs[0], segs[-1]
        if not prefix and not suffix:
            # '*a*' — no range anchor; expanding would be a full
            # lexicon scan, which a 10^9-term lexicon can't afford.
            # Raised as EmptyQueryError so query-level expansion skips
            # the token instead of failing the request.
            raise EmptyQueryError(
                "wildcard pattern needs a literal prefix or suffix"
            )
        rx = _re.compile(
            "^" + ".*".join(_re.escape(s) for s in segs) + "$"
        )
        if len(prefix) >= len(suffix) and prefix:
            cands = self._term_range("term_stats", "term", prefix)
        else:
            if not os.path.isdir(f"{self.index_dir}/lexicon_rev"):
                raise FileNotFoundError(
                    f"{self.index_dir}/lexicon_rev missing — leading/"
                    "infix wildcards need the reversed-term lexicon "
                    "sidecar; run engine.build_lexicon_rev() (CLI: "
                    "revindex)"
                )
            self._check_lexicon_rev_fresh()
            cands = self._term_range(
                "lexicon_rev", "term_rev", suffix[::-1]
            )
        matched = sorted(
            ((t, df) for t, df in cands if rx.match(t)),
            key=lambda td: (-td[1], td[0]),
        )
        return matched[:cap]

    def expand_query_terms(self, query: str) -> list[str]:
        """Wildcard-aware query analysis: a token containing ``*``
        (trailing, leading, or infix — see ``expand_wildcard``)
        expands to the highest-df lexicon terms matching the pattern,
        capped at MAX_WILDCARD_EXPANSIONS; everything else goes
        through the normal analyzer. Wildcard patterns match INDEX
        terms (i.e. stems on a stemmed index) — the standard
        multi-term-query contract. Order-preserving dedupe, like
        analyze_query."""
        parts = (query or "").split()
        wild = [p for p in parts if "*" in p and len(p) > 1]
        rest = " ".join(p for p in parts if p not in set(wild))
        terms = self.analyze(rest) if rest.strip() else []
        for w in wild:
            try:
                matches = self.expand_wildcard(w)
            except EmptyQueryError:
                continue
            terms.extend(t for t, _df in matches)
        return list(dict.fromkeys(terms))

    def fuzzy_terms(
        self, terms: list[str]
    ) -> tuple[list[str], dict[str, str]]:
        """Did-you-mean expansion: analyzed terms absent from the
        lexicon (df == 0) are replaced by their best spell correction
        (``correct`` — the SymSpell layout must be built). Present
        terms are never touched. Returns (deduped corrected terms,
        {original: replacement})."""
        dfm = self.term_df(terms)
        out: list[str] = []
        corr: dict[str, str] = {}
        for t in terms:
            if dfm.get(t, 0) > 0:
                out.append(t)
                continue
            cand = self.correct(t, k=1)
            if cand:
                corr[t] = cand[0][0]
                out.append(cand[0][0])
            else:
                out.append(t)
        return list(dict.fromkeys(out)), corr

    def build_spellindex(self, max_dist: int = 2) -> None:
        """Materialize the SymSpell deletion-neighborhood layout
        (operators/fuzzy.py) under ``index_dir/spell`` from the
        lexicon — one lexicon-sized Spark job; afterwards corrections
        serve driver-side with zero Spark jobs (``correct``)."""
        from .operators.fuzzy import spellindex_write

        spellindex_write(
            self.spark.read.parquet(f"{self.index_dir}/term_stats"),
            f"{self.index_dir}/spell",
            max_dist=max_dist,
        )
        self._datasets.pop("spell", None)

    def correct(
        self, term: str, k: int = 10
    ) -> list[tuple[str, int, int]]:
        """Spell-correct one term against the lexicon:
        [(term, dist, df)] by (distance asc, df desc, term asc) — a
        driver-side SymSpell candidate lookup + DP-levenshtein verify
        (operators/fuzzy.py spell_lookup), zero Spark jobs.
        Equivalence with the distributed levenshtein scan is
        pytest-enforced."""
        import os
        import re

        from .operators.fuzzy import spell_lookup

        t = re.sub(r"[^a-z0-9]", "", (term or "").lower())
        if not t:
            raise EmptyQueryError("Empty query")
        if not os.path.isdir(f"{self.index_dir}/spell"):
            raise FileNotFoundError(
                f"{self.index_dir}/spell missing — corrections need "
                "the materialized deletion-neighborhood index; run "
                "engine.build_spellindex() (CLI: spellindex)"
            )
        return spell_lookup(
            f"{self.index_dir}/spell", t, k=k,
            dataset=self._side_dataset("spell"),
        )

    def _side_dataset(self, name: str):
        """Cached pyarrow dataset over a bucket-partitioned side table
        (term_stats / positions). Discovery (file listing) happens once
        per engine instance — an engine pins its snapshot, so the file
        set is immutable for its lifetime."""
        import pyarrow.dataset as pads

        ds = self._datasets.get(name)
        if ds is None:
            ds = pads.dataset(
                f"{self.index_dir}/{name}",
                partitioning="hive",
                format="parquet",
            )
            self._datasets[name] = ds
        return ds

    # -- queries -----------------------------------------------------------
    def search_phrase(
        self, phrase: str, k: int = 50, slop: int = 0
    ) -> list[tuple[int, float, int]]:
        """Exact-phrase top-k on the DRIVER from the positional sidecar
        (build with positions=True): ONE threaded pyarrow dataset read
        (bucket partition pruning + term In pushdown over term-sorted
        row groups), NumPy adjacency per candidate doc, BM25
        pseudo-term scoring against the stats singleton — zero Spark
        jobs, zero corpus access. Returns [(docid, score, phrase_tf)]
        by (score desc, docid asc); [] when any phrase term is absent.
        Rank/value identity with the corpus-scan operator
        (operators/phrase.py) is pytest-enforced."""
        import math

        from . import B, K1

        m = self._phrase_matches(phrase, slop=slop)
        if m is None:
            return []
        docs, dls, tfs = m
        dfm = int(docs.size)
        idf = math.log((self.n - dfm + 0.5) / (dfm + 0.5) + 1.0)
        scored = [
            (
                int(doc),
                idf * tf * (K1 + 1.0)
                / (tf + K1 * (1.0 - B + B * dl / self.avgdl)),
                int(tf),
            )
            for doc, dl, tf in zip(
                docs.tolist(), dls.tolist(), tfs.tolist()
            )
        ]
        scored.sort(key=lambda r: (-r[1], r[0]))
        return scored[:k]

    def _phrase_matches(self, phrase: str, slop: int = 0):
        """Shared phrase machinery (search_phrase / search_mixed):
        sidecar read + vectorized adjacency (or, with ``slop`` > 0,
        the greedy ordered-window chain — smallest-successor chains
        minimize the final position, so greedy-exists == exists) ->
        (docids, doc_lens, phrase_tfs) NumPy arrays in docid order for
        the matching docs; None when a phrase term is absent or
        nothing matches. tf counts distinct start positions."""
        import os

        import numpy as np
        import pyarrow as pa
        import pyarrow.dataset as pads

        from .operators.codec import varbyte_decode
        from .operators.phrase import phrase_slots
        from .operators.postings import term_bucket

        if not (phrase or "").strip():
            raise EmptyQueryError("Empty query")
        if not os.path.isdir(f"{self.index_dir}/positions"):
            raise FileNotFoundError(
                f"{self.index_dir}/positions missing — phrase search "
                "needs the positional sidecar; rebuild with "
                "positions=True (build --positions)"
            )
        terms = phrase_slots(phrase, stem=self.stem)
        m = len(terms)
        slots: dict[str, list[int]] = {}
        for i, t in enumerate(terms):
            slots.setdefault(t, []).append(i)
        buckets = sorted(
            {term_bucket(t, self.n_buckets) for t in slots}
        )
        # one threaded dataset read: bucket partition pruning + term
        # In pushdown over term-sorted row groups
        tbl = self._side_dataset("positions").to_table(
            filter=pads.field("bucket").isin(buckets)
            & pads.field("term").isin(list(slots)),
        ).combine_chunks()

        # PHASE 1 — metadata only: decode the small docid/count/doclen
        # streams per row; the position payload stays as zero-copy
        # Arrow buffer slices. For a rare+head phrase this is the whole
        # trick: the head term's (large) payload never varbyte-decodes
        # for docs the rare term rules out.
        pos_col = tbl.column("pos_bytes")
        if isinstance(pos_col, pa.ChunkedArray):
            pos_col = pos_col.combine_chunks()
        valoff = np.frombuffer(pos_col.buffers()[1], dtype=np.int32)
        payload = memoryview(pos_col.buffers()[2])
        pbase = pos_col.offset
        term_l = tbl.column("term").to_pylist()
        db_l = tbl.column("docids_bytes").to_pylist()
        cb_l = tbl.column("counts_bytes").to_pylist()
        lb_l = tbl.column("doclens_bytes").to_pylist()
        # term -> list of (docids, counts, doclens, row_index)
        meta: dict[str, list] = {}
        for ri, t in enumerate(term_l):
            docids = np.cumsum(
                varbyte_decode(bytes(db_l[ri])).astype(np.int64)
            )
            counts = varbyte_decode(bytes(cb_l[ri])).astype(np.int64)
            doclens = varbyte_decode(bytes(lb_l[ri])).astype(np.int64)
            meta.setdefault(t, []).append((docids, counts, doclens, ri))
        if len(meta) < len(slots):
            return None  # a phrase term absent from the index

        # candidate docs: intersect docid sets, smallest first
        term_docs: dict[str, tuple] = {}
        for t, rows_m in meta.items():
            d = np.concatenate([r[0] for r in rows_m])
            order = np.argsort(d, kind="stable")
            term_docs[t] = (d[order], order)
        ordered = sorted(term_docs, key=lambda t: term_docs[t][0].size)
        cand = term_docs[ordered[0]][0]
        for t in ordered[1:]:
            cand = cand[
                np.isin(cand, term_docs[t][0], assume_unique=True)
            ]
            if cand.size == 0:
                return None

        # PHASE 2 — decode positions ONLY for candidate docs: locate
        # each selected doc's byte range inside its row's payload via
        # one terminator-bit scan per TOUCHED row, then one varbyte
        # pass over the gathered slices per term.
        lookup: dict[str, tuple] = {}
        for t, rows_m in meta.items():
            # per-row byte units decode in one varbyte pass, then doc
            # runs permute to global docid order with a vectorized
            # gather on the DECODED ints (rows may interleave docids —
            # a merged sidecar holds a purged base row AND a delta row
            # per (term, salt)); a fully-hit row's payload passes
            # through without any byte slicing, so the head-head-phrase
            # case keeps eager-decode speed.
            units: list = []
            for docids, counts, doclens, ri in rows_m:
                hit = np.isin(docids, cand, assume_unique=True)
                if not hit.any():
                    continue
                row_pay = np.frombuffer(
                    payload[
                        valoff[pbase + ri]:valoff[pbase + ri + 1]
                    ],
                    dtype=np.uint8,
                )
                if hit.all():
                    units.append(
                        (int(docids[0]), row_pay.tobytes(),
                         counts, docids, doclens)
                    )
                    continue
                val_ends = np.flatnonzero((row_pay & 0x80) != 0) + 1
                vb = np.r_[np.int64(0), np.cumsum(counts)]
                bb = np.r_[np.int64(0), val_ends[vb[1:] - 1]]
                kept = np.flatnonzero(hit)
                starts_b = bb[kept]
                lens_b = bb[kept + 1] - starts_b
                gather = np.repeat(
                    starts_b - np.r_[np.int64(0), np.cumsum(lens_b)[:-1]],
                    lens_b,
                ) + np.arange(int(lens_b.sum()))
                units.append(
                    (
                        int(docids[kept[0]]),
                        row_pay[gather].tobytes(),
                        counts[kept], docids[kept], doclens[kept],
                    )
                )
            if not units:
                z = np.zeros(0, dtype=np.int64)
                lookup[t] = (z, z, np.zeros(1, dtype=np.int64), z)
                continue
            counts_u = np.concatenate([u[2] for u in units])
            docids_u = np.concatenate([u[3] for u in units])
            doclens_u = np.concatenate([u[4] for u in units])
            deltas = varbyte_decode(
                b"".join(u[1] for u in units)
            ).astype(np.int64)
            offsets_u = np.r_[np.int64(0), np.cumsum(counts_u)]
            cs = np.cumsum(deltas)
            starts_u = offsets_u[:-1]
            base = cs[starts_u] - deltas[starts_u]
            pos_u = cs - np.repeat(base, counts_u)
            order = np.argsort(docids_u, kind="stable")
            counts_s = counts_u[order]
            out_off = np.r_[np.int64(0), np.cumsum(counts_s)]
            gather = np.repeat(
                starts_u[order] - out_off[:-1], counts_s
            ) + np.arange(int(counts_s.sum()))
            lookup[t] = (
                docids_u[order],
                doclens_u[order],
                out_off,
                pos_u[gather],
            )
        M = np.int64(1) << np.int64(32)  # positions are int32
        if slop:
            # ordered proximity window: greedy smallest-successor
            # chain over global (candidate_index << 32 | pos) keys —
            # a successor landing in another doc makes the final span
            # check fail automatically (M >> span), so no per-doc
            # bookkeeping is needed
            span = np.int64(m - 1 + slop)
            slot_keys = []
            for i in range(m):
                di, _dli, offi, posi = lookup[terms[i]]
                counts = np.diff(offi)
                in_cand = np.isin(di, cand, assume_unique=True)
                cidx_doc = np.searchsorted(cand, di)
                keep = np.repeat(in_cand, counts)
                keys = (
                    np.repeat(cidx_doc.astype(np.int64), counts) * M
                    + posi
                )[keep]
                keys.sort()
                slot_keys.append(keys)
            starts = slot_keys[0]
            alive = np.ones(starts.size, dtype=bool)
            last = starts.copy()
            for i in range(1, m):
                ks = slot_keys[i]
                idx = np.searchsorted(ks, last, side="right")
                ok = idx < ks.size
                alive &= ok
                last = np.where(
                    ok, ks[np.minimum(idx, max(ks.size - 1, 0))], last
                )
            alive &= (last - starts) <= span
            if not alive.any():
                return None
            tf_per_cand = np.bincount(
                (starts[alive] // M).astype(np.int64),
                minlength=cand.size,
            )
            hit = tf_per_cand > 0
            d0, dl0, _off0, _pos0 = lookup[terms[0]]
            dls = dl0[np.searchsorted(d0, cand)]
            return cand[hit], dls[hit], tf_per_cand[hit]
        # vectorized adjacency over ALL candidate docs at once (the
        # driver analogue of the anchor aggregation): for slot i map
        # every (doc, pos) hit to key = candidate_index * M + (pos - i)
        # — keys are unique within a slot — and intersect the m sorted
        # key sets; surviving keys ARE the phrase starts. No per-doc
        # Python loop: a head-term phrase over 10^5 candidate docs is
        # m intersections of int64 arrays.
        valid = None
        for slot in range(m):
            di, _dli, offi, posi = lookup[terms[slot]]
            counts = np.diff(offi)
            in_cand = np.isin(di, cand, assume_unique=True)
            cidx_doc = np.searchsorted(cand, di)
            keep = np.repeat(in_cand, counts)
            anchors = posi - np.int64(slot)
            keys = (
                np.repeat(cidx_doc.astype(np.int64), counts) * M
                + anchors
            )[keep & (anchors >= 0)]
            keys.sort()
            if valid is None:
                valid = keys
            else:
                valid = valid[
                    np.isin(valid, keys, assume_unique=True)
                ]
            if valid.size == 0:
                return None
        tf_per_cand = np.bincount(
            (valid // M).astype(np.int64), minlength=cand.size
        )
        hit = tf_per_cand > 0
        if not hit.any():
            return None
        d0, dl0, off0, _pos0 = lookup[terms[0]]
        dls = dl0[np.searchsorted(d0, cand)]
        return cand[hit], dls[hit], tf_per_cand[hit]

    def search_mixed(
        self, query: str, k: int = 50, mode: str = "bm25",
    ) -> list[tuple[int, float]]:
        """Mixed quoted-phrase query on the DRIVER: every
        double-quoted span is an exact-phrase REQUIREMENT (conjunctive
        filter, scored as a pseudo-term via the positional sidecar);
        the remaining bag terms add their ordinary contributions (OR,
        never expanding the candidate set). A quote-free query
        delegates to search_local. Zero Spark jobs; rank/value
        identity with operators/phrase.py mixed_bm25 is
        pytest-enforced."""
        import math

        import numpy as np

        from . import B, K1
        from .operators.codec import decode_posting_list
        from .operators.phrase import parse_query
        from .oracle_py.oracle import bm25_idf, tfidf_idf

        bag_text, phrases = parse_query(query)
        if not phrases:
            return self.search_local(query, k=k, mode=mode)
        cand = dls = None
        pscore = None
        for ptext, pslop in phrases:
            m = self._phrase_matches(ptext, slop=pslop)
            if m is None:
                return []
            docs, pdls, ptfs = m
            dfm = int(docs.size)
            idf = (
                math.log((self.n - dfm + 0.5) / (dfm + 0.5) + 1.0)
                if mode == "bm25"
                else math.log(self.n / dfm)
            )
            tfd = ptfs.astype(np.float64)
            if mode == "bm25":
                ps = idf * tfd * (K1 + 1.0) / (
                    tfd
                    + K1
                    * (1.0 - B + B * pdls.astype(np.float64) / self.avgdl)
                )
            else:
                ps = tfd * idf
            if cand is None:
                cand, dls, pscore = docs, pdls, ps
            else:
                keep = np.isin(cand, docs, assume_unique=True)
                cand, dls, pscore = cand[keep], dls[keep], pscore[keep]
                if cand.size == 0:
                    return []
                pscore = pscore + ps[
                    np.isin(docs, cand, assume_unique=True)
                ]
        bag_terms = self.analyze(bag_text) if bag_text else []
        if bag_terms:
            lists = self._cached_term_lists(bag_terms)
            for t in dict.fromkeys(bag_terms):
                df, salted = lists.get(t, (0, []))
                if df <= 0:
                    continue
                parts = [
                    decode_posting_list(
                        [
                            b if isinstance(b, dict) else b.asDict()
                            for b in blocks
                        ]
                    )
                    for _salt, blocks in salted
                ]
                d = np.concatenate([p[0] for p in parts])
                tf = np.concatenate([p[1] for p in parts])
                dl = np.concatenate([p[2] for p in parts])
                order = np.argsort(d)
                d, tf, dl = d[order], tf[order], dl[order]
                pos = np.searchsorted(d, cand)
                pos = np.minimum(pos, max(d.size - 1, 0))
                sel = (d.size > 0) & (d[pos] == cand)
                if not sel.any():
                    continue
                idf = (
                    bm25_idf(self.n, int(df))
                    if mode == "bm25"
                    else tfidf_idf(self.n, int(df))
                )
                tfd = tf[pos[sel]].astype(np.float64)
                if mode == "bm25":
                    contrib = idf * tfd * (K1 + 1.0) / (
                        tfd
                        + K1
                        * (
                            1.0 - B
                            + B * dl[pos[sel]].astype(np.float64)
                            / self.avgdl
                        )
                    )
                else:
                    contrib = tfd * idf
                pscore = pscore.copy()
                pscore[sel] += contrib
        idx = np.lexsort((cand, -pscore))[: min(k, cand.size)]
        return [(int(cand[i]), float(pscore[i])) for i in idx]

    def set_synonyms(self, groups: list[list[str]]) -> None:
        """Write the query-time synonym sidecar (``synonyms.json``:
        RAW word groups; members are analyzed at LOAD time so the
        index's analyzer applies — a stemmed index gets stemmed
        synonym matching for free, same contract as every other query
        surface). Overwrites atomically (tmp + rename); pass [] to
        clear."""
        import json
        import os

        path = f"{self.index_dir}/synonyms.json"
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump([list(g) for g in groups], f)
        os.replace(tmp, path)
        self._syn_map = None

    def _load_synonyms(self) -> dict[str, list[str]]:
        """analyzed term -> full analyzed group (cached). Missing or
        empty sidecar -> {} (synonyms=True is then a no-op, never an
        error — the flag is safe to set unconditionally)."""
        if getattr(self, "_syn_map", None) is not None:
            return self._syn_map
        import json
        import os

        path = f"{self.index_dir}/synonyms.json"
        out: dict[str, list[str]] = {}
        if os.path.isfile(path):
            with open(path) as f:
                for group in json.load(f):
                    analyzed = list(
                        dict.fromkeys(
                            t
                            for w in group
                            for t in analyze_query(
                                w, stem=self.stem, analyzer=self.analyzer
                            )
                        )
                    )
                    if len(analyzed) > 1:
                        for t in analyzed:
                            # last-wins on overlapping groups (documented)
                            out[t] = analyzed
        self._syn_map = out
        return out

    def _search_local_synonyms(
        self, terms: list[str], k: int, mode: str,
        exc_by_salt: dict | None = None,
    ) -> list[tuple[int, float]]:
        """Driver-side SynonymQuery scoring: each query term's group
        (itself + sidecar synonyms) scores as ONE pseudo-term — per-doc
        tf summed over members, df = docs containing ANY member (the
        true disjunction df; operators/scoring.py score_synonyms
        docstring has the Lucene comparison). Decoded-array form like
        the AND path; rank-identical to the distributed operator
        (pytest)."""
        import numpy as np

        from . import B, K1
        from .operators.codec import decode_posting_list
        from .oracle_py.oracle import bm25_idf, tfidf_idf

        syn = self._load_synonyms()
        groups = []
        for t in dict.fromkeys(terms):
            groups.append(list(dict.fromkeys([t] + syn.get(t, []))))
        need = sorted({g for grp in groups for g in grp})
        lists = self._cached_term_lists(need)
        all_d, all_s = [], []
        for grp in groups:
            ds, tfs, dls = [], [], []
            for g in grp:
                df, salted = lists.get(g, (0, []))
                if df <= 0:
                    continue
                for _salt, blocks in salted:
                    d, tf, dl = decode_posting_list(
                        [
                            b if isinstance(b, dict) else b.asDict()
                            for b in blocks
                        ]
                    )
                    ds.append(d)
                    tfs.append(tf)
                    dls.append(dl)
            if not ds:
                continue
            d = np.concatenate(ds)
            tf = np.concatenate(tfs).astype(np.float64)
            dl = np.concatenate(dls).astype(np.float64)
            uniq, inv = np.unique(d, return_inverse=True)
            tf_sum = np.zeros(uniq.size)
            np.add.at(tf_sum, inv, tf)
            dl_u = np.zeros(uniq.size)
            dl_u[inv] = dl  # constant per doc
            df_g = int(uniq.size)
            idf = (
                bm25_idf(self.n, df_g)
                if mode == "bm25"
                else tfidf_idf(self.n, df_g)
            )
            if mode == "bm25":
                s = idf * tf_sum * (K1 + 1.0) / (
                    tf_sum
                    + K1 * (1.0 - B + B * dl_u / self.avgdl)
                )
            else:
                s = tf_sum * idf
            all_d.append(uniq)
            all_s.append(s)
        if not all_d:
            return []
        d = np.concatenate(all_d)
        s = np.concatenate(all_s)
        uniq, inv = np.unique(d, return_inverse=True)
        scores = np.zeros(uniq.size)
        np.add.at(scores, inv, s)
        if exc_by_salt:
            exc = np.concatenate(list(exc_by_salt.values()))
            keep = ~np.isin(uniq, exc)
            uniq, scores = uniq[keep], scores[keep]
        idx = np.lexsort((uniq, -scores))[: min(k, uniq.size)]
        return [(int(uniq[i]), float(scores[i])) for i in idx]

    def _excluded_docids_by_salt(
        self, excluded: list[str]
    ) -> dict[int, "np.ndarray"]:
        """Decode the excluded terms' posting docids, grouped by their
        doc-range salt — the driver-side NOT set. Cost tracks the
        excluded terms' posting sizes (the same reads a positive query
        on those terms would do), never the corpus."""
        import numpy as np

        from .operators.codec import decode_posting_list

        by_salt: dict[int, list] = {}
        for _t, (df, salted) in self._cached_term_lists(
            excluded
        ).items():
            if df <= 0:
                continue
            for salt, blocks in salted:
                d = decode_posting_list(
                    [
                        b if isinstance(b, dict) else b.asDict()
                        for b in blocks
                    ]
                )[0]
                by_salt.setdefault(salt, []).append(d)
        return {
            s: np.unique(np.concatenate(v))
            for s, v in by_salt.items()
        }

    def search_local(
        self, query: str, k: int = 50, mode: str = "bm25",
        semantics: str = "or", fuzzy: bool = False,
        negation: bool = False, synonyms: bool = False,
        boost: str | None = None,
    ) -> list[tuple[int, float]]:
        """Serve a query entirely on the DRIVER: pyarrow reads of the
        terms' bucket directories (row-group pruned on the term-sorted
        files), the same NumPy block-max kernel per doc-range shard, and
        a driver-side merge — zero Spark jobs, rank-identical to the
        distributed paths (pytest-enforced).

        This is the search-head serving mode: a Spark job costs ~0.5s of
        scheduling alone, which dwarfs the reference server's per-query
        wall (backend/services/mongoService.js). Use the distributed
        'wand' path when candidate posting lists exceed driver memory —
        at 10^12 docs that's head terms, exactly where the cluster earns
        its keep; the two paths share kernel and index format."""
        import os

        import numpy as np

        from .operators.wand import merge_topk, score_shard_topk

        excluded: list[str] = []
        required: list[str] = []
        t_should: list[str] = []
        t_must: list[str] = []
        t_not: list[str] = []
        if negation:
            # the flag enables the Lucene operators: -term (NOT),
            # +term (MUST), and title: field scoping; bare terms stay
            # SHOULD
            from .functions.analyzer import split_boolean

            should_q, must_q, neg_q = split_boolean(query)
            if "title:" in (query or "").lower():
                (
                    should_q, must_q, neg_q,
                    t_should, t_must, t_not, f_contra,
                ) = self._parse_field_clauses(should_q, must_q, neg_q)
                if f_contra:
                    return []
            if neg_q.strip():
                try:
                    excluded = self.analyze(neg_q)
                except EmptyQueryError:
                    excluded = []
            if must_q.strip():
                try:
                    required = self.analyze(must_q)
                except EmptyQueryError:
                    required = []
            query = f"{should_q} {must_q}".strip()
            if not query and not (t_should or t_must):
                return []  # pure-NOT query ranks nothing
        has_fields = bool(t_should or t_must or t_not)
        if not (query or "").strip():
            if not has_fields:
                # reference contract: a blank query RAISES (the HTTP
                # 400 'Empty query' body) — only field extraction may
                # legitimately empty the bag part
                self.analyze(query)
            terms = []
        else:
            terms = (
                # trailing-* tokens expand to top-df lexicon matches
                self.expand_query_terms(query)
                if "*" in (query or "")
                else self.analyze(query)
            )
        if not terms and not (t_should or t_must):
            return []
        if fuzzy:
            # did-you-mean: zero-df terms swap to their best spell
            # correction before retrieval (fuzzy_terms; needs the
            # SymSpell layout)
            terms, _ = self.fuzzy_terms(terms)
        from .functions.analyzer import resolve_boolean_overlap

        terms, contradiction = resolve_boolean_overlap(
            terms,
            terms if semantics == "and" else required,
            excluded,
        )
        if contradiction or (not terms and not has_fields):
            return []  # +t -t contradiction, or nothing positive left
        required = [t for t in required if t in terms]
        if not os.path.isdir(f"{self.index_dir}/term_stats"):
            raise FileNotFoundError(
                f"{self.index_dir}/term_stats missing — the local serving "
                "path needs the lexicon side table; rebuild the index or "
                "use path='wand'"
            )
        if has_fields:
            if (
                semantics == "and" or synonyms or mode == "bm25f"
                or fuzzy or boost
            ):
                raise ValueError(
                    "field-scoped terms (title:) compose with OR and "
                    "+/- only — not with semantics=and, synonyms, "
                    "bm25f, fuzzy, or boost"
                )
            return self._search_local_fielded(
                terms, required, t_should, t_must, t_not, excluded,
                k, mode,
            )
        exc_by_salt = (
            self._excluded_docids_by_salt(excluded) if excluded else {}
        )
        if boost is not None and boost != "":
            if boost != "static":
                raise ValueError(
                    f"unknown boost {boost!r}; supported: 'static'"
                )
            if (
                semantics == "and" or required or synonyms
                or mode == "bm25f"
            ):
                raise ValueError(
                    "boost=static composes with plain OR (and -term "
                    "NOT) retrieval only"
                )
            return self._search_local_boosted(
                terms, k, mode, exc_by_salt
            )
        if synonyms and self._load_synonyms():
            if semantics == "and" or required:
                raise ValueError(
                    "synonyms compose with OR/SHOULD semantics only (a "
                    "synonym group IS a disjunction)"
                )
            if mode == "bm25f":
                raise ValueError(
                    "bm25f does not compose with synonym groups yet — "
                    "pick one of mode=bm25f / synonyms=true"
                )
            return self._search_local_synonyms(
                terms, k, mode, exc_by_salt
            )
        if mode == "bm25f":
            if semantics == "and" or required:
                raise ValueError(
                    "bm25f serves OR/SHOULD semantics (title-boosted "
                    "accumulation); AND/MUST composition is not "
                    "supported"
                )
            return self._search_local_bm25f(terms, k, exc_by_salt)
        lists = self._cached_term_lists(terms)
        if semantics == "and" or required:
            return self._search_local_and(
                lists, terms, k, mode, exc_by_salt,
                required=(
                    None if semantics == "and" else required
                ),
            )
        by_salt: dict[int, list[dict]] = {}
        for _t, (df, salted) in lists.items():
            if df <= 0:
                continue
            for salt, blocks in salted:
                by_salt.setdefault(salt, []).append(
                    {"df": df, "blocks": blocks}
                )
        if not by_salt:
            return []
        shard_results = []
        for salt, tls in by_salt.items():
            exc = exc_by_salt.get(salt)
            if exc is not None and exc.size:
                # excluded docids ride the kernel's decode-time tombs
                # mask (sorted-unique by construction): NOT docs drop
                # BEFORE the top-k cut, so the heap stays k-sized no
                # matter how common the excluded term is — the same
                # mechanism tiered distributed serving uses
                tls = [{**tl, "tombs": exc} for tl in tls]
            d, s = score_shard_topk(tls, self.n, self.avgdl, k, mode)
            shard_results.append((d, s))
        return merge_topk(shard_results, k)

    def _search_local_and(
        self, lists: dict, terms: list[str], k: int, mode: str,
        exc_by_salt: dict | None = None,
        required: list[str] | None = None,
    ) -> list[tuple[int, float]]:
        """Conjunctive retrieval on the driver-local path: decode the
        candidate lists (already in hand from the cache/pyarrow read),
        keep docs present in every REQUIRED term's postings, score
        those over ALL query terms. ``required=None`` = every term
        (semantics='and'); a subset = Lucene's ``+term`` MUST with the
        rest as SHOULD (optional terms add to the score where present
        via a masked gather). Block-max pruning has nothing to add
        here — the intersection is the pruning. Results equal the
        exhaustive path (pytest)."""
        import numpy as np

        from . import B, K1
        from .operators.codec import decode_posting_list
        from .oracle_py.oracle import bm25_idf, tfidf_idf

        req = set(required) if required is not None else set(terms)
        per_term = []
        for t in dict.fromkeys(terms):
            df, salted = lists.get(t, (0, []))
            if df <= 0:
                if t in req:
                    return []  # an absent required term empties MUST
                continue  # absent SHOULD term contributes nothing
            parts = [
                decode_posting_list(
                    [
                        b if isinstance(b, dict) else b.asDict()
                        for b in blocks
                    ]
                )
                for _salt, blocks in salted
            ]
            d = np.concatenate([p[0] for p in parts])
            tf = np.concatenate([p[1] for p in parts])
            dl = np.concatenate([p[2] for p in parts])
            per_term.append((t in req, df, d, tf, dl))
        req_lists = [d for is_r, _df, d, _tf, _dl in per_term if is_r]
        if not req_lists:
            return []
        # docs containing every required term
        common = req_lists[0]
        for d in req_lists[1:]:
            common = common[np.isin(common, d, assume_unique=True)]
            if common.size == 0:
                return []
        if exc_by_salt:
            # NOT filter before the top-k cut; the exclusion arrays are
            # salt-keyed but np.isin over their union is equivalent (and
            # the intersection is already small)
            exc_all = np.concatenate(list(exc_by_salt.values()))
            common = common[~np.isin(common, exc_all)]
            if common.size == 0:
                return []
        common = np.sort(common)
        scores = np.zeros(common.size, dtype=np.float64)
        for _is_r, df, d, tf, dl in per_term:
            order = np.argsort(d)
            ds = d[order]
            pos = np.minimum(
                np.searchsorted(ds, common), ds.size - 1
            )
            sel = order[pos]
            present = ds[pos] == common  # all-True for required terms
            if not present.any():
                continue
            idf = (
                bm25_idf(self.n, int(df))
                if mode == "bm25"
                else tfidf_idf(self.n, int(df))
            )
            tfd = tf[sel].astype(np.float64)
            if mode == "bm25":
                contrib = idf * tfd * (K1 + 1.0) / (
                    tfd
                    + K1
                    * (1.0 - B + B * dl[sel].astype(np.float64) / self.avgdl)
                )
            else:
                contrib = tfd * idf
            scores[present] += contrib[present]
        idx = np.lexsort((common, -scores))[: min(k, common.size)]
        return [(int(common[i]), float(scores[i])) for i in idx]

    def search_ids(
        self,
        query: str,
        k: int = 50,
        mode: str = "bm25",
        path: str = "wand",
        semantics: str = "or",
        negation: bool = False,
        synonyms: bool = False,
    ) -> DataFrame:
        """Top-k (docid, score). ``path``: 'wand' = block-max pruned kernel;
        'exhaustive' = decode + Catalyst aggregation (oracle path);
        'local' = driver-side serve (see search_local) wrapped back into
        a DataFrame. ``semantics='and'`` (conjunctive retrieval — every
        query term required) is served by the local path's intersection
        scorer or the exhaustive path; a 'wand' request downgrades to
        exhaustive (the intersection IS the pruning — block-max skipping
        has nothing to add). ``negation=True`` parses ``-term`` tokens
        as Lucene NOT (opt-in so legacy hyphenated queries keep the
        reference's bag behavior): served local (per-shard filtered
        top-k) or exhaustive (LEFT ANTI join before the cut); a 'wand'
        request downgrades to exhaustive. ``synonyms=True`` is served on
        EVERY path: local uses the driver kernel, the distributed paths
        route through operators/scoring.score_synonyms (a 'wand' request
        downgrades — the group's summed-tf saturation is an aggregation,
        which block-max skipping cannot express); rank-identical across
        paths (pytest)."""
        excluded: list[str] = []
        required: list[str] = []
        t_should: list[str] = []
        t_must: list[str] = []
        t_not: list[str] = []
        if negation and path != "local":
            from .functions.analyzer import split_boolean

            should_q, must_q, neg_q = split_boolean(query)
            if "title:" in (query or "").lower():
                (
                    should_q, must_q, neg_q,
                    t_should, t_must, t_not, f_contra,
                ) = self._parse_field_clauses(should_q, must_q, neg_q)
                if f_contra:
                    return self.spark.createDataFrame(
                        [], "docid long, score double"
                    )
            if neg_q.strip():
                try:
                    excluded = self.analyze(neg_q)
                except EmptyQueryError:
                    excluded = []
            if must_q.strip():
                try:
                    required = self.analyze(must_q)
                except EmptyQueryError:
                    required = []
            query = f"{should_q} {must_q}".strip()
            if not query and not (t_should or t_must):
                return self.spark.createDataFrame(
                    [], "docid long, score double"
                )
            if (
                excluded or required or t_should or t_must or t_not
            ) and path == "wand":
                path = "exhaustive"
        has_fields = bool(t_should or t_must or t_not)
        if semantics == "and" and path == "wand":
            path = "exhaustive"
        if not (query or "").strip():
            if not has_fields:
                self.analyze(query)  # blank query raises (400 body)
            terms = []
        else:
            terms = (
                # wildcard expansion is a driver-side lexicon scan, so
                # the DISTRIBUTED paths expand identically to the local
                self.expand_query_terms(query)
                if "*" in (query or "")
                else self.analyze(query)
            )
        if not terms and not (t_should or t_must):
            return self.spark.createDataFrame([], "docid long, score double")
        from .functions.analyzer import resolve_boolean_overlap

        terms, contradiction = resolve_boolean_overlap(
            terms,
            terms if semantics == "and" else required,
            excluded,
        )
        if contradiction or (not terms and not has_fields):
            return self.spark.createDataFrame(
                [], "docid long, score double"
            )
        required = [t for t in required if t in terms]
        if has_fields and path != "local":
            if semantics == "and" or synonyms or mode == "bm25f":
                raise ValueError(
                    "field-scoped terms (title:) compose with OR and "
                    "+/- only — not with semantics=and, synonyms, or "
                    "bm25f"
                )
            return self._search_ids_fielded(
                terms, required, t_should, t_must, t_not, excluded,
                k, mode,
            )
        if path == "local":
            rows = [
                (int(d), float(s)) for d, s in self.search_local(
                    query, k=k, mode=mode, semantics=semantics,
                    negation=negation, synonyms=synonyms,
                )
            ]
            return self.spark.createDataFrame(
                rows, "docid long, score double"
            )
        syn = self._load_synonyms() if synonyms else {}
        if syn:
            if semantics == "and" or required:
                raise ValueError(
                    "synonyms compose with OR/SHOULD semantics only (a "
                    "synonym group IS a disjunction)"
                )
            from .operators.scoring import score_synonyms

            # each query term's group (itself + sidecar synonyms) scores
            # as ONE pseudo-term: summed tf, TRUE disjunction df — the
            # distributed twin of _search_local_synonyms, same sidecar
            groups = [
                list(dict.fromkeys([t] + syn.get(t, [])))
                for t in dict.fromkeys(terms)
            ]
            need = sorted({g for grp in groups for g in grp})
            flat = decode_postings_df(
                self._postings(need + excluded).filter(
                    F.col("term").isin(need + excluded)
                )
            )
            # df is computed over ALL docs the groups match (exclusion
            # narrows candidates, not collection stats) — score with
            # k=None, anti-join the NOT set, then cut, mirroring the
            # local kernel's order of operations exactly
            res = score_synonyms(
                flat.filter(F.col("term").isin(need)),
                groups, self.n, self.avgdl, k=None, mode=mode,
            )
            if excluded:
                exc_docs = (
                    flat.filter(F.col("term").isin(excluded))
                    .select("docid").distinct()
                )
                res = res.join(exc_docs, "docid", "left_anti")
            return res.orderBy(
                F.desc("score"), F.asc("docid")
            ).limit(k)
        if mode == "bm25f":
            import os as _os

            if semantics == "and" or required:
                raise ValueError(
                    "bm25f serves OR/SHOULD semantics (title-boosted "
                    "accumulation); AND/MUST composition is not "
                    "supported"
                )
            if not _os.path.isdir(f"{self.index_dir}/title_tf"):
                raise FileNotFoundError(
                    f"{self.index_dir}/title_tf missing — BM25F needs "
                    "the title-field sidecar; run "
                    "engine.build_title_tf() (CLI: titleindex)"
                )
            from .operators.postings import term_bucket
            from .operators.scoring import score_bm25f

            # wand downgrades: block maxima were computed for the
            # UNboosted tf, so pruning bounds would be unsound under
            # the title boost — same aggregation-form downgrade as
            # synonyms/AND
            flat = decode_postings_df(
                self._postings(terms + excluded).filter(
                    F.col("term").isin(terms + excluded)
                )
            )
            tbuckets = sorted(
                {term_bucket(t, self.n_buckets) for t in terms}
            )
            title = (
                self.spark.read.parquet(f"{self.index_dir}/title_tf")
                .filter(F.col("bucket").isin(tbuckets))
                .select("docid", "term", "tf", "doc_len")
            )
            res = score_bm25f(
                flat.filter(F.col("term").isin(terms)),
                title, terms, self.n, self.avgdl, k=None,
                title_weight=self.DEFAULT_TITLE_WEIGHT,
            )
            if excluded:
                exc_docs = (
                    flat.filter(F.col("term").isin(excluded))
                    .select("docid").distinct()
                )
                res = res.join(exc_docs, "docid", "left_anti")
            return res.orderBy(
                F.desc("score"), F.asc("docid")
            ).limit(k)
        postings = self._postings(terms + excluded)
        if path == "wand":
            import os

            has_lexicon = os.path.isdir(f"{self.index_dir}/term_stats")
            return search_topk(
                postings, terms, self.n, self.avgdl, k=k, mode=mode,
                # no lexicon (pre-term_stats index): search_topk falls
                # back to collecting df from the candidate metadata
                df_map=self.term_df(terms) if has_lexicon else None,
                n_shards=1 << self.salt_bits,
            )
        flat = decode_postings_df(
            postings.filter(F.col("term").isin(terms + excluded))
        )
        return score_exhaustive(
            flat, terms, self.n, self.avgdl, k, mode,
            semantics=semantics, exclude_terms=excluded or None,
            required_terms=required or None,
        )

    def search_many(
        self, queries: list[str], k: int = 50, mode: str = "bm25"
    ) -> DataFrame:
        """Batch serving: top-k for MANY queries in ONE Spark job —
        (query_id, docid, score), query_id = position in ``queries``.
        Rank-identical per query to search_ids (pytest-enforced);
        queries that analyze to nothing (empty, all-absent terms)
        produce no rows rather than erroring the whole batch. The bulk
        analogue of the reference's one-request-per-query serving
        (backend/controllers/queryController.js); see
        operators/wand.py search_topk_many for the cost model."""
        from .operators.wand import search_topk_many

        qmap: dict[int, list[str]] = {}
        for i, q in enumerate(queries):
            try:
                terms = self.analyze(q)
            except EmptyQueryError:
                continue
            if terms:
                qmap[i] = terms
        if not qmap:
            return self.spark.createDataFrame(
                [], "query_id int, docid long, score double"
            )
        all_terms = sorted({t for ts in qmap.values() for t in ts})
        import os

        has_lexicon = os.path.isdir(f"{self.index_dir}/term_stats")
        return search_topk_many(
            self._postings(all_terms),
            qmap,
            self.n,
            self.avgdl,
            k=k,
            mode=mode,
            df_map=self.term_df(all_terms) if has_lexicon else None,
            n_shards=1 << self.salt_bits,
        )

    def facet_fields(self) -> list[str]:
        """Facet fields available on this index: the categorical
        corpus columns the docs side table carried through the build
        (plans/build.py FACET_COLUMNS)."""
        from .plans.build import FACET_COLUMNS

        names = set(self._side_dataset("docs").schema.names)
        return [c for c in FACET_COLUMNS if c in names]

    def _facet_arrays(self, field: str):
        """Doc-values analogue for one facet field: per-salt
        (docid-sorted ids, int codes) + the category list, from a
        COLUMN-PRUNED (docid, field, salt) read of the docs side table
        — snippet/images/text bytes are never touched (parquet column
        pruning; pytest-asserted). Cached per engine instance, exactly
        like Lucene holds doc values per segment; at scales where the
        facet column no longer fits the driver, the distributed twin
        is the facet_counts entry operator (same semantics, one Spark
        job)."""
        import numpy as np

        cache = getattr(self, "_facet_cache", None)
        if cache is None:
            cache = self._facet_cache = {}
        if field in cache:
            return cache[field]
        if field not in self.facet_fields():
            raise ValueError(
                f"unknown facet field {field!r}; this index has: "
                f"{self.facet_fields() or 'none'}"
            )
        tbl = self._side_dataset("docs").to_table(
            columns=["docid", field, "salt"]
        )
        d = tbl.column("docid").to_numpy()
        salts = tbl.column("salt").to_numpy()
        vals = tbl.column(field).to_pylist()
        cats = sorted(
            {v for v in vals}, key=lambda x: (x is None, x or "")
        )
        code_of = {c: i for i, c in enumerate(cats)}
        codes = np.fromiter(
            (code_of[v] for v in vals), np.int32, len(vals)
        )
        by_salt: dict[int, tuple] = {}
        for s in np.unique(salts):
            m = salts == s
            ds, cs = d[m], codes[m]
            order = np.argsort(ds, kind="stable")
            by_salt[int(s)] = (ds[order], cs[order])
        cache[field] = (by_salt, cats)
        return cache[field]

    def facet_counts(
        self, query: str, field: str = "lang", negation: bool = False,
        top: int = 100,
    ) -> dict:
        """Per-facet doc counts over the FULL match set (every doc
        containing any positive query term — OR semantics), NOT just
        the top-k page: the search-head companion the reference's UI
        paginates blindly without. Bounded cost, zero Spark jobs: the
        match set decodes from the SAME cached posting reads scoring
        used (the cost a positive query on those terms already paid),
        facet values come from the cached doc-values arrays
        (_facet_arrays). Composes with ``-term`` NOT under
        ``negation=True`` (excluded docs leave the counts). A null
        facet value counts under ``""``. ``top`` caps the returned
        categories (count desc, value asc — Lucene facet order): a
        high-cardinality field (source domains at web scale) must not
        produce an unbounded response."""
        import numpy as np

        from .functions.analyzer import (
            resolve_boolean_overlap, split_boolean,
        )

        excluded: list[str] = []
        required: list[str] = []
        if negation:
            should_q, must_q, neg_q = split_boolean(query)
            if neg_q.strip():
                try:
                    excluded = self.analyze(neg_q)
                except EmptyQueryError:
                    excluded = []
            if must_q.strip():
                try:
                    required = self.analyze(must_q)
                except EmptyQueryError:
                    required = []
            query = f"{should_q} {must_q}".strip()
            if not query:
                return {}
        terms = (
            self.expand_query_terms(query)
            if "*" in (query or "")
            else self.analyze(query)
        )
        terms, contradiction = resolve_boolean_overlap(
            terms, required, excluded
        )
        if contradiction or not terms:
            return {}
        by_salt, cats = self._facet_arrays(field)
        # same decode-by-salt helper the NOT path uses: docids
        # containing ANY of the given terms, grouped by shard
        pos = self._excluded_docids_by_salt(terms)
        exc = (
            self._excluded_docids_by_salt(excluded) if excluded else {}
        )
        totals = np.zeros(len(cats), np.int64)
        for salt, m in pos.items():
            e = exc.get(salt)
            if e is not None and e.size:
                m = m[~np.isin(m, e)]
            fd, codes = by_salt.get(
                salt, (np.empty(0, np.int64), np.empty(0, np.int32))
            )
            if not m.size or not fd.size:
                continue
            p = np.searchsorted(fd, m)
            p = np.minimum(p, fd.size - 1)
            hit = fd[p] == m
            totals += np.bincount(
                codes[p[hit]], minlength=len(cats)
            ).astype(np.int64)
        ranked = sorted(
            (
                (("" if c is None else c), int(n))
                for c, n in zip(cats, totals)
                if n > 0
            ),
            key=lambda kv: (-kv[1], kv[0]),
        )
        return dict(ranked[: max(1, int(top))])

    def lookup_docs(
        self, docids: list[int], with_images: bool = True
    ) -> list[dict]:
        """Point-lookup hydration: the reference's result fetch
        (mongoService.js:75-113, ``find({_id: {$in: ids}})`` over the
        _id B-tree) as a driver-side point read over CACHED parquet
        footers (_point_read). The docs table is partitioned by the
        docid-range salt, so only the <= k salt directories holding the
        requested ids are touched; each directory's file list, footers
        and per-row-group docid min/max are read once per engine (it
        pins an immutable snapshot), and a lookup reads only the
        docid-sorted row groups that can hold a requested id. No Spark
        job, no directory listing or dataset discovery per query: cost
        tracks k (<= 50), not corpus size. An id whose salt directory
        does not exist is simply not found. A legacy unpartitioned
        layout (files directly under docs/) is point-read as one
        directory."""
        if not docids:
            return []
        cols = ["docid", "url", "title", "snippet"]
        if with_images:
            cols += ["images", "image_count"]
        ids = [int(d) for d in docids]
        reads: dict[str, list[int]] = {}
        if self._footer_index("docs", "docid"):  # legacy, unpartitioned
            reads["docs"] = ids
        else:
            for d in ids:
                reads.setdefault(
                    f"docs/salt={salt_of(d, self.salt_bits)}", []
                ).append(d)
        tbl = self._point_read("docid", cols, reads)
        return [] if tbl is None else tbl.to_pylist()

    def search(
        self,
        query: str,
        k: int = 50,
        mode: str = "bm25",
        path: str = "wand",
        with_images: bool = False,
        negation: bool = False,
        synonyms: bool = False,
    ) -> DataFrame:
        """Hydrated top-k: (docid, url, title, snippet, score) — the
        reference's result-fetch join (mongoService.js:75-113: $in over
        the _id B-tree), as a POINT LOOKUP against the docs table, never
        a table scan. The <= k result ids are collected (they are
        driver-side anyway — any hydration join would broadcast them)
        and the docs read is pruned twice: a salt PartitionFilter keeps
        only the <= k salt directories holding the ids (a 10^12-row
        table's other files are never listed), and docid IN(...) pushes
        into row-group min/max stats inside them. tools/explain_audit.py
        asserts both filters reach the scan. ``with_images`` adds the
        per-doc image metadata columns (images:
        array<struct<image_id,src>>, image_count) when the index was
        built with them."""
        id_rows = [
            (int(r["docid"]), float(r["score"]))
            for r in self.search_ids(
                query, k=k, mode=mode, path=path, negation=negation,
                synonyms=synonyms,
            ).collect()
        ]
        docs = self.spark.read.parquet(f"{self.index_dir}/docs")
        cols = ["docid", "url", "title", "snippet", "score"]
        if with_images:
            cols += ["images", "image_count"]
        scores = self.spark.createDataFrame(
            id_rows, "docid long, score double"
        )
        if not id_rows:
            return (
                docs.filter(F.lit(False))
                .join(F.broadcast(scores), "docid")
                .select(*cols)
            )
        docids = [d for d, _ in id_rows]
        if "salt" in docs.columns:
            docs = docs.filter(
                F.col("salt").isin(
                    sorted({salt_of(d, self.salt_bits) for d in docids})
                )
            )
        return (
            docs.filter(F.col("docid").isin(docids))
            .join(F.broadcast(scores), "docid")
            .select(*cols)
            .orderBy(F.desc("score"), F.asc("docid"))
        )

    def query_response(
        self,
        query: str,
        option_name: str = "tfidf",
        k: int = 50,
        path: str = "local",
        semantics: str = "or",
        page: int | None = None,
        per_page: int = 10,
        phrase: bool = False,
        fuzzy: bool = False,
        highlight: bool = False,
        negation: bool = False,
        synonyms: bool = False,
        facets: str | None = None,
        facet_top: int = 100,
        boost: str | None = None,
    ) -> dict:
        """The reference's full HTTP response shape
        (backend/controllers/queryController.js:11-59):

        - empty/whitespace query -> {"success": False, "result": [],
          "error": "Empty query"} (the exact 400 body,
          queryController.js:25);
        - optionName defaults to 'tfidf', lowercased
          (queryController.js:19);
        - otherwise {"imageResult", "textResult", "searchTime",
          "profile": {"measures": [{name, duration_ms}, ...],
          "sysSnapshot": {rss_mb, heapUsed_mb, heapTotal_mb,
          eventLoopDelay_ms}}} with per-stage spans mirroring
          utils/profiler.js:8-29 (validate_input / stem_query /
          get_documents / fetch_results / get_image_filenames /
          total_request; connect_to_db has no analogue — there is no
          connection pool). sysSnapshot maps Node's process.memoryUsage
          (profiler.js:21-29) to the driver process: rss_mb = VmRSS,
          heapUsed_mb = VmData, heapTotal_mb = VmSize from
          /proc/self/status; eventLoopDelay_ms pinned 0 as in the
          reference.
        """

        import os as _os

        # quoted spans auto-route to mixed phrase semantics WHEN the
        # positional sidecar exists; without it quotes keep the legacy
        # behavior (the analyzer strips them -> bag-of-words), so
        # existing indexes never start erroring on quoted input
        mixed = '"' in (query or "") and _os.path.isdir(
            f"{self.index_dir}/positions"
        )

        def get_ids(mode):
            if phrase:
                # exact-phrase extension: BM25 pseudo-term ranks from
                # the positional sidecar, reference response shape
                return [
                    (d, s) for d, s, _tf in self.search_phrase(
                        query, k=k
                    )
                ]
            if mixed:
                if negation:
                    # NOT composes with mixed quoted queries: strip
                    # the -terms, run mixed to top-(k + |excluded|)
                    # (exact — at most that many results can drop),
                    # then filter. Quoted spans themselves are never
                    # negated (Lucene parity: NOT applies to terms).
                    from .functions.analyzer import split_negations

                    pos_q, neg_q = split_negations(query)
                    exc: set[int] = set()
                    if neg_q.strip():
                        try:
                            exc = {
                                int(d)
                                for a in self._excluded_docids_by_salt(
                                    self.analyze(neg_q)
                                ).values()
                                for d in a
                            }
                        except EmptyQueryError:
                            exc = set()
                    # over-fetch is CAPPED then iteratively deepened:
                    # excluding a high-df term must not grow the top-k
                    # heap (and the driver-side result list) by its
                    # whole posting count up front. Exact: we only stop
                    # shallow when the filtered page is already full or
                    # the engine returned fewer rows than asked (no
                    # deeper matches exist).
                    k_full = k + len(exc)
                    k_eff = min(k_full, max(4 * k, k + 64))
                    while True:
                        res = self.search_mixed(
                            pos_q, k=k_eff, mode=mode
                        )
                        out = [
                            (d, s) for d, s in res if d not in exc
                        ][:k]
                        if (
                            len(out) >= k
                            or len(res) < k_eff
                            or k_eff >= k_full
                        ):
                            return out
                        k_eff = min(k_full, 4 * k_eff)
                return self.search_mixed(query, k=k, mode=mode)
            if path != "local":
                return [
                    (r["docid"], r["score"])
                    for r in self.search_ids(
                        query, k=k, mode=mode, path=path,
                        semantics=semantics, negation=negation,
                        synonyms=synonyms,
                    ).collect()
                ]
            return self.search_local(
                query, k=k, mode=mode, semantics=semantics, fuzzy=fuzzy,
                negation=negation, synonyms=synonyms, boost=boost,
            )

        if fuzzy and path != "local":
            raise ValueError(
                "fuzzy (did-you-mean) is served by the local path"
            )
        if boost:
            if path != "local":
                raise ValueError(
                    "boost=static is served by the local path (the "
                    "distributed twin is the bm25_static_rank plan)"
                )
            if phrase or mixed:
                raise ValueError(
                    "boost=static composes with bag-of-words retrieval "
                    "only (not phrase/mixed queries)"
                )
        # highlight/corrections analyze the POSITIVE part only — an
        # excluded term never appears in results
        hl_query = query
        if negation:
            from .functions.analyzer import split_negations

            hl_query = split_negations(query)[0]
        decorate = None
        if highlight:
            from .functions.textstats import highlight_snippet

            hterms = set(self.analyze(hl_query))
            if fuzzy:
                hterms |= set(
                    self.fuzzy_terms(self.analyze(hl_query))[0]
                )

            def decorate(s, _t=frozenset(hterms)):
                return highlight_snippet(s, _t, self.analyzer)

        resp = assemble_reference_response(
            query, option_name, self.analyze, get_ids, self.lookup_docs,
            page=page, per_page=per_page, decorate_snippet=decorate,
        )
        if fuzzy and resp.get("success") is not False:
            # surface what was corrected (extension field; absent when
            # nothing needed correcting, so the reference shape holds)
            _t, corr = self.fuzzy_terms(self.analyze(query))
            if corr:
                resp["corrections"] = corr
        if facets and resp.get("success") is not False:
            # per-facet counts over the FULL match set (facet_counts);
            # extension field — absent unless requested, so the
            # reference response shape holds. Comma-separated fields
            # share the match-set decode via the term-list cache.
            resp["facets"] = {
                f: self.facet_counts(
                    query, field=f, negation=negation, top=facet_top
                )
                for f in (
                    s.strip() for s in facets.split(",")
                )
                if f
            }
        return resp

    def image_results(
        self, query: str, k: int = 50, mode: str = "bm25",
        path: str = "wand",
    ) -> list[str]:
        """Flattened image_ids across the top-k docs, result order — the
        reference's imageResult payload (backend/utils/fileUtils.js:6-28:
        flatten doc.images[].image_id over the <=50 result rows,
        driver-side). Hydration is the lookup_docs point lookup, never a
        docs-table scan."""
        ids = (
            self.search_local(query, k=k, mode=mode)
            if path == "local"
            else [
                (r["docid"], r["score"])
                for r in self.search_ids(
                    query, k=k, mode=mode, path=path
                ).collect()
            ]
        )
        score_map = dict(ids)
        rows = sorted(
            self.lookup_docs([d for d, _ in ids]),
            key=lambda r: (-score_map[r["docid"]], r["docid"]),
        )
        return [
            img["image_id"] for r in rows for img in (r["images"] or [])
        ]
