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

Every serving mode, path and source read (search_local, search_ids,
search_many, search_phrase, search_mixed, facet_counts, query_response,
suggest, correct, lookup_docs, ...) is inherited from
serving.ServingCore, shared with tiered.TieredEngine. This class is a
single index's segment list — ``segments == [(self, no tombstones,
1.0)]`` — and the READER of one index directory that the core folds
over every segment: lexicon df and posting lists, lexicon ranges,
wildcard and spell candidates, raw title, phrase and facet rows, doc
rows, the synonym sidecar and the distributed postings and title
scans; plus the build/merge lifecycle.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.analyzer import analyze_query
from .operators.postings import DEFAULT_BUCKETS, term_bucket
from .plans.build import build_index
from .serving import EmptyQueryError, ServingCore


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


class SearchEngine(ServingCore):
    # a single index is one segment: no docs overridden by a later one
    overridden = 0

    @property
    def segments(self) -> list:
        """The core's source: this index as its only segment, with no
        tombstones and its block-max bounds at its own avgdl."""
        return [(self, np.empty(0, np.int64), 1.0)]

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
        # term -> title_tf rows, under the same cache_terms LRU rule
        self._title_cache: "OrderedDict[str, tuple]" = OrderedDict()
        # the caches are served from ThreadingHTTPServer worker threads:
        # check-then-use against concurrent eviction needs a lock (loads
        # happen outside it; a double-load of the same term is a benign
        # idempotent insert)
        self._cache_lock = threading.Lock()

    def clear_cache(self) -> None:
        with self._cache_lock:
            self._term_cache.clear()
            self._title_cache.clear()
        self._footers = {}

    def _cache_get(self, cache, terms) -> tuple[dict, list]:
        """(cached term -> value, [uncached terms]) of ``terms`` in one
        of the per-term LRU caches; hits become most recent."""
        out: dict = {}
        missing: list[str] = []
        with self._cache_lock:
            for t in dict.fromkeys(terms):
                if t in cache:
                    cache.move_to_end(t)
                    out[t] = cache[t]
                else:
                    missing.append(t)
        return out, missing

    def _cache_put(self, cache, loaded: dict) -> None:
        """Insert ``loaded`` into a per-term LRU cache as most recent and
        evict the least recent past ``cache_terms`` (0: cache nothing)."""
        with self._cache_lock:
            if self._cache_cap:
                for t, v in loaded.items():
                    cache[t] = v
                    cache.move_to_end(t)
            while len(cache) > self._cache_cap:
                cache.popitem(last=False)

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
        out, missing = self._cache_get(self._term_cache, terms)
        if missing:
            import os

            if not os.path.isdir(f"{self.index_dir}/term_stats"):
                raise FileNotFoundError(
                    f"{self.index_dir}/term_stats missing — the local "
                    "serving path needs the lexicon side table; rebuild "
                    "the index or use path='wand'"
                )
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
            out.update(loaded)
            self._cache_put(self._term_cache, loaded)
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

    def _title_scan(self, terms: list[str]) -> DataFrame | None:
        """(term, docid, tf, doc_len) title rows of ``terms``: a scan of
        the title_tf sidecar pruned to the terms' bucket directories,
        with the term predicate pushed into the parquet reader; None
        without the sidecar."""
        if not self._has_sidecar("title_tf"):
            return None
        buckets = sorted({term_bucket(t, self.n_buckets) for t in terms})
        return (
            self.spark.read.parquet(f"{self.index_dir}/title_tf")
            .filter(F.col("bucket").isin(buckets))
            .filter(F.col("term").isin(terms))
            .select(
                "term",
                F.col("docid").cast("long").alias("docid"),
                F.col("tf").cast("int").alias("tf"),
                F.col("doc_len").cast("int").alias("doc_len"),
            )
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
        self.clear_cache()

    def _title_rows(self, terms: list[str]) -> dict | None:
        """term -> (docids, title_tfs, body_doc_lens) numpy arrays, docid
        sorted, from the title_tf sidecar — pyarrow over the terms'
        bucket directories (term-sorted row groups), no Spark job, the
        same cached-footer point read as term_df, cached per term in
        the ``cache_terms`` LRU (absent terms too, as empty arrays). None
        without the sidecar."""
        if not self._has_sidecar("title_tf"):
            return None
        out, want = self._cache_get(self._title_cache, terms)
        if not want:
            return out
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
        self._cache_put(self._title_cache, {t: out[t] for t in want})
        return out

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

    def _wildcard_matches(self, pattern: str) -> list[tuple[str, int]]:
        """Every (term, df) of this lexicon matching one wildcard token
        (``snow*``, ``*ing``, ``s*ing``, multi-star), uncapped.

        Strategy (the Lucene automaton's range-scan slice, made
        distributed-storage-friendly): take the LONGER of the literal
        prefix / literal suffix as the candidate source — a
        footer-pruned range scan of the forward lexicon (prefix) or
        the reversed-term sidecar (suffix; ``build_lexicon_rev``,
        CLI ``revindex``) — then regex-filter the pruned candidates
        against the full pattern. The scan is O(range straddle), never
        a lexicon scan; the regex touches only pruned candidate rows,
        and filtering happens BEFORE any cap, so selective infixes
        aren't starved by high-df prefix cousins. A pattern with no
        literal anchor (``*``) raises EmptyQueryError; a leading/infix
        pattern whose only anchor is the suffix raises
        FileNotFoundError with the revindex remedy when the sidecar is
        absent."""
        import re as _re

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
            if not self._has_sidecar("lexicon_rev"):
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
        return [(t, df) for t, df in cands if rx.match(t)]

    def _build_spell_layout(self, max_dist: int) -> None:
        """Materialize the SymSpell deletion-neighborhood layout
        (operators/fuzzy.py) under ``index_dir/spell`` from the
        lexicon — one lexicon-sized Spark job."""
        from .operators.fuzzy import spellindex_write

        spellindex_write(
            self.spark.read.parquet(f"{self.index_dir}/term_stats"),
            f"{self.index_dir}/spell",
            max_dist=max_dist,
        )
        self._datasets.pop("spell", None)

    def _spell_candidates(self, term: str) -> list[tuple[str, int, int]]:
        """Every correction of one term in this lexicon: [(term, dist,
        df)] — a driver-side SymSpell candidate lookup + DP-levenshtein
        verify (operators/fuzzy.py spell_lookup), zero Spark jobs.
        Equivalence with the distributed levenshtein scan is
        pytest-enforced."""
        import re

        from .operators.fuzzy import spell_lookup

        t = re.sub(r"[^a-z0-9]", "", (term or "").lower())
        if not t:
            raise EmptyQueryError("Empty query")
        if not self._has_sidecar("spell"):
            raise FileNotFoundError(
                f"{self.index_dir}/spell missing — corrections need "
                "the materialized deletion-neighborhood index; run "
                "engine.build_spellindex() (CLI: spellindex)"
            )
        return spell_lookup(
            f"{self.index_dir}/spell", t, k=None,
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

    def _has_sidecar(self, name: str) -> bool:
        import os

        return os.path.isdir(f"{self.index_dir}/{name}")

    def _phrase_rows(self, phrase: str, slop: int = 0):
        """Phrase machinery (search_phrase / search_mixed):
        sidecar read + vectorized adjacency (or, with ``slop`` > 0,
        the greedy ordered-window chain — smallest-successor chains
        minimize the final position, so greedy-exists == exists) ->
        (docids, doc_lens, phrase_tfs) NumPy arrays in docid order for
        the matching docs; None when a phrase term is absent or
        nothing matches. tf counts distinct start positions."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.dataset as pads

        from .operators.codec import varbyte_decode
        from .operators.phrase import phrase_slots
        from .operators.postings import term_bucket

        if not (phrase or "").strip():
            raise EmptyQueryError("Empty query")
        if not self._has_sidecar("positions"):
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

    def _read_synonyms(self) -> dict[str, list[str]] | None:
        """analyzed term -> full analyzed group from the synonyms.json
        sidecar; None without one (an empty sidecar is {})."""
        import json
        import os

        path = f"{self.index_dir}/synonyms.json"
        if not os.path.isfile(path):
            return None
        out: dict[str, list[str]] = {}
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
        return out

    def _doc_columns(self) -> list[str]:
        """Column names of the docs side table (facet fields among
        them: plans/build.py FACET_COLUMNS)."""
        return self._side_dataset("docs").schema.names

    def _facet_rows(self, field: str):
        """Doc-values analogue for one facet field: [(docid-sorted ids,
        int codes)] per salt shard + the category list, from a
        COLUMN-PRUNED (docid, field, salt) read of the docs side table
        — snippet/images/text bytes are never touched (parquet column
        pruning; pytest-asserted). At scales where the facet column no
        longer fits the driver, the distributed twin is the
        facet_counts entry operator (same semantics, one Spark job)."""
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
        return list(by_salt.values()), cats

    def _doc_rows(
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
