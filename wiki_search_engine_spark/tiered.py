"""Tiered (segment) serving: query base + delta indexes as ONE index.

The incremental merge (plans/merge.py) produces a single exact index,
but it WRITES a complete new index every fold — pass-through avoids
re-encoding untouched posting groups, yet the IO is still index-sized.
At 10^12 docs that is petabytes per crawl batch. The standard web-scale
answer (Lucene segments, every LSM store) is to serve the segments
directly and compact offline:

- each crawl batch stays its own index (a segment), built by the normal
  ``plans/build.py`` pipeline — batch-sized IO, nothing rewritten;
- a later segment OVERRIDES earlier ones per docid (docid = stable url
  hash, so "same url re-crawled" == "same docid"): earlier segments get
  a TOMBSTONE set = the sorted docid arrays of later segments (only
  crawl batches are ever loaded — the base's docid set is never read);
- queries run against all segments; stale base postings are dropped at
  decode time by a vectorized searchsorted against the tombstones.

EXACTNESS — this is not the usual "df is slightly stale until
compaction" segment engine: scores are IDENTICAL to the compacted
(merged) index, pytest-enforced and DuckDB-oracle-checked:

- N / avgdl: segment stats combine, minus the overridden docs' counts
  and lengths (a pruned point lookup of the later segments' docids in
  earlier ``doc_stats``, which is docid-sorted for this);
- df per query term: counted from the LIVE postings — the candidate
  lists are decoded anyway to score, so tombstoned postings are both
  excluded from scoring and subtracted from df before idf is computed
  (two passes over arrays already in memory, not extra IO).

Every query mode and path — driver-local (``search_local``,
``search_phrase``, ``search_mixed``, ``facet_counts``,
``query_response``) and distributed (``search_ids``, ``search_many``) —
is the SAME code as the single index: ``serving.ServingCore``, inherited
by both engines, of which a single index is the one-segment case.
TieredEngine is only its SOURCE:

- driver-local: ``_live_postings`` (one list per segment and salt shard,
  carrying that segment's tombstones and the block-max bound scale
  max(1, live avgdl / segment avgdl); live df = summed lexicon df while
  no doc is overridden, else counted from the decoded live docids),
  ``_live_title_rows``, ``_live_phrase_matches`` and
  ``_live_facet_arrays`` (tombstone-filtered per segment) and
  ``lookup_docs`` (newest segment wins). Plain OR therefore runs the
  block-max shard kernel over an append-only segment list and the
  decoded exhaustive accumulate once a doc is overridden;
- distributed: ``_candidate_postings`` (the union of every segment's
  bucket-pruned postings with a ``seg`` column), ``tombstones`` and
  ``ub_scales`` per segment, ``_live_df_map`` (summed lexicon df while
  append-only, else one job that counts the live postings where they
  are) and ``_title_relation`` (the live title rows). Segments share
  the docid-range salt domain, so a shard holds every segment's
  postings for its range and per-shard top-k stays exact — the cluster
  path for head terms.

A segment list has no static rank (``SERVES_STATIC_BOOST = False``):
every ``boost`` request raises ValueError (HTTP 400).

Compaction IS ``plans/merge.py``: fold segments when their count or
tombstone ratio grows (``compact`` below; automated in
``maintain_segments_incremental``), shrinking per-query segment fan-in
back to one.

Reference contract: identical results to merging the crawl batch into
the index (crawler re-crawl overwrite, Crawler/crawler.py:401-406) —
verified against the merged index and against DuckDB scoring over the
live corpus.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import SparkSession

from .engine import SearchEngine
from .serving import EmptyQueryError, LiveList, ServingCore

_COMPAT_KEYS = ("stem", "analyzer", "n_buckets", "salt_bits")

# Auto-compaction threshold for maintain_segments_incremental, backed by
# the measured segment-count serving curve (bench.py
# tiered_local_p50_{1,2,4,8}seg, local[32] @ sf0.1-sized segments):
# p50 grows LINEARLY with segment count — 13.5ms/27.5ms/53.6ms/105.5ms
# at 1/2/4/8 segments (~13ms per segment: each segment adds one lexicon
# read + one bucket-pruned postings read per query; there is no knee to
# sit under). 4 keeps steady-state serving within ~4x the compacted
# index's p50 (~55ms here) while still amortizing compaction over
# several batch folds; raise it only if ingest throughput matters more
# than query latency.
DEFAULT_COMPACT_AFTER = 4


def is_deletes_segment(path: str) -> bool:
    """True if ``path`` is a tombstone-only DELETES segment (meta.json
    type == 'deletes') rather than a full index segment."""
    import json
    import os

    meta_path = f"{path}/meta.json"
    if not os.path.exists(meta_path):
        return False
    with open(meta_path) as f:
        return json.load(f).get("type") == "deletes"


def read_deletes_docids(path: str) -> np.ndarray:
    import pyarrow.parquet as pq

    return np.sort(
        pq.read_table(f"{path}/docids", columns=["docid"])
        .column("docid")
        .to_numpy()
        .astype(np.int64)
    )


def write_deletes_segment(
    path: str,
    docids: list[int] | None = None,
    urls: list[str] | None = None,
    spark: SparkSession | None = None,
) -> str:
    """Takedown WITHOUT index-sized IO: materialize a tombstone-only
    DELETES segment — a sorted docid list plus a type marker, no
    postings, no docs. Appended to a TieredEngine's segment list it
    removes the docs from every EARLIER segment exactly like a re-crawl
    override (live N/avgdl/df all drop — same tombstone machinery), so
    right-to-be-forgotten costs O(|batch|) like any crawl fold; the
    index-sized rewrite (plans/merge.py delete_docs) becomes the
    compaction-time path (``compact`` folds deletes segments in via
    delete_docs). Pure driver-side pyarrow; ``urls`` need ``spark`` for
    the one tiny xxhash64 job that derives docids the same way the
    build does. Written atomically (.building rename)."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    if (docids is None) == (urls is None):
        raise ValueError("pass exactly one of docids= or urls=")
    if urls is not None:
        if spark is None:
            raise ValueError("urls= needs spark= for docid derivation")
        from .operators.tokenize import with_docid

        rows = with_docid(
            spark.createDataFrame([(u,) for u in urls], "url string"),
            "url",
        ).select("docid").collect()
        docids = [r["docid"] for r in rows]
    if not docids:
        # a takedown with zero ids is ALWAYS caller error (a typo'd or
        # omitted CLI flag) — writing an empty segment and reporting
        # success would silently drop the request
        raise ValueError(
            "empty takedown set: pass at least one docid/url"
        )
    arr = np.unique(np.asarray(sorted(docids), dtype=np.int64))
    tmp = path + ".building"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(f"{tmp}/docids", exist_ok=True)
    pq.write_table(
        pa.table({"docid": pa.array(arr, pa.int64())}),
        f"{tmp}/docids/part-0.parquet",
    )
    import json

    with open(f"{tmp}/meta.json", "w") as f:
        json.dump({"type": "deletes", "n_docids": int(arr.size)}, f)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


def _overridden_doc_stats(
    doc_stats_dir: str, tombs: np.ndarray, salt_bits: int
) -> tuple[int, int]:
    """(count, total doc_len) of ``tombs`` docids present in a
    doc_stats table — directory-pruned per salt shard (the sorted array
    slices contiguously because salt is the top docid bits). Falls back
    to one filtered whole-table read on a legacy unpartitioned
    layout."""
    import os

    import pyarrow.parquet as pq

    def read(path, ids):
        tbl = pq.read_table(
            path,
            columns=["docid", "doc_len"],
            filters=[("docid", "in", ids)],
        )
        return len(tbl), (
            int(tbl.column("doc_len").to_numpy().sum()) if len(tbl) else 0
        )

    if not any(
        e.startswith("salt=") for e in os.listdir(doc_stats_dir)
    ):
        return read(doc_stats_dir, tombs.tolist())
    shift = 63 - salt_bits
    n_salts = 1 << salt_bits
    needles = np.array(
        [s << shift for s in range(n_salts)], dtype=np.int64
    )
    bounds = np.searchsorted(tombs, needles, "left")
    n_rm, len_rm = 0, 0
    for s in range(n_salts):
        lo = bounds[s]
        hi = bounds[s + 1] if s + 1 < n_salts else tombs.size
        if hi <= lo:
            continue
        d = f"{doc_stats_dir}/salt={s}"
        if not os.path.isdir(d):
            continue
        c, tot = read(d, tombs[lo:hi].tolist())
        n_rm += c
        len_rm += tot
    return n_rm, len_rm


class TieredEngine(ServingCore):
    # no static rank sidecar: the rule for per-segment PageRank is open
    SERVES_STATIC_BOOST = False

    def __init__(
        self,
        spark: SparkSession,
        index_dirs: list[str],
        cache_terms: int = 0,
    ):
        """``index_dirs`` oldest-first: [base, batch1, batch2, ...].
        Later segments override earlier ones per docid. Any entry may be
        a tombstone-only DELETES segment (``write_deletes_segment``):
        it contributes its docid set to every earlier segment's
        tombstones — a pure removal with batch-sized IO — but no
        postings or docs of its own. The first entry must be a full
        index segment."""
        import pyarrow.parquet as pq

        if not index_dirs:
            raise ValueError("need at least one index dir")
        self.spark = spark
        kinds = [
            "deletes" if is_deletes_segment(d) else "index"
            for d in index_dirs
        ]
        if kinds[0] == "deletes":
            raise ValueError(
                f"first segment {index_dirs[0]} is a deletes segment — "
                "there is nothing before it to delete from"
            )
        self.engines = [
            SearchEngine(spark, d, cache_terms=cache_terms)
            for d, k in zip(index_dirs, kinds)
            if k == "index"
        ]
        head = self.engines[0]
        self.analyzer = head.analyzer
        self.salt_bits = head.salt_bits
        for eng in self.engines[1:]:
            diffs = [
                k for k in _COMPAT_KEYS
                if getattr(eng, k) != getattr(head, k)
            ]
            if diffs:
                raise ValueError(
                    f"segment {eng.index_dir} config differs from "
                    f"{head.index_dir} on {diffs}"
                )

        # docid set per non-head unit position (crawl batches / deletes
        # lists — small by construction; the base's docids never load)
        unit_docids: dict[int, np.ndarray] = {}
        for j, (d, k) in enumerate(zip(index_dirs, kinds)):
            if k == "deletes":
                unit_docids[j] = read_deletes_docids(d)
            elif j > 0:
                unit_docids[j] = np.sort(
                    pq.read_table(f"{d}/docs", columns=["docid"])
                    .column("docid")
                    .to_numpy()
                )
        # tombstones (ENGINE-aligned, like self.engines): for the engine
        # at original position i, the sorted union of every later unit's
        # docids — a later index segment overrides, a later deletes
        # segment removes; the tombstone machinery is identical
        self.tombstones: list[np.ndarray] = []
        for i, k in enumerate(kinds):
            if k != "index":
                continue
            later = [unit_docids[j] for j in unit_docids if j > i]
            self.tombstones.append(
                np.unique(np.concatenate(later))
                if later
                else np.empty(0, dtype=np.int64)
            )

        # live corpus stats: combined minus overridden docs. The lookup
        # uses BOTH pruning levels of the doc_stats layout: the sorted
        # tombstone array slices contiguously per salt (top docid bits),
        # so only the touched salt DIRECTORIES are read, each with a
        # docid-in filter over its own slice — never an index-wide
        # metadata scan, and never one giant Python in-list.
        n_live, total_live, overridden = 0, 0, 0
        for i, eng in enumerate(self.engines):
            n_live += eng.n
            total_live += eng.total_length
            tombs = self.tombstones[i]
            if tombs.size:
                n_rm, len_rm = _overridden_doc_stats(
                    f"{eng.index_dir}/doc_stats", tombs, eng.salt_bits
                )
                n_live -= n_rm
                overridden += n_rm
                total_live -= len_rm
        self.n = n_live
        self.avgdl = total_live / n_live if n_live else 0.0
        self.total_length = total_live
        # number of docs actually overridden by later segments. 0 means
        # the segment set is APPEND-ONLY: no stale postings can exist
        # anywhere (a segment's postings docids are a subset of its doc
        # table), so live df == lexicon sums and the tombstone filters
        # are no-ops.
        self.overridden = overridden
        # sound block-max bounds: each segment's stored max_score was
        # computed at ITS OWN avgdl; scale up when the live avgdl is
        # larger (merge.py pass-through lemma)
        self.ub_scales = [
            max(1.0, self.avgdl / eng.avgdl) if eng.avgdl else 1.0
            for eng in self.engines
        ]

    def analyze(self, query: str) -> list[str]:
        return self.engines[0].analyze(query)

    def _live_postings(self, terms: list[str]) -> dict:
        """term -> (live df, [LiveList per segment and salt shard]) —
        the live-postings source of ServingCore. Each list carries its
        segment's tombstones (none while no doc is overridden: no
        posting is stale then) and the bound scale max(1, live avgdl /
        segment avgdl) (sound block-max bounds: each segment's stored
        max_score was computed at ITS OWN avgdl; merge.py pass-through
        lemma). Live df sums the lexicon df of segments without
        tombstones and the decoded live docids of segments with them
        (segments are docid-disjoint after tombstoning). ALL terms load
        through one ``_cached_term_lists`` call per segment — one
        lexicon read and one bucket-grouped postings read each, not one
        per term."""
        out: dict[str, tuple[int, list]] = {
            t: (0, []) for t in dict.fromkeys(terms)
        }
        for eng, tombs, scale in zip(
            self.engines, self.tombstones, self.ub_scales
        ):
            if not self.overridden:
                tombs = tombs[:0]  # append-only: nothing to filter
            decode = bool(tombs.size)
            for t, (dfi, salted) in eng._cached_term_lists(list(out)).items():
                if dfi <= 0:
                    continue
                df, lists = out[t]
                for salt, blocks in salted:
                    ll = LiveList(salt, blocks, tombs, scale)
                    if decode:
                        n_live = ll.arrays()[0].size
                        if not n_live:
                            continue
                        df += n_live
                    lists.append(ll)
                out[t] = (df if decode else df + dfi, lists)
        return out

    def expand_wildcard(
        self, pattern: str, cap: int | None = None
    ) -> list[tuple[str, int]]:
        """Tiered wildcard expansion: each segment's lexicon expands
        the pattern UNCAPPED (the forward/reversed range scan of
        engine.expand_wildcard — a per-segment cap-then-union would
        starve terms ranked below cap in every segment), stored dfs
        sum across segments, top-``cap`` by (df desc, term asc).

        Under tombstones/overrides the summed STORED df is only an
        UPPER bound on live df, so when the match set exceeds the cap
        the boundary is refined with suggest-style LIVE df: candidates
        decode in stored-df order (chunked — one batched lexicon +
        postings read per segment per chunk, the same IO a query on
        them would do) until the cap-th best live df seen strictly
        exceeds the next candidate's stored bound — no unseen term can
        then displace the selection (live <= stored). Expansion (terms,
        dfs AND order) is therefore IDENTICAL to the compacted index's
        (pytest), and fully-tombstoned terms drop. The refinement IO is
        bounded by the cap (+ boundary ties) and is postings the query
        on the expansion would read anyway; append-only segment lists
        (``overridden == 0``) skip it entirely: stored == live there."""
        cap = cap or self.MAX_WILDCARD_EXPANSIONS
        agg: dict[str, int] = {}
        for eng in self.engines:
            for t, df in eng.expand_wildcard(pattern, cap=1 << 30):
                agg[t] = agg.get(t, 0) + int(df)
        ranked = sorted(agg.items(), key=lambda kv: (-kv[1], kv[0]))
        if self.overridden == 0:
            return ranked[:cap]
        by_live: list[tuple[str, int]] = []
        i, chunk = 0, 64
        while i < len(ranked):
            if len(by_live) >= cap:
                kth = sorted(
                    by_live, key=lambda kv: (-kv[1], kv[0])
                )[cap - 1][1]
                # strict >: a tied unseen candidate could still win the
                # (df desc, term asc) tie-break, so equal-bound
                # candidates keep decoding (bounded by the tie class)
                if kth > ranked[i][1]:
                    break
            names = [t for t, _ in ranked[i:i + chunk]]
            lp = self._live_postings(names)
            by_live.extend(
                (t, lp[t][0]) for t in names if lp[t][0] > 0
            )
            i += chunk
        return sorted(by_live, key=lambda kv: (-kv[1], kv[0]))[:cap]

    def _load_synonyms(self) -> dict[str, list[str]]:
        """Query-time synonym map over a segment list: the NEWEST
        segment carrying a ``synonyms.json`` wins (same delta-wins rule
        as every other tiered override); {} when none has one. Cached
        per TieredEngine instance."""
        if getattr(self, "_syn_map", None) is not None:
            return self._syn_map
        out: dict[str, list[str]] = {}
        for eng in reversed(self.engines):
            import os

            if os.path.isfile(f"{eng.index_dir}/synonyms.json"):
                out = eng._load_synonyms()
                break
        self._syn_map = out
        return out

    def _live_title_rows(self, terms: list[str]) -> dict:
        """term -> (docids, title_tfs, body_doc_lens) LIVE across
        segments: each segment's title_tf sidecar rows for the query
        terms (bucket-pruned pyarrow read, cached per segment engine)
        minus that segment's tombstones — newest-segment-wins exactly
        like postings. Segments missing the sidecar (pre-BM25F builds)
        contribute nothing; raises only when NO segment carries it."""
        import os

        from .operators.codec import isin_sorted

        uniq_terms = list(dict.fromkeys(terms))
        parts: dict[str, list] = {t: [] for t in uniq_terms}
        any_sidecar = False
        for i, eng in enumerate(self.engines):
            if not os.path.isdir(f"{eng.index_dir}/title_tf"):
                continue
            any_sidecar = True
            tombs = self.tombstones[i]
            for t, (td, ttf, tdl) in eng._live_title_rows(
                uniq_terms
            ).items():
                if tombs is not None and tombs.size and td.size:
                    keep = ~isin_sorted(tombs, td)
                    td, ttf, tdl = td[keep], ttf[keep], tdl[keep]
                if td.size:
                    parts[t].append((td, ttf, tdl))
        if not any_sidecar:
            raise FileNotFoundError(
                "no segment carries the title_tf sidecar — BM25F needs "
                "it; run `titleindex` on the segments (new builds write "
                "it automatically)"
            )
        empty = (
            np.empty(0, np.int64),
            np.empty(0, np.float64),
            np.empty(0, np.float64),
        )
        out: dict = {}
        for t, ps in parts.items():
            if not ps:
                out[t] = empty
                continue
            td = np.concatenate([p[0] for p in ps])
            ttf = np.concatenate([p[1] for p in ps]).astype(np.float64)
            tdl = np.concatenate([p[2] for p in ps]).astype(np.float64)
            order = np.argsort(td, kind="stable")
            out[t] = (td[order], ttf[order], tdl[order])
        return out

    def _live_phrase_matches(self, phrase: str, slop: int = 0):
        """Live phrase (or ``slop`` proximity) matches across segments:
        each index segment's positional sidecar matches (every segment
        must be built with positions=True) minus that segment's
        tombstones, as (docids, doc_lens, phrase_tfs) in docid order —
        segments are docid-disjoint after tombstoning, so the
        survivors just concatenate; None when nothing matches."""
        from .operators.codec import isin_sorted

        parts = []
        for eng, tombs in zip(self.engines, self.tombstones):
            m = eng._live_phrase_matches(phrase, slop=slop)
            if m is None:
                continue
            if tombs.size:
                keep = ~isin_sorted(tombs, m[0])
                m = tuple(a[keep] for a in m)
            if m[0].size:
                parts.append(m)
        if not parts:
            return None
        docs, dls, tfs = (np.concatenate(a) for a in zip(*parts))
        order = np.argsort(docs, kind="stable")
        return docs[order], dls[order], tfs[order]

    def _has_positions(self) -> bool:
        """Quoted queries route to mixed phrase semantics only when
        EVERY segment carries the positional sidecar."""
        return all(eng._has_positions() for eng in self.engines)

    # -- search-head features over segments (suggest/correct/fuzzy) -----
    def _live_df_driver(self, terms: list[str]) -> dict[str, int]:
        """EXACT live df per term with zero Spark jobs: an append-only
        segment set (overridden == 0) sums per-segment lexicon point
        lookups; otherwise the candidate posting lists decode
        driver-side (bucket-pruned pyarrow reads) and tombstoned
        entries subtract — the same machinery search_local scores
        with, reused for df alone."""
        terms = list(dict.fromkeys(terms))
        if not terms:
            return {}
        if not self.overridden:
            out: dict[str, int] = {}
            for eng in self.engines:
                for t, d in eng.term_df(terms).items():
                    out[t] = out.get(t, 0) + int(d)
            return out
        live = self._live_postings(terms)
        return {t: df for t, (df, _lists) in live.items()}

    def suggest(self, prefix: str, k: int = 10) -> list[tuple[str, int]]:
        """Tiered autocomplete: top-k LIVE-df terms with the prefix —
        rank-identical to ``suggest`` on the compacted index (pytest).

        Candidates come from each segment lexicon's footer-pruned
        range scan (UNCAPPED — per-segment top-k unions are wrong: a
        term ranked k+1 in every segment can still lead the summed
        ranking), stored df summed across segments. Append-only sets
        stop there: stored == live. With overrides, summed stored df
        is an UPPER BOUND on live df (tombstoning only removes), so
        candidates refine in stored-df order — decode a batch's live
        postings, re-rank, stop once the next candidate's upper bound
        is strictly below the current k-th live df (ties keep
        refining: equal df breaks by term asc). Between compactions
        the tombstoned fraction is small, so refinement typically
        touches ~k candidates; fully-tombstoned terms (live df 0)
        drop, exactly as the compacted lexicon drops them."""
        import re

        p = re.sub(r"[^a-z0-9]", "", (prefix or "").lower())
        if not p:
            raise EmptyQueryError("Empty query")
        stored: dict[str, int] = {}
        for eng in self.engines:
            for t, df in eng._term_range("term_stats", "term", p):
                stored[t] = stored.get(t, 0) + int(df)
        order = sorted(stored.items(), key=lambda td: (-td[1], td[0]))
        if not self.overridden:
            return order[:k]
        live: list[tuple[str, int]] = []
        i = 0
        while i < len(order):
            batch = [t for t, _ in order[i:i + max(k, 8)]]
            i += len(batch)
            lm = self._live_postings(batch)
            live.extend(
                (t, lm[t][0]) for t in batch if lm[t][0] > 0
            )
            live.sort(key=lambda td: (-td[1], td[0]))
            if (
                len(live) >= k
                and i < len(order)
                and order[i][1] < live[k - 1][1]
            ):
                break
        return live[:k]

    def build_spellindex(self, max_dist: int = 2) -> None:
        """Materialize the SymSpell layout under EVERY index segment
        (each a lexicon-sized job on that segment only) — new segments
        need their own after a fold; deletes segments carry none."""
        for eng in self.engines:
            eng.build_spellindex(max_dist=max_dist)

    def correct(
        self, term: str, k: int = 10
    ) -> list[tuple[str, int, int]]:
        """Tiered spell correction: [(term, dist, live df)] by
        (distance asc, live df desc, term asc) — identical to
        ``correct`` on the compacted index (pytest). Union of
        UNCAPPED per-segment SymSpell lookups (every segment needs
        its spell layout — ``build_spellindex``; a missing one raises
        the per-segment remedy), then the small candidate set re-ranks
        by exact live df; fully-tombstoned candidates drop, as the
        compacted layout would have dropped them at build time."""
        cand_dist: dict[str, int] = {}
        for eng in self.engines:
            for t, dist, _df in eng.correct(term, k=None):
                cand_dist[t] = dist  # same edit distance everywhere
        if not cand_dist:
            return []
        dfs = self._live_df_driver(sorted(cand_dist))
        ranked = sorted(
            (
                (t, d, dfs.get(t, 0))
                for t, d in cand_dist.items()
                if dfs.get(t, 0) > 0
            ),
            key=lambda r: (r[1], -r[2], r[0]),
        )
        return ranked[:k]

    def fuzzy_terms(
        self, terms: list[str]
    ) -> tuple[list[str], dict[str, str]]:
        """Did-you-mean over segments: terms with LIVE df == 0 swap to
        their best tiered correction — so a term that only ever
        appeared in docs since deleted corrects exactly like a typo,
        which is what the compacted index would do. Same contract as
        SearchEngine.fuzzy_terms."""
        dfm = self._live_df_driver(terms)
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

    def _candidate_postings(self, terms: list[str]):
        """Bucket-pruned candidate postings across all segments, with a
        ``seg`` column (segment index) for tombstone routing."""
        from functools import reduce

        from pyspark.sql import functions as F

        parts = [
            eng._postings(terms).withColumn("seg", F.lit(i))
            for i, eng in enumerate(self.engines)
        ]
        return reduce(lambda a, b: a.unionByName(b), parts)

    def _live_df_map(self, terms: list[str]) -> dict[str, int]:
        """Live df per term. An APPEND-ONLY segment set (overridden ==
        0: later segments share no docids with earlier ones) needs no
        decode at all — per-segment lexicon reads sum driver-side (no
        Spark job), so a distributed tiered query then costs exactly
        ONE job, like the single-index path. Otherwise the exact
        distributed live-df job runs."""
        if self.overridden:
            return self._live_df_distributed(terms)
        return self._live_df_driver(terms)

    def _live_df_distributed(self, terms: list[str]) -> dict[str, int]:
        """Phase 1 of the distributed tiered query: EXACT live df per
        query term, computed where the postings are — each task decodes
        its candidate lists' docids (only for segments that carry
        tombstones; tomb-free segments use the stored block counts) and
        subtracts stale hits. One job over the pruned candidate rows;
        output is <= |terms| tiny rows."""
        from pyspark.sql import functions as F

        cand = self._candidate_postings(terms).filter(
            F.col("term").isin(terms)
        )
        bc = self.spark.sparkContext.broadcast(list(self.tombstones))

        def kernel(batches):
            import pandas as pd

            from wiki_search_engine_spark.operators.codec import (
                decode_posting_list,
            )

            for pdf in batches:
                agg: dict[str, int] = {}
                for term, seg, blocks in zip(
                    pdf["term"], pdf["seg"], pdf["blocks"]
                ):
                    t = bc.value[int(seg)]
                    blks = [
                        b if isinstance(b, dict) else b.asDict()
                        for b in blocks
                    ]
                    if t.size == 0:
                        n_live = sum(int(b["count"]) for b in blks)
                    else:
                        from wiki_search_engine_spark.operators.codec import (
                            isin_sorted,
                        )

                        d, _tf, _dl = decode_posting_list(blks)
                        n_live = int((~isin_sorted(t, d)).sum())
                    agg[term] = agg.get(term, 0) + n_live
                yield pd.DataFrame(
                    {"term": list(agg), "df": list(agg.values())}
                )

        out: dict[str, int] = {}
        for r in (
            cand.select("term", "seg", "blocks")
            .mapInPandas(kernel, "term string, df long")
            .collect()
        ):
            out[r["term"]] = out.get(r["term"], 0) + int(r["df"])
        return out

    def _title_relation(self, terms: list[str]):
        """The live title rows (``_live_title_rows``: driver-decoded,
        tombstone-filtered per segment — bounded by the title dfs, the
        IO a title query pays anyway) as a small DataFrame."""
        return self.spark.createDataFrame(
            [
                (t, int(d), int(tf), int(dl))
                for t, (td, ttf, tdl) in self._live_title_rows(terms).items()
                for d, tf, dl in zip(td, ttf, tdl)
            ],
            "term string, docid long, tf int, doc_len int",
        )

    def facet_fields(self) -> list[str]:
        """Facet fields servable across this segment list: the
        intersection of every segment's available fields (a count that
        silently skipped a segment would be wrong, not partial)."""
        fields = None
        for eng in self.engines:
            f = set(eng.facet_fields())
            fields = f if fields is None else (fields & f)
        from .plans.build import FACET_COLUMNS

        return [c for c in FACET_COLUMNS if c in (fields or set())]

    def _live_facet_arrays(self, field: str):
        """Doc-values for one facet field across segments: each
        segment's per-shard (docid-sorted ids, int codes) minus that
        segment's tombstones, codes remapped into ONE category list —
        cached per TieredEngine instance. Segments are docid-disjoint
        after tombstoning, so per-segment counts just sum."""
        from .operators.codec import isin_sorted

        cache = getattr(self, "_facet_cache", None)
        if cache is None:
            cache = self._facet_cache = {}
        if field in cache:
            return cache[field]
        if field not in self.facet_fields():
            raise ValueError(
                f"unknown facet field {field!r}; this segment list "
                f"serves: {self.facet_fields() or 'none'}"
            )
        per_seg = [eng._live_facet_arrays(field) for eng in self.engines]
        cats = sorted(
            {c for _parts, seg_cats in per_seg for c in seg_cats},
            key=lambda x: (x is None, x or ""),
        )
        code_of = {c: i for i, c in enumerate(cats)}
        parts = []
        for (seg_parts, seg_cats), tombs in zip(per_seg, self.tombstones):
            remap = np.array([code_of[c] for c in seg_cats], np.int32)
            for fd, codes in seg_parts:
                if tombs.size:
                    keep = ~isin_sorted(tombs, fd)
                    fd, codes = fd[keep], codes[keep]
                parts.append((fd, remap[codes]))
        cache[field] = (parts, cats)
        return cache[field]

    def lookup_docs(
        self, docids: list[int], with_images: bool = True
    ) -> list[dict]:
        """Point-lookup hydration across segments — later segments win
        per docid (same pruned pyarrow reads as SearchEngine). Each
        segment is only asked for ids NOT tombstoned at its position:
        a re-crawled doc hydrates from the overriding segment, and a
        doc removed by a deletes segment hydrates from nowhere (the
        HTTP-path guarantee that a taken-down doc never resurfaces)."""
        from .operators.codec import isin_sorted

        out: dict[int, dict] = {}
        ids = np.asarray(docids, dtype=np.int64)
        for i, eng in enumerate(self.engines):  # oldest first
            tombs = self.tombstones[i]
            live = (
                ids[~isin_sorted(tombs, ids)] if tombs.size else ids
            )
            if not live.size:
                continue
            for row in eng.lookup_docs(
                [int(d) for d in live], with_images=with_images
            ):
                out[row["docid"]] = row
        return [out[d] for d in docids if d in out]


def compact(
    spark: SparkSession,
    index_dirs: list[str],
    out_dir: str,
    work_dir: str | None = None,
) -> str:
    """Fold segments [base, batch1, ...] (oldest first) into one index
    at ``out_dir`` — the offline compaction policy behind TieredEngine.
    Pairwise left folds via plans/merge.py (delta wins per docid at each
    step == last segment wins overall, matching tiered override order);
    a DELETES segment folds in via plans/merge.py delete_docs — this is
    where the tombstone-only takedown finally pays its index-sized IO,
    amortized into the compaction that was happening anyway.
    Intermediate results live under ``work_dir`` (default: siblings of
    out_dir) and are removed on success."""
    import shutil

    from .plans.merge import delete_docs, merge_indexes

    if len(index_dirs) < 2:
        raise ValueError("compaction needs at least two segments")
    if is_deletes_segment(index_dirs[0]):
        raise ValueError("first segment cannot be a deletes segment")
    work_dir = work_dir or f"{out_dir}_work"
    cur = index_dirs[0]
    tmp_dirs = []
    for i, delta in enumerate(index_dirs[1:]):
        dst = (
            out_dir
            if i == len(index_dirs) - 2
            else f"{work_dir}/fold_{i}"
        )
        if is_deletes_segment(delta):
            delete_docs(
                spark, cur, dst,
                docids=[int(d) for d in read_deletes_docids(delta)],
            )
        else:
            merge_indexes(spark, cur, delta, dst)
        tmp_dirs.append(dst)
        cur = dst
    for d in tmp_dirs[:-1]:
        shutil.rmtree(d, ignore_errors=True)
    shutil.rmtree(work_dir, ignore_errors=True)
    return out_dir


def maintain_segments_incremental(
    spark: SparkSession,
    input_dir: str,
    segments_dir: str,
    checkpoint_dir: str,
    base_config: dict | None = None,
    compact_after: int = DEFAULT_COMPACT_AFTER,
    available_now: bool = True,
):
    """Streaming TIERED index maintenance — the batch-IO-proportional
    form of streaming/ingest.py maintain_index_incremental: every
    micro-batch of landed pages becomes its OWN segment index under
    ``segments_dir/seg_<epoch>`` (batch-sized IO, nothing rewritten);
    when the segment count exceeds ``compact_after`` the segments fold
    into a new base via ``compact`` and the folded segments retire.
    Serving reads ``list_segments(segments_dir)`` through TieredEngine
    at any point — before, during, or after compaction — and always
    sees the same logical corpus (pytest).

    ``base_config``: build knobs for new segments (n_buckets/salt_bits/
    stem/analyzer), defaulting to the existing base's meta; required for
    the first-ever segment."""
    import json
    import os
    import shutil

    from .engine import SearchEngine

    from .streaming.ingest import stream_corpus

    os.makedirs(segments_dir, exist_ok=True)

    def config() -> dict:
        # first FULL index segment defines the layout config (deletes
        # segments carry no build knobs)
        segs = [
            s for s in list_segments(segments_dir)
            if not is_deletes_segment(s)
        ]
        if segs:
            with open(f"{segs[0]}/meta.json") as f:
                m = json.load(f)
            return {
                "n_buckets": m["n_buckets"], "salt_bits": m["salt_bits"],
                "stem": m["stem"], "analyzer": m["analyzer"],
            }
        if base_config is None:
            raise ValueError(
                "no existing segments: pass base_config for the first "
                "segment build"
            )
        return dict(base_config)

    def process_batch(batch_df, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        # crash hygiene: in-progress artifacts from a previous attempt
        # of this (re-run) batch are fair game — never visible to
        # list_segments (see its filters), always safe to clear.
        # EXCEPT takedown temporaries ("_del" in the name): a CONCURRENT
        # add_deletes_to_segments may be mid-write in this directory and
        # deleting its .building dir would lose the right-to-be-
        # forgotten request; a genuinely crashed takedown's leftover is
        # tiny and invisible to serving, so sparing it is safe
        for e in os.listdir(segments_dir):
            if "_del" in e and ".building" in e:
                continue
            if (
                ".building" in e
                or e.startswith(".retired_")
                or e == ".compact_work"
            ):
                shutil.rmtree(
                    os.path.join(segments_dir, e), ignore_errors=True
                )
        cfg = config()
        stem = cfg.pop("stem", True)
        seg = f"{segments_dir}/seg_{batch_id:08d}"
        shutil.rmtree(seg, ignore_errors=True)
        tmp = seg + ".building"
        SearchEngine.build(
            spark, batch_df, tmp, stem=stem, bucket_groups=1, **cfg
        )
        os.rename(tmp, seg)  # segments appear atomically
        segs = list_segments(segments_dir)
        if len(segs) > compact_after:
            new_base = f"{segments_dir}/seg_{batch_id:08d}_compacted"
            # fold intermediates live OUTSIDE the seg_* namespace so a
            # concurrent list_segments never sees partial state
            compact(
                spark, segs, new_base + ".building",
                work_dir=f"{segments_dir}/.compact_work",
            )
            os.rename(new_base + ".building", new_base)
            # retire = atomic rename OUT of the listing namespace first,
            # then delete: a reader that lists after any rename sees a
            # consistent set (old complete or new complete); only a
            # reader holding a pre-rename listing can race the delete
            # (on object storage this whole block is a pointer flip)
            for i, d in enumerate(segs):
                r = f"{segments_dir}/.retired_{batch_id:08d}_{i}"
                os.rename(d, r)
                shutil.rmtree(r, ignore_errors=True)

    writer = (
        stream_corpus(spark, input_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def add_deletes_to_segments(
    segments_dir: str,
    docids: list[int] | None = None,
    urls: list[str] | None = None,
    spark: SparkSession | None = None,
) -> str:
    """Register a takedown in a MAINTAINED segments directory
    (maintain_segments_incremental): writes a deletes segment named to
    sort after every existing segment, so ``list_segments`` orders it
    last — TieredEngine then removes the docs from every current
    segment, and the next auto-compaction folds the deletion in via
    delete_docs. O(|docids|) IO at call time."""
    import os

    segs = list_segments(segments_dir)
    if not segs:
        raise ValueError(
            f"{segments_dir} has no segments — nothing to delete from"
        )
    base = os.path.basename(segs[-1])
    k = 0
    while os.path.exists(os.path.join(segments_dir, f"{base}_del{k}")):
        k += 1
    return write_deletes_segment(
        os.path.join(segments_dir, f"{base}_del{k}"),
        docids=docids, urls=urls, spark=spark,
    )


def list_segments(segments_dir: str) -> list[str]:
    """Live segments oldest-first (completed ``seg_*`` dirs only; a
    ``*_compacted`` base sorts before the batches that followed it
    because it carries its fold batch's id). Anything carrying a
    ``.building`` marker anywhere in its name (in-progress builds,
    compaction outputs, and their work dirs) and ``.retired_*`` dirs
    are invisible."""
    import os

    return [
        os.path.join(segments_dir, e)
        for e in sorted(os.listdir(segments_dir))
        if e.startswith("seg_") and ".building" not in e
    ]
