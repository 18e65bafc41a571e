"""Serving: every query mode, every path and every source read, written
once.

``SearchEngine`` (one index) and ``TieredEngine`` (a segment list) both
inherit ``ServingCore``. Its modes — bag/OR, AND, ``+``MUST, ``-``NOT,
``title:`` fields, BM25F, synonyms, the static boost, phrase, mixed
quoted queries, facets, the reference response and the search-head
features (suggest, correct, did-you-mean, wildcards) — and its paths —
driver-local (``search_local`` and the response modes) and distributed
(``search_ids``, ``search_many``) — read the index through one source:

- ``segments``: (reader, tombstones, ub_scale) per segment, oldest
  first. A reader is the ``SearchEngine`` of one index directory; its
  tombstones are the sorted docids it holds that a later segment
  replaced or deleted (empty exactly when nothing in it is stale); its
  ub_scale, max(1, live avgdl / segment avgdl), keeps the stored
  block-max bounds sound at the live avgdl. A single index is
  ``[(self, no tombstones, 1.0)]``;
- ``n`` / ``avgdl`` / ``analyzer`` / ``spark`` / ``salt_bits``: live
  corpus stats and the layout; ``overridden``: how many docs the
  tombstones hold in all (0 on a single index and on an append-only
  segment list, where stored df == live df);
- ``analyze``.

The core folds the segments' readers once for every source read:
driver-local postings (``_live_postings``: term -> (live df,
[LiveList, ...])), title rows, phrase matches, facet doc-values, doc
rows (newest segment wins), the synonym sidecar (newest segment with
one wins), lexicon df (``_live_df``), and distributed candidate
postings (a union with a ``seg`` column), live df (``_live_df_map``)
and the title relation. A fold over one segment without tombstones
returns the reader's own arrays: a single index pays no merge.

Every path parses a query once (``_parse_query``) and rejects the
combinations no path serves in one place
(``_reject_unserved_combination``). Locally, plain OR runs the block-max
kernel (operators/wand.py ``score_shard_topk``, which drops each list's
tombstones and scales its bounds by ``ub_scale``) in one call per query
(``_search_kernel``) whenever every list's df is known without decoding
(``overridden == 0``) and only the top k is asked for. Every other local
retrieval decodes the candidate lists once (``LiveList.arrays``, one
batched decode per term and segment), scores them per posting (``_scores``)
and accumulates -> gates -> excludes in one helper (``_accumulate``);
``_top_k`` cuts the page. A faceted response keeps the full match set
of that one retrieval: the facets count it and the page is cut from it.
Distributed, plain OR runs the same kernel in the cluster
(``search_topk``) and every other shape scores one decoded live
relation (``_live_relation``) with the Catalyst operators of
operators/scoring.py.
"""

from __future__ import annotations

import re
from functools import reduce

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import B, K1
from .operators.codec import decode_posting_list, isin_sorted
from .oracle_py.oracle import bm25_idf, tfidf_idf

_NO_DOCS = np.empty(0, np.int64)
_NO_VALUES = np.empty(0, np.float64)
_NO_MATCHES = (_NO_DOCS, _NO_VALUES)
_NO_TITLE_ROWS = (_NO_DOCS, _NO_VALUES, _NO_VALUES)
_TITLE_REMEDY = (
    "the title_tf sidecar is missing — BM25F and field-scoped queries "
    "need the title-field sidecar; run engine.build_title_tf() (CLI: "
    "titleindex) or rebuild the index"
)


class EmptyQueryError(ValueError):
    """Reference returns HTTP 400 {success:false, error:'Empty query'}
    for blank queries (backend/controllers/queryController.js:21-25)."""


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


def option_mode(option_name: str | None) -> str:
    """The scoring mode of a reference ``optionName``: lowercased,
    'tfidf' by default and for anything unknown
    (queryController.js:19)."""
    mode = (option_name or "tfidf").lower()
    return mode if mode in ("tfidf", "bm25", "bm25f") else "tfidf"


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
    (queryController.js:11-59).
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

    mode = option_mode(option_name)
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


class LiveList:
    """One term's posting list in one segment: its encoded ``blocks``
    (every docid-range shard's, in salt order — salt is the top docid
    bits, so that is docid order), the sorted docids a later segment
    overrides (``tombs``) and the factor that keeps the stored
    block-max bounds sound at the live avgdl (``ub_scale``).
    ``arrays()`` decodes the list in one batched pass and drops the
    tombstoned postings."""

    __slots__ = ("blocks", "tombs", "ub_scale", "_arrays")

    def __init__(self, blocks, tombs=_NO_DOCS, ub_scale=1.0):
        self.blocks = blocks
        self.tombs = tombs
        self.ub_scale = ub_scale
        self._arrays = None

    def arrays(self):
        """(docids, tfs, doc_lens) of the live postings."""
        if self._arrays is None:
            self._arrays = _drop_tombstoned(
                decode_posting_list(self.blocks), self.tombs
            )
        return self._arrays


def _decode(lists):
    """(docids, tfs, doc_lens) of one term's live lists, concatenated;
    tf and doc_len as float64 for scoring."""
    if not lists:
        return _NO_DOCS, _NO_VALUES, _NO_VALUES
    parts = [ll.arrays() for ll in lists]
    return (
        np.concatenate([p[0] for p in parts]),
        np.concatenate([p[1] for p in parts]).astype(np.float64),
        np.concatenate([p[2] for p in parts]).astype(np.float64),
    )


def _drop_tombstoned(rows, tombs):
    """``rows`` (a tuple of docid-aligned arrays, docids first, or
    None) without the docids in sorted ``tombs``."""
    if rows is None or not tombs.size or not rows[0].size:
        return rows
    keep = ~isin_sorted(tombs, rows[0])
    return tuple(a[keep] for a in rows)


def _docid_merge(parts):
    """One tuple of docid-aligned arrays, docid-sorted, from per-segment
    ``parts`` that are each docid-sorted (None and empty parts skip):
    a lone part as it is, several concatenated and sorted; None when
    nothing is left."""
    parts = [p for p in parts if p is not None and p[0].size]
    if len(parts) <= 1:
        return parts[0] if parts else None
    cols = [np.concatenate(c) for c in zip(*parts)]
    order = np.argsort(cols[0], kind="stable")
    return tuple(c[order] for c in cols)


def _ranked_sum(per_segment) -> list[tuple[str, int]]:
    """(term, df) lists, one per segment, summed per term and ranked by
    (df desc, term asc)."""
    agg: dict[str, int] = {}
    for pairs in per_segment:
        for t, df in pairs:
            agg[t] = agg.get(t, 0) + int(df)
    return sorted(agg.items(), key=lambda td: (-td[1], td[0]))


def _top_k(docs, scores, k):
    """[(docid, score)] of the k best by (score desc, docid asc); only
    the docs scoring at least the k-th best score are sorted."""
    if 0 < k < docs.size:
        sel = scores >= -np.partition(-scores, k - 1)[k - 1]
        docs, scores = docs[sel], scores[sel]
    idx = np.lexsort((docs, -scores))[:k]
    return [(int(docs[i]), float(scores[i])) for i in idx]


class ServingCore:
    """Every serving mode and path, over the source its subclass
    implements (see the module doc)."""

    # Lucene-style cap on wildcard expansions: highest-df matches win
    # (suggest already ranks by df desc), so a short prefix over a
    # 10^9-term lexicon can't explode the query
    MAX_WILDCARD_EXPANSIONS = 128

    # BM25F title-field weight (mode='bm25f'): a title occurrence
    # counts this many times (weight 1 == plain BM25 exactly; see
    # operators/scoring.py score_bm25f for the formula and the
    # reference parity notes)
    DEFAULT_TITLE_WEIGHT = 2.0

    # additive static-authority boost weight (boost='static'):
    # score' = score + W * ln(1 + N * pagerank) — the same formula the
    # oracle-checked bm25_static_rank entry replays in DuckDB
    STATIC_BOOST_WEIGHT = 2.0

    def _reject_unserved_boost(self, boost) -> None:
        """The static_rank sidecar belongs to one index directory and
        the rule for a segment list's PageRank is open, so only a
        single index (the source whose one segment is itself) serves a
        boost; any other source raises, whatever the query."""
        if boost and self.segments[0][0] is not self:
            raise ValueError("boost is single-index serving only")

    # -- the segment source: driver-local reads ------------------------------
    @property
    def tombstones(self) -> list:
        return [tombs for _seg, tombs, _scale in self.segments]

    @property
    def ub_scales(self) -> list:
        return [scale for _seg, _tombs, scale in self.segments]

    def _only_segment(self):
        """The reader when the source is one segment without tombstones
        (its rows are then live as they are), else None."""
        (seg, tombs, _scale), *rest = self.segments
        return None if rest or tombs.size else seg

    def _live_postings(self, terms: list[str]) -> dict:
        """term -> (live df, [LiveList per segment holding it]) for
        every term (absent: (0, [])). A segment's list joins its salt
        shards' blocks in salt (= docid) order and carries the
        segment's tombstones and bound scale. A segment without
        tombstones adds its lexicon df; one with tombstones adds the
        live postings it decodes (segments are docid-disjoint after
        tombstoning). Every term loads through one
        ``_cached_term_lists`` call per segment: one lexicon read and
        one bucket-grouped postings read each."""
        out: dict[str, tuple[int, list]] = {
            t: (0, []) for t in dict.fromkeys(terms)
        }
        for seg, tombs, scale in self.segments:
            decode = bool(tombs.size)
            for t, (dfi, salted) in seg._cached_term_lists(list(out)).items():
                if dfi <= 0:
                    continue
                df, lists = out[t]
                ll = LiveList(
                    [
                        b for _salt, blocks in sorted(
                            salted, key=lambda sb: sb[0]
                        )
                        for b in blocks
                    ],
                    tombs, scale,
                )
                if decode:
                    n_live = ll.arrays()[0].size
                    if not n_live:
                        continue
                    df += n_live
                else:
                    df += dfi
                lists.append(ll)
                out[t] = (df, lists)
        return out

    def _stored_df(self, terms: list[str]) -> dict[str, int]:
        """Lexicon df per present term, summed over the segments."""
        out: dict[str, int] = {}
        for seg, _tombs, _scale in self.segments:
            for t, df in seg.term_df(terms).items():
                out[t] = out.get(t, 0) + df
        return out

    def _live_df(self, terms: list[str]) -> dict[str, int]:
        """Live df per present term with zero Spark jobs: the summed
        lexicon df while no doc is overridden (stored == live), else
        counted from the decoded live postings."""
        if not self.overridden:
            return self._stored_df(terms)
        return {
            t: df for t, (df, _lists) in self._live_postings(terms).items()
            if df > 0
        }

    def _top_by_live_df(self, ranked, k: int) -> list[tuple[str, int]]:
        """The top ``k`` by (live df desc, term asc) of ``ranked``:
        (term, summed stored df) pairs in that order by stored df.
        Stored df bounds live df from above (tombstoning only removes),
        so candidates decode in stored order, a batch at a time, until
        the k-th best live df strictly exceeds the next candidate's
        bound: no unseen term can then displace the selection (an equal
        bound keeps decoding, since equal df breaks by term). Terms
        whose live df is 0 drop, as the compacted lexicon drops them.
        While nothing is overridden stored == live and nothing
        decodes."""
        if not self.overridden:
            return ranked[:k]
        live: list[tuple[str, int]] = []
        i = 0
        while i < len(ranked) and not (
            len(live) >= k and live[k - 1][1] > ranked[i][1]
        ):
            batch = [t for t, _ in ranked[i:i + max(k, 8)]]
            i += len(batch)
            dfs = self._live_df(batch)
            live.extend((t, dfs[t]) for t in batch if t in dfs)
            live.sort(key=lambda td: (-td[1], td[0]))
        return live[:k]

    def suggest(self, prefix: str, k: int = 10) -> list[tuple[str, int]]:
        """Autocomplete: the top-k live-df terms starting with
        ``prefix``, by (df desc, term asc) — zero Spark jobs. Each
        segment's lexicon yields every term in the prefix range
        (``_term_range``: footer-pruned, O(n_buckets) row groups, never
        a lexicon scan), uncapped, since a term ranked k+1 in every
        segment can still lead the summed ranking; the stored dfs sum
        and ``_top_by_live_df`` ranks them. Over a segment list the
        answer equals the compacted index's (pytest). Distributed twin:
        __spark_entry__ q_term_prefix_topk."""
        p = re.sub(r"[^a-z0-9]", "", (prefix or "").lower())
        if not p:
            raise EmptyQueryError("Empty query")
        return self._top_by_live_df(
            _ranked_sum(
                seg._term_range("term_stats", "term", p)
                for seg, _tombs, _scale in self.segments
            ),
            k,
        )

    def expand_wildcard(
        self, pattern: str, cap: int | None = None
    ) -> list[tuple[str, int]]:
        """Expand one wildcard token (``snow*``, ``*ing``, ``s*ing``,
        multi-star) to its top-``cap`` live-df lexicon matches
        (default ``MAX_WILDCARD_EXPANSIONS``), by (df desc, term asc).
        Each segment matches the pattern uncapped (``_wildcard_matches``:
        a footer-pruned range scan of the forward or reversed lexicon,
        regex-filtered before any cap); the stored dfs sum and
        ``_top_by_live_df`` ranks them, so the expansion (terms, dfs
        and order) equals the compacted index's also under tombstones
        (pytest). A pattern with no literal anchor raises
        EmptyQueryError; a suffix-anchored one without the reversed
        lexicon raises FileNotFoundError with the revindex remedy."""
        return self._top_by_live_df(
            _ranked_sum(
                seg._wildcard_matches(pattern)
                for seg, _tombs, _scale in self.segments
            ),
            cap or self.MAX_WILDCARD_EXPANSIONS,
        )

    def correct(
        self, term: str, k: int | None = 10
    ) -> list[tuple[str, int, int]]:
        """Spell-correct one term: [(term, dist, live df)] by (distance
        asc, df desc, term asc) — each segment's SymSpell candidates
        (``_spell_candidates``: deletion-variant lookup + levenshtein
        verify, zero Spark jobs; every segment needs its layout,
        ``build_spellindex``), stored dfs summed and, when a doc is
        overridden, replaced by live df; candidates with live df 0
        drop, as the compacted layout drops them. ``k`` None keeps
        every candidate."""
        dist: dict[str, int] = {}
        dfs: dict[str, int] = {}
        for seg, _tombs, _scale in self.segments:
            for t, d, df in seg._spell_candidates(term):
                dist[t] = d  # the same edit distance in every segment
                dfs[t] = dfs.get(t, 0) + df
        if self.overridden:
            dfs = self._live_df(list(dfs))
        return sorted(
            ((t, dist[t], df) for t, df in dfs.items() if df > 0),
            key=lambda r: (r[1], -r[2], r[0]),
        )[:k]

    def fuzzy_terms(
        self, terms: list[str]
    ) -> tuple[list[str], dict[str, str]]:
        """Did-you-mean: terms with live df 0 swap to their best
        correction (``correct``), so a term that only appears in
        deleted docs corrects like a typo, as on the compacted index.
        Present terms are never touched. Returns (deduped corrected
        terms, {original: replacement})."""
        dfm = self._live_df(terms)
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
        """Materialize the SymSpell layout under every segment (one
        lexicon-sized Spark job each); ``correct`` then serves with zero
        Spark jobs. A segment added later needs its own."""
        for seg, _tombs, _scale in self.segments:
            seg._build_spell_layout(max_dist)

    def _load_synonyms(self) -> dict[str, list[str]]:
        """analyzed term -> its analyzed group, from the newest segment
        carrying a ``synonyms.json`` sidecar; {} when none does
        (synonyms=True is then a no-op). Cached per engine."""
        if getattr(self, "_syn_map", None) is None:
            found = (
                seg._read_synonyms()
                for seg, _tombs, _scale in reversed(self.segments)
            )
            self._syn_map = next((m for m in found if m is not None), {})
        return self._syn_map

    def _has_positions(self) -> bool:
        """Quoted queries route to mixed phrase semantics only when
        every segment carries the positional sidecar."""
        return all(
            seg._has_sidecar("positions")
            for seg, _tombs, _scale in self.segments
        )

    def _live_title_rows(self, terms: list[str]) -> dict:
        """term -> (docids, title tfs, body doc_lens) of the live title
        rows, docid-sorted: each segment's title_tf rows
        (``_title_rows``) minus its tombstones. A segment without the
        sidecar (a pre-BM25F build) contributes nothing; FileNotFoundError
        with the titleindex remedy when none carries it."""
        terms = list(dict.fromkeys(terms))
        found = []
        for seg, tombs, _scale in self.segments:
            rows = seg._title_rows(terms)
            if rows is not None:
                found.append((rows, tombs))
        if not found:
            raise FileNotFoundError(_TITLE_REMEDY)
        if len(found) == 1 and not found[0][1].size:
            return found[0][0]
        return {
            t: _docid_merge(
                [_drop_tombstoned(rows[t], tombs) for rows, tombs in found]
            ) or _NO_TITLE_ROWS
            for t in terms
        }

    def _live_phrase_matches(self, phrase: str, slop: int = 0):
        """Live phrase (or ``slop`` proximity) matches: each segment's
        positional-sidecar matches (``_phrase_rows``; every segment
        must be built with positions=True) minus its tombstones, as
        (docids, doc_lens, phrase_tfs) in docid order; None when
        nothing matches."""
        return _docid_merge([
            _drop_tombstoned(seg._phrase_rows(phrase, slop), tombs)
            for seg, tombs, _scale in self.segments
        ])

    def facet_fields(self) -> list[str]:
        """Facet fields every segment's docs table carries
        (plans/build.py FACET_COLUMNS): a count that silently skipped a
        segment would be wrong, not partial."""
        from .plans.build import FACET_COLUMNS

        cols = [set(seg._doc_columns()) for seg, _t, _s in self.segments]
        return [c for c in FACET_COLUMNS if all(c in cs for cs in cols)]

    def _live_facet_arrays(self, field: str):
        """Doc-values of one facet field: ([(docid-sorted ids, int
        codes)] per segment and salt shard, the category list) — each
        segment's column-pruned rows (``_facet_rows``) minus its
        tombstones, codes remapped into one category list. Cached per
        engine, as Lucene holds doc values; segments are docid-disjoint
        after tombstoning, so per-part counts just sum."""
        cache = getattr(self, "_facet_cache", None)
        if cache is None:
            cache = self._facet_cache = {}
        if field in cache:
            return cache[field]
        if field not in self.facet_fields():
            raise ValueError(
                f"unknown facet field {field!r}; this index serves: "
                f"{self.facet_fields() or 'none'}"
            )
        only = self._only_segment()
        if only is not None:
            cache[field] = only._facet_rows(field)
            return cache[field]
        per_seg = [
            (seg._facet_rows(field), tombs)
            for seg, tombs, _scale in self.segments
        ]
        cats = sorted(
            {c for (_parts, seg_cats), _t in per_seg for c in seg_cats},
            key=lambda x: (x is None, x or ""),
        )
        code_of = {c: i for i, c in enumerate(cats)}
        parts = []
        for (seg_parts, seg_cats), tombs in per_seg:
            remap = np.array([code_of[c] for c in seg_cats], np.int32)
            for part in seg_parts:
                fd, codes = _drop_tombstoned(part, tombs)
                parts.append((fd, remap[codes]))
        cache[field] = (parts, cats)
        return cache[field]

    def lookup_docs(
        self, docids: list[int], with_images: bool = True
    ) -> list[dict]:
        """Point-lookup hydration (``_doc_rows``: pruned reads over
        cached parquet footers, no Spark job). Over several segments the
        newest holding a docid wins: each segment is asked only for the
        ids it does not tombstone, so a re-crawled doc hydrates from the
        overriding segment and a deleted one from nowhere (a taken-down
        doc never resurfaces on the HTTP path)."""
        only = self._only_segment()
        if only is not None:
            return only._doc_rows(docids, with_images)
        out: dict[int, dict] = {}
        ids = np.asarray(docids, dtype=np.int64)
        for seg, tombs, _scale in self.segments:  # oldest first
            live = ids[~isin_sorted(tombs, ids)] if tombs.size else ids
            if live.size:
                for row in seg._doc_rows(
                    [int(d) for d in live], with_images
                ):
                    out[row["docid"]] = row
        return [out[d] for d in docids if d in out]

    # -- the segment source: distributed reads ------------------------------
    def _candidate_postings(self, terms: list[str]) -> DataFrame:
        """Every segment's bucket-pruned postings rows, with a ``seg``
        column (segment index) for tombstone routing. Segments share
        the docid-range salt domain, so a shard holds every segment's
        postings for its range and per-shard top-k stays exact."""
        return reduce(DataFrame.unionByName, (
            seg._postings(terms).withColumn("seg", F.lit(i))
            for i, (seg, _tombs, _scale) in enumerate(self.segments)
        ))

    def _live_df_map(self, terms: list[str]) -> dict[str, int]:
        """Live df per term for the distributed paths: the summed
        lexicon df while no doc is overridden (no Spark job, so a
        distributed query costs one job as on a single index), else
        ``_live_df_distributed``."""
        if self.overridden:
            return self._live_df_distributed(terms)
        return self._stored_df(terms)

    def _live_df_distributed(self, terms: list[str]) -> dict[str, int]:
        """Exact live df per term, computed where the postings are: each
        task decodes its candidate lists' docids only for segments that
        carry tombstones (the others count their stored block counts)
        and subtracts stale hits. One job over the pruned candidate
        rows; the output is <= |terms| tiny rows."""
        cand = self._candidate_postings(terms).filter(
            F.col("term").isin(terms)
        )
        bc = self.spark.sparkContext.broadcast(self.tombstones)

        def kernel(batches):
            import pandas as pd

            from wiki_search_engine_spark.operators.codec import (
                decode_posting_list, isin_sorted,
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

    def _title_relation(self, terms: list[str]) -> DataFrame:
        """(term, docid, tf, doc_len) live title rows: the union of each
        segment's bucket- and term-pruned title_tf scan
        (``_title_scan``), a segment's tombstoned rows dropped by a
        broadcast anti-join only where it has tombstones — one segment
        without them is the plain pruned scan. Segments without the
        sidecar contribute nothing; FileNotFoundError with the
        titleindex remedy when none carries it."""
        scans = []
        for seg, tombs, _scale in self.segments:
            scan = seg._title_scan(terms)
            if scan is None:
                continue
            if tombs.size:
                gone = self.spark.createDataFrame(
                    [(int(d),) for d in tombs], "docid long"
                )
                scan = scan.join(F.broadcast(gone), "docid", "left_anti")
            scans.append(scan)
        if not scans:
            raise FileNotFoundError(_TITLE_REMEDY)
        return reduce(DataFrame.unionByName, scans)

    # -- scoring primitives ------------------------------------------------
    def _scores(self, tf, dl, df: int, mode: str):
        """Per-posting contribution of one term (or pseudo-term) with
        ``df`` live docs: BM25 for mode 'bm25', TF-IDF otherwise —
        the reference formulas (mongoService.js:8-58)."""
        if mode != "bm25":
            return tf * tfidf_idf(self.n, df)
        return bm25_idf(self.n, df) * tf * (K1 + 1.0) / (
            tf + K1 * (1.0 - B + B * dl / self.avgdl)
        )

    def _accumulate(self, parts, gates=(), exclude=_NO_DOCS, rank=None):
        """(docids, scores) of every match: accumulate (docids, scores)
        ``parts`` per doc, keep the docs present in every ``gates``
        array (AND / MUST), drop ``exclude`` (NOT) and add the static
        boost when ``rank`` (docid-sorted ids, ranks) is given."""
        if not parts:
            return _NO_MATCHES
        uniq, inv = np.unique(
            np.concatenate([p[0] for p in parts]), return_inverse=True
        )
        acc = np.zeros(uniq.size)
        np.add.at(acc, inv, np.concatenate([p[1] for p in parts]))
        keep = np.ones(uniq.size, bool)
        for g in gates:
            keep &= np.isin(uniq, g)
        if exclude.size:
            keep &= ~np.isin(uniq, exclude)
        uniq, acc = uniq[keep], acc[keep]
        if rank is not None and rank[0].size:
            rd, rr = rank
            pos = np.minimum(np.searchsorted(rd, uniq), rd.size - 1)
            hit = rd[pos] == uniq
            boost = np.zeros(uniq.size)
            boost[hit] = self.STATIC_BOOST_WEIGHT * np.log1p(
                float(self.n) * rr[pos[hit]]
            )
            acc = acc + boost
        return uniq, acc

    def _live_docids(self, terms) -> np.ndarray:
        """Sorted docids whose live postings hold any of ``terms`` — the
        NOT set. Cost tracks those terms' posting sizes (the reads a
        positive query on them would do), never the corpus."""
        if not terms:
            return _NO_DOCS
        parts = [
            ll.arrays()[0]
            for _df, lists in self._live_postings(terms).values()
            for ll in lists
        ]
        return np.unique(np.concatenate(parts)) if parts else _NO_DOCS

    # -- query parsing -----------------------------------------------------
    def _analyze_or_empty(self, text: str) -> list[str]:
        """Analyzed terms of one boolean clause; [] when it is blank."""
        try:
            return self.analyze(text) if text.strip() else []
        except EmptyQueryError:
            return []

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
                out.extend(self._analyze_or_empty(t))
            return list(dict.fromkeys(out))

        t_s, t_m, t_n = _an(f_s), _an(f_m), _an(f_n)
        pos, contra = resolve_boolean_overlap(
            list(dict.fromkeys(t_s + t_m)), t_m, t_n
        )
        t_s = [t for t in t_s if t in pos and t not in t_m]
        return should_q, must_q, neg_q, t_s, t_m, t_n, contra

    def _parse_query(self, query, semantics="or", negation=False,
                     fuzzy=False):
        """The query's clauses, parsed once for every serving path:
        (terms, required, excluded, t_should, t_must, t_not) — the
        analyzed (wildcard-expanded, with ``fuzzy`` spell-corrected)
        positive terms after the Lucene overlap rule, the ``+`` and
        ``-`` terms, and the ``title:`` clauses — or None when nothing
        can match (a pure-NOT query, a ``+t -t`` contradiction, no
        terms, an empty index). ``negation`` enables the Lucene
        operators; without it ``-``, ``+`` and ``title:`` keep the
        reference's bag reading. A blank query raises EmptyQueryError
        (the HTTP 400 body)."""
        from .functions.analyzer import resolve_boolean_overlap, split_boolean

        excluded: list[str] = []
        required: list[str] = []
        t_should: list[str] = []
        t_must: list[str] = []
        t_not: list[str] = []
        if negation:
            should_q, must_q, neg_q = split_boolean(query)
            if "title:" in (query or "").lower():
                (
                    should_q, must_q, neg_q,
                    t_should, t_must, t_not, f_contra,
                ) = self._parse_field_clauses(should_q, must_q, neg_q)
                if f_contra:
                    return None
            excluded = self._analyze_or_empty(neg_q)
            required = self._analyze_or_empty(must_q)
            query = f"{should_q} {must_q}".strip()
            if not query and not (t_should or t_must):
                return None  # a pure-NOT query ranks nothing
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
                self.expand_query_terms(query)
                if "*" in query
                else self.analyze(query)
            )
        if (not terms and not (t_should or t_must)) or not self.n:
            return None
        if fuzzy:
            terms, _ = self.fuzzy_terms(terms)
        terms, contradiction = resolve_boolean_overlap(
            terms,
            terms if semantics == "and" else required,
            excluded,
        )
        if contradiction or (not terms and not has_fields):
            return None  # +t -t contradiction, or nothing left
        required = [t for t in required if t in terms]
        return terms, required, excluded, t_should, t_must, t_not

    def _reject_unserved_combination(
        self, has_fields, semantics, required, mode, synonyms,
        fuzzy=False, boost=None,
    ) -> None:
        """ValueError (HTTP 400) for the option combinations no path
        serves."""
        if has_fields and (
            semantics == "and" or synonyms or mode == "bm25f"
            or fuzzy or boost
        ):
            raise ValueError(
                "field-scoped terms (title:) compose with OR and "
                "+/- only — not with semantics=and, synonyms, "
                "bm25f, fuzzy, or boost"
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
        if mode == "bm25f" and (semantics == "and" or required):
            raise ValueError(
                "bm25f serves OR/SHOULD semantics (title-boosted "
                "accumulation); AND/MUST composition is not supported"
            )

    # -- bag-of-words modes ------------------------------------------------
    def search_local(
        self, query: str, k: int = 50, mode: str = "bm25",
        semantics: str = "or", fuzzy: bool = False,
        negation: bool = False, synonyms: bool = False,
        boost: str | None = None,
    ) -> list[tuple[int, float]]:
        """Serve a query entirely on the DRIVER: pyarrow reads of the
        terms' bucket directories (row-group pruned on the term-sorted
        files), NumPy scoring and a driver-side merge — zero Spark
        jobs, rank-identical to the distributed paths and, over a
        segment list, to the compacted index (pytest-enforced).

        This is the search-head serving mode: a Spark job costs ~0.5s of
        scheduling alone, which dwarfs the reference server's per-query
        wall (backend/services/mongoService.js). Use the distributed
        'wand' path when candidate posting lists exceed driver memory —
        at 10^12 docs that's head terms, exactly where the cluster earns
        its keep; the two paths share kernel and index format.

        ``semantics='and'`` keeps only docs whose live postings hold
        every term. ``negation`` enables the Lucene operators
        (opt-in, so legacy hyphenated queries keep the reference's bag
        reading): ``-term`` NOT drops docs before the top-k cut,
        ``+term`` MUST gates membership, ``title:term`` scores on the
        title field. ``fuzzy`` swaps zero-df terms for their best spell
        correction (``fuzzy_terms``); ``synonyms`` scores each term's
        sidecar group as one pseudo-term; ``boost='static'`` adds the
        PageRank authority boost."""
        return _top_k(
            *self._matches(
                query, k, mode, semantics, fuzzy, negation, synonyms, boost
            ),
            k,
        )

    def _matches(
        self, query, k, mode, semantics="or", fuzzy=False, negation=False,
        synonyms=False, boost=None, also_exclude=(),
    ):
        """(docids, scores) behind ``search_local``: every match when
        ``k`` is None, else a set holding the top k. ``also_exclude``
        (analyzed terms) drops docs after the boolean overlap rule —
        the ``-term``s of a mixed quoted query."""
        self._reject_unserved_boost(boost)
        parsed = self._parse_query(query, semantics, negation, fuzzy)
        if parsed is None:
            return _NO_MATCHES
        terms, required, excluded, t_should, t_must, t_not = parsed
        excluded = [*excluded, *also_exclude]
        has_fields = bool(t_should or t_must or t_not)
        self._reject_unserved_combination(
            has_fields, semantics, required, mode, synonyms, fuzzy, boost
        )
        rank = None
        if boost:
            if boost != "static":
                raise ValueError(
                    f"unknown boost {boost!r}; supported: 'static'"
                )
            rank = self._static_rank_arrays()
            if (
                semantics == "and" or required or synonyms
                or mode == "bm25f"
            ):
                raise ValueError(
                    "boost=static composes with plain OR (and -term "
                    "NOT) retrieval only"
                )
        if synonyms and self._load_synonyms():
            return self._synonym_matches(terms, mode, excluded)
        if mode == "bm25f":
            return self._bm25f_matches(terms, excluded)
        gate = terms if semantics == "and" else required
        if (
            k is None or has_fields or gate or rank is not None
            or self.overridden
        ):
            return self._decoded_matches(
                terms, gate, excluded, mode, t_should, t_must, t_not, rank,
            )
        return self._search_kernel(terms, excluded, k, mode)

    def _search_kernel(self, terms, excluded, k, mode):
        """Plain OR through the block-max kernel in ONE call over the
        whole docid range: one entry per (term, segment) — the
        segment's list with all its salt shards' blocks, its bound
        scale, and its tombstones ∪ the NOT docids, so excluded docs
        drop at decode time, BEFORE the top-k cut (the heap stays
        k-sized however common the excluded term is) — and θ is the
        global k-th score. Needs each term's live df up front
        (``overridden == 0``). Returns (docids, scores) ranked."""
        from .operators.wand import score_shard_topk

        exc = self._live_docids(excluded)
        entries = [
            {
                "df": df, "blocks": ll.blocks,
                "tombs": np.union1d(ll.tombs, exc) if exc.size else ll.tombs,
                "ub_scale": ll.ub_scale,
            }
            for df, lists in self._live_postings(terms).values()
            if df > 0
            for ll in lists
        ]
        return score_shard_topk(entries, self.n, self.avgdl, k, mode)

    def _decoded_matches(
        self, terms, gate, excluded, mode,
        t_should=(), t_must=(), t_not=(), rank=None,
    ):
        """Decoded exhaustive accumulate: every bag term's live
        postings score in full; ``gate`` terms (all terms under AND, the
        ``+`` terms under MUST) must hold for a doc to rank, ``excluded``
        terms drop docs. ``title:`` clauses score on the TITLE field —
        tf = title occurrences, df = docs whose title holds the term
        (the live title row count), dl = the doc's BODY length — with
        ``+title:`` gating and ``-title:`` excluding on title
        containment. ``rank`` adds the static boost (block-max pruning
        would be unsound under it: the boost can lift a doc past an
        unboosted bound)."""
        live = self._live_postings(terms) if terms else {}
        fields = list(dict.fromkeys([*t_should, *t_must, *t_not]))
        trows = self._live_title_rows(fields) if fields else {}
        parts, gates = [], []
        for t in dict.fromkeys(terms):
            df, lists = live.get(t, (0, []))
            if df <= 0:
                if t in gate:
                    return _NO_MATCHES  # an absent required term
                continue
            d, tf, dl = _decode(lists)
            parts.append((d, self._scores(tf, dl, df, mode)))
            if t in gate:
                gates.append(d)
        for t in dict.fromkeys([*t_should, *t_must]):
            td, ttf, tdl = trows[t]
            if not td.size:
                if t in t_must:
                    return _NO_MATCHES  # absent required title term
                continue
            parts.append((td, self._scores(ttf, tdl, int(td.size), mode)))
            if t in t_must:
                gates.append(td)
        exclude = np.concatenate(
            [self._live_docids(excluded)] + [trows[t][0] for t in t_not]
        )
        return self._accumulate(parts, gates, exclude, rank)

    def _synonym_matches(self, terms: list[str], mode: str, excluded=None):
        """SynonymQuery scoring: each query term's group (itself +
        sidecar synonyms) scores as ONE pseudo-term — per-doc tf summed
        over members (and segments), df = live docs containing ANY
        member (the true disjunction df; operators/scoring.py
        score_synonyms docstring has the Lucene comparison).
        Rank-identical to the distributed operator (pytest)."""
        groups = self._synonym_groups(terms)
        live = self._live_postings(sorted({g for grp in groups for g in grp}))
        parts = []
        for grp in groups:
            d, tf, dl = _decode([ll for g in grp for ll in live[g][1]])
            if not d.size:
                continue
            uniq, inv = np.unique(d, return_inverse=True)
            tf_sum = np.zeros(uniq.size)
            np.add.at(tf_sum, inv, tf)
            dl_u = np.zeros(uniq.size)
            dl_u[inv] = dl  # constant per doc
            parts.append(
                (uniq, self._scores(tf_sum, dl_u, int(uniq.size), mode))
            )
        return self._accumulate(parts, exclude=self._live_docids(excluded))

    def _synonym_groups(self, terms: list[str]) -> list[list[str]]:
        """Each query term's group — itself and its sidecar synonyms —
        which scores as ONE pseudo-term."""
        syn = self._load_synonyms()
        return [
            list(dict.fromkeys([t] + syn.get(t, [])))
            for t in dict.fromkeys(terms)
        ]

    def _search_local_bm25f(
        self, terms: list[str], k: int,
        excluded: list[str] | None = None,
        title_weight: float | None = None,
    ) -> list[tuple[int, float]]:
        """Top ``k`` of ``_bm25f_matches`` at a chosen title weight."""
        return _top_k(*self._bm25f_matches(terms, excluded, title_weight), k)

    def _bm25f_matches(self, terms, excluded=None, title_weight=None):
        """BM25F: per term, live body postings merge with the live title
        sidecar rows — tf' = tf + (w-1)*tf_title, title-only matches
        normalize against their stored BODY length, df = docs with
        tf' > 0 (== body df at w == 1, preserving the plain-BM25
        identity). Exclusion (NOT) applies to body-posting membership
        after accumulation, like the synonyms kernel. Rank-identical
        to the distributed operator (pytest)."""
        w = (
            self.DEFAULT_TITLE_WEIGHT
            if title_weight is None
            else float(title_weight)
        )
        uniq_terms = list(dict.fromkeys(terms))
        live = self._live_postings(uniq_terms)
        trows = self._live_title_rows(uniq_terms)
        parts = []
        for t in uniq_terms:
            d, tf, dl = _decode(live[t][1])
            order = np.argsort(d, kind="stable")
            d, tf, dl = d[order], tf[order], dl[order]
            td, ttf, tdl = trows[t]
            if w != 1.0 and td.size:
                in_body = isin_sorted(d, td)
                pos = np.searchsorted(d, td[in_body])
                tf[pos] += (w - 1.0) * ttf[in_body]
                d = np.concatenate([d, td[~in_body]])
                tf = np.concatenate([tf, (w - 1.0) * ttf[~in_body]])
                dl = np.concatenate([dl, tdl[~in_body]])
            keep = tf > 0
            d, tf, dl = d[keep], tf[keep], dl[keep]
            if d.size:
                parts.append((d, self._scores(tf, dl, int(d.size), "bm25")))
        return self._accumulate(parts, exclude=self._live_docids(excluded))

    # -- positional modes --------------------------------------------------
    def _phrase_part(self, text: str, slop: int, mode: str):
        """(docids, scores, phrase tfs) of one phrase's live matches
        (``_live_phrase_matches``) scored as a pseudo-term against the
        live N/avgdl; None when a phrase term is absent."""
        m = self._live_phrase_matches(text, slop=slop)
        if m is None:
            return None
        docs, dls, tfs = m
        scores = self._scores(
            tfs.astype(np.float64), dls.astype(np.float64),
            int(docs.size), mode,
        )
        return docs, scores, tfs

    def search_phrase(
        self, phrase: str, k: int = 50, slop: int = 0
    ) -> list[tuple[int, float, int]]:
        """Exact-phrase (or ``slop`` proximity) top-k on the DRIVER from
        the positional sidecar (build with positions=True), scored as a
        BM25 pseudo-term — zero Spark jobs, zero corpus access. Returns
        [(docid, score, phrase_tf)] by (score desc, docid asc); [] when
        any phrase term is absent. Rank/value identity with the
        corpus-scan operator (operators/phrase.py) and with the
        compacted index is pytest-enforced."""
        m = self._phrase_part(phrase, slop, "bm25")
        if m is None:
            return []
        docs, scores, tfs = m
        tf_of = dict(zip(docs.tolist(), tfs.tolist()))
        return [
            (d, s, int(tf_of[d])) for d, s in _top_k(docs, scores, k)
        ]

    def search_mixed(
        self, query: str, k: int = 50, mode: str = "bm25",
        negation: bool = False,
    ) -> list[tuple[int, float]]:
        """Mixed quoted-phrase query on the DRIVER: every
        double-quoted span is an exact-phrase REQUIREMENT (conjunctive
        filter, scored as a pseudo-term via the positional sidecar);
        the remaining bag terms add their ordinary contributions (OR,
        never expanding the candidate set). ``negation`` drops the docs
        of ``-term`` tokens before the top-k cut (quoted spans are never
        negated — Lucene parity: NOT applies to terms). A quote-free
        query is served as by search_local. Zero Spark jobs; rank/value
        identity with operators/phrase.py mixed_bm25 is
        pytest-enforced."""
        return _top_k(*self._mixed_matches(query, k, mode, negation), k)

    def _mixed_matches(self, query, k, mode, negation):
        """(docids, scores) behind ``search_mixed``: every match when
        ``k`` is None, else a set holding the top k."""
        from .functions.analyzer import split_negations
        from .operators.phrase import parse_query

        neg_terms: list[str] = []
        if negation:
            query, neg_q = split_negations(query)
            neg_terms = self._analyze_or_empty(neg_q)
        bag_text, phrases = parse_query(query)
        if not phrases:
            return self._matches(query, k, mode, also_exclude=neg_terms)
        cand = pscore = None
        for ptext, pslop in phrases:
            m = self._phrase_part(ptext, pslop, mode)
            if m is None:
                return _NO_MATCHES
            docs, ps, _tfs = m
            if cand is None:
                cand, pscore = docs, ps
                continue
            keep = np.isin(cand, docs, assume_unique=True)
            cand, pscore = cand[keep], pscore[keep]
            if cand.size == 0:
                return _NO_MATCHES
            pscore = pscore + ps[np.isin(docs, cand, assume_unique=True)]
        bag_terms = self.analyze(bag_text) if bag_text else []
        live = self._live_postings(bag_terms) if bag_terms else {}
        for t in dict.fromkeys(bag_terms):
            df, lists = live[t]
            if df <= 0:
                continue
            d, tf, dl = _decode(lists)
            sel = isin_sorted(cand, d)
            if sel.any():
                pscore[np.searchsorted(cand, d[sel])] += self._scores(
                    tf[sel], dl[sel], df, mode
                )
        keep = ~np.isin(cand, self._live_docids(neg_terms))
        return cand[keep], pscore[keep]

    # -- serving -----------------------------------------------------------
    def _serve_matches(
        self, query: str, k, mode: str, semantics: str = "or",
        phrase: bool = False, fuzzy: bool = False, negation: bool = False,
        synonyms: bool = False, boost: str | None = None,
    ):
        """(docids, scores) behind a response — every match when ``k``
        is None, else a set holding the top k: exact phrase, a mixed
        quoted query (quotes auto-route to mixed phrase semantics WHEN
        the positional sidecar exists; without it the analyzer strips
        them -> bag-of-words, so existing indexes never start erroring
        on quoted input), or bag-of-words."""
        if phrase:
            m = self._phrase_part(query, 0, "bm25")
            return _NO_MATCHES if m is None else m[:2]
        if '"' in (query or "") and self._has_positions():
            return self._mixed_matches(query, k, mode, negation)
        return self._matches(
            query, k, mode, semantics, fuzzy, negation, synonyms, boost
        )

    def _facet_totals(self, docids, field: str, top: int) -> dict:
        """Per-value doc counts of ``field`` over ``docids`` from the
        cached doc-values (``_live_facet_arrays``). A null value counts
        under ``""``; ``top`` caps the categories (count desc, value asc
        — Lucene facet order)."""
        parts, cats = self._live_facet_arrays(field)
        matched = np.unique(docids)
        totals = np.zeros(len(cats), np.int64)
        for fd, codes in parts:
            hit = isin_sorted(fd, matched)
            totals += np.bincount(
                codes[np.searchsorted(fd, matched[hit])],
                minlength=len(cats),
            )
        ranked = sorted(
            (
                (("" if c is None else c), int(n))
                for c, n in zip(cats, totals)
                if n > 0
            ),
            key=lambda kv: (-kv[1], kv[0]),
        )
        return dict(ranked[: max(1, int(top))])

    def facet_counts(
        self, query: str, field: str = "lang", negation: bool = False,
        top: int = 100, mode: str = "bm25", **opts,
    ) -> dict:
        """Per-facet LIVE doc counts over the FULL match set — exactly
        the docs the results are ranked from (the same retrieval with
        no top-k cut; ``opts`` are its options, e.g. ``semantics``,
        ``synonyms``: ``title:``, ``+must``, ``-not``, AND, BM25F
        title-only matches and synonym members all count as they
        match), NOT just the top-k page: the search-head companion the
        reference's UI paginates blindly without. Zero Spark jobs: facet
        values come from cached doc-values, so over a segment list
        tombstoned docs never count and the result equals the compacted
        index's (pytest). At scales where the facet column no longer
        fits the driver, the distributed twin is the facet_counts entry
        operator (same semantics, one Spark job)."""
        docs, _scores = self._serve_matches(
            query, None, mode, negation=negation, **opts
        )
        return self._facet_totals(docs, field, top)

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

        ``path='local'`` (default) scores driver-side with zero Spark
        jobs; any other path routes bag-of-words queries to the
        engine's distributed ``search_ids``. Extension fields appear
        only when requested: ``corrections`` (fuzzy, when something was
        corrected) and ``facets`` (counts over the results' full match
        set)."""
        from .functions.analyzer import split_negations

        self._reject_unserved_boost(boost)
        mixed = '"' in (query or "") and self._has_positions()
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
        opts = dict(
            semantics=semantics, phrase=phrase, fuzzy=fuzzy,
            negation=negation, synonyms=synonyms,
        )
        fields = [f.strip() for f in (facets or "").split(",") if f.strip()]
        matched = []  # the local retrieval's full match set, for facets

        def get_ids(mode):
            if path != "local" and not (phrase or mixed):
                return [
                    (r["docid"], r["score"])
                    for r in self.search_ids(
                        query, k=k, mode=mode, path=path,
                        semantics=semantics, negation=negation,
                        synonyms=synonyms,
                    ).collect()
                ]
            # with facets the retrieval keeps every match (no top-k
            # pruning): the page and the counts come from one pass
            docs, scores = self._serve_matches(
                query, None if fields else k, mode, boost=boost, **opts
            )
            matched.append(docs)
            return _top_k(docs, scores, k)

        decorate = None
        if highlight:
            from .functions.textstats import highlight_snippet

            # highlight/corrections analyze the POSITIVE part only — an
            # excluded term never appears in results
            hl_query = split_negations(query)[0] if negation else query
            hterms = set(self.analyze(hl_query))
            if fuzzy:
                hterms |= set(self.fuzzy_terms(self.analyze(hl_query))[0])

            def decorate(s, _t=frozenset(hterms)):
                return highlight_snippet(s, _t, self.analyzer)

        resp = assemble_reference_response(
            query, option_name, self.analyze, get_ids, self.lookup_docs,
            page=page, per_page=per_page, decorate_snippet=decorate,
        )
        if resp.get("success") is False:
            return resp
        if fuzzy:
            _t, corr = self.fuzzy_terms(self.analyze(query))
            if corr:
                resp["corrections"] = corr
        if fields:
            # the distributed path ranks only the top k: its match set
            # is one local retrieval more
            docs = matched[0] if matched else self._serve_matches(
                query, None, option_mode(option_name), **opts
            )[0]
            resp["facets"] = {
                f: self._facet_totals(docs, f, facet_top) for f in fields
            }
        return resp

    # -- distributed serving -----------------------------------------------
    def search_ids(
        self,
        query: str,
        k: int = 50,
        mode: str = "bm25",
        path: str = "wand",
        semantics: str = "or",
        negation: bool = False,
        synonyms: bool = False,
    ):
        """Top-k (docid, score) DataFrame — the cluster path for head
        terms whose candidate lists exceed driver memory, the same
        answer as ``search_local`` (and, over a segment list, as the
        compacted index; pytest-enforced). ``path``:

        - 'wand': plain OR runs the block-max shard kernel
          (operators/wand.py ``search_topk``) over the candidate
          postings of every segment, each segment's tombstones dropped
          at decode time and its bounds scaled by its ``ub_scale``.
          Segments share the docid-range salt domain, so a shard holds
          every segment's postings for its range and per-shard top-k is
          exact. Every other query shape downgrades to 'exhaustive':
          AND and ``+``MUST intersect (the intersection IS the pruning),
          ``-``NOT is a LEFT ANTI join inside the cluster (the driver
          never holds an excluded head term's docids), and synonym
          groups, BM25F and ``title:`` clauses aggregate a rewritten tf
          the stored block bounds do not cover;
        - 'exhaustive': the decoded live relation
          (``_live_relation``) scored by the Catalyst operators of
          operators/scoring.py — ``score_exhaustive`` (bag, AND, MUST,
          NOT and, over a tagged relation, ``title:``),
          ``score_synonyms``, ``score_bm25f``;
        - 'local': ``search_local`` wrapped into a DataFrame.

        ``negation``, ``synonyms`` and ``semantics`` mean what they mean
        for ``search_local``."""
        from .operators.scoring import (
            score_bm25f, score_exhaustive, score_synonyms,
        )
        from .operators.wand import search_topk

        if path not in ("wand", "exhaustive", "local"):
            raise ValueError(
                f"unknown serving path {path!r}: use 'wand', "
                "'exhaustive' or 'local'"
            )
        if path == "local":
            return self._id_frame(self.search_local(
                query, k=k, mode=mode, semantics=semantics,
                negation=negation, synonyms=synonyms,
            ))
        parsed = self._parse_query(query, semantics, negation)
        if parsed is None:
            return self._id_frame([])
        terms, required, excluded, t_should, t_must, t_not = parsed
        has_fields = bool(t_should or t_must or t_not)
        self._reject_unserved_combination(
            has_fields, semantics, required, mode, synonyms
        )
        if has_fields:
            return self._fielded_ids(
                terms, required, excluded, t_should, t_must, t_not, k, mode
            )
        if synonyms and self._load_synonyms():
            groups = self._synonym_groups(terms)
            need = sorted({g for grp in groups for g in grp})
            flat = self._live_relation(need + excluded)
            return self._exclude_and_cut(
                score_synonyms(
                    flat.filter(F.col("term").isin(need)),
                    groups, self.n, self.avgdl, k=None, mode=mode,
                ),
                flat, excluded, k,
            )
        if mode == "bm25f":
            flat = self._live_relation(terms + excluded)
            return self._exclude_and_cut(
                score_bm25f(
                    flat, self._title_relation(terms), terms, self.n,
                    self.avgdl, k=None,
                    title_weight=self.DEFAULT_TITLE_WEIGHT,
                ),
                flat, excluded, k,
            )
        if path == "wand" and semantics == "or" and not (
            required or excluded
        ):
            return search_topk(
                self._candidate_postings(terms), terms, self.n,
                self.avgdl, k=k, mode=mode,
                **self._segment_kernel_args(terms),
            )
        return score_exhaustive(
            self._live_relation(terms + excluded), terms, self.n,
            self.avgdl, k, mode, semantics=semantics,
            exclude_terms=excluded or None,
            required_terms=required or None,
        )

    def search_many(
        self, queries: list[str], k: int = 50, mode: str = "bm25"
    ):
        """Batch serving: top-k for MANY plain-OR queries in ONE Spark
        job — (query_id, docid, score), query_id = position in
        ``queries``, each query rank-identical to its ``search_ids``
        (pytest). Queries that analyze to nothing produce no rows rather
        than erroring the batch. operators/wand.py ``search_topk_many``
        has the cost model."""
        from .operators.wand import search_topk_many

        qmap: dict[int, list[str]] = {}
        for i, q in enumerate(queries):
            terms = self._analyze_or_empty(q or "")
            if terms:
                qmap[i] = terms
        if not qmap:
            return self.spark.createDataFrame(
                [], "query_id int, docid long, score double"
            )
        all_terms = sorted({t for ts in qmap.values() for t in ts})
        return search_topk_many(
            self._candidate_postings(all_terms), qmap, self.n, self.avgdl,
            k=k, mode=mode, **self._segment_kernel_args(all_terms),
        )

    def _id_frame(self, rows):
        return self.spark.createDataFrame(rows, "docid long, score double")

    def _segment_kernel_args(self, terms) -> dict:
        """The block-max kernel's source arguments: live df, shard
        count, and per segment its tombstones and bound scale."""
        return dict(
            df_map=self._live_df_map(terms),
            n_shards=1 << self.salt_bits,
            tombstones_by_seg=self.tombstones,
            ub_scale_by_seg=self.ub_scales,
        )

    def _live_relation(self, terms):
        """Flat LIVE (term, docid, tf, doc_len) rows of ``terms``: the
        bucket-pruned candidate postings decoded where they live (one
        decode kernel, operators/postings.py ``decode_postings_df``),
        each row's segment tombstones dropped — a term's row count is
        its live df, which the scorers recompute from the relation."""
        from .operators.postings import decode_postings_df

        terms = list(dict.fromkeys(terms))
        return decode_postings_df(
            self._candidate_postings(terms).filter(
                F.col("term").isin(terms)
            ),
            self.tombstones,
        )

    def _fielded_ids(
        self, terms, required, excluded, t_should, t_must, t_not, k, mode
    ):
        """Field-scoped scoring as ONE tagged relation: title clauses
        become pseudo-terms ``title:<term>`` whose rows come from the
        source's title relation (tf = title occurrences, doc_len = body
        length), unioned with the live body postings; the exhaustive
        scorer runs once — its live df, MUST gate and NOT anti-join
        work on the tagged names, so fields need no scoring code of
        their own."""
        from .operators.scoring import score_exhaustive

        def tag(ts):
            return [f"title:{t}" for t in ts]

        title = self._title_relation(
            list(dict.fromkeys(t_should + t_must + t_not))
        ).withColumn("term", F.concat(F.lit("title:"), F.col("term")))
        read = list(dict.fromkeys(terms + excluded))
        rel = self._live_relation(read).unionByName(title) if read else title
        return score_exhaustive(
            rel,
            list(dict.fromkeys(terms + tag(t_should + t_must))),
            self.n, self.avgdl, k, mode, semantics="or",
            exclude_terms=(excluded + tag(t_not)) or None,
            required_terms=(required + tag(t_must)) or None,
        )

    @staticmethod
    def _exclude_and_cut(res, flat, excluded, k):
        """Drop the docs holding an ``excluded`` term of the live
        relation ``flat`` (LEFT ANTI join, before the cut), then the
        top k by (score desc, docid asc)."""
        if excluded:
            res = res.join(
                flat.filter(F.col("term").isin(excluded))
                .select("docid").distinct(),
                "docid", "left_anti",
            )
        return res.orderBy(F.desc("score"), F.asc("docid")).limit(k)
