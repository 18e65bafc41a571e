"""Top-k query kernel: block-max pruned, vectorized, doc-range sharded.

The reference scores exhaustively — a JS loop over every posting of every
query term (backend/services/mongoService.js:28-49). At web scale that is
the latency bottleneck, so the fast path prunes with block-max metadata
while staying EXACTLY score- and rank-identical (pruning only skips work
that provably cannot change the top-k; pytest asserts kernel == exhaustive
on every fixture query).

Algorithm: MaxScore-style term-at-a-time with block-range skipping
(Turtle & Flood 1995 "Query evaluation: strategies and optimizations";
block-max bounds per Ding & Suel 2011 block-max WAND), vectorized in NumPy:

1. terms sorted by descending term upper bound UB_t = idf_t * max_u_t;
2. "essential" prefix of terms is fully decoded and accumulated
   (np.concatenate + np.unique-sum);
3. once the sum of remaining terms' UBs drops below the current k-th
   score θ, no NEW doc can enter the top-k — remaining terms only update
   existing candidates, so their blocks are DECODED ONLY IF
   (a) the block's docid range intersects the candidate set, and
   (b) idf * block.max_score could still matter (> 0 contribution test is
       implicit; range test via np.searchsorted on the sorted candidates);
4. exact final top-k by (score desc, docid asc).

Runs inside ``applyInPandas`` grouped by the index's docid-range shard
(``salt``): every query term's postings for that range are in the group,
so per-shard top-k is exact; the global merge is a tiny
``orderBy(score desc, docid asc).limit(k)`` over ≤ k×shards rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import B, K1
from ..oracle_py.oracle import bm25_idf, tfidf_idf
from .codec import decode_block, isin_sorted


def _bm25_scores(tfs, doclens, idf, avgdl):
    tfd = tfs.astype(np.float64)
    return idf * tfd * (K1 + 1.0) / (
        tfd + K1 * (1.0 - B + B * doclens.astype(np.float64) / avgdl)
    )


_KERNEL_MODES = ("bm25", "tfidf")


def _check_kernel_mode(mode: str) -> None:
    if mode not in _KERNEL_MODES:
        raise ValueError(
            f"the block-max kernel scores {_KERNEL_MODES}, not {mode!r}"
        )


def _shard_term_lists(pdf, df_map, bc_tombs, scales):
    """[(term, {df, blocks[, tombs, ub_scale]})] for one shard group's
    postings rows. A term may span several rows (bounded-row splits,
    postings.py MAX_POSTINGS_PER_ROW; segments): one entry per row, so
    each carries its own segment's tombstones and bound scale — split
    lists score identically (same global df, docid-disjoint)."""
    segs = pdf["seg"] if "seg" in pdf.columns else [None] * len(pdf)
    out = []
    for term, blocks, seg in zip(pdf["term"], pdf["blocks"], segs):
        if not len(blocks) or term not in df_map:
            continue
        e = {
            "df": df_map[term],
            "blocks": [
                b if isinstance(b, dict) else b.asDict() for b in blocks
            ],
        }
        if seg is not None and bc_tombs is not None:
            t = bc_tombs.value[int(seg)]
            if t.size:
                e["tombs"] = t
        if seg is not None and scales is not None:
            e["ub_scale"] = float(scales[int(seg)])
        out.append((term, e))
    return out


def _segment_args(postings: DataFrame, df_map, tombstones_by_seg,
                  ub_scale_by_seg):
    """(broadcast tombstones or None, bound scales or None) of a
    segment-serving call, after checking its contract."""
    if tombstones_by_seg is None:
        return None, None
    if df_map is None:
        raise ValueError(
            "segment scoring needs a LIVE df_map — shard metadata counts "
            "tombstoned postings (the serving source's _live_df_map)"
        )
    if "seg" not in postings.columns:
        raise ValueError(
            "tombstones_by_seg given but postings has no 'seg' column — "
            "stale documents would be scored silently; union segment "
            "postings with a seg index (the serving source's "
            "_candidate_postings)"
        )
    bc = (
        postings.sparkSession.sparkContext.broadcast(
            list(tombstones_by_seg)
        )
        if any(t.size for t in tombstones_by_seg)
        else None
    )
    return bc, (list(ub_scale_by_seg) if ub_scale_by_seg else None)


def score_shard_topk(
    term_lists: list[dict], n: int, avgdl: float, k: int, mode: str
) -> tuple[np.ndarray, np.ndarray]:
    """Exact top-k (docids, scores) for one docid-range shard.

    ``term_lists``: [{df, blocks}] one entry per distinct query term
    present in the shard. ``mode`` is 'bm25' or 'tfidf': the stored
    block bounds (max_score, max_tf) bound those two formulas only, so
    any other mode raises rather than silently scoring as one of them.
    """
    _check_kernel_mode(mode)
    prepared = []
    for tl in term_lists:
        df = int(tl["df"])
        idf = bm25_idf(n, df) if mode == "bm25" else tfidf_idf(n, df)
        blocks = tl["blocks"]
        if mode == "bm25":
            # ub_scale (tiered serving): block max_score was computed at
            # the list's SOURCE-index avgdl; u grows monotonically with
            # avgdl, bounded by max(1, avgdl_query/avgdl_source) (same
            # lemma as operators/merge.py pass-through rescaling) — an
            # unscaled bound would be UNSOUND when the live avgdl
            # exceeds the segment's and pruning could drop true top-k
            # docs. TF-IDF's max_tf bound is doclen-free, no scale.
            ub = (
                idf
                * max(b["max_score"] for b in blocks)
                * tl.get("ub_scale", 1.0)
            )
        else:
            ub = idf * max(b["max_tf"] for b in blocks)
        prepared.append((ub, idf, blocks, tl.get("tombs")))
    # term-at-a-time in decreasing upper-bound order
    prepared.sort(key=lambda t: -t[0])
    ubs = np.array([p[0] for p in prepared])
    suffix_ub = np.concatenate([np.cumsum(ubs[::-1])[::-1][1:], [0.0]])

    acc_docids = np.zeros(0, dtype=np.int64)
    acc_scores = np.zeros(0, dtype=np.float64)
    theta = -np.inf
    closed = False  # True once no new doc can reach the top-k

    for i, (ub, idf, blocks, tombs) in enumerate(prepared):
        if closed:
            # prune: only blocks overlapping current candidates matter
            kept = []
            for blk in blocks:
                lo = np.searchsorted(acc_docids, blk["first_docid"], "left")
                hi = np.searchsorted(acc_docids, blk["last_docid"], "right")
                if hi > lo:
                    kept.append(blk)
            blocks = kept
            if not blocks:
                continue
        d_parts, s_parts = [], []
        for blk in blocks:
            docids, tfs, doclens = decode_block(blk)
            if tombs is not None and tombs.size and docids.size:
                # tiered serving: this list's segment carries stale
                # postings overridden by later segments — drop them at
                # decode time (block-max bounds stay sound: pruning
                # over-estimates only)
                hit = isin_sorted(tombs, docids)
                if hit.any():
                    keep = ~hit
                    docids, tfs, doclens = (
                        docids[keep], tfs[keep], doclens[keep],
                    )
                if docids.size == 0:
                    continue
            if mode == "bm25":
                s = _bm25_scores(tfs, doclens, idf, avgdl)
            else:
                s = tfs.astype(np.float64) * idf
            d_parts.append(docids)
            s_parts.append(s)
        if not d_parts:
            continue
        d = np.concatenate(d_parts)
        s = np.concatenate(s_parts)
        if closed:
            # keep only contributions to existing candidates
            pos = np.searchsorted(acc_docids, d)
            ok = (pos < acc_docids.size) & (
                acc_docids[np.minimum(pos, acc_docids.size - 1)] == d
            )
            np.add.at(acc_scores, pos[ok], s[ok])
        else:
            all_d = np.concatenate([acc_docids, d])
            all_s = np.concatenate([acc_scores, s])
            acc_docids, inv = np.unique(all_d, return_inverse=True)
            acc_scores = np.zeros(acc_docids.size, dtype=np.float64)
            np.add.at(acc_scores, inv, all_s)
        if acc_scores.size >= k:
            theta = np.partition(acc_scores, -k)[-k]
        if not closed and suffix_ub[i] < theta:
            closed = True
    if acc_scores.size == 0:
        return acc_docids, acc_scores
    kk = min(k, acc_scores.size)
    # top-k by (score desc, docid asc): lexsort on (-score, docid)
    idx = np.lexsort((acc_docids, -acc_scores))[:kk]
    return acc_docids[idx], acc_scores[idx]


def merge_topk(
    shard_results: list[tuple[np.ndarray, np.ndarray]], k: int
) -> list[tuple[int, float]]:
    """Merge per-shard (docids, scores) top-ks into the global top-k with
    the engine's tie-break (score desc, docid asc). Shards are docid-range
    disjoint, so concatenation (no re-aggregation) is exact."""
    if not shard_results:
        return []
    d = np.concatenate([r[0] for r in shard_results])
    s = np.concatenate([r[1] for r in shard_results])
    if d.size == 0:
        return []
    idx = np.lexsort((d, -s))[: min(k, d.size)]
    return [(int(d[i]), float(s[i])) for i in idx]


def search_topk_many(
    postings: DataFrame,
    queries: dict[int, list[str]],
    n: int,
    avgdl: float,
    k: int = 50,
    mode: str = "bm25",
    df_map: dict[str, int] | None = None,
    n_shards: int | None = None,
    tombstones_by_seg: list | None = None,
    ub_scale_by_seg: list | None = None,
) -> DataFrame:
    """Batched top-k: score MANY queries in ONE Spark job.

    ``tombstones_by_seg``: segment serving (see search_topk) — postings
    carry a ``seg`` column, stale postings drop at decode time, and the
    caller must supply LIVE dfs.

    Per-query serving pays a full job schedule per query (~0.5s on an
    idle cluster — the dominant cost of the distributed path); a batch
    of Q queries shares the postings scan, the shuffle, and the shard
    kernel, so throughput scales with the union of candidate postings
    instead of Q x fixed-cost. Returns (query_id, docid, score), each
    query's rows rank-identical to its search_topk result
    (pytest-enforced). Queries whose terms are all absent contribute no
    rows. The reference has no batch path (one HTTP request per query,
    backend/controllers/queryController.js) — this is the bulk-scoring
    form a training-data pipeline uses (e.g. mining hard negatives for
    retrieval training: thousands of queries against the corpus).
    """
    _check_kernel_mode(mode)
    spark = postings.sparkSession
    out_schema = "query_id int, docid long, score double"
    queries = {qid: terms for qid, terms in queries.items() if terms}
    if not queries:
        return spark.createDataFrame([], out_schema)
    bc_tombs, scales = _segment_args(
        postings, df_map, tombstones_by_seg, ub_scale_by_seg
    )
    all_terms = sorted({t for ts in queries.values() for t in ts})
    cand = postings.filter(F.col("term").isin(all_terms))

    if df_map is None or n_shards is None:
        # one tiny metadata collect (block payloads never read) supplies
        # global df and/or the TRUE shard count — a caller-supplied
        # df_map without n_shards must not default to one shard, which
        # would silently serialize the scoring kernel into a single task
        meta_rows = cand.select("term", "salt", "df_shard").collect()
        shard_ids = {int(r["salt"]) for r in meta_rows}
        if df_map is None:
            df_map = {}
            for r in meta_rows:
                df_map[r["term"]] = (
                    df_map.get(r["term"], 0) + int(r["df_shard"])
                )
        n_shards = max(len(shard_ids), 1)
    df_map = {t: d for t, d in df_map.items() if d > 0}
    if not df_map:
        return spark.createDataFrame([], out_schema)
    n_shards = max(n_shards, 1)

    def kernel(key, pdf):
        by_term: dict[str, list[dict]] = {}
        for term, e in _shard_term_lists(pdf, df_map, bc_tombs, scales):
            by_term.setdefault(term, []).append(e)
        out_q, out_d, out_s = [], [], []
        for qid, terms in queries.items():
            term_lists = [
                e
                for t in set(terms)
                if t in by_term
                for e in by_term[t]
            ]
            if not term_lists:
                continue
            docids, scores = score_shard_topk(
                term_lists, n, avgdl, k, mode
            )
            out_q.extend([qid] * docids.size)
            out_d.extend(docids.tolist())
            out_s.extend(scores.tolist())
        return pd.DataFrame(
            {"query_id": out_q, "docid": out_d, "score": out_s}
        )

    from pyspark.sql import Window

    shard_topk = (
        cand.repartition(n_shards, "salt")
        .groupBy("salt")
        .applyInPandas(kernel, schema=out_schema)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("docid")
    )
    return (
        shard_topk.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def search_topk(
    postings: DataFrame,
    query_terms: list[str],
    n: int,
    avgdl: float,
    k: int = 50,
    mode: str = "bm25",
    df_map: dict[str, int] | None = None,
    n_shards: int | None = None,
    tombstones_by_seg: list | None = None,
    ub_scale_by_seg: list | None = None,
) -> DataFrame:
    """Distributed top-k over the sharded postings table.

    ``tombstones_by_seg`` (segment serving, wiki_search_engine_spark/
    serving.py): ``postings`` then carries a ``seg`` column and the list
    maps segment index -> sorted stale-docid array; the kernel drops
    tombstoned postings at decode time and scales each list's bounds by
    ``ub_scale_by_seg``. The caller MUST pass a df_map of LIVE dfs in
    that case (shard metadata counts stale postings).

    ``postings`` should already be filtered to the query's term buckets
    (partition pruning) — this function adds the exact term filter, runs
    the shard kernel per salt group, and merges.

    ``df_map``: global df per term (reference semantics: df is the
    posting-list length at query time, mongoService.js:32). When the
    caller has a lexicon (SearchEngine.term_df — a driver-side pyarrow
    read of the term_stats side table), passing it makes the whole query
    exactly ONE Spark job. Without it, df is computed here from a
    column-pruned collect of the candidate metadata (<= |terms| *
    2^salt_bits tiny rows; the block payloads are never read) — still
    never a groupBy, which would plan a full shuffle-partition-wide
    exchange for a handful of rows.
    """
    _check_kernel_mode(mode)
    spark = postings.sparkSession
    if not query_terms:
        return spark.createDataFrame([], "docid long, score double")
    bc_tombs, scales = _segment_args(
        postings, df_map, tombstones_by_seg, ub_scale_by_seg
    )
    cand = postings.filter(F.col("term").isin(query_terms))

    if df_map is None or n_shards is None:
        # same contract as search_topk_many: never default a missing
        # n_shards to 1 (single-task kernel); derive it from the
        # candidate metadata instead
        meta_rows = cand.select("term", "salt", "df_shard").collect()
        shard_ids = {int(r["salt"]) for r in meta_rows}
        if df_map is None:
            df_map = {}
            for r in meta_rows:
                df_map[r["term"]] = (
                    df_map.get(r["term"], 0) + int(r["df_shard"])
                )
        n_shards = max(len(shard_ids), 1)
    df_map = {t: d for t, d in df_map.items() if d > 0}
    n_shards = max(n_shards, 1)
    if not df_map:
        return spark.createDataFrame([], "docid long, score double")

    # NB: deliberately un-annotated — applyInPandas warns (on stdout!)
    # when it can't infer an eval type from partial type hints, which
    # corrupts machine-readable CLI output.
    def kernel(key, pdf):
        term_lists = [
            e for _t, e in _shard_term_lists(pdf, df_map, bc_tombs, scales)
        ]
        if not term_lists:
            return pd.DataFrame({"docid": [], "score": []})
        docids, scores = score_shard_topk(term_lists, n, avgdl, k, mode)
        return pd.DataFrame({"docid": docids, "score": scores})

    # Explicit repartition by salt sized to the REAL shard count: the
    # groupBy's ClusteredDistribution(salt) is satisfied by this hash
    # partitioning, so no second exchange is planned — and the kernel runs
    # in |shards| tasks instead of spark.sql.shuffle.partitions (mostly
    # empty on a wide cluster, pure scheduling overhead per query).
    shard_topk = (
        cand.repartition(n_shards, "salt")
        .groupBy("salt")
        .applyInPandas(kernel, schema="docid long, score double")
    )
    return shard_topk.orderBy(F.desc("score"), F.asc("docid")).limit(k)
