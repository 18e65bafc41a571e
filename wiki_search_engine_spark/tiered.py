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
  hash, so "same url re-crawled" == "same docid"): an earlier segment
  gets a TOMBSTONE set = the later segments' docids it holds (only
  crawl batches' docid sets are ever loaded — the base's never is);
- queries run against all segments; stale base postings are dropped at
  decode time by a vectorized searchsorted against the tombstones.

EXACTNESS — this is not the usual "df is slightly stale until
compaction" segment engine: scores are IDENTICAL to the compacted
(merged) index, pytest-enforced and DuckDB-oracle-checked:

- N / avgdl: segment stats combine, minus the overridden docs' counts
  and lengths (a pruned point lookup of the later segments' docids in
  earlier ``doc_stats``, which is docid-sorted for this); the lookup
  also narrows each segment's tombstones to the docids it really holds,
  so a segment's array is empty exactly when nothing in it is stale;
- df per query term: counted from the LIVE postings — the candidate
  lists are decoded anyway to score, so tombstoned postings are both
  excluded from scoring and subtracted from df before idf is computed.

``TieredEngine`` is only its constructor: it opens each index segment's
``SearchEngine`` (the per-segment reader), computes the tombstones and
the live stats, and hands ``segments`` — (reader, tombstones,
ub_scale) per segment, oldest first — to ``serving.ServingCore``, which
serves every query mode, path and search-head feature over any segment
list, a single index being the one-segment case. A segment list serves
no static boost: every ``boost`` request raises ValueError (HTTP 400).

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
from .serving import ServingCore

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
) -> tuple[np.ndarray, int]:
    """(sorted docids, total doc_len) of the ``tombs`` docids present in
    a doc_stats table — directory-pruned per salt shard (the sorted
    array slices contiguously because salt is the top docid bits).
    Falls back to one filtered whole-table read on a legacy
    unpartitioned layout."""
    import os

    import pyarrow.parquet as pq

    def read(path, ids):
        tbl = pq.read_table(
            path,
            columns=["docid", "doc_len"],
            filters=[("docid", "in", ids)],
        )
        return (
            tbl.column("docid").to_numpy().astype(np.int64),
            int(tbl.column("doc_len").to_numpy().sum()) if len(tbl) else 0,
        )

    if not any(
        e.startswith("salt=") for e in os.listdir(doc_stats_dir)
    ):
        found, len_rm = read(doc_stats_dir, tombs.tolist())
        return np.unique(found), len_rm
    shift = 63 - salt_bits
    n_salts = 1 << salt_bits
    needles = np.array(
        [s << shift for s in range(n_salts)], dtype=np.int64
    )
    bounds = np.searchsorted(tombs, needles, "left")
    found, len_rm = [np.empty(0, np.int64)], 0
    for s in range(n_salts):
        lo = bounds[s]
        hi = bounds[s + 1] if s + 1 < n_salts else tombs.size
        if hi <= lo:
            continue
        d = f"{doc_stats_dir}/salt={s}"
        if not os.path.isdir(d):
            continue
        ids, tot = read(d, tombs[lo:hi].tolist())
        found.append(ids)
        len_rm += tot
    return np.unique(np.concatenate(found)), len_rm


class TieredEngine(ServingCore):
    def __init__(
        self,
        spark: SparkSession,
        index_dirs: list[str],
        cache_terms: int = 0,
    ):
        """``index_dirs`` oldest-first: [base, batch1, batch2, ...].
        Later segments override earlier ones per docid. Any entry may be
        a tombstone-only DELETES segment (``write_deletes_segment``):
        it removes its docids from every earlier segment — a pure
        removal with batch-sized IO — but adds no postings or docs of
        its own. The first entry must be a full index segment."""
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
        # (original position, reader) per index segment
        engines = [
            (j, SearchEngine(spark, d, cache_terms=cache_terms))
            for j, (d, k) in enumerate(zip(index_dirs, kinds))
            if k == "index"
        ]
        head = engines[0][1]
        self.analyzer = head.analyzer
        self.salt_bits = head.salt_bits
        for _j, eng in engines[1:]:
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

        # tombstones: of the sorted union of every later unit's docids
        # (a later index segment overrides, a later deletes segment
        # removes), the ones the segment holds — with their lengths, the
        # live corpus stats are the combined stats minus them. The
        # lookup uses BOTH pruning levels of the doc_stats layout: the
        # sorted array slices contiguously per salt (top docid bits), so
        # only the touched salt DIRECTORIES are read, each with a
        # docid-in filter over its own slice — never an index-wide
        # metadata scan, and never one giant Python in-list.
        tombstoned = []
        n_live, total_live = 0, 0
        for j, eng in engines:
            later = [ids for u, ids in unit_docids.items() if u > j]
            tombs, len_rm = np.empty(0, np.int64), 0
            if later:
                tombs, len_rm = _overridden_doc_stats(
                    f"{eng.index_dir}/doc_stats",
                    np.unique(np.concatenate(later)), eng.salt_bits,
                )
            tombstoned.append((eng, tombs))
            n_live += eng.n - tombs.size
            total_live += eng.total_length - len_rm
        self.n = n_live
        self.avgdl = total_live / n_live if n_live else 0.0
        self.total_length = total_live
        # 0 means the segment list is APPEND-ONLY: no posting is stale,
        # so live df == summed lexicon df
        self.overridden = sum(tombs.size for _eng, tombs in tombstoned)
        # ub_scale: each segment's stored max_score was computed at ITS
        # OWN avgdl; scale up when the live avgdl is larger (merge.py
        # pass-through lemma)
        self.segments = [
            (
                eng, tombs,
                max(1.0, self.avgdl / eng.avgdl) if eng.avgdl else 1.0,
            )
            for eng, tombs in tombstoned
        ]

    def analyze(self, query: str) -> list[str]:
        return self.segments[0][0].analyze(query)


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
