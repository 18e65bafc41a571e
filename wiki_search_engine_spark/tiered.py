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
  and lengths (a point lookup of the later segments' docids in earlier
  ``doc_stats``, whose salt files the build and merge write
  docid-sorted, so row-group min/max prune it); the lookup also
  narrows each segment's tombstones to the docids it really holds, so
  a segment's array is empty exactly when nothing in it is stale;
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

Readers outlive a publish, as Lucene's ``DirectoryReader.openIfChanged``
shares an unchanged segment's reader: the process holds the readers of
the last segment list opened (``_open_readers``), and an open reuses
one whose directory, ``cache_terms`` and Spark session are unchanged,
so a takedown republish over [base, deletes] serves from the base's
warm footer, posting, title and doc-row caches. Only stored data lives
in a reader; tombstones, live N/avgdl and ub_scale are computed per
open and held by the ``TieredEngine``.

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

import os
import threading

import numpy as np
from pyspark.sql import SparkSession

from .engine import SearchEngine, resolve_index_dir
from .serving import ServingCore

_COMPAT_KEYS = ("stem", "analyzer", "n_buckets", "salt_bits")

# Auto-compaction threshold for maintain_segments_incremental, backed by
# the measured segment-count serving curve (bench.py
# tiered_local_p50_{1,2,4,8}seg, local[32] @ sf0.1-sized segments):
# p50 grows LINEARLY with segment count — 13.5ms/27.5ms/53.6ms/105.5ms
# at 1/2/4/8 segments (~13ms per segment: each segment adds one
# bucket-pruned postings read per query for its missed terms; there is
# no knee to sit under). 4 keeps steady-state serving within ~4x the
# compacted index's p50 (~55ms here) while still amortizing compaction
# over several batch folds; raise it only if ingest throughput matters
# more than query latency.
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
    eng: SearchEngine, tombs: np.ndarray
) -> tuple[np.ndarray, int]:
    """(sorted docids, total doc_len) of the sorted ``tombs`` docids
    present in ``eng``'s doc_stats table: one point read over the
    reader's cached footers (``_point_read``), each docid routed to its
    salt directory (the top docid bits) or to the one directory of a
    legacy unpartitioned layout."""
    if eng._footer_index("doc_stats", "docid"):
        reads = {"doc_stats": tombs.tolist()}
    else:
        salts = tombs.view(np.uint64) >> np.uint64(63 - eng.salt_bits)
        reads = {
            f"doc_stats/salt={int(s)}": tombs[salts == s].tolist()
            for s in np.unique(salts)
        }
    tbl = eng._point_read("docid", ["docid", "doc_len"], reads)
    if tbl is None:
        return np.empty(0, np.int64), 0
    return (
        np.unique(tbl.column("docid").to_numpy().astype(np.int64)),
        int(tbl.column("doc_len").to_numpy().sum()),
    )


# The index-segment readers of the last segment list opened in this
# process, by resolved real path: (identity stamp, cache_terms, spark,
# reader). Lucene's DirectoryReader.openIfChanged: a republish shares
# the readers, and so the warm caches, of its unchanged segments.
_held_readers: dict = {}
_held_lock = threading.Lock()


def _dir_stamp(path: str) -> tuple:
    """Identity of an index directory: its (inode, mtime) and the
    (name, inode, mtime, size) of each top-level entry. Every writer
    replaces a top-level entry — a Spark overwrite recreates its stage
    directory (title_tf/, spell/, lexicon_rev/), set_synonyms renames
    its file over the old one, builds and streamed segments rename a
    .building directory, a rebuild removes the stages and writes them
    again — so any write changes the stamp."""
    st = os.stat(path)
    with os.scandir(path) as it:
        entries = sorted(
            (e.name, e.inode(), s.st_mtime_ns, s.st_size)
            for e in it
            for s in (e.stat(follow_symlinks=False),)
        )
    return st.st_ino, st.st_mtime_ns, tuple(entries)


def _open_readers(
    spark: SparkSession, index_dirs: list[str], cache_terms: int
) -> list[SearchEngine]:
    """One reader per index segment directory, in order: the held
    reader of a directory whose stamp, ``cache_terms`` and ``spark``
    session are those of this open, else a fresh ``SearchEngine``.
    Afterwards the held readers are exactly this list's, so memory is
    bounded by one segment list and a retired segment's reader goes at
    the next open. The stamp is taken before a fresh reader opens: a
    write racing the open leaves a stamp that the next open finds
    changed. A reader caches only stored data, never tombstones, so
    lists with different deletes share it exactly."""
    with _held_lock:
        held: dict = {}
        readers = []
        for d in index_dirs:
            resolved = resolve_index_dir(d)
            path = os.path.realpath(resolved)
            stamp = _dir_stamp(path)
            hit = held.get(path) or _held_readers.get(path)
            if hit is None or hit[:2] != (stamp, cache_terms) or (
                hit[2] is not spark
            ):
                hit = (
                    stamp, cache_terms, spark,
                    SearchEngine(spark, resolved, cache_terms=cache_terms),
                )
            held[path] = hit
            readers.append(hit[3])
        _held_readers.clear()
        _held_readers.update(held)
    return readers


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
        its own. The first entry must be a full index segment. An
        index segment whose directory is unchanged since the last open
        keeps its reader (``_open_readers``)."""
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
        at = [j for j, k in enumerate(kinds) if k == "index"]
        engines = list(zip(at, _open_readers(
            spark, [index_dirs[j] for j in at], cache_terms
        )))
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
        unit_docids: dict[int, np.ndarray] = {
            j: eng.sorted_docids() for j, eng in engines[1:]
        }
        for j, (d, k) in enumerate(zip(index_dirs, kinds)):
            if k == "deletes":
                unit_docids[j] = read_deletes_docids(d)

        # tombstones: of the sorted union of every later unit's docids
        # (a later index segment overrides, a later deletes segment
        # removes), the ones the segment holds — with their lengths, the
        # live corpus stats are the combined stats minus them. The
        # lookup uses BOTH pruning levels of the doc_stats layout: only
        # the touched salt DIRECTORIES are read, and in them only the
        # row groups whose docid min/max can hold a tombstone — never an
        # index-wide metadata scan.
        tombstoned = []
        n_live, total_live = 0, 0
        for j, eng in engines:
            later = [ids for u, ids in unit_docids.items() if u > j]
            tombs, len_rm = np.empty(0, np.int64), 0
            if later:
                tombs, len_rm = _overridden_doc_stats(
                    eng, np.unique(np.concatenate(later))
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
            cfg = {
                "n_buckets": m["n_buckets"], "salt_bits": m["salt_bits"],
                "stem": m["stem"], "analyzer": m["analyzer"],
            }
            # a segment list serves corrections only when every segment
            # has the spell layout: new segments get one, at the same
            # max_dist, when the oldest full segment has one
            spell = f"{segs[0]}/spell/_spell_meta.json"
            if os.path.exists(spell):
                with open(spell) as f:
                    cfg["spell_max_dist"] = int(json.load(f)["max_dist"])
            return cfg
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
        max_dist = cfg.pop("spell_max_dist", None)
        seg = f"{segments_dir}/seg_{batch_id:08d}"
        shutil.rmtree(seg, ignore_errors=True)
        tmp = seg + ".building"
        built = SearchEngine.build(
            spark, batch_df, tmp, stem=stem, bucket_groups=1, **cfg
        )
        if max_dist is not None:
            built._build_spell_layout(max_dist)
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
            if max_dist is not None:
                SearchEngine(
                    spark, new_base + ".building"
                )._build_spell_layout(max_dist)
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
