"""Incremental index merge orchestration: staged, metered, resumable.

``merge_indexes(spark, base_dir, delta_dir, out_dir)`` folds a delta
index (an independent ``plans/build.py`` build over a new crawl batch)
into a base index, producing a complete index at ``out_dir`` that equals
a from-scratch build over (base corpus minus re-crawled urls) union
(delta corpus) — delta wins per url, mirroring the reference crawler's
re-crawl overwrite (reference: Crawler/crawler.py:401-406; its only
"merge" is the driver-side CSV concat in Indexer/merge_index_files.py,
which rewrites everything).

Stages (each a manifest unit, resumable like the build):

  doc_stats   base minus delta-universe, union delta   [broadcast anti-join]
  stats       N / avgdl / total_length of the merged corpus
  docs        same anti-join union on the hydration side table
  postings    operators/merge.py kernel — pass-through untouched
              (term, salt) groups, re-encode only collided ones
  term_stats  recomputed lexicon (plans/build.py write_term_stats)

Pytest asserts merged == from-scratch rebuild: decoded postings
identical, stats identical, and top-k rank-identical on the fixture
query set (tests/test_merge.py).

Scale notes: the anti-joins broadcast the DELTA docid set (the crawl
batch — the small side by construction) and the postings kernel gets the
same set, sorted, as one broadcast numpy array. Past
``DOCID_BROADCAST_LIMIT`` updated docids (~800MB of int64 at 10^8) the
plan switches automatically: the set is written as a per-salt parquet
sidecar under the output index (operators/merge.py write_updated_docids)
and each kernel task reads only the docid-range shards it touches, while
the side-table anti-joins drop the broadcast hint so AQE picks a shuffle
join. Both paths are result-identical (tests/test_merge.py).
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.merge import merge_postings_tables
from .build import (
    _parquet_lineage, write_bucket_table, write_term_stats, write_title_tf,
)
from .manifest import Manifest

_META_COMPAT_KEYS = ("n_buckets", "salt_bits", "stem", "analyzer",
                     "format_version")


def _positions_policy(
    dirs: tuple, drop_positions: bool, op: str
) -> bool:
    """Whether the output index carries a positional sidecar.
    All inputs have one -> fold it through (True). None have one ->
    False. A MIX would serve phrase results that silently miss the
    sidecar-less input's docs — refuse unless the caller opts into
    dropping positions entirely (output is then a valid
    positions-less index, meta positions=False)."""
    if drop_positions:
        return False
    present = [os.path.isdir(f"{d}/positions") for d in dirs]
    if all(present):
        return True
    if any(present):
        raise ValueError(
            f"{op}: only some inputs carry a positions/ sidecar "
            f"({dict(zip(dirs, present))}) — the merged sidecar would "
            "silently miss the others' docs. Rebuild the sidecar-less "
            "input with positions=True, or pass drop_positions=True "
            "to write the output without phrase support"
        )
    return False


def _merge_positions_stage(
    spark, manifest, out_dir: str, updated: "np.ndarray",
    base_dir: str, delta_dir: str | None,
) -> None:
    """Fold the positional sidecar through merge/delete: purge the
    updated/deleted docids from the base rows (operators/positions.py
    purge_positions — retained docs' payload bytes pass through, only
    docid/count metadata re-encodes), then union the delta's rows
    verbatim. A (term, salt) group may then span base+delta rows —
    the same multi-row contract the row cap already established, so
    every reader handles it. The updated-docid set ships in the task
    closure (same small-set regime as the broadcast path; the per-salt
    sidecar optimization of operators/merge.py applies here too if a
    delta ever exceeds it)."""
    if manifest.is_done("positions"):
        return
    t0 = time.time()
    from ..operators.positions import purge_positions

    merged = purge_positions(
        spark.read.parquet(f"{base_dir}/positions"), updated
    )
    if delta_dir is not None:
        merged = merged.unionByName(
            spark.read.parquet(f"{delta_dir}/positions")
        )
    write_bucket_table(merged, f"{out_dir}/positions")
    rows, nbytes, _files = _parquet_lineage(f"{out_dir}/positions")
    manifest.mark(
        "positions", rows_out=rows, bytes_out=nbytes,
        wall_ms=int(1000 * (time.time() - t0)),
    )


def _read_meta(index_dir: str) -> dict:
    with open(f"{index_dir}/meta.json") as f:
        return json.load(f)


def _docid_df(spark: SparkSession, docids: np.ndarray) -> DataFrame:
    """Columnar numpy -> DataFrame conversion (Arrow path): a 10^8-docid
    crawl batch must not become a driver-side list of Python tuples."""
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({"docid": np.asarray(docids, dtype=np.int64)})
    )


def _with_salt(df: DataFrame, salt_bits: int) -> DataFrame:
    """Backward compat: a pre-salt-layout index (format_version 2, side
    tables written without partitionBy('salt')) loads and serves fine,
    so merge/delete must not crash on it — synthesize the salt column
    (top ``salt_bits`` docid bits, the same unsigned shift the build
    uses) when the input lacks it; the OUTPUT is then written in the
    salt-partitioned layout, upgrading the index in passing."""
    if "salt" in df.columns:
        return df
    return df.withColumn(
        "salt",
        F.shiftrightunsigned(F.col("docid"), 63 - salt_bits).cast("int"),
    )


def _read_avgdl(index_dir: str) -> float:
    import pyarrow.parquet as pq

    row = pq.read_table(f"{index_dir}/stats").to_pandas().iloc[0]
    return float(row["avgdl"])


# Above this many updated docids the delta set is no longer broadcast
# (~800MB of int64 at 10^8): it is written as a per-salt parquet sidecar
# under the output index and kernel tasks read only their shard's slice
# (operators/merge.py write_updated_docids). ~10^8 is where whole-set
# broadcast stops being the cheap option on a real cluster.
DOCID_BROADCAST_LIMIT = 100_000_000


def _carry_synonyms(
    base_dir: str, delta_dir: str | None, out_dir: str
) -> None:
    """Synonyms are query-time CONFIG, not lexicon-derived data — a
    merge/delete/compact output keeps serving the same groups. Delta
    wins when both inputs carry a sidecar (the same newest-wins rule
    tiered serving applies to segment sidecars)."""
    import shutil

    for src in (delta_dir, base_dir):
        if src is None:
            continue
        p = f"{src}/synonyms.json"
        if os.path.isfile(p):
            shutil.copyfile(p, f"{out_dir}/synonyms.json")
            return


def merge_indexes(
    spark: SparkSession,
    base_dir: str,
    delta_dir: str,
    out_dir: str,
    resume: bool = False,
    bucket_groups: int = 1,
    docid_broadcast_limit: int = DOCID_BROADCAST_LIMIT,
    drop_positions: bool = False,
) -> Manifest:
    """Merge ``delta_dir``'s index into ``base_dir``'s, writing a full
    index at ``out_dir``. Both inputs must share layout config
    (n_buckets / salt_bits / analyzer — checked against meta.json).

    Positional sidecars fold through when BOTH inputs carry one: base
    rows are purged of the delta's doc universe (payload bytes pass
    through for retained docs — operators/positions.py
    purge_positions) and the delta's rows union in verbatim. A mixed
    pair (one input with a sidecar, one without) refuses — the merged
    sidecar would silently miss docs — unless ``drop_positions=True``
    writes the output without phrase support (meta positions=False).

    ``bucket_groups`` splits the postings rewrite into resumable units
    (same scheme as the build): each group filters both inputs to its
    bucket range and dynamic-partition-overwrites only its own
    ``bucket=N`` directories, so a crashed 100-TB merge re-runs only
    incomplete groups on ``resume=True``."""
    meta_b, meta_d = _read_meta(base_dir), _read_meta(delta_dir)
    mismatched = [
        k for k in _META_COMPAT_KEYS if meta_b.get(k) != meta_d.get(k)
    ]
    if mismatched:
        raise ValueError(
            f"incompatible index configs, cannot merge: {mismatched} "
            f"(base={meta_b}, delta={meta_d})"
        )
    n_buckets = int(meta_b["n_buckets"])
    carry_positions = _positions_policy(
        (base_dir, delta_dir), drop_positions, "merge_indexes"
    )

    manifest = Manifest(f"{out_dir}/manifest.json")
    if not resume:
        manifest.entries = {}
    os.makedirs(out_dir, exist_ok=True)
    with open(f"{out_dir}/meta.json", "w") as f:
        json.dump({**meta_b, "positions": carry_positions}, f)
    _carry_synonyms(base_dir, delta_dir, out_dir)

    # the delta's corpus universe = its docs side table (includes docs
    # whose new version has zero indexed terms — their stale base
    # postings must still be purged)
    import pyarrow.parquet as pq

    updated = np.sort(
        pq.read_table(f"{delta_dir}/docs", columns=["docid"])
        .column("docid")
        .to_numpy()
    )
    updated_df = _docid_df(spark, updated)
    big_delta = updated.size > docid_broadcast_limit
    if big_delta:
        from ..operators.merge import write_updated_docids

        merge_kw = {
            "updated_docids": None,
            "updated_docids_dir": write_updated_docids(
                updated, f"{out_dir}/_updated_docids",
                int(meta_b.get("salt_bits", 3)),
            ),
        }
    else:
        merge_kw = {"updated_docids": updated}

    salt_bits = int(meta_b.get("salt_bits", 3))

    def _anti_union(sub: str) -> DataFrame:
        base = _with_salt(spark.read.parquet(f"{base_dir}/{sub}"), salt_bits)
        delta = _with_salt(
            spark.read.parquet(f"{delta_dir}/{sub}"), salt_bits
        )
        # big delta: no broadcast hint — let AQE pick a shuffle join
        anti = updated_df if big_delta else F.broadcast(updated_df)
        return base.join(anti, "docid", "left_anti").unionByName(delta)

    # --- stage: doc_stats -------------------------------------------------
    if not manifest.is_done("doc_stats"):
        t0 = time.time()
        _anti_union("doc_stats").repartition("salt").sortWithinPartitions(
            "salt", "docid"
        ).write.mode("overwrite").partitionBy("salt").parquet(
            f"{out_dir}/doc_stats"
        )
        rows, nbytes, files = _parquet_lineage(f"{out_dir}/doc_stats")
        manifest.mark(
            "doc_stats", rows_out=rows, bytes_out=nbytes, partitions=files,
            wall_ms=int(1000 * (time.time() - t0)),
        )

    # --- stage: stats (driver-side pyarrow, as in the build) --------------
    if not manifest.is_done("stats"):
        t0 = time.time()
        import pandas as pd
        import pyarrow as pa

        dl = (
            pq.read_table(f"{out_dir}/doc_stats", columns=["doc_len"])
            .column("doc_len")
            .to_pandas()
        )
        n, total = int(len(dl)), int(dl.sum())
        stats_pdf = pd.DataFrame(
            {
                "N": [n],
                "avgdl": [total / n if n else 0.0],
                "total_length": [total],
            }
        )
        os.makedirs(f"{out_dir}/stats", exist_ok=True)
        pq.write_table(
            pa.Table.from_pandas(stats_pdf, preserve_index=False),
            f"{out_dir}/stats/part-0.parquet",
        )
        manifest.mark(
            "stats", rows_out=n, wall_ms=int(1000 * (time.time() - t0))
        )

    # --- stage: docs ------------------------------------------------------
    if not manifest.is_done("docs"):
        t0 = time.time()
        _anti_union("docs").repartition("salt").sortWithinPartitions(
            "salt", "docid"
        ).write.mode("overwrite").partitionBy("salt").parquet(
            f"{out_dir}/docs"
        )
        rows, nbytes, files = _parquet_lineage(f"{out_dir}/docs")
        manifest.mark(
            "docs", rows_out=rows, bytes_out=nbytes, partitions=files,
            wall_ms=int(1000 * (time.time() - t0)),
        )

    # --- stage: postings, one manifest unit per bucket group --------------
    avgdl_m = _read_avgdl(out_dir)
    f_base = max(1.0, avgdl_m / _read_avgdl(base_dir))
    f_delta = max(1.0, avgdl_m / _read_avgdl(delta_dir))
    base_p = spark.read.parquet(f"{base_dir}/postings")
    delta_p = spark.read.parquet(f"{delta_dir}/postings")
    per_group = (n_buckets + bucket_groups - 1) // bucket_groups
    from .build import _bucket_range_lineage

    for g in range(bucket_groups):
        unit = f"postings_g{g}" if bucket_groups > 1 else "postings"
        if manifest.is_done(unit):
            continue
        t0 = time.time()
        lo, hi = g * per_group, min((g + 1) * per_group, n_buckets) - 1
        if bucket_groups > 1:
            in_range = F.col("bucket").between(lo, hi)
            b_in, d_in = base_p.filter(in_range), delta_p.filter(in_range)
        else:
            b_in, d_in = base_p, delta_p
        merged = merge_postings_tables(
            b_in, d_in,
            avgdl_merged=avgdl_m,
            f_base=f_base,
            f_delta=f_delta,
            **merge_kw,
        )
        write_bucket_table(merged, f"{out_dir}/postings", dynamic=True)
        rows, nbytes, files = _bucket_range_lineage(
            f"{out_dir}/postings", lo, hi
        )
        manifest.mark(
            unit, rows_out=rows, bytes_out=nbytes, partitions=files,
            wall_ms=int(1000 * (time.time() - t0)),
            max_score_scale={"base": f_base, "delta": f_delta},
        )

    # --- stage: term_stats ------------------------------------------------
    write_term_stats(spark, out_dir, n_buckets, manifest)
    write_title_tf(spark, out_dir, n_buckets, manifest)

    # --- stage: positional sidecar (when both inputs carry one) -----------
    if carry_positions:
        _merge_positions_stage(
            spark, manifest, out_dir, updated, base_dir, delta_dir
        )

    manifest.mark("all", status="done")
    return manifest


def delete_docs(
    spark: SparkSession,
    base_dir: str,
    out_dir: str,
    urls: list[str] | None = None,
    docids: list[int] | None = None,
    resume: bool = False,
    docid_broadcast_limit: int = DOCID_BROADCAST_LIMIT,
    drop_positions: bool = False,
) -> Manifest:
    """Purge documents from an index without rebuilding it — the
    right-to-be-forgotten / takedown operation a persistent web index
    needs (the reference can only drop Mongo documents, leaving stale
    postings behind: nothing removes a doc from `invertedIndex`'s
    docIdLists). Implemented as an incremental merge with an EMPTY
    delta: every posting of the given docs is purged via the same
    block-range kernel (untouched posting groups pass through as raw
    buffers), doc_stats/docs lose the rows, stats and the lexicon are
    recomputed. Pytest asserts delete == rebuild without those docs."""
    if (urls is None) == (docids is None):
        raise ValueError("pass exactly one of urls= or docids=")
    if urls is not None:
        # docid derivation must match the build (operators/tokenize.py
        # with_docid: xxhash64(url) >> 1) — one tiny Spark job rather
        # than reimplementing Spark's xxhash64 seed in Python
        from ..operators.tokenize import with_docid

        rows = with_docid(
            spark.createDataFrame([(u,) for u in urls], "url string"),
            "url",
        ).select("docid").collect()
        docids = [r["docid"] for r in rows]

    import numpy as np

    updated = np.sort(np.asarray(docids, dtype=np.int64))

    meta_b = _read_meta(base_dir)
    n_buckets = int(meta_b["n_buckets"])
    carry_positions = _positions_policy(
        (base_dir,), drop_positions, "delete_docs"
    )
    manifest = Manifest(f"{out_dir}/manifest.json")
    if not resume:
        manifest.entries = {}
    os.makedirs(out_dir, exist_ok=True)
    with open(f"{out_dir}/meta.json", "w") as f:
        json.dump({**meta_b, "positions": carry_positions}, f)
    _carry_synonyms(base_dir, None, out_dir)

    updated_df = _docid_df(spark, updated)
    big_delete = updated.size > docid_broadcast_limit

    def _minus(sub: str) -> DataFrame:
        # big delete set: no broadcast hint — let AQE pick a shuffle
        # join (mirrors merge_indexes' _anti_union)
        anti = updated_df if big_delete else F.broadcast(updated_df)
        return _with_salt(
            spark.read.parquet(f"{base_dir}/{sub}"),
            int(meta_b.get("salt_bits", 3)),
        ).join(anti, "docid", "left_anti")

    import pyarrow.parquet as pq

    if not manifest.is_done("doc_stats"):
        t0 = time.time()
        _minus("doc_stats").repartition("salt").sortWithinPartitions(
            "salt", "docid"
        ).write.mode("overwrite").partitionBy("salt").parquet(
            f"{out_dir}/doc_stats"
        )
        rows, nbytes, files = _parquet_lineage(f"{out_dir}/doc_stats")
        manifest.mark(
            "doc_stats", rows_out=rows, bytes_out=nbytes, partitions=files,
            wall_ms=int(1000 * (time.time() - t0)),
        )

    if not manifest.is_done("stats"):
        t0 = time.time()
        import pandas as pd
        import pyarrow as pa

        dl = (
            pq.read_table(f"{out_dir}/doc_stats", columns=["doc_len"])
            .column("doc_len")
            .to_pandas()
        )
        n, total = int(len(dl)), int(dl.sum())
        stats_pdf = pd.DataFrame(
            {
                "N": [n],
                "avgdl": [total / n if n else 0.0],
                "total_length": [total],
            }
        )
        os.makedirs(f"{out_dir}/stats", exist_ok=True)
        pq.write_table(
            pa.Table.from_pandas(stats_pdf, preserve_index=False),
            f"{out_dir}/stats/part-0.parquet",
        )
        manifest.mark(
            "stats", rows_out=n, wall_ms=int(1000 * (time.time() - t0))
        )

    if not manifest.is_done("docs"):
        t0 = time.time()
        _minus("docs").repartition("salt").sortWithinPartitions(
            "salt", "docid"
        ).write.mode("overwrite").partitionBy("salt").parquet(
            f"{out_dir}/docs"
        )
        rows, nbytes, files = _parquet_lineage(f"{out_dir}/docs")
        manifest.mark(
            "docs", rows_out=rows, bytes_out=nbytes, partitions=files,
            wall_ms=int(1000 * (time.time() - t0)),
        )

    if not manifest.is_done("postings"):
        t0 = time.time()
        base_postings = spark.read.parquet(f"{base_dir}/postings")
        avgdl_m = _read_avgdl(out_dir)
        f_base = max(1.0, avgdl_m / _read_avgdl(base_dir))
        if updated.size > docid_broadcast_limit:
            from ..operators.merge import write_updated_docids

            kw = {
                "updated_docids": None,
                "updated_docids_dir": write_updated_docids(
                    updated, f"{out_dir}/_updated_docids",
                    int(meta_b.get("salt_bits", 3)),
                ),
            }
        else:
            kw = {"updated_docids": updated}
        merged = merge_postings_tables(
            base_postings,
            spark.createDataFrame([], base_postings.schema),
            avgdl_merged=avgdl_m,
            f_base=f_base,
            f_delta=1.0,
            **kw,
        )
        write_bucket_table(merged, f"{out_dir}/postings")
        rows, nbytes, files = _parquet_lineage(f"{out_dir}/postings")
        manifest.mark(
            "postings", rows_out=rows, bytes_out=nbytes, partitions=files,
            wall_ms=int(1000 * (time.time() - t0)),
        )

    write_term_stats(spark, out_dir, n_buckets, manifest)
    write_title_tf(spark, out_dir, n_buckets, manifest)
    if carry_positions:
        _merge_positions_stage(
            spark, manifest, out_dir, updated, base_dir, None
        )
    manifest.mark("all", status="done")
    return manifest
