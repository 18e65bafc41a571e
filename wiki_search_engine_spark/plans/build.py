"""Index build orchestration: staged, metered, resumable.

Pipeline (SURVEY §3.2 "Rebuild lifecycle"):

  corpus (url, warc_ts, html, text, lang)
    -> docid = xxhash64(url)>>1                       [JVM expr]
    -> stage tokens : mapInPandas tokenize -> (docid, term, tf, doc_len,
       bucket) written as parquet partitioned by bucket  [1 Python stage]
    -> stage doc_stats / stats / docs : plain aggregations + snippet
    -> stage postings[g] : per bucket-group, salted (term, salt) encode ->
       doc-range-sharded block postings, rebalanced by bucket and written
       partitioned by bucket (bucket_layout); one manifest unit per
       group  => kill/rerun resumes group-granular.
    -> stage term_stats / title_tf / positions (opt-in) side tables

Layout under ``index_dir``:
    tokens/     staging (docid,term,tf,doc_len) parquet, partitionBy bucket
    postings/   (term,salt,df_shard,bucket,blocks) parquet, partitionBy bucket
    positions/  (term,salt,bucket,n_docs,...)   parquet, partitionBy bucket
    term_stats/ (term,df,bucket)                parquet, partitionBy bucket
    title_tf/   (term,docid,tf,doc_len,bucket)  parquet, partitionBy bucket
    doc_stats/  (docid, doc_len)                parquet, partitionBy salt
    docs/       (docid, url, title, snippet, ...) parquet, partitionBy salt
    stats/      1-row (N, avgdl, total_length)
    manifest.json

The bucket directory key makes query-time term lookups partition-pruned
scans (the Spark analogue of the reference's Mongo B-tree on ``word``,
mongodb_scripts/insertIndex.py:104). Each bucket directory holds one
term-sorted file until the bucket outgrows one write task, so a term's
point read opens one file, and row-group min/max on term prunes within
it. A (term, salt) group split over several postings rows keeps its rows
in docid order.
"""

from __future__ import annotations

import time

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.analyzer import tokenize_frame
from ..functions.textstats import snippet
from ..operators.aggregates import corpus_stats, doc_stats
from ..operators.postings import (
    DEFAULT_BUCKETS, build_postings, term_bucket,
)
from ..operators.tokenize import with_docid
from .manifest import Manifest

# categorical corpus columns carried into the docs side table when
# present — the facet fields the serving head can count over
# (engine.facet_counts / HTTP &facets=)
FACET_COLUMNS = ("lang", "source")

# On-disk index layout version. 2 = bucket=N partition directories for
# postings/term_stats (term_stats side table required by the local and
# lexicon serving paths). 1 was the pre-bucket postings/g* layout.
FORMAT_VERSION = 2


def _parquet_lineage(path: str) -> tuple[int, int, list[dict]]:
    """(rows, bytes, per-file lineage) from parquet footers (driver-side,
    no Spark job — each count() action costs a full job submit/schedule
    round-trip that dominates small builds). The per-file list is the
    north_rule's per-partition lineage: one committed output partition ==
    one parquet part file."""
    import glob as _glob
    import os

    import pyarrow.parquet as pq

    rows, nbytes, files = 0, 0, []
    for f in sorted(
        _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    ):
        n = pq.ParquetFile(f).metadata.num_rows
        sz = os.path.getsize(f)
        rows += n
        nbytes += sz
        files.append(
            {"file": os.path.relpath(f, path), "rows": n, "bytes": sz}
        )
    return rows, nbytes, files


def _parquet_rows(path: str) -> int:
    return _parquet_lineage(path)[0]


def _dir_bytes(path: str) -> int:
    import os

    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
    return total


def tune_scan_splits(spark: SparkSession, input_bytes: int,
                     waves: int = 3) -> None:
    """Size parquet scan splits so the stage runs ~``waves`` task waves
    across every core.

    Spark's defaults (maxPartitionBytes=128MB, openCostInBytes=4MB) bin-
    pack a small-to-medium input into a handful of scan partitions — a
    20k-doc/82MB corpus becomes 3 tasks, so a 32-core build runs 3-wide
    and MORE cores only add overhead (measured: local[32] slower than
    local[8]). At 100TB the default is fine (800k splits); the conf only
    matters when input_bytes / 128MB < cores, i.e. the tail of a build or
    bench-scale runs — exactly where scaling evidence is collected. The
    floor keeps splits from degenerating into per-row files."""
    par = spark.sparkContext.defaultParallelism
    target = input_bytes // max(par * waves, 1)
    target = max(256 * 1024, min(128 << 20, target or 1))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(target))
    spark.conf.set(
        "spark.sql.files.openCostInBytes", str(min(target // 4, 4 << 20))
    )


def bucket_layout(rows: DataFrame) -> DataFrame:
    """The row layout of a bucket-partitioned serving table (postings,
    positions) from its encoded (term, salt) rows.

    The encode runs hash-partitioned on (bucket, salt) for skew, so
    every encode task holds rows of every bucket; written as they are,
    each bucket directory gets one file per task, each spanning the
    bucket's whole term range, and a point read opens all of them. An
    AQE rebalance on bucket instead sizes the write tasks by bytes: small
    buckets coalesce (one file per bucket) and a bucket past the
    advisory partition size splits (a few files for a hot bucket).

    Within a file rows sort by (term, salt) for row-group min/max
    pruning on term. A postings (term, salt) group split over several
    rows (MAX_POSTINGS_PER_ROW, merges) then sorts by its rows' first
    docid: the rebalance discards the encode order and Spark's sort is
    not stable. Positions readers order docids themselves."""
    order = ["bucket", "term", "salt"]
    if "blocks" in rows.columns:
        order.append(F.col("blocks")[0]["first_docid"])
    return rows.hint("rebalance", "bucket").sortWithinPartitions(*order)


def write_bucket_table(
    rows: DataFrame, path: str, dynamic: bool = False
) -> None:
    """Write ``rows`` in ``bucket_layout`` as parquet partitioned by
    bucket. ``dynamic`` overwrites only the bucket directories the rows
    hold (resumable bucket groups) instead of the whole table."""
    writer = bucket_layout(rows).write.mode("overwrite")
    if dynamic:
        writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.partitionBy("bucket").parquet(path)


def _tokenize_with_bucket(
    stem: bool, n_buckets: int, analyzer: str | None = None
):
    def fn(batches):
        for pdf in batches:
            out = tokenize_frame(pdf["docid"], pdf["text"], stem, analyzer)
            # bucket per UNIQUE term, mapped back (few distinct terms/batch)
            uniq = pd.unique(out["term"])
            mapping = {t: term_bucket(t, n_buckets) for t in uniq}
            out["bucket"] = out["term"].map(mapping).astype("int32")
            yield out

    return fn


def _tokenize_with_bucket_positions(stem: bool, n_buckets: int):
    """positions=True staging kernel: one scan emits BOTH the postings
    inputs and the pre-packed position blobs. npos == tf by definition
    (operators/positions.py packed_frame), so the staging table is the
    ordinary tokens relation plus one binary column; the postings /
    doc_stats readers never touch pos_blob (parquet column pruning) and
    the positions stage never re-scans the corpus — the r3 sidecar cost
    was one EXTRA full corpus scan + tokenize per build."""

    def fn(batches):
        from ..operators.positions import packed_frame

        for pdf in batches:
            out = packed_frame(pdf["docid"], pdf["text"], stem)
            if not len(out):
                continue
            out = out.rename(columns={"npos": "tf"})
            uniq = pd.unique(out["term"])
            mapping = {t: term_bucket(t, n_buckets) for t in uniq}
            out["bucket"] = out["term"].map(mapping).astype("int32")
            yield out

    return fn


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    stem: bool = True,
    n_buckets: int = DEFAULT_BUCKETS,
    bucket_groups: int = 4,
    salt_bits: int = 3,
    resume: bool = False,
    analyzer: str | None = None,
    positions: bool = False,
    pagerank_iters: int = 0,
) -> Manifest:
    """Build the full index under ``index_dir``; returns the manifest.

    ``analyzer``: None -> 'porter' if stem else 'base'; or 'ner' for the
    entity dual-indexing plug (functions/analyzer.py ner_tokens).

    ``positions=True`` additionally writes the positional sidecar
    (``positions/`` — operators/positions.py) that serves exact phrase
    queries without corpus re-scans. Opt-in: the positions pass ships
    |tokens| rows where the postings build ships |distinct (doc,term)|."""
    if analyzer is None:
        analyzer = "porter" if stem else "base"
    if positions and analyzer == "ner":
        raise ValueError(
            "positions sidecar is not defined for the NER dual-index "
            "analyzer (entity phrases and component words share "
            "positions ambiguously); build with analyzer='base' or "
            "'porter'"
        )
    manifest = Manifest(f"{index_dir}/manifest.json")
    if not resume:
        manifest.entries = {}
        # a fresh (non-resume) build into an existing index_dir must not
        # inherit stale output: postings/term_stats use DYNAMIC partition
        # overwrite (so a crashed group rewrites only its own dirs on
        # resume), which would let bucket dirs the new corpus never
        # writes survive as ghost postings — and write_term_stats would
        # re-ingest them into the lexicon
        import shutil

        for sub in (
            "tokens", "postings", "term_stats", "docs", "doc_stats",
            "stats", "positions",
            # static_rank only rewrites when pagerank_iters > 0, so a
            # fresh rebuild WITHOUT the flag must not leave the old
            # corpus's authority ranks behind to silently boost
            "static_rank",
        ):
            shutil.rmtree(f"{index_dir}/{sub}", ignore_errors=True)

    # persist the index configuration so SearchEngine.load can't drift
    # from what was built (bucket pruning depends on n_buckets)
    import json
    import os

    os.makedirs(index_dir, exist_ok=True)
    with open(f"{index_dir}/meta.json", "w") as f:
        json.dump(
            {
                "n_buckets": n_buckets,
                "salt_bits": salt_bits,
                "stem": stem,
                "analyzer": analyzer,
                "positions": positions,
                "format_version": FORMAT_VERSION,
            },
            f,
        )

    corpus = with_docid(corpus, "url")

    saved_conf = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.files.maxPartitionBytes",
            "spark.sql.files.openCostInBytes",
        )
    }
    try:
        return _build_stages(
            spark, corpus, index_dir, manifest, stem, n_buckets,
            bucket_groups, salt_bits, analyzer, positions=positions,
            pagerank_iters=pagerank_iters,
        )
    finally:
        for k, v in saved_conf.items():
            if v is not None:
                spark.conf.set(k, v)


def _build_stages(
    spark, corpus, index_dir, manifest, stem, n_buckets, bucket_groups,
    salt_bits, analyzer=None, positions=False, pagerank_iters=0,
) -> Manifest:
    # scan-split tuning: corpus files (if file-backed) drive the tokenize
    # stage's parallelism
    import os as _os

    in_files = [
        f[len("file:"):] if f.startswith("file:") else f
        for f in corpus.inputFiles()
    ]
    if in_files and all(_os.path.exists(f) for f in in_files):
        tune_scan_splits(
            spark, sum(_os.path.getsize(f) for f in in_files)
        )

    # ingest raw-html rows: the input_hint contract says `text` IS the
    # extraction of `html`; rows arriving with text NULL get it filled by
    # the byte-identical extraction kernel (pandas UDF over Arrow
    # batches, same function as the pytest oracle). The probe is one
    # cheap limit(1) job; fully-extracted corpora skip the UDF entirely
    # so the html bytes never cross into Python.
    if "html" in corpus.columns and (
        corpus.filter(F.col("text").isNull()).limit(1).count() > 0
    ):
        from ..functions.extraction import extract_text

        @F.pandas_udf("string")
        def _extract(html: pd.Series) -> pd.Series:
            return html.map(
                lambda b: extract_text(
                    bytes(b).decode("utf-8", "replace")
                ) if b is not None else None
            )

        corpus = corpus.withColumn(
            "text",
            F.coalesce(F.col("text"), _extract(F.col("html"))),
        )

    # --- stage: tokens (staging parquet) ---------------------------------
    # bucket-partitioned ONLY when postings build is split into resumable
    # groups (the partitioned layout costs an extra shuffle + many small
    # files; with one group nothing would ever prune on it)
    if not manifest.is_done("tokens"):
        t0 = time.time()
        if positions:
            # one scan for postings AND the positional sidecar: the
            # staging row gains a pos_blob binary column (npos==tf)
            tokens = corpus.select("docid", "text").mapInPandas(
                _tokenize_with_bucket_positions(
                    analyzer == "porter", n_buckets
                ),
                schema=(
                    "docid long, term string, doc_len int, tf int, "
                    "pos_blob binary, bucket int"
                ),
            )
        else:
            tokens = corpus.select("docid", "text").mapInPandas(
                _tokenize_with_bucket(stem, n_buckets, analyzer),
                schema=(
                    "docid long, term string, tf int, doc_len int, "
                    "bucket int"
                ),
            )
        writer = tokens.write.mode("overwrite")
        if bucket_groups > 1:
            par = min(n_buckets, spark.sparkContext.defaultParallelism)
            writer = (
                tokens.repartition(par, "bucket")
                .write.mode("overwrite")
                .partitionBy("bucket")
            )
        writer.parquet(f"{index_dir}/tokens")
        rows, nbytes, files = _parquet_lineage(f"{index_dir}/tokens")
        manifest.mark(
            "tokens",
            rows_out=rows,
            bytes_out=nbytes,
            partitions=files,
            wall_ms=int(1000 * (time.time() - t0)),
        )
    # --- stage: docs (hydration side table: url, title, snippet) ---------
    # runs while scan splits are still sized to the CORPUS (it re-scans
    # html-laden corpus files; tokens-sized splits would shatter it into
    # hundreds of overhead-bound tasks)
    if not manifest.is_done("docs"):
        t0 = time.time()
        # image metadata from the RAW page, JVM-side (same regex as
        # functions/extraction.py extract_image_srcs — parity-tested);
        # ids follow the reference's <file_id>-<i> convention
        # (mongodb_scripts/insertScript.py:84-92, max 10/doc). html is
        # optional (text-only corpora get empty image arrays), matching
        # the extraction guard above.
        if "html" in corpus.columns:
            srcs = F.slice(
                F.regexp_extract_all(
                    F.col("html").cast("string"),
                    F.lit(
                        r"""(?i)<img\b[^>]*\bsrc\s*=\s*["']([^"']+)["']"""
                    ),
                    F.lit(1),
                ),
                1,
                10,
            )
            images = F.transform(
                srcs,
                lambda x, j: F.struct(
                    F.concat_ws(
                        "-", F.col("docid").cast("string"), j.cast("string")
                    ).alias("image_id"),
                    x.alias("src"),
                ),
            )
        else:
            images = F.expr(
                "CAST(array() AS array<struct<image_id:string,src:string>>)"
            )
        # facet passthrough: small categorical metadata columns ride
        # the docs side table (doc-values analogue) so the serving head
        # can count per-facet over the FULL match set with a
        # column-pruned (docid, facet) read — never touching
        # snippet/text (engine.facet_counts)
        facet_cols = [
            F.col(c) for c in FACET_COLUMNS if c in corpus.columns
        ]
        docs = corpus.select(
            "docid",
            "url",
            F.regexp_extract("url", r"([^/]+)$", 1).alias("title"),
            snippet(F.col("text")).alias("snippet"),
            images.alias("images"),
            F.size(images).alias("image_count"),
            *facet_cols,
        )
        # layout for POINT LOOKUPS at corpus scale: partitioned by the
        # docid-range salt (the same shard concept as postings), then
        # docid-sorted within each file. A lookup first prunes to <= k
        # salt DIRECTORIES (never listing/footer-reading the rest of a
        # 10^12-row table's files), then prunes ROW GROUPS via footer
        # min/max stats. No extra shuffle beyond the salt clustering —
        # a range partition would re-execute the snippet/image
        # projections for its sampling pass. The sort leads with salt so
        # the partitioned writer's required ordering is already met: on
        # docid alone it re-sorts by salt and the docid order is lost.
        (
            docs.withColumn(
                "salt",
                F.shiftrightunsigned(
                    F.col("docid"), 63 - salt_bits
                ).cast("int"),
            )
            .repartition(
                min(
                    spark.sparkContext.defaultParallelism,
                    1 << salt_bits,
                ),
                "salt",
            )
            .sortWithinPartitions("salt", "docid")
            .write.mode("overwrite")
            .partitionBy("salt")
            .parquet(f"{index_dir}/docs")
        )
        rows, nbytes, files = _parquet_lineage(f"{index_dir}/docs")
        manifest.mark(
            "docs",
            rows_out=rows,
            bytes_out=nbytes,
            partitions=files,
            wall_ms=int(1000 * (time.time() - t0)),
        )

    # downstream stages (doc_stats agg, range-sample + encode) scan the
    # much smaller tokens staging table — retune splits to ITS size
    tune_scan_splits(spark, _dir_bytes(f"{index_dir}/tokens"))
    tokens = spark.read.parquet(f"{index_dir}/tokens")

    # --- stage: doc_stats + corpus stats ---------------------------------
    # corpus stats (1 row) are computed driver-side from the doc_stats
    # parquet with pyarrow — a Spark job for a 3-scalar aggregate is pure
    # fixed cost (the reference's analogue is metaDataInsert.py:26-48)
    if not manifest.is_done("stats"):
        t0 = time.time()
        # same point-lookup layout as docs/: salt directories +
        # docid-sorted files — tiered serving reads the overridden docs'
        # lengths this way at segment-load time
        (
            doc_stats(tokens)
            .withColumn(
                "salt",
                F.shiftrightunsigned(
                    F.col("docid"), 63 - salt_bits
                ).cast("int"),
            )
            .repartition(
                min(
                    spark.sparkContext.defaultParallelism,
                    1 << salt_bits,
                ),
                "salt",
            )
            .sortWithinPartitions("salt", "docid")
            .write.mode("overwrite")
            .partitionBy("salt")
            .parquet(f"{index_dir}/doc_stats")
        )
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        dl = (
            pq.read_table(f"{index_dir}/doc_stats", columns=["doc_len"])
            .column("doc_len")
            .to_pandas()
        )
        n, total = int(len(dl)), int(dl.sum())
        stats_pdf = pd.DataFrame(
            {
                "N": [n],
                # n == 0: every doc tokenized to nothing (empty crawl
                # batch of stopword-only pages) — an index with no
                # postings is valid and must not kill a streaming batch
                "avgdl": [total / n if n else 0.0],
                "total_length": [total],
            }
        )
        os.makedirs(f"{index_dir}/stats", exist_ok=True)
        pq.write_table(
            pa.Table.from_pandas(stats_pdf, preserve_index=False),
            f"{index_dir}/stats/part-0.parquet",
        )
        manifest.mark(
            "stats", rows_out=n, wall_ms=int(1000 * (time.time() - t0))
        )

    import pyarrow.parquet as _pq

    stats_tbl = _pq.read_table(f"{index_dir}/stats").to_pandas().iloc[0]
    avgdl = float(stats_tbl["avgdl"])

    # --- stage: postings, one manifest unit per bucket group -------------
    per_group = (n_buckets + bucket_groups - 1) // bucket_groups
    for g in range(bucket_groups):
        unit = f"postings_g{g}"
        if manifest.is_done(unit):
            continue
        t0 = time.time()
        lo, hi = g * per_group, min((g + 1) * per_group, n_buckets) - 1
        group_tokens = tokens.filter(F.col("bucket").between(lo, hi))
        postings = build_postings(
            group_tokens.select("docid", "term", "tf", "doc_len"),
            avgdl=avgdl,
            salt_bits=salt_bits,
            n_buckets=n_buckets,
        )
        # every group writes only ITS bucket=N directories (buckets
        # partition the term space, groups partition the buckets), so
        # dynamic partition overwrite is idempotent per group — a crashed
        # group rewrites only its own directories on resume
        write_bucket_table(
            postings, f"{index_dir}/postings", dynamic=True
        )
        rows, nbytes, files = _bucket_range_lineage(
            f"{index_dir}/postings", lo, hi
        )
        manifest.mark(
            unit,
            rows_out=rows,
            bytes_out=nbytes,
            partitions=files,
            wall_ms=int(1000 * (time.time() - t0)),
        )
    write_term_stats(spark, index_dir, n_buckets, manifest)
    write_title_tf(spark, index_dir, n_buckets, manifest, analyzer=analyzer)
    if pagerank_iters > 0:
        write_static_rank(
            spark, index_dir, corpus, salt_bits,
            n_iter=pagerank_iters, manifest=manifest,
        )

    # --- stage: positional sidecar (opt-in) -------------------------------
    if positions and not manifest.is_done("positions"):
        t0 = time.time()
        from ..operators.positions import (
            build_positions, positions_packed,
        )

        if "pos_blob" in tokens.columns:
            # the staging scan already packed the blobs (one corpus
            # scan total) — this stage is shuffle + encode only
            packed = tokens.select(
                "docid", "term", "doc_len",
                F.col("tf").alias("npos"), "pos_blob",
                *(["bucket"] if "bucket" in tokens.columns else []),
            )
        else:
            # resume from a pre-fold tokens stage that lacks pos_blob:
            # fall back to the standalone corpus re-scan form
            packed = positions_packed(
                corpus.select("docid", "text"),
                stem=(analyzer == "porter"),
            )
        write_bucket_table(
            build_positions(
                packed, salt_bits=salt_bits, n_buckets=n_buckets
            ),
            f"{index_dir}/positions",
            dynamic=True,
        )
        rows, nbytes, _files = _parquet_lineage(
            f"{index_dir}/positions"
        )
        manifest.mark(
            "positions",
            rows_out=rows,
            bytes_out=nbytes,
            wall_ms=int(1000 * (time.time() - t0)),
        )

    manifest.mark("all", status="done")
    return manifest


def write_title_tf(
    spark,
    index_dir: str,
    n_buckets: int,
    manifest: Manifest | None = None,
    analyzer: str | None = None,
) -> None:
    """TITLE-field sidecar for BM25F scoring (operators/scoring.py
    score_bm25f): (term, docid, tf, doc_len), partitioned by the SAME
    term bucket as postings/term_stats and term-sorted within file, so
    query-time reads prune to the query terms' bucket directories +
    row groups exactly like the lexicon.

    tf counts the term's occurrences in the doc-store TITLE (docs/
    side table, analyzed with the index analyzer — query/index
    symmetry holds for the title field too); doc_len is the BODY
    length from doc_stats, so title-only matches normalize against the
    document's real length. Rows per doc ~ title tokens (a handful):
    the sidecar is orders smaller than postings; its one build join
    (title tokens x doc_stats on docid) is doc_stats-sized, far below
    the tokens staging shuffle the build already paid. ``analyzer``
    defaults from the index meta.json (retrofit path: CLI
    ``titleindex`` / engine.build_title_tf on a pre-r5 index)."""
    if manifest is not None and manifest.is_done("title_tf"):
        return
    t0 = time.time()
    from ..operators.postings import term_bucket_col
    from ..operators.tokenize import tokenize

    if analyzer is None:
        import json as _json
        import os as _os

        meta_path = f"{index_dir}/meta.json"
        if _os.path.isfile(meta_path):
            with open(meta_path) as f:
                meta = _json.load(f)
            analyzer = meta.get(
                "analyzer", "porter" if meta.get("stem", True) else "base"
            )
        else:
            analyzer = "porter"
    titles = spark.read.parquet(f"{index_dir}/docs").select(
        "docid", F.col("title").alias("text")
    )
    ttok = tokenize(titles, analyzer=analyzer).select(
        "docid", "term", "tf"
    )
    dl = spark.read.parquet(f"{index_dir}/doc_stats").select(
        "docid", "doc_len"
    )
    np_ = min(n_buckets, spark.sparkContext.defaultParallelism)
    (
        ttok.join(dl, "docid")
        .withColumn("bucket", term_bucket_col(F.col("term"), n_buckets))
        .repartition(np_, "bucket")
        .sortWithinPartitions("bucket", "term")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{index_dir}/title_tf")
    )
    if manifest is not None:
        rows, nbytes, files = _parquet_lineage(f"{index_dir}/title_tf")
        manifest.mark(
            "title_tf",
            rows_out=rows,
            bytes_out=nbytes,
            wall_ms=int(1000 * (time.time() - t0)),
        )


def write_static_rank(
    spark,
    index_dir: str,
    corpus: DataFrame,
    salt_bits: int,
    n_iter: int = 10,
    manifest: Manifest | None = None,
) -> None:
    """OPT-IN static-authority sidecar (``static_rank/``): PageRank
    over the corpus's intra-corpus link graph (html -> the reference's
    link filter chain -> docid edges -> operators/linkgraph.pagerank),
    written (docid, rank) in the same salt-dir + docid-sorted layout
    as doc_stats so serving reads it as cached doc-values. Docs with
    no links in either direction are absent (they get zero boost —
    authority is a property of the link graph). Build cost: one
    extraction pass over html + ``n_iter`` join/agg rounds over the
    EDGE table (link-count-sized, far below postings)."""
    if manifest is not None and manifest.is_done("static_rank"):
        return
    if "html" not in corpus.columns:
        raise ValueError(
            "static_rank needs the corpus html column (the link graph "
            "comes from the pages' anchors)"
        )
    t0 = time.time()
    from ..operators.linkgraph import pagerank, resolve_link_docids
    from ..operators.tokenize import link_table

    edges = resolve_link_docids(
        link_table(corpus), corpus.select("url")
    )
    ranks = pagerank(edges, n_iter=n_iter)
    (
        ranks.select(
            F.col("node").alias("docid"), "rank"
        )
        .withColumn(
            "salt",
            F.shiftrightunsigned(
                F.col("docid"), 63 - salt_bits
            ).cast("int"),
        )
        .repartition(
            min(spark.sparkContext.defaultParallelism, 1 << salt_bits),
            "salt",
        )
        .sortWithinPartitions("salt", "docid")
        .write.mode("overwrite")
        .partitionBy("salt")
        .parquet(f"{index_dir}/static_rank")
    )
    if manifest is not None:
        rows, nbytes, _files = _parquet_lineage(
            f"{index_dir}/static_rank"
        )
        manifest.mark(
            "static_rank",
            rows_out=rows,
            bytes_out=nbytes,
            wall_ms=int(1000 * (time.time() - t0)),
        )


def write_term_stats(
    spark, index_dir: str, n_buckets: int, manifest: Manifest
) -> None:
    """The lexicon side table stage: (term, df), partitionBy bucket,
    term-sorted within file. This is the IR dictionary: at query time the
    DRIVER reads the query terms' bucket files with pyarrow (no Spark
    job) to get global df — query latency then costs exactly ONE Spark
    job (the WAND kernel). Derived from the POSTINGS table (sum of shard
    dfs; ~|vocab| rows, blocks column never read) rather than re-scanning
    the token relation — df == posting-list length by construction
    (SURVEY §8.Q7). Shared by the full build and the incremental merge
    (plans/merge.py)."""
    if manifest.is_done("term_stats"):
        return
    t0 = time.time()
    stats_np = min(n_buckets, spark.sparkContext.defaultParallelism)
    (
        spark.read.parquet(f"{index_dir}/postings")
        .select("bucket", "term", "df_shard")
        .repartition(stats_np, "bucket")
        .groupBy("bucket", "term")
        .agg(F.sum("df_shard").cast("long").alias("df"))
        .sortWithinPartitions("bucket", "term")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{index_dir}/term_stats")
    )
    rows, nbytes, files = _parquet_lineage(f"{index_dir}/term_stats")
    manifest.mark(
        "term_stats",
        rows_out=rows,
        bytes_out=nbytes,
        wall_ms=int(1000 * (time.time() - t0)),
    )


def _bucket_range_lineage(
    postings_dir: str, lo: int, hi: int
) -> tuple[int, int, list[dict]]:
    import os

    rows, nbytes, files = 0, 0, []
    for b in range(lo, hi + 1):
        d = os.path.join(postings_dir, f"bucket={b}")
        if not os.path.isdir(d):
            continue
        r, nb, fs = _parquet_lineage(d)
        rows += r
        nbytes += nb
        for f in fs:
            f["file"] = f"bucket={b}/" + f["file"]
        files.extend(fs)
    return rows, nbytes, files
