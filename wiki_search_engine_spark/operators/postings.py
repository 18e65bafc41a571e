"""Posting-list construction: salted repartition-by-term + applyInPandas.

Replaces the reference's driver-side group-to-array (mongodb_scripts/
insertIndex.py:43-91: stream CSV rows into a dict keyed by term) with a
distributed, skew-aware build (north_rule: "salted per-term posting-list
construction ... via repartition-by-term + mapInPandas merge").

Layout decision — the index is **doc-range sharded**: each output row is
``(term, salt, df, bucket, blocks)`` where ``salt`` is a docid-RANGE shard
(top ``salt_bits`` bits of the non-negative 63-bit docid) and ``blocks``
are the term's delta+varbyte blocks for that docid range only. Why:

- *skew*: a stopword-scale term (10^11 postings at web scale) never has to
  pass through one task — each (term, salt) encode group is bounded;
- *sound distributed WAND*: within one salt shard, ALL query terms'
  postings for that docid range are present, so a per-shard top-k with OR
  semantics is exact and global top-k = merge of shard top-ks
  (document-sharded query processing, the standard web-search layout);
- *no giant rows*: blocks of one term stay ≤ range size per row, and a
  hard cap (MAX_POSTINGS_PER_ROW) splits any group that still exceeds
  it into several rows — cell size is bounded regardless of term
  frequency or salt_bits choice.

``df_shard`` on every row counts the postings in that ROW. The global df
(= posting-list length, which the reference also recomputes at query
time, mongoService.js:32 / SURVEY §8.Q7) is the sum of a term's row dfs —
aggregated per query over the handful of candidate rows. Storing the
row-local value avoids a window/join over the full block table at build
time (that would re-shuffle every compressed block a second time just to
attach one integer). Scoring treats each row as an independent posting
list with the term's global df: per-posting contributions are
independent, so split rows accumulate identical scores, and per-list
block-max bounds stay sound upper bounds.

``bucket`` = md5-based hash of term mod n_buckets — the table's partition
directory key. It is computed with plain Python md5 (not Spark xxhash64)
so the DRIVER can compute the same bucket for query terms and prune
partitions without a Spark job.

Block metadata stores ``max_score`` as the *idf-independent* BM25 factor
    u = tf*(k1+1) / (tf + k1*(1-b+b*doclen/avgdl))
(and ``max_tf`` for the TF-IDF bound), so blocks never need df/N at build
time; the query kernel multiplies by idf(term) for the true block-max
bound.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from .codec import BLOCK_SIZE

DEFAULT_BUCKETS = 64

BLOCK_STRUCT = StructType(
    [
        StructField("first_docid", LongType()),
        StructField("last_docid", LongType()),
        StructField("count", IntegerType()),
        StructField("max_score", DoubleType()),
        StructField("max_tf", IntegerType()),
        StructField("docids_bytes", BinaryType()),
        StructField("tfs_bytes", BinaryType()),
        StructField("doclens_bytes", BinaryType()),
    ]
)

POSTINGS_SCHEMA = StructType(
    [
        StructField("term", StringType()),
        StructField("salt", IntegerType()),
        StructField("df_shard", LongType()),
        StructField("bucket", IntegerType()),
        StructField("blocks", ArrayType(BLOCK_STRUCT)),
    ]
)


def term_bucket(term: str, n_buckets: int = DEFAULT_BUCKETS) -> int:
    """Driver/executor-portable term -> partition bucket."""
    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16) % n_buckets


def term_bucket_col(term_col, n_buckets: int = DEFAULT_BUCKETS):
    """The same bucket as ``term_bucket`` as a JVM Catalyst expression
    (md5 hex -> first 8 digits -> base-16 int -> mod). Lets the build
    compute buckets inside codegen while the DRIVER computes identical
    buckets for query terms in plain Python — no Spark job, no UDF."""
    return F.pmod(
        F.conv(F.substring(F.md5(term_col.cast("binary")), 1, 8), 16, 10)
        .cast("long"),
        F.lit(n_buckets),
    ).cast("int")


# Upper bound on postings per OUTPUT ROW. A (term, salt) group larger
# than this splits into several rows (each a self-contained run of
# docid-sorted blocks; delta encoding re-baselines per row). Readers are
# split-agnostic: scoring treats each row as an independent posting list
# with the term's GLOBAL df, which accumulates identical scores and
# keeps block-max bounds sound; df aggregation sums df_shard over rows.
# Why it matters at 10^12 docs: a stopword's shard (~df/2^salt_bits
# postings) would otherwise be one multi-GB parquet cell — beyond Arrow
# list-offset comfort and unreadable without loading it whole. 2^22
# postings ~= 21 MB of varbyte per row keeps cells bounded REGARDLESS of
# term frequency, instead of relying on operators raising salt_bits.
MAX_POSTINGS_PER_ROW = 1 << 22


def split_oversized_groups(
    new_group: "np.ndarray", cap: int
) -> "np.ndarray":
    """Inject extra group starts so no group exceeds ``cap`` postings.
    Python-loops only over the (rare) oversized groups."""
    import numpy as np

    starts = np.flatnonzero(new_group)
    sizes = np.diff(np.append(starts, len(new_group)))
    big = sizes > cap
    if not big.any():
        return new_group
    out = new_group.copy()
    for s, size in zip(starts[big], sizes[big]):
        out[s + cap : s + size : cap] = True
    return out


def new_group_mask_arrow(tbl) -> "np.ndarray":
    """Group-start mask over an Arrow table sorted by (term, salt):
    True where (term, salt) differs from the previous row. Arrow-side
    string compare — no per-row Python. Shared by the build encoder and
    the merge kernel."""
    import numpy as np
    import pyarrow.compute as pc

    term = tbl.column("term")
    salt = tbl.column("salt").to_numpy()
    n = len(tbl)
    mask = np.ones(n, dtype=bool)
    if n > 1:
        ne = pc.not_equal(
            term.slice(1), term.slice(0, n - 1)
        ).combine_chunks()
        mask[1:] = ne.to_numpy(zero_copy_only=False) | (
            salt[1:] != salt[:-1]
        )
    return mask


def iter_group_complete_tables(batches):
    """Re-batch an Arrow batch stream so every yielded table ends on a
    (term, salt) group boundary: the trailing partial group of each
    batch is carried into the next (the final carry flushes at end).
    The subtle streaming half of both the build encoder and the merge
    kernel — one implementation, two users."""
    import numpy as np
    import pyarrow as pa

    carry = None
    for batch in batches:
        tbl = pa.Table.from_batches([batch])
        if carry is not None:
            tbl = pa.concat_tables([carry, tbl])
        tbl = tbl.combine_chunks()
        carry = None
        if len(tbl) == 0:
            continue
        mask = new_group_mask_arrow(tbl)
        last_start = int(np.flatnonzero(mask)[-1])
        carry = tbl.slice(last_start)
        if last_start > 0:
            yield tbl.slice(0, last_start).combine_chunks()
    if carry is not None and len(carry):
        yield carry.combine_chunks()


def encode_groups_arrow(
    term_per_row,
    salts: "np.ndarray",
    buckets: "np.ndarray",
    new_group: "np.ndarray",
    docids: "np.ndarray",
    tfs: "np.ndarray",
    doclens: "np.ndarray",
    avgdl: float,
    block_size: int = BLOCK_SIZE,
    max_postings_per_row: int = MAX_POSTINGS_PER_ROW,
):
    """One flat vectorized encode of many (term, salt) groups -> a
    POSTINGS_SCHEMA RecordBatch. ``term_per_row`` is a pyarrow
    StringArray aligned with the posting rows (only group-start entries
    are ever materialized into Python); ``new_group`` marks group starts
    over rows sorted by (group, docid). Groups above
    ``max_postings_per_row`` split into multiple rows (see
    MAX_POSTINGS_PER_ROW). Shared by the build encoder (build_postings)
    and the incremental-merge re-encode path (operators/merge.py)."""
    import numpy as np
    import pyarrow as pa

    from .codec import encode_partition_flat

    if max_postings_per_row:
        new_group = split_oversized_groups(
            new_group, max_postings_per_row
        )
    (
        starts, sizes, bpg_counts,
        first_docid, last_docid, block_counts, max_u, max_tf,
        d_bytes, t_bytes, l_bytes,
    ) = encode_partition_flat(
        new_group, docids, tfs, doclens, avgdl=avgdl,
        block_size=block_size,
    )
    g_terms = term_per_row.take(pa.array(starts)).to_pylist()
    g_buckets = buckets[starts].astype(np.int32)
    block_struct = pa.StructArray.from_arrays(
        [
            pa.array(first_docid, pa.int64()),
            pa.array(last_docid, pa.int64()),
            pa.array(block_counts.astype(np.int32), pa.int32()),
            pa.array(max_u, pa.float64()),
            pa.array(max_tf.astype(np.int32), pa.int32()),
            pa.array(d_bytes, pa.binary()),
            pa.array(t_bytes, pa.binary()),
            pa.array(l_bytes, pa.binary()),
        ],
        names=[
            "first_docid", "last_docid", "count", "max_score",
            "max_tf", "docids_bytes", "tfs_bytes", "doclens_bytes",
        ],
    )
    offsets = np.zeros(len(starts) + 1, dtype=np.int32)
    np.cumsum(bpg_counts, out=offsets[1:])
    blocks = pa.ListArray.from_arrays(
        pa.array(offsets, pa.int32()), block_struct
    )
    return pa.RecordBatch.from_arrays(
        [
            pa.array(g_terms, pa.string()),
            pa.array(salts[starts].astype(np.int32), pa.int32()),
            pa.array(sizes, pa.int64()),
            pa.array(g_buckets, pa.int32()),
            blocks,
        ],
        names=["term", "salt", "df_shard", "bucket", "blocks"],
    )


def build_postings(
    tokens: DataFrame,
    avgdl: float,
    salt_bits: int = 3,
    block_size: int = BLOCK_SIZE,
    n_buckets: int = DEFAULT_BUCKETS,
    num_partitions: int | None = None,
    max_postings_per_row: int = MAX_POSTINGS_PER_ROW,
) -> DataFrame:
    """tokens (docid, term, tf, doc_len) -> (term, salt, df_shard, bucket,
    blocks). Exactly ONE shuffle (repartition by bucket+salt) before the
    encode; the table writer (plans/build.py bucket_layout) adds one
    rebalance of the encoded rows. ``df_shard`` counts the postings in ITS ROW; a (term, salt) group
    larger than ``max_postings_per_row`` spans several rows, so shard df
    = sum of the group's rows and global df = sum over all of a term's
    rows (what term_stats and the query paths already compute)."""
    shift = 63 - salt_bits
    if num_partitions is None:
        # explicit N: an unsized repartition gets AQE-coalesced (possibly
        # to 1 partition on small inputs), serializing the encode kernel
        num_partitions = tokens.sparkSession.sparkContext.defaultParallelism
    # Hash partitioning on (term-md5-bucket, docid-range-salt), not
    # repartitionByRange on term: range exchange runs a separate sampling
    # job — one full extra scan of the token relation per build — while
    # bucket is a pure codegen expression. Salting the shuffle key is the
    # skew half of the north_rule: a Zipf-head term is ~10% of ALL token
    # rows and its bucket would otherwise be one straggler task; the salt
    # splits it across 2^salt_bits doc-range shards (encode groups are
    # (term, salt), so a group never straddles partitions: bucket is a
    # function of term). The writer lays the table out as
    # partitionBy("bucket") directories (plans/build.py bucket_layout),
    # so a query term's bucket — computable driver-side, term_bucket() —
    # prunes to one directory, the Spark analogue of the reference's
    # Mongo B-tree on `word` (mongodb_scripts/insertIndex.py:104).
    # The sort makes each (term, salt) group contiguous and docid-ordered
    # for the encoder.
    num_partitions = min(num_partitions, n_buckets << salt_bits)
    salted = (
        tokens.withColumn(
            "salt",
            F.shiftrightunsigned(F.col("docid"), shift).cast("int"),
        )
        .withColumn("bucket", term_bucket_col(F.col("term"), n_buckets))
        .repartition(num_partitions, "bucket", "salt")
        .sortWithinPartitions("bucket", "term", "salt", "docid")
    )

    # Encode via mapInArrow over the sorted partition stream — strings
    # never materialize as per-row Python objects (an Arrow->pandas
    # object-dtype conversion of the term column costs one PyString per
    # token row; measured, it dominates the encode stage wall and thrashes
    # the allocator badly enough to anti-scale past ~8 cores). Group
    # detection runs on Arrow buffers; only ONE term string per
    # (term, salt) group is ever brought into Python (for the output row
    # and its bucket hash). Groups are contiguous after the sort; a group
    # spanning a batch boundary is carried over to the next batch.
    def encode_stream_arrow(batches):
        import pyarrow as pa

        def encode_tbl(tbl: pa.Table) -> pa.RecordBatch:
            # bucket arrives precomputed from the JVM expr (term_bucket_col)
            term_col = tbl.column("term")
            if isinstance(term_col, pa.ChunkedArray):
                term_col = term_col.combine_chunks()
            return encode_groups_arrow(
                term_col,
                tbl.column("salt").to_numpy(),
                tbl.column("bucket").to_numpy(),
                new_group_mask_arrow(tbl),
                tbl.column("docid").to_numpy(),
                tbl.column("tf").to_numpy(),
                tbl.column("doc_len").to_numpy(),
                avgdl=avgdl,
                block_size=block_size,
                max_postings_per_row=max_postings_per_row,
            )

        for tbl in iter_group_complete_tables(batches):
            yield encode_tbl(tbl)

    return salted.mapInArrow(encode_stream_arrow, schema=POSTINGS_SCHEMA)


def decode_postings_df(
    postings: DataFrame, tombstones_by_seg: list | None = None
) -> DataFrame:
    """postings shards -> flat (term, docid, tf, doc_len).

    The decompressed view used by the exhaustive scorers and the
    index-invariant tests; mapInPandas NumPy decode.

    ``tombstones_by_seg`` (segment serving): ``postings`` carries a
    ``seg`` column, and each row drops the sorted docids of its
    segment's array at decode time — the LIVE relation, so a term's row
    count is its live df (§8.Q7).
    """
    from .codec import decode_posting_list, isin_sorted

    bc = (
        postings.sparkSession.sparkContext.broadcast(list(tombstones_by_seg))
        if tombstones_by_seg is not None
        and any(t.size for t in tombstones_by_seg)
        else None
    )

    def decode(batches):
        for pdf in batches:
            frames = []
            segs = pdf["seg"] if bc is not None else [None] * len(pdf)
            for term, blocks, seg in zip(pdf["term"], pdf["blocks"], segs):
                docids, tfs, doclens = decode_posting_list(
                    [
                        b if isinstance(b, dict) else b.asDict()
                        for b in blocks
                    ]
                )
                if seg is not None:
                    tombs = bc.value[int(seg)]
                    if tombs.size and docids.size:
                        keep = ~isin_sorted(tombs, docids)
                        docids, tfs, doclens = (
                            docids[keep], tfs[keep], doclens[keep],
                        )
                frames.append(
                    pd.DataFrame(
                        {
                            "term": term,
                            "docid": docids,
                            "tf": tfs,
                            "doc_len": doclens,
                        }
                    )
                )
            yield (
                pd.concat(frames)
                if frames
                else pd.DataFrame(
                    {
                        "term": pd.Series([], dtype="string"),
                        "docid": pd.Series([], dtype="int64"),
                        "tf": pd.Series([], dtype="int32"),
                        "doc_len": pd.Series([], dtype="int32"),
                    }
                )
            )

    cols = ["term", "blocks"] + (["seg"] if bc is not None else [])
    return postings.select(*cols).mapInPandas(
        decode, schema="term string, docid long, tf int, doc_len int"
    )
