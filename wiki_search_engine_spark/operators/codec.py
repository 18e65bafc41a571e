"""Delta + varbyte posting-block codec (NumPy, vectorized).

The reference stores posting lists as raw BSON arrays of
``{docId, tf, df, doc_len, tfidf}`` (reference: mongodb_scripts/
insertIndex.py:62-91) — ~50 bytes/posting. We store docid-sorted blocks of
up to BLOCK_SIZE postings, each block holding three varbyte streams:

- ``docids``: deltas of sorted non-negative int64 docids (first delta is
  from the block's ``first_docid``), varbyte;
- ``tfs``:    term frequencies, varbyte;
- ``doclens``: per-posting document lengths, varbyte (the reference keeps
  doc_len inside every posting, insertIndex.py:62-68; we keep that contract
  so the scoring kernel never needs a giant docid->doclen map, SURVEY §7).

Per-block metadata ``(first_docid, last_docid, count, max_score)`` supports
block-max WAND pruning (max_score = max BM25 term contribution over the
block, computed with the final corpus stats at index-build time).

Varbyte: little-endian base-128, high bit set on the final byte of each
value (classic; see e.g. "List Intersection for Web Search" VLDB'18 for the
block-layout rationale — PAPERS.md).

Encoding is NumPy-vectorized: all byte lengths computed in one pass, bytes
scattered into a preallocated buffer. Decoding is one batched function,
``decode_posting_list``: it takes any run of one list's blocks, joins
their three byte streams, decodes them with one high-bit scan and one
``np.add.reduceat`` over the shifted 7-bit groups, and rebuilds docids
with one ``cumsum`` — a fixed number of array ops per call, however many
blocks it covers (``decode_block`` is its one-block case). No per-posting
or per-block Python loops beyond reading block metadata.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128


def isin_sorted(haystack: np.ndarray, needles: np.ndarray) -> np.ndarray:
    """Membership of ``needles`` in a SORTED ``haystack`` via
    searchsorted — the shared idiom for tombstone/purge hit tests
    (the np.minimum clamp guards the out-of-range index searchsorted
    returns for needles above the max element)."""
    if haystack.size == 0:
        return np.zeros(needles.shape, dtype=bool)
    pos = np.searchsorted(haystack, needles)
    return (pos < haystack.size) & (
        haystack[np.minimum(pos, haystack.size - 1)] == needles
    )


def varbyte_encode_with_offsets(values: np.ndarray):
    """Encode a non-negative int64 array to varbyte; also return the byte
    offset of each value (length n+1) so callers can slice sub-ranges of
    the stream without re-encoding (used by the partition-vectorized block
    encoder)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.zeros(1, dtype=np.int64)
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while True:
        nz = tmp > 0
        if not nz.any():
            break
        nbits[nz] += 1
        tmp >>= np.uint64(7)
    nbytes = np.maximum(nbits, 1)
    offsets = np.concatenate(([0], np.cumsum(nbytes)))
    buf = np.zeros(int(offsets[-1]), dtype=np.uint8)
    maxb = int(nbytes.max())
    rem = v.copy()
    for byte_i in range(maxb):
        mask = nbytes > byte_i
        pos = offsets[:-1][mask] + byte_i
        chunk = (rem[mask] & np.uint64(0x7F)).astype(np.uint8)
        is_last = nbytes[mask] == byte_i + 1
        chunk[is_last] |= 0x80
        buf[pos] = chunk
        rem[mask] >>= np.uint64(7)
    return buf.tobytes(), offsets


def varbyte_encode(values: np.ndarray) -> bytes:
    """Encode a non-negative int64 array to varbyte bytes."""
    return varbyte_encode_with_offsets(values)[0]


def _varbyte_values(raw: np.ndarray) -> np.ndarray:
    """uint64 values of a varbyte uint8 array: one high-bit scan finds
    each value's final byte, and ``np.add.reduceat`` sums each value's
    shifted 7-bit groups (they occupy disjoint bits, so the sum is the
    value)."""
    ends = np.flatnonzero(raw >= 0x80)
    low = (raw & 0x7F).astype(np.uint64)
    if ends.size == raw.size:  # every value is one byte (or none)
        return low
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    byte_pos = np.arange(raw.size) - np.repeat(starts, ends - starts + 1)
    return np.add.reduceat(
        low << (np.uint64(7) * byte_pos.astype(np.uint64)), starts
    )


def varbyte_decode(data: bytes) -> np.ndarray:
    """Decode varbyte bytes back to a uint64 array."""
    return _varbyte_values(np.frombuffer(data, dtype=np.uint8))


def encode_postings(
    docids: np.ndarray, tfs: np.ndarray, doclens: np.ndarray,
    avgdl: float, k1: float = 1.5, b: float = 0.75,
    block_size: int = BLOCK_SIZE,
):
    """Split docid-sorted postings into encoded blocks (reference
    single-list form of ``encode_partition_flat``; kept for the codec
    round-trip tests and as the readable spec of the block format).

    Returns a list of dicts ``{first_docid, last_docid, count, max_score,
    docids_bytes, tfs_bytes, doclens_bytes}``. ``max_score`` is the
    idf-FREE BM25 factor u = tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)) — the
    SAME contract as the production encoder and the WAND kernel, which
    multiplies by idf at query time (an idf-baked value here would get
    idf applied twice and, for common terms with idf < 1, UNDERSTATE the
    bound — unsound pruning)."""
    docids = np.asarray(docids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    doclens = np.asarray(doclens, dtype=np.int64)
    order = np.argsort(docids, kind="stable")
    docids, tfs, doclens = docids[order], tfs[order], doclens[order]
    blocks = []
    for start in range(0, docids.size, block_size):
        d = docids[start : start + block_size]
        t = tfs[start : start + block_size]
        dl = doclens[start : start + block_size]
        deltas = np.empty(d.size, dtype=np.uint64)
        deltas[0] = 0  # first docid stored in metadata
        deltas[1:] = np.diff(d).astype(np.uint64)
        tfd = t.astype(np.float64)
        scores = (
            tfd * (k1 + 1.0)
            / (tfd + k1 * (1.0 - b + b * dl.astype(np.float64) / avgdl))
        )
        blocks.append(
            {
                "first_docid": int(d[0]),
                "last_docid": int(d[-1]),
                "count": int(d.size),
                "max_score": float(scores.max()),
                "max_tf": int(t.max()),
                "docids_bytes": varbyte_encode(deltas),
                "tfs_bytes": varbyte_encode(t.astype(np.uint64)),
                "doclens_bytes": varbyte_encode(dl.astype(np.uint64)),
            }
        )
    return blocks


def encode_partition_flat(
    new_group: np.ndarray,
    docids: np.ndarray,
    tfs: np.ndarray,
    doclens: np.ndarray,
    avgdl: float,
    k1: float = 1.5,
    b: float = 0.75,
    block_size: int = BLOCK_SIZE,
):
    """Numeric core of the partition encoder: single-pass NumPy over a
    (term, salt, docid)-sorted partition, group boundaries given as the
    ``new_group`` bool mask. Returns columnar block data:

        (group_starts, group_sizes, blocks_per_group_counts,
         first_docid, last_docid, block_counts, max_u, max_tf,
         docids_bytes, tfs_bytes, doclens_bytes)

    where the last three are lists (len = #blocks) of bytes. No per-group
    slicing, no per-group varbyte calls (a per-group encoder pays ~100us x
    |groups| of numpy overhead, which dominates the build on Zipf
    vocabularies with 100k+ tiny groups per partition)."""
    n = len(docids)
    docids = np.asarray(docids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    doclens = np.asarray(doclens, dtype=np.int64)

    group_starts = np.flatnonzero(new_group)
    group_bounds = np.concatenate([group_starts, [n]])
    group_sizes = np.diff(group_bounds)
    gid = np.cumsum(new_group) - 1

    within = np.arange(n) - group_starts[gid]
    block_start_mask = (within % block_size) == 0
    block_starts = np.flatnonzero(block_start_mask)
    block_bounds = np.concatenate([block_starts, [n]])
    block_counts = np.diff(block_bounds)
    block_last = block_bounds[1:] - 1

    deltas = np.empty(n, dtype=np.int64)
    deltas[0] = 0
    deltas[1:] = docids[1:] - docids[:-1]
    deltas[block_starts] = 0  # block-first docid lives in metadata
    enc_d, off_d = varbyte_encode_with_offsets(deltas.astype(np.uint64))
    enc_t, off_t = varbyte_encode_with_offsets(tfs.astype(np.uint64))
    enc_l, off_l = varbyte_encode_with_offsets(doclens.astype(np.uint64))

    tfd = tfs.astype(np.float64)
    u = (
        tfd * (k1 + 1.0)
        / (tfd + k1 * (1.0 - b + b * doclens.astype(np.float64) / avgdl))
    )
    max_u = np.maximum.reduceat(u, block_starts)
    max_tf = np.maximum.reduceat(tfs, block_starts)
    first_docid = docids[block_starts]
    last_docid = docids[block_last]
    block_gid = gid[block_starts]
    blocks_per_group_counts = np.bincount(
        block_gid, minlength=group_starts.size
    )

    docids_bytes = [
        enc_d[off_d[s] : off_d[e]]
        for s, e in zip(block_bounds[:-1], block_bounds[1:])
    ]
    tfs_bytes = [
        enc_t[off_t[s] : off_t[e]]
        for s, e in zip(block_bounds[:-1], block_bounds[1:])
    ]
    doclens_bytes = [
        enc_l[off_l[s] : off_l[e]]
        for s, e in zip(block_bounds[:-1], block_bounds[1:])
    ]
    return (
        group_starts, group_sizes, blocks_per_group_counts,
        first_docid, last_docid, block_counts, max_u, max_tf,
        docids_bytes, tfs_bytes, doclens_bytes,
    )


def decode_posting_list(blocks) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode many blocks of one list in one pass -> (docids, tfs,
    doclens), all int64, in block order.

    The blocks' three byte streams are joined (every block's docid
    deltas, then every block's tfs, then every block's doclens) and
    decoded by one varbyte pass; docids come from one ``cumsum`` over
    the deltas, where the first delta of each block (stored as 0)
    becomes that block's ``first_docid`` minus the previous block's
    ``last_docid``. Any subset of a list's blocks decodes this way —
    the kernel passes only the blocks it keeps."""
    nb = len(blocks)
    if not nb:
        z = np.zeros(0, dtype=np.int64)
        return z, z.copy(), z.copy()
    values = _varbyte_values(np.frombuffer(b"".join([
        b[key] for key in ("docids_bytes", "tfs_bytes", "doclens_bytes")
        for b in blocks
    ]), dtype=np.uint8)).astype(np.int64)
    n = values.size // 3
    deltas = values[:n]
    first = np.fromiter((b["first_docid"] for b in blocks), np.int64, nb)
    deltas[0] = first[0]
    if nb > 1:
        head = blocks[:-1]
        counts = np.fromiter((b["count"] for b in head), np.int64, nb - 1)
        last = np.fromiter((b["last_docid"] for b in head), np.int64, nb - 1)
        deltas[np.cumsum(counts)] = first[1:] - last
    return np.cumsum(deltas), values[n:2 * n], values[2 * n:]


def decode_block(block) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode one block -> (docids:int64, tfs:int64, doclens:int64): the
    one-block case of ``decode_posting_list``."""
    return decode_posting_list([block])
