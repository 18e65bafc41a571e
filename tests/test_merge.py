"""Incremental index merge == from-scratch rebuild.

merge(build(A), build(B)) must equal build((A \\ updated-urls) U B) —
delta wins per url (plans/merge.py, operators/merge.py): identical
corpus stats, identical decoded postings, identical lexicon, and
rank-identical top-k on the query set; WAND stays exact on the merged
index (its pass-through blocks carry scaled — sound — max_score bounds).
"""

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import SEED, assert_one_file_per_bucket

BASE_IDX = list(range(60))
UPDATED = list(range(10, 20))  # re-crawled: same urls, new content
NEW = list(range(60, 80))  # fresh urls
DELTA_SEED = 7  # different vocabulary -> updated docs change heavily

BUILD_KW = dict(stem=True, n_buckets=8, bucket_groups=1, salt_bits=2)


def _rows(idxs, seed):
    from wiki_search_engine_spark.sources.synth import doc_row

    # doc_row's url depends only on the index, not the seed, so the same
    # index at another seed IS a re-crawl of the same url
    return [doc_row(i, seed) for i in idxs]


@pytest.fixture(scope="module")
def merged_and_full(spark, tmp_path_factory):
    from wiki_search_engine_spark.engine import SearchEngine

    tmp = tmp_path_factory.mktemp("merge")
    base_rows = _rows(BASE_IDX, SEED)
    delta_rows = _rows(UPDATED, DELTA_SEED) + _rows(NEW, SEED)
    expected_rows = [
        r for i, r in zip(BASE_IDX, base_rows) if i not in set(UPDATED)
    ] + delta_rows

    def build(rows, name):
        return SearchEngine.build(
            spark,
            spark.createDataFrame(pd.DataFrame(rows)),
            str(tmp / name),
            **BUILD_KW,
        )

    build(base_rows, "base")
    build(delta_rows, "delta")
    full = build(expected_rows, "full")
    merged = SearchEngine.merge(
        spark, str(tmp / "base"), str(tmp / "delta"), str(tmp / "merged")
    )
    return merged, full


def test_merged_stats_equal_rebuild(merged_and_full):
    merged, full = merged_and_full
    assert merged.n == full.n
    assert math.isclose(merged.avgdl, full.avgdl, rel_tol=1e-12)
    assert merged.total_length == full.total_length


def _decoded(spark, index_dir):
    from wiki_search_engine_spark.operators.postings import (
        decode_postings_df,
    )

    return (
        decode_postings_df(spark.read.parquet(f"{index_dir}/postings"))
        .orderBy("term", "docid")
        .toPandas()
    )


def test_merged_postings_equal_rebuild(spark, merged_and_full):
    merged, full = merged_and_full
    a = _decoded(spark, merged.index_dir)
    b = _decoded(spark, full.index_dir)
    pd.testing.assert_frame_equal(
        a.reset_index(drop=True), b.reset_index(drop=True)
    )


def test_merged_lexicon_equals_rebuild(spark, merged_and_full):
    merged, full = merged_and_full
    get = lambda eng: {
        r["term"]: r["df"]
        for r in spark.read.parquet(f"{eng.index_dir}/term_stats").collect()
    }
    assert get(merged) == get(full)


@pytest.mark.parametrize("mode", ["bm25", "tfidf"])
def test_merged_rank_identity(merged_and_full, mode):
    from wiki_search_engine_spark.sources.synth import vocabulary

    merged, full = merged_and_full
    w42, _ = vocabulary(SEED)
    w7, _ = vocabulary(DELTA_SEED)
    queries = [
        w42[0],  # heavy base term
        f"{w42[3]} {w42[50]}",
        w7[0],  # heavy DELTA-vocab term (hits updated docs)
        f"{w42[5]} {w7[2]}",  # spans both vocabularies
        "rare15x0",  # rare term of an UPDATED doc (purge check)
        "rare65x0",  # rare term of a new doc
    ]
    for q in queries:
        exp = [
            (r["docid"], r["score"])
            for r in full.search_ids(
                q, k=10, mode=mode, path="exhaustive"
            ).collect()
        ]
        for path in ("wand", "local"):
            got = [
                (r["docid"], r["score"])
                for r in merged.search_ids(
                    q, k=10, mode=mode, path=path
                ).collect()
            ]
            assert [d for d, _ in got] == [d for d, _ in exp], (q, path)
            for (_, gs), (_, es) in zip(got, exp):
                assert math.isclose(gs, es, rel_tol=1e-9), (q, path)


def test_merged_wand_equals_exhaustive(merged_and_full):
    # bound-soundness probe: pass-through blocks carry max_score scaled
    # from their source index's avgdl — pruning must still be exact
    from wiki_search_engine_spark.sources.synth import vocabulary

    merged, _ = merged_and_full
    w42, _ = vocabulary(SEED)
    for q in [w42[0], f"{w42[1]} {w42[20]} {w42[300]}"]:
        a = merged.search_ids(q, k=50, mode="bm25", path="wand").collect()
        b = merged.search_ids(
            q, k=50, mode="bm25", path="exhaustive"
        ).collect()
        assert [r["docid"] for r in a] == [r["docid"] for r in b]


def test_merged_docs_table_updated(spark, merged_and_full):
    # hydration side table: updated urls carry the DELTA snippet
    merged, full = merged_and_full
    a = (
        spark.read.parquet(f"{merged.index_dir}/docs")
        .select("docid", "url", "snippet")
        .orderBy("docid")
        .toPandas()
    )
    b = (
        spark.read.parquet(f"{full.index_dir}/docs")
        .select("docid", "url", "snippet")
        .orderBy("docid")
        .toPandas()
    )
    pd.testing.assert_frame_equal(
        a.reset_index(drop=True), b.reset_index(drop=True)
    )


def test_merged_salt_files_are_docid_sorted(merged_and_full):
    """A merge writes every salt=* file of docs and doc_stats in
    strictly ascending docid order, as a build does, and one postings
    file per bucket directory."""
    import glob

    import numpy as np
    import pyarrow.parquet as pq

    merged, _full = merged_and_full
    assert_one_file_per_bucket(merged.index_dir)
    for table in ("docs", "doc_stats"):
        files = glob.glob(f"{merged.index_dir}/{table}/salt=*/*.parquet")
        assert files, table
        for f in files:
            d = pq.read_table(f, columns=["docid"]).column("docid")
            assert (np.diff(d.to_numpy()) > 0).all(), f

def test_merge_rejects_mismatched_config(spark, tmp_path):
    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.plans.merge import merge_indexes

    rows = _rows(range(8), SEED)
    df = spark.createDataFrame(pd.DataFrame(rows))
    SearchEngine.build(spark, df, str(tmp_path / "a"), **BUILD_KW)
    kw = dict(BUILD_KW, n_buckets=16)
    SearchEngine.build(spark, df, str(tmp_path / "b"), **kw)
    with pytest.raises(ValueError, match="n_buckets"):
        merge_indexes(
            spark, str(tmp_path / "a"), str(tmp_path / "b"),
            str(tmp_path / "out"),
        )


def test_delete_equals_rebuild(spark, tmp_path):
    """delete(build(A), urls) == build(A minus those urls): postings,
    stats, lexicon, and ranks."""
    import math as _math

    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.sources.synth import vocabulary

    rows = _rows(range(50), SEED)
    gone = {rows[i]["url"] for i in (3, 10, 29, 44)}
    SearchEngine.build(
        spark, spark.createDataFrame(pd.DataFrame(rows)),
        str(tmp_path / "base"), **BUILD_KW,
    )
    expected = SearchEngine.build(
        spark,
        spark.createDataFrame(
            pd.DataFrame([r for r in rows if r["url"] not in gone])
        ),
        str(tmp_path / "exp"), **BUILD_KW,
    )
    got = SearchEngine.delete(
        spark, str(tmp_path / "base"), str(tmp_path / "del"),
        urls=sorted(gone),
    )
    assert_one_file_per_bucket(got.index_dir)
    assert got.n == expected.n
    assert _math.isclose(got.avgdl, expected.avgdl, rel_tol=1e-12)
    pd.testing.assert_frame_equal(
        _decoded(spark, got.index_dir).reset_index(drop=True),
        _decoded(spark, expected.index_dir).reset_index(drop=True),
    )
    w42, _ = vocabulary(SEED)
    for q in [w42[0], f"{w42[3]} {w42[50]}", "rare3x0"]:
        a = got.search_ids(q, k=10, mode="bm25", path="wand").collect()
        b = expected.search_ids(
            q, k=10, mode="bm25", path="exhaustive"
        ).collect()
        assert [r["docid"] for r in a] == [r["docid"] for r in b], q
        for x, y in zip(a, b):
            assert _math.isclose(x["score"], y["score"], rel_tol=1e-9)


def test_merge_resume_skips_completed(spark, merged_and_full, tmp_path):
    """Re-running a finished merge with resume=True re-runs nothing
    (every unit already 'done') and leaves the index identical."""
    import json as _json
    import time as _time

    from wiki_search_engine_spark.plans.merge import merge_indexes

    merged, _ = merged_and_full
    base = merged.index_dir.replace("/merged", "/base")
    delta = merged.index_dir.replace("/merged", "/delta")
    before = _json.load(open(f"{merged.index_dir}/manifest.json"))
    t0 = _time.time()
    m = merge_indexes(spark, base, delta, merged.index_dir, resume=True)
    wall = _time.time() - t0
    after = m.metrics()
    # no stage re-ran: finished_at timestamps unchanged for data stages
    for unit in ("doc_stats", "stats", "docs", "postings", "term_stats"):
        assert after[unit]["finished_at"] == before[unit]["finished_at"]
    assert wall < 5, f"resume re-ran work ({wall:.1f}s)"
    a = _decoded(spark, merged.index_dir)
    assert len(a) > 0


def test_merge_bucket_groups_equal_single(spark, merged_and_full):
    """Group-resumable merge (bucket_groups=2) produces the identical
    index, with per-group manifest units."""
    import json as _json

    from wiki_search_engine_spark.engine import SearchEngine

    merged, _ = merged_and_full
    base = merged.index_dir.replace("/merged", "/base")
    delta = merged.index_dir.replace("/merged", "/delta")
    out = merged.index_dir.replace("/merged", "/merged_g2")
    SearchEngine.merge(spark, base, delta, out, bucket_groups=2)
    m = _json.load(open(f"{out}/manifest.json"))
    assert "postings_g0" in m and "postings_g1" in m
    pd.testing.assert_frame_equal(
        _decoded(spark, out).reset_index(drop=True),
        _decoded(spark, merged.index_dir).reset_index(drop=True),
    )


def test_big_delta_partitioned_path_equals_broadcast(
    spark, merged_and_full, tmp_path
):
    """docid_broadcast_limit=0 forces the per-salt sidecar delivery
    (operators/merge.py write_updated_docids): every kernel task loads
    only its shard slices instead of a whole-set broadcast. The merged
    index must be decode-identical to the broadcast path's."""
    from wiki_search_engine_spark.operators.postings import (
        decode_postings_df,
    )
    from wiki_search_engine_spark.plans.merge import merge_indexes

    merged, _full = merged_and_full
    base_dir = merged.index_dir.replace("merged", "base")
    delta_dir = merged.index_dir.replace("merged", "delta")
    out = str(tmp_path / "merged_bigpath")
    merge_indexes(
        spark, base_dir, delta_dir, out, docid_broadcast_limit=0
    )
    import os

    assert os.path.isdir(f"{out}/_updated_docids/salt=0")

    def decoded(d):
        return {
            (r["term"], r["docid"], r["tf"], r["doc_len"])
            for r in decode_postings_df(
                spark.read.parquet(f"{d}/postings")
            ).collect()
        }

    assert decoded(out) == decoded(merged.index_dir)
    from wiki_search_engine_spark.engine import SearchEngine

    eng = SearchEngine.load(spark, out)
    assert (eng.n, round(eng.avgdl, 9)) == (
        merged.n, round(merged.avgdl, 9),
    )


def test_tiered_serving_equals_merged(spark, merged_and_full,
                                      fixture_queries):
    """TieredEngine([base, delta]) must serve rank- AND score-identical
    results to the compacted (merged) index — including re-crawled docs
    (tombstoned stale postings, exact live df/N/avgdl) — plus identical
    stats and override-aware hydration."""
    import math

    from wiki_search_engine_spark.tiered import TieredEngine

    merged, _full = merged_and_full
    base_dir = merged.index_dir.replace("merged", "base")
    delta_dir = merged.index_dir.replace("merged", "delta")
    tiered = TieredEngine(spark, [base_dir, delta_dir])

    assert tiered.n == merged.n
    assert math.isclose(tiered.avgdl, merged.avgdl, rel_tol=1e-12)
    assert tiered.total_length == merged.total_length

    import pytest as _p

    queries = list(fixture_queries) + ["mergedelta"]
    checked = 0
    for q in queries:
        for mode in ("bm25", "tfidf"):
            try:
                exp = merged.search_local(q, k=10, mode=mode)
            except Exception:
                continue
            got = tiered.search_local(q, k=10, mode=mode)
            assert [d for d, _ in got] == [d for d, _ in exp], (q, mode)
            for (_, a), (_, b) in zip(got, exp):
                assert math.isclose(a, b, rel_tol=1e-9), (q, mode)
            checked += 1
    assert checked >= 8

    # hydration: later segment wins for re-crawled docids
    ids = [d for d, _ in merged.search_local(fixture_queries[0], k=5)]
    if ids:
        got = {r["docid"]: r["url"] for r in tiered.lookup_docs(ids)}
        exp = {r["docid"]: r["url"] for r in merged.lookup_docs(ids)}
        assert got == exp

    # incompatible segment configs are rejected
    import pandas as pd

    from wiki_search_engine_spark.engine import SearchEngine

    SearchEngine.build(
        spark,
        spark.createDataFrame(
            pd.DataFrame(
                [{"url": "https://x/1", "text": "tiny corpus body"}]
            )
        ),
        merged.index_dir + "_badcfg",
        stem=True, n_buckets=4, bucket_groups=1, salt_bits=1,
    )
    with _p.raises(ValueError, match="config"):
        TieredEngine(spark, [base_dir, merged.index_dir + "_badcfg"])


def test_tiered_distributed_equals_merged(spark, merged_and_full,
                                          fixture_queries):
    """The DISTRIBUTED tiered path (two-phase live-df + tombstone-aware
    WAND kernel over the union of segment postings) is rank- and
    score-identical to the compacted index's distributed path."""
    import math

    from wiki_search_engine_spark.tiered import TieredEngine

    merged, _full = merged_and_full
    base_dir = merged.index_dir.replace("merged", "base")
    delta_dir = merged.index_dir.replace("merged", "delta")
    tiered = TieredEngine(spark, [base_dir, delta_dir])

    checked = 0
    for q in list(fixture_queries)[:4] + ["mergedelta"]:
        try:
            exp = [
                (r["docid"], r["score"])
                for r in merged.search_ids(
                    q, k=10, mode="bm25", path="wand"
                ).collect()
            ]
        except Exception:
            continue
        got = [
            (r["docid"], r["score"])
            for r in tiered.search_ids(q, k=10, mode="bm25").collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in exp], q
        for (_, a), (_, b) in zip(got, exp):
            assert math.isclose(a, b, rel_tol=1e-9), q
        checked += 1
    assert checked >= 4


def test_tiered_and_semantics(spark, merged_and_full, fixture_queries):
    """Tiered conjunctive retrieval equals the compacted index's AND
    path over live postings (incl. re-crawled docs)."""
    import math

    from wiki_search_engine_spark.tiered import TieredEngine

    merged, _full = merged_and_full
    tiered = TieredEngine(
        spark,
        [
            merged.index_dir.replace("merged", "base"),
            merged.index_dir.replace("merged", "delta"),
        ],
    )
    checked = 0
    for q in [f"{fixture_queries[0]} {fixture_queries[1]}",
              fixture_queries[0], "mergedelta"]:
        exp = merged.search_local(q, k=20, semantics="and")
        got = tiered.search_local(q, k=20, semantics="and")
        assert [d for d, _ in got] == [d for d, _ in exp], q
        for (_, a), (_, b) in zip(got, exp):
            assert math.isclose(a, b, rel_tol=1e-9), q
        # DISTRIBUTED conjunctive path: tombstone-aware decode + the
        # Catalyst AND scorer — identical to both of the above
        dist = [
            (r["docid"], r["score"])
            for r in tiered.search_ids(
                q, k=20, semantics="and"
            ).collect()
        ]
        assert [d for d, _ in dist] == [d for d, _ in exp], q
        for (_, a), (_, b) in zip(dist, exp):
            assert math.isclose(a, b, rel_tol=1e-9), q
        checked += 1
    assert checked == 3


def test_tiered_search_many_equals_merged(spark, merged_and_full,
                                          fixture_queries):
    """Tiered batch scoring (one job over segments) equals the compacted
    index's batch path per query."""
    from wiki_search_engine_spark.tiered import TieredEngine

    merged, _full = merged_and_full
    tiered = TieredEngine(
        spark,
        [
            merged.index_dir.replace("merged", "base"),
            merged.index_dir.replace("merged", "delta"),
        ],
    )
    qs = list(fixture_queries)[:4] + ["mergedelta"]

    def rows(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], []).append(
                (r["docid"], round(r["score"], 9))
            )
        return out

    got = rows(tiered.search_many(qs, k=10, mode="bm25"))
    exp = rows(merged.search_many(qs, k=10, mode="bm25"))
    assert got == exp and got


def test_tiered_append_only_single_job_df(spark, tmp_path,
                                          fixture_queries):
    """Append-only segments (disjoint urls -> no tombstones): the live
    df comes from lexicon sums with NO Spark job, and tiered results
    equal a from-scratch rebuild over the union."""
    import math

    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.tiered import TieredEngine

    a_rows = _rows(range(40), SEED)
    b_rows = _rows(range(40, 60), SEED)  # fresh urls only

    def build(rows, name):
        SearchEngine.build(
            spark, spark.createDataFrame(pd.DataFrame(rows)),
            str(tmp_path / name), **BUILD_KW,
        )
        return str(tmp_path / name)

    seg_a, seg_b = build(a_rows, "a"), build(b_rows, "b")
    full = SearchEngine.load(
        spark, build(a_rows + b_rows, "full")
    )
    tiered = TieredEngine(spark, [seg_a, seg_b])
    assert tiered.overridden == 0  # append-only detected
    assert (tiered.n, tiered.total_length) == (full.n, full.total_length)
    # df fast path: no distributed job used
    terms = tiered.analyze(fixture_queries[0])
    assert tiered._live_df_map(terms) == {
        t: d for t, d in full.term_df(terms).items() if d > 0
    } or tiered._live_df_map(terms) == full.term_df(terms)
    for q in list(fixture_queries)[:3]:
        exp = [
            (r["docid"], r["score"])
            for r in full.search_ids(q, k=10, path="wand").collect()
        ]
        got = [
            (r["docid"], r["score"])
            for r in tiered.search_ids(q, k=10).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in exp], q
        for (_, x), (_, y) in zip(got, exp):
            assert math.isclose(x, y, rel_tol=1e-9), q


def test_tiered_wand_bounds_sound_across_avgdl(spark, tmp_path):
    """Block-max bounds stored at a segment's own avgdl UNDERSTATE real
    scores once the live avgdl is larger (long-doc delta). The tiered
    kernel must scale each segment's bounds by max(1, live/segment)
    (merge.py pass-through lemma) or pruning silently drops true top-k
    docs. This fixture is engineered to close the kernel early: the
    un-scaled formulation provably returns the wrong winner (asserted),
    the shipped path must match the compacted index."""
    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.operators.wand import search_topk
    from wiki_search_engine_spark.tiered import TieredEngine

    kw = dict(stem=False, n_buckets=4, bucket_groups=1, salt_bits=0)
    base_rows = [{"url": "https://x/gold", "text": "goldz"}] + [
        {"url": f"https://x/b{i}", "text": f"common b{i}"}
        for i in range(199)
    ]
    delta_rows = [
        {
            "url": "https://x/rare",
            "text": " ".join(["rarez"] * 7 + [f"d{j}" for j in range(393)]),
        }
    ] + [
        {
            "url": f"https://x/d{i}",
            "text": " ".join(f"w{i}x{j}" for j in range(400)),
        }
        for i in range(49)
    ]

    def build(rows, name):
        SearchEngine.build(
            spark, spark.createDataFrame(pd.DataFrame(rows)),
            str(tmp_path / name), **kw,
        )
        return str(tmp_path / name)

    base_dir, delta_dir = build(base_rows, "b"), build(delta_rows, "d")
    merged = SearchEngine.merge(
        spark, base_dir, delta_dir, str(tmp_path / "m")
    )
    tiered = TieredEngine(spark, [base_dir, delta_dir])

    q = "goldz rarez"
    exp = [
        (r["docid"], r["score"])
        for r in merged.search_ids(q, k=1, path="wand").collect()
    ]
    got = [
        (r["docid"], r["score"])
        for r in tiered.search_ids(q, k=1).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in exp]
    assert abs(got[0][1] - exp[0][1]) < 1e-9

    # prove the fixture bites: the UN-scaled bounds return a different
    # (wrong) winner on the same inputs
    unscaled = [
        r["docid"]
        for r in search_topk(
            tiered._candidate_postings(tiered.analyze(q)),
            tiered.analyze(q),
            tiered.n,
            tiered.avgdl,
            k=1,
            df_map=tiered._live_df_map(tiered.analyze(q)),
            n_shards=1,
            tombstones_by_seg=tiered.tombstones,
            ub_scale_by_seg=None,
        ).collect()
    ]
    assert unscaled != [d for d, _ in exp], (
        "fixture no longer exercises the early-close path"
    )


def test_updated_docids_sidecar_top_shard_boundary(tmp_path):
    """The last salt shard's slice must include docids adjacent to
    2**63 - 1: a naive searchsorted needle of 2**63 overflows int64 and
    numpy degrades to float64, where 2**63 - 1 rounds UP past the
    needle and the top docids silently vanish from the sidecar."""
    import numpy as np
    import pyarrow.parquet as pq

    from wiki_search_engine_spark.operators.merge import (
        write_updated_docids,
    )

    updated = np.array(
        [5, 1 << 61, (1 << 62) + 3, (1 << 63) - 2, (1 << 63) - 1],
        dtype=np.int64,
    )
    out = write_updated_docids(updated, str(tmp_path / "dd"), 1)
    lo = pq.read_table(f"{out}/salt=0").column("docid").to_pylist()
    hi = pq.read_table(f"{out}/salt=1").column("docid").to_pylist()
    assert lo == [5, 1 << 61]
    assert hi == [(1 << 62) + 3, (1 << 63) - 2, (1 << 63) - 1]
    assert sorted(lo + hi) == updated.tolist()


def test_tiered_query_response_wand_routes_distributed(
    spark, merged_and_full, fixture_queries
):
    """query_response(path='wand') and path='exhaustive' must actually
    serve through the DISTRIBUTED tiered path (TieredEngine.search_ids),
    identical results to the local path, AND included."""
    import pytest as _p

    from wiki_search_engine_spark.tiered import TieredEngine

    merged, _full = merged_and_full
    base_dir = merged.index_dir.replace("merged", "base")
    delta_dir = merged.index_dir.replace("merged", "delta")
    tiered = TieredEngine(spark, [base_dir, delta_dir])
    q = fixture_queries[1]
    local = tiered.query_response(q, option_name="bm25", k=5, path="local")
    wand = tiered.query_response(q, option_name="bm25", k=5, path="wand")
    assert [r["file_id"] for r in wand["textResult"]] == [
        r["file_id"] for r in local["textResult"]
    ]
    assert [r["score"] for r in wand["textResult"]] == [
        r["score"] for r in local["textResult"]
    ]
    exh = tiered.query_response(
        q, option_name="bm25", k=5, path="exhaustive"
    )
    assert [r["file_id"] for r in exh["textResult"]] == [
        r["file_id"] for r in local["textResult"]
    ]
    for a, b in zip(exh["textResult"], local["textResult"]):
        assert a["score"] == _p.approx(b["score"], rel=1e-9)
    # conjunctive retrieval serves on BOTH paths, identically
    and_local = tiered.query_response(
        q, option_name="bm25", k=5, path="local", semantics="and"
    )
    and_wand = tiered.query_response(
        q, option_name="bm25", k=5, path="wand", semantics="and"
    )
    assert [r["file_id"] for r in and_wand["textResult"]] == [
        r["file_id"] for r in and_local["textResult"]
    ]
    assert [r["score"] for r in and_wand["textResult"]] == [
        r["score"] for r in and_local["textResult"]
    ]


def test_merge_delete_accept_presalt_side_tables(spark, tmp_path):
    """A pre-salt-layout index (docs/doc_stats written without the salt
    partition column — format-version 2 era) loads and serves, so
    merge/delete must not crash on the missing column (ADVICE r2): the
    salt is synthesized from the docid bits and the OUTPUT is written in
    the upgraded salted layout."""
    import os
    import shutil

    from wiki_search_engine_spark.engine import SearchEngine

    rows = _rows(range(20), SEED)
    base = str(tmp_path / "legacy")
    SearchEngine.build(
        spark, spark.createDataFrame(pd.DataFrame(rows)), base, **BUILD_KW
    )
    for sub in ("docs", "doc_stats"):
        flat = f"{base}/{sub}_flat"
        spark.read.parquet(f"{base}/{sub}").drop("salt").write.mode(
            "overwrite"
        ).parquet(flat)
        shutil.rmtree(f"{base}/{sub}")
        os.rename(flat, f"{base}/{sub}")
    assert not any(
        e.startswith("salt=") for e in os.listdir(f"{base}/docs")
    )

    # delete path (_minus)
    victim = rows[3]["url"]
    out_del = str(tmp_path / "legacy_del")
    eng = SearchEngine.delete(spark, base, out_del, urls=[victim])
    assert eng.n == 19
    assert any(
        e.startswith("salt=") for e in os.listdir(f"{out_del}/docs")
    )
    hits = eng.search_local(
        next(w for w in rows[0]["text"].split() if w.isalpha()), k=5
    )
    assert hits and all(
        r["url"] != victim for r in eng.lookup_docs([d for d, _ in hits])
    )

    # merge path (_anti_union): fold a fresh salted delta into the
    # legacy base
    delta_rows = _rows(range(20, 25), SEED)
    delta = str(tmp_path / "legacy_delta")
    SearchEngine.build(
        spark, spark.createDataFrame(pd.DataFrame(delta_rows)), delta,
        **BUILD_KW,
    )
    out_m = str(tmp_path / "legacy_merged")
    merged = SearchEngine.merge(spark, base, delta, out_m)
    assert merged.n == 25
    assert any(
        e.startswith("salt=") for e in os.listdir(f"{out_m}/docs")
    )
    assert merged.search_local(
        next(w for w in delta_rows[0]["text"].split() if w.isalpha()), k=5
    )


def test_tiered_deletes_segment_equals_delete_rebuild(
    spark, merged_and_full, fixture_queries
):
    """Tombstone-only takedown (tiered.write_deletes_segment): a
    deletes segment appended to [base, delta] must serve IDENTICALLY —
    stats, ranks AND scores (live N/avgdl/df drop) — to delete_docs'
    full rewrite over the compacted index, on both the driver-local and
    distributed paths; hydration and the HTTP path never resurface a
    deleted doc; compact() folds the deletes segment in via
    delete_docs."""
    import math

    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.sources.synth import doc_row
    from wiki_search_engine_spark.tiered import (
        TieredEngine, compact, write_deletes_segment,
    )

    merged, _full = merged_and_full
    base_dir = merged.index_dir.replace("merged", "base")
    delta_dir = merged.index_dir.replace("merged", "delta")

    # victims: base-only doc, delta-only doc, a re-crawled doc present
    # in BOTH, plus a nonexistent docid (must be a no-op)
    urls = [doc_row(i, SEED)["url"] for i in (5, 65, 12)]
    docids = [
        r["docid"]
        for r in spark.createDataFrame([(u,) for u in urls], "url string")
        .withColumn("docid", F.shiftrightunsigned(F.xxhash64("url"), 1))
        .collect()
    ] + [12345]

    del_seg = write_deletes_segment(
        merged.index_dir + "_delseg", docids=docids
    )
    tiered = TieredEngine(spark, [base_dir, delta_dir, del_seg])
    expected = SearchEngine.delete(
        spark, merged.index_dir, merged.index_dir + "_deleted",
        docids=docids,
    )

    assert tiered.n == expected.n == merged.n - 3
    assert math.isclose(tiered.avgdl, expected.avgdl, rel_tol=1e-12)
    assert tiered.total_length == expected.total_length

    checked = 0
    for q in list(fixture_queries) + ["mergedelta"]:
        for mode in ("bm25", "tfidf"):
            try:
                exp = expected.search_local(q, k=10, mode=mode)
            except Exception:
                continue
            got = tiered.search_local(q, k=10, mode=mode)
            assert [d for d, _ in got] == [d for d, _ in exp], (q, mode)
            for (_, a), (_, b) in zip(got, exp):
                assert math.isclose(a, b, rel_tol=1e-9), (q, mode)
            checked += 1
    assert checked >= 8

    # distributed path parity
    for q in list(fixture_queries)[:3]:
        got = [
            (r["docid"], r["score"])
            for r in tiered.search_ids(q, k=10, mode="bm25").collect()
        ]
        exp = [
            (r["docid"], r["score"])
            for r in expected.search_ids(
                q, k=10, mode="bm25", path="wand"
            ).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in exp], q
        for (_, a), (_, b) in zip(got, exp):
            assert math.isclose(a, b, rel_tol=1e-9), q

    # deleted docs never hydrate (lookup / HTTP path)
    assert tiered.lookup_docs(docids) == []
    resp = tiered.query_response(fixture_queries[0], "bm25", k=50)
    assert resp["textResult"]
    banned = {str(d) for d in docids}
    assert not banned & {r["file_id"] for r in resp["textResult"]}

    # compaction folds the deletes segment via delete_docs
    out2 = merged.index_dir + "_compacted_del"
    compact(spark, [base_dir, delta_dir, del_seg], out2)
    comp = SearchEngine.load(spark, out2)
    assert (comp.n, comp.total_length) == (expected.n,
                                           expected.total_length)
    q = fixture_queries[1]
    assert comp.search_local(q, k=10) == expected.search_local(q, k=10)

    # guard rails: deletes segment cannot lead
    import pytest as _p

    with _p.raises(ValueError, match="deletes"):
        TieredEngine(spark, [del_seg, base_dir])


def _docids_by_url(index_dir):
    import pyarrow.parquet as pq

    t = pq.read_table(f"{index_dir}/docs", columns=["url", "docid"])
    return dict(zip(t.column("url").to_pylist(),
                    t.column("docid").to_pylist()))


def test_tiered_hydration_through_warm_caches(spark, merged_and_full,
                                              tmp_path, monkeypatch):
    """[base, crawl batch, deletes] with per-segment row caches: two
    lookups both equal the compacted index's rows (merged minus the
    taken-down doc). The re-crawled doc X hydrates from the batch's
    row, the taken-down doc Y from nowhere, and the repeat is served
    from the warm caches without opening a parquet file."""
    import pyarrow.parquet as pq

    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.sources.synth import doc_row
    from wiki_search_engine_spark.tiered import (
        TieredEngine, write_deletes_segment,
    )

    merged, _full = merged_and_full
    base_dir = merged.index_dir.replace("merged", "base")
    delta_dir = merged.index_dir.replace("merged", "delta")
    by_url = _docids_by_url(merged.index_dir)
    x = by_url[doc_row(UPDATED[2], SEED)["url"]]  # re-crawled in delta
    y = by_url[doc_row(5, SEED)["url"]]  # base-only, taken down
    del_seg = write_deletes_segment(str(tmp_path / "del"), docids=[y])
    tiered = TieredEngine(spark, [base_dir, delta_dir, del_seg],
                          cache_terms=64)
    ids = sorted(by_url.values())[::3] + [x, y]
    exp = {
        r["docid"]: r for r in merged.lookup_docs(ids) if r["docid"] != y
    }
    [x_new] = SearchEngine(spark, delta_dir).lookup_docs([x])
    [x_old] = SearchEngine(spark, base_dir).lookup_docs([x])
    assert exp[x] == x_new != x_old

    first = tiered.lookup_docs(ids)
    monkeypatch.setattr(pq, "ParquetFile", None)  # any open would raise
    second = tiered.lookup_docs(ids)
    monkeypatch.undo()
    for got in (first, second):
        assert {r["docid"]: r for r in got} == exp
        assert len(got) == len(exp)
    assert all(
        0 < len(seg._doc_cache) <= 64 for seg, _t, _s in tiered.segments
    )


def test_lookup_docs_repeated_ids_once(spark, merged_and_full):
    """lookup_docs(ids + ids) holds the same rows as lookup_docs(ids),
    each found docid once, on a single index and on a segment list
    (whose re-crawled ids live in two segments)."""
    from wiki_search_engine_spark.tiered import TieredEngine

    merged, _full = merged_and_full
    base_dir = merged.index_dir.replace("merged", "base")
    delta_dir = merged.index_dir.replace("merged", "delta")
    ids = sorted(_docids_by_url(merged.index_dir).values())[::2]
    for eng in (merged, TieredEngine(spark, [base_dir, delta_dir])):
        once = eng.lookup_docs(ids)
        assert len(once) == len(ids)
        assert eng.lookup_docs(ids + ids) == once
        assert eng.lookup_docs(ids[::-1] + ids) == eng.lookup_docs(ids[::-1])


def test_segments_dir_takedown_and_compaction(spark, tmp_path):
    """add_deletes_to_segments over a maintained segments directory:
    the deletes segment sorts last, serving drops the docs immediately,
    and compacting the full segment list (deletes included) equals the
    tiered view's stats and results."""
    import math
    import os

    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.tiered import (
        TieredEngine, add_deletes_to_segments, compact, list_segments,
    )

    segdir = str(tmp_path / "segs")
    os.makedirs(segdir)
    rows_a = _rows(range(20), SEED)
    rows_b = _rows(range(20, 30), SEED)
    SearchEngine.build(
        spark, spark.createDataFrame(pd.DataFrame(rows_a)),
        f"{segdir}/seg_00000001", **BUILD_KW,
    )
    SearchEngine.build(
        spark, spark.createDataFrame(pd.DataFrame(rows_b)),
        f"{segdir}/seg_00000002", **BUILD_KW,
    )
    victims = [rows_a[2]["url"], rows_b[1]["url"]]
    path = add_deletes_to_segments(segdir, urls=victims, spark=spark)
    segs = list_segments(segdir)
    assert segs[-1] == path  # sorts after every index segment

    tiered = TieredEngine(spark, segs)
    assert tiered.n == 28
    banned = {
        r["docid"]
        for r in spark.createDataFrame(
            [(u,) for u in victims], "url string"
        ).withColumn(
            "docid", F.shiftrightunsigned(F.xxhash64("url"), 1)
        ).collect()
    }
    assert tiered.lookup_docs(sorted(banned)) == []

    out = str(tmp_path / "compacted")
    compact(spark, segs, out)
    comp = SearchEngine.load(spark, out)
    assert (comp.n, comp.total_length) == (tiered.n, tiered.total_length)
    assert math.isclose(comp.avgdl, tiered.avgdl, rel_tol=1e-12)
    q = next(w for w in rows_a[0]["text"].split() if w.isalpha())
    got = tiered.search_local(q, k=10)
    exp = comp.search_local(q, k=10)
    assert [d for d, _ in got] == [d for d, _ in exp]
    for (_, a), (_, b) in zip(got, exp):
        assert math.isclose(a, b, rel_tol=1e-9)


def test_legacy_meta_without_salt_bits_delete(spark, tmp_path):
    """A legacy meta.json may predate the salt_bits key entirely (the
    engine defaults it to 3) — delete/merge must apply the same default
    instead of KeyError-ing on exactly the old indexes the compat shim
    exists for (r3 review finding)."""
    import json
    import os
    import shutil

    from wiki_search_engine_spark.engine import SearchEngine

    rows = _rows(range(12), SEED)
    base = str(tmp_path / "oldmeta")
    SearchEngine.build(
        spark, spark.createDataFrame(pd.DataFrame(rows)), base,
        stem=True, n_buckets=8, bucket_groups=1, salt_bits=3,
    )
    # age the index: strip salt layout AND the salt_bits meta key
    for sub in ("docs", "doc_stats"):
        flat = f"{base}/{sub}_flat"
        spark.read.parquet(f"{base}/{sub}").drop("salt").write.mode(
            "overwrite"
        ).parquet(flat)
        shutil.rmtree(f"{base}/{sub}")
        os.rename(flat, f"{base}/{sub}")
    with open(f"{base}/meta.json") as f:
        meta = json.load(f)
    del meta["salt_bits"]
    with open(f"{base}/meta.json", "w") as f:
        json.dump(meta, f)

    victim = rows[2]["url"]
    eng = SearchEngine.delete(
        spark, base, str(tmp_path / "oldmeta_del"), urls=[victim]
    )
    assert eng.n == 11
    hits = eng.search_local(
        next(w for w in rows[0]["text"].split() if w.isalpha()), k=5
    )
    assert hits


def test_write_deletes_segment_rejects_empty(tmp_path):
    import pytest as _p

    from wiki_search_engine_spark.tiered import write_deletes_segment

    with _p.raises(ValueError, match="empty takedown"):
        write_deletes_segment(str(tmp_path / "seg"), docids=[])


def test_tiered_suggest_correct_fuzzy_match_compacted(
    spark, merged_and_full
):
    """Tiered search-head features (suggest / correct / fuzzy
    did-you-mean) are answer-identical to the same calls on the
    compacted index — including over re-crawled docs whose stale
    postings are tombstoned, so live df differs from the stored
    per-segment sums and the upper-bound refinement path in
    TieredEngine.suggest is actually exercised."""
    from wiki_search_engine_spark.sources.synth import vocabulary
    from wiki_search_engine_spark.tiered import TieredEngine

    merged, _full = merged_and_full
    base_dir = merged.index_dir.replace("merged", "base")
    delta_dir = merged.index_dir.replace("merged", "delta")
    tiered = TieredEngine(spark, [base_dir, delta_dir])
    assert tiered.overridden > 0  # stored df != live df somewhere

    merged.build_spellindex(max_dist=2)
    tiered.build_spellindex(max_dist=2)

    words, _ = vocabulary(SEED)

    # suggest: 1- and 2-char prefixes covering the vocabulary head
    prefixes = sorted(
        {w[:1] for w in words[:300]} | {w[:2] for w in words[:300]}
    )
    checked = 0
    for p in prefixes:
        assert tiered.suggest(p, k=10) == merged.suggest(p, k=10), p
        checked += 1
    assert checked >= 10

    # correct: single-char mutations of present terms (+ a clean miss)
    import pytest as _p

    from wiki_search_engine_spark.engine import EmptyQueryError

    probes = [w[:-1] + "q" for w in words[:40] if len(w) > 3]
    probes += ["zzzzzzzz"]
    checked = 0
    for t in probes:
        assert tiered.correct(t, k=10) == merged.correct(t, k=10), t
        checked += 1
    assert checked >= 10
    with _p.raises(EmptyQueryError):
        tiered.suggest("   ")

    # fuzzy did-you-mean: typo'd query corrects the same way, and the
    # corrected retrieval is rank-identical
    present = [w for w in words[:40] if merged.term_df([w]).get(w)]
    typo = present[0][:-1] + "q"
    q = f"{present[1]} {typo}"
    exp_terms, exp_corr = merged.fuzzy_terms(merged.analyze(q))
    got_terms, got_corr = tiered.fuzzy_terms(tiered.analyze(q))
    assert (got_terms, got_corr) == (exp_terms, exp_corr)
    assert got_corr  # the typo really was corrected
    got = tiered.search_local(q, k=10, fuzzy=True)
    exp = merged.search_local(q, k=10, fuzzy=True)
    assert [d for d, _ in got] == [d for d, _ in exp]

    # the full HTTP response shape (fuzzy + corrections map) matches
    ra = tiered.query_response(q, option_name="bm25", k=5, fuzzy=True)
    rb = merged.query_response(q, option_name="bm25", k=5, fuzzy=True)
    assert ra.get("corrections") == rb.get("corrections")
    assert [d["file_id"] for d in ra["textResult"]] == [
        d["file_id"] for d in rb["textResult"]
    ]


def test_tiered_suggest_correct_over_http(spark, merged_and_full):
    """The HTTP layer serves /suggest, /correct and &fuzzy=true over a
    segment list exactly as over a single index — the former 400 guards
    are gone."""
    import json as _json
    import urllib.parse
    import urllib.request

    from wiki_search_engine_spark.server import start_server
    from wiki_search_engine_spark.sources.synth import vocabulary
    from wiki_search_engine_spark.tiered import TieredEngine

    merged, _full = merged_and_full
    base_dir = merged.index_dir.replace("merged", "base")
    delta_dir = merged.index_dir.replace("merged", "delta")
    tiered = TieredEngine(spark, [base_dir, delta_dir])
    # spell layouts exist from the previous test or are rebuilt here
    tiered.build_spellindex(max_dist=2)
    merged.build_spellindex(max_dist=2)

    words, _ = vocabulary(SEED)
    w = next(w for w in words[:40] if merged.term_df([w]).get(w))
    srv = start_server(tiered, port=0, path_mode="local")
    try:
        port = srv.server_address[1]

        def get(path_qs):
            with urllib.request.urlopen(
                f"http://127.0.0.1:{port}{path_qs}", timeout=30
            ) as r:
                return r.status, _json.loads(r.read())

        st, body = get(f"/suggest?prefix={w[:2]}&k=5")
        assert st == 200 and body["success"]
        assert body["result"] == [
            {"term": t, "df": df}
            for t, df in merged.suggest(w[:2], k=5)
        ]

        typo = w[:-1] + "q"
        st, body = get(f"/correct?term={typo}&k=5")
        assert st == 200 and body["success"]
        assert body["result"] == [
            {"term": t, "dist": d, "df": df}
            for t, d, df in merged.correct(typo, k=5)
        ]

        q = urllib.parse.quote(f"{w} {typo}")
        st, body = get(
            f"/query-stem?query={q}&optionName=bm25&fuzzy=true"
        )
        assert st == 200
        assert body.get("corrections", {}).get(typo)
    finally:
        srv.shutdown()


def test_tiered_wildcard_exact_under_heavy_tombstones(spark, tmp_path):
    """VERDICT r4 item 6: with tombstones AND cap pressure, the tiered
    wildcard expansion refines the cap boundary with LIVE df and picks
    exactly the compacted index's expansions — stored-df ranking alone
    would keep the heavily-tombstoned term and starve the live one."""
    import datetime

    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.tiered import (
        TieredEngine, write_deletes_segment,
    )

    # wilda: 10 docs (5 tombstoned -> live 5); wildc: 9; wildb: 8.
    # stored ranking: wilda(10), wildc(9) | live: wildc(9), wildb(8)
    rows = []
    for i in range(27):
        term = "wilda" if i < 10 else ("wildc" if i < 19 else "wildb")
        rows.append(
            {
                "url": f"https://example.org/wc{i:03d}",
                "warc_ts": datetime.datetime(2024, 1, 1, 0, 0, i),
                "html": b"",
                "text": f"{term} common filler textbody",
                "lang": "en",
            }
        )
    df = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string",
    )
    base = SearchEngine.build(
        spark, df, str(tmp_path / "wcb"), stem=True,
        n_buckets=8, bucket_groups=1, salt_bits=2,
    )
    victims = [
        r["docid"]
        for r in spark.createDataFrame(
            [(rows[i]["url"],) for i in range(5)], "url string"
        )
        .withColumn(
            "docid", F.shiftrightunsigned(F.xxhash64("url"), 1)
        )
        .collect()
    ]
    del_seg = write_deletes_segment(
        str(tmp_path / "wcdel"), docids=victims
    )
    tiered = TieredEngine(spark, [base.index_dir, del_seg])
    expected = SearchEngine.delete(
        spark, base.index_dir, str(tmp_path / "wcc"), docids=victims
    )
    assert tiered.overridden > 0  # the refinement path actually runs
    got = tiered.expand_wildcard("wild*", cap=2)
    exp = expected.expand_wildcard("wild*", cap=2)
    assert got == exp == [("wildc", 9), ("wildb", 8)]
    # uncapped: all three expand, wilda at its LIVE df
    assert tiered.expand_wildcard("wild*", cap=10) == (
        expected.expand_wildcard("wild*", cap=10)
    )
    # and serving through the capped expansion matches the compacted
    got_ids = tiered.search_local("wild* common", k=10)
    exp_ids = expected.search_local("wild* common", k=10)
    assert [d for d, _ in got_ids] == [d for d, _ in exp_ids]
