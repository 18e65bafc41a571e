"""BM25F title-boosted ranking: weight-1 rank/score identity with
plain BM25, title boost discrimination, local == distributed parity,
sidecar lifecycle (build stage, retrofit, merge carry), HTTP flag."""

import json
import math
import urllib.parse
import urllib.request

import pytest
from pyspark.sql import functions as F


def test_weight1_is_plain_bm25(engine, fixture_queries):
    """tf' = tf + (w-1)*tf_title at w=1 collapses to plain BM25 for
    every query — scores, not just ranks."""
    checked = 0
    for q in list(fixture_queries)[:4]:
        plain = engine.search_local(q, k=10)
        got = engine._search_local_bm25f(
            engine.analyze(q), 10, None, title_weight=1.0
        )
        assert [d for d, _ in got] == [d for d, _ in plain], q
        for (_, a), (_, b) in zip(got, plain):
            assert math.isclose(a, b, rel_tol=1e-12), q
        checked += 1
    assert checked


def test_local_matches_distributed(engine, fixture_queries):
    q = list(fixture_queries)[0]
    exp = engine.search_local(q, k=10, mode="bm25f")
    assert exp
    for path in ("exhaustive", "wand"):
        got = [
            (int(r["docid"]), float(r["score"]))
            for r in engine.search_ids(
                q, k=10, path=path, mode="bm25f"
            ).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in exp], path
        for (_, a), (_, b) in zip(got, exp):
            assert math.isclose(a, b, rel_tol=1e-9), path


@pytest.fixture(scope="module")
def titled_engine(spark, tmp_path_factory):
    """A corpus where titles DISCRIMINATE: doc A has 'alpha' in the
    title only, doc B has it mid-body only; bodies otherwise
    comparable, so the boost must reorder."""
    import datetime

    from wiki_search_engine_spark.engine import SearchEngine

    rows = []
    for i in range(24):
        slug = "Alpha_Topic" if i % 6 == 0 else f"Filler_Page{i}"
        body = (
            "alpha discussion point number one two three"
            if i % 6 == 3
            else "general discussion point number one two three"
        )
        rows.append(
            {
                "url": f"https://example.org/wiki/{slug}{i}",
                "warc_ts": datetime.datetime(2024, 1, 1, 0, 0, i),
                "html": b"",
                "text": f"{body} shared tail words here",
                "lang": "en",
            }
        )
    df = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string",
    )
    return SearchEngine.build(
        spark, df, str(tmp_path_factory.mktemp("bm25f_idx")),
        stem=True, n_buckets=8, bucket_groups=1, salt_bits=2,
    )


def test_title_boost_reorders(titled_engine):
    """Docs matching 'alpha' only in the TITLE outrank comparable
    body-only matches under bm25f, and score at all (title-only
    matches have zero body tf)."""
    eng = titled_engine
    plain = eng.search_local("alpha discussion", k=24)
    boosted = eng.search_local("alpha discussion", k=24, mode="bm25f")
    assert boosted != plain
    # title-only docs (urls with Alpha_Topic) surface under bm25f
    title_docs = {
        r["docid"]
        for r in eng.lookup_docs([d for d, _ in boosted])
        if "Alpha" in r["url"]
    }
    assert title_docs
    top_boosted = [d for d, _ in boosted[: len(title_docs)]]
    assert set(top_boosted) & title_docs
    # and those title-only docs score strictly higher than under plain
    plain_map = dict(plain)
    for d, s in boosted:
        if d in title_docs:
            assert s > plain_map.get(d, 0.0)


def test_retrofit_and_staleness(titled_engine, tmp_path):
    """build_title_tf retrofits a deleted sidecar; bm25f without the
    sidecar raises with the titleindex remedy."""
    import shutil

    eng = titled_engine
    exp = eng.search_local("alpha", k=5, mode="bm25f")
    shutil.rmtree(f"{eng.index_dir}/title_tf")
    eng._title_cache = {}
    with pytest.raises(FileNotFoundError, match="titleindex"):
        eng.search_local("alpha", k=5, mode="bm25f")
    eng.build_title_tf()
    assert eng.search_local("alpha", k=5, mode="bm25f") == exp


def test_merge_carries_title_tf(spark, titled_engine, tmp_path):
    """merge writes the sidecar on the merged output; bm25f over the
    merged index works without a manual titleindex run."""
    import datetime
    import os

    from wiki_search_engine_spark.engine import SearchEngine

    delta_rows = [
        {
            "url": f"https://example.org/wiki/Delta_Doc{i}",
            "warc_ts": datetime.datetime(2024, 2, 1, 0, 0, i),
            "html": b"",
            "text": "delta body alpha content words",
            "lang": "en",
        }
        for i in range(4)
    ]
    ddf = spark.createDataFrame(
        delta_rows,
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string",
    )
    delta = SearchEngine.build(
        spark, ddf, str(tmp_path / "bm25f_delta"), stem=True,
        n_buckets=8, bucket_groups=1, salt_bits=2,
    )
    merged = SearchEngine.merge(
        spark, titled_engine.index_dir, delta.index_dir,
        str(tmp_path / "bm25f_merged"),
    )
    assert os.path.isdir(f"{merged.index_dir}/title_tf")
    res = merged.search_local("alpha", k=10, mode="bm25f")
    assert res
    # facet columns survive the merge's docs union too
    fc = merged.facet_counts("alpha", field="lang")
    assert sum(fc.values()) > 0


def test_bm25f_over_http(titled_engine):
    from wiki_search_engine_spark.server import start_server

    srv = start_server(titled_engine, port=0, path_mode="local")
    try:
        port = srv.server_address[1]
        q = urllib.parse.quote("alpha discussion")
        url = (
            f"http://127.0.0.1:{port}/query-stem?query={q}"
            "&optionName=bm25f"
        )
        with urllib.request.urlopen(url, timeout=30) as r:
            resp = json.load(r)
        exp = titled_engine.search_local(
            "alpha discussion", k=50, mode="bm25f"
        )
        got_ids = [int(x["file_id"]) for x in resp["textResult"]]
        assert got_ids == [d for d, _ in exp[: len(got_ids)]]
    finally:
        srv.shutdown()


def test_bm25f_composes_with_negation(titled_engine):
    eng = titled_engine
    got = eng.search_local(
        "alpha discussion -general", k=10, mode="bm25f", negation=True
    )
    exc = set(eng._live_docids(eng.analyze("general")).tolist())
    base = eng.search_local("alpha discussion", k=eng.n, mode="bm25f")
    assert got == [(d, s) for d, s in base if d not in exc][:10]


def test_bm25f_invalid_combos_raise(titled_engine):
    with pytest.raises(ValueError):
        titled_engine.search_local(
            "alpha discussion", k=5, mode="bm25f", semantics="and"
        )


def test_tiered_bm25f_matches_delete_rebuild(
    spark, titled_engine, tmp_path
):
    """Tiered BM25F over [seg_a, seg_b, deletes] equals bm25f on the
    delete-rebuilt compacted index — live stats, live title rows,
    tombstoned docs never boost."""
    import datetime

    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.tiered import (
        TieredEngine, write_deletes_segment,
    )

    delta_rows = [
        {
            "url": f"https://example.org/wiki/Alpha_Extra{i}",
            "warc_ts": datetime.datetime(2024, 3, 1, 0, 0, i),
            "html": b"",
            "text": "fresh body text alpha coverage words",
            "lang": "en",
        }
        for i in range(6)
    ]
    ddf = spark.createDataFrame(
        delta_rows,
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string",
    )
    delta = SearchEngine.build(
        spark, ddf, str(tmp_path / "tb_delta"), stem=True,
        n_buckets=8, bucket_groups=1, salt_bits=2,
    )
    victims = [
        r["docid"]
        for r in spark.createDataFrame(
            [(delta_rows[0]["url"],), (delta_rows[1]["url"],)],
            "url string",
        )
        .withColumn(
            "docid", F.shiftrightunsigned(F.xxhash64("url"), 1)
        )
        .collect()
    ]
    del_seg = write_deletes_segment(
        str(tmp_path / "tb_del"), docids=victims
    )
    tiered = TieredEngine(
        spark,
        [titled_engine.index_dir, delta.index_dir, del_seg],
    )
    merged = SearchEngine.merge(
        spark, titled_engine.index_dir, delta.index_dir,
        str(tmp_path / "tb_merged"),
    )
    expected = SearchEngine.delete(
        spark, merged.index_dir, str(tmp_path / "tb_exp"),
        docids=victims,
    )
    for q in ("alpha discussion", "alpha", "fresh alpha"):
        got = tiered.search_local(q, k=10, mode="bm25f")
        exp = expected.search_local(q, k=10, mode="bm25f")
        assert [d for d, _ in got] == [d for d, _ in exp], q
        for (_, a), (_, b) in zip(got, exp):
            assert math.isclose(a, b, rel_tol=1e-9), q
    # NOT composes on the tiered bm25f path too
    got = tiered.search_local(
        "alpha discussion -general", k=10, mode="bm25f",
        negation=True,
    )
    exp = expected.search_local(
        "alpha discussion -general", k=10, mode="bm25f",
        negation=True,
    )
    assert [d for d, _ in got] == [d for d, _ in exp]
