"""One serving core (serving.ServingCore): every response mode and
every distributed search_ids/search_many query class gives the same
answer on a single index, on a one-segment TieredEngine over that
index, and — over a [base, deletes] segment list — the same answer as
the compacted index; facets count exactly the docs the results are
ranked from; no mode grows a second copy."""

import datetime
import inspect
import math
import re
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

WORDS = [
    "river", "stone", "field", "cloud", "bridge", "tower",
    "garden", "forest", "market", "harbor", "valley", "castle",
]
TITLES = ["Alpha_River", "Beta_Stone", "Gamma_Field", "Delta_Cloud"]
N_DOCS = 48
DELETED = (0, 5, 12, 17, 30)


def _row(i: int) -> dict:
    w = WORDS
    extra = " ".join(w[(i + j) % 12] for j in range(i % 5))
    # 'tower' opens every snippet; 'alpha' sits in the body of every
    # 6th doc and in the title of every 4th (BM25F title-only matches)
    text = (
        f"tower {w[i % 12]} {w[(i + 1) % 12]} {w[(i * 5) % 12]} shared "
        f"words {w[(i * 7 + 3) % 12]} {'alpha ' if i % 6 == 0 else ''}"
        f"{extra} tail"
    )
    return {
        "url": f"https://example.org/wiki/{TITLES[i % 4]}_{i}",
        "warc_ts": datetime.datetime(2024, 1, 1, 0, 0, i),
        "html": b"",
        "text": text,
        "lang": ("en", "de", "fr")[(i // 2) % 3],
    }


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    """A base index (positions, title sidecar, synonyms, spell layout),
    a deletes segment over five of its docs, and their compaction."""
    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.tiered import (
        TieredEngine, compact, write_deletes_segment,
    )

    root = tmp_path_factory.mktemp("serving_core")
    rows = [_row(i) for i in range(N_DOCS)]
    df = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string",
    )
    base = SearchEngine.build(
        spark, df, str(root / "base"), stem=True, n_buckets=8,
        bucket_groups=1, salt_bits=2, positions=True,
    )
    base.set_synonyms([["river", "harbor"]])
    base.build_spellindex()
    victims = [
        r["docid"]
        for r in spark.createDataFrame(
            [(rows[i]["url"],) for i in DELETED], "url string"
        )
        .withColumn("docid", F.shiftrightunsigned(F.xxhash64("url"), 1))
        .collect()
    ]
    dele = write_deletes_segment(str(root / "del"), docids=victims)
    compact(spark, [base.index_dir, dele], str(root / "compacted"))
    comp = SearchEngine(spark, str(root / "compacted"))
    comp.set_synonyms([["river", "harbor"]])
    comp.build_spellindex()
    return SimpleNamespace(
        single=SearchEngine(spark, base.index_dir),
        one_segment=TieredEngine(spark, [base.index_dir]),
        tiered=TieredEngine(spark, [base.index_dir, dele]),
        tiered_deletes_dir=dele,
        compacted=comp,
    )


# every request class of the benchmark's mixed workload, as
# query_response arguments
REQUESTS = [
    ("bag-tfidf", "river stone", {}),
    ("bag-bm25", "river stone", {"option_name": "bm25"}),
    ("and", "river stone", {"option_name": "bm25", "semantics": "and"}),
    ("must", "+river stone", {"option_name": "bm25", "negation": True}),
    ("not", "river stone -garden", {"option_name": "bm25",
                                    "negation": True}),
    ("title", "title:alpha stone", {"option_name": "bm25",
                                    "negation": True}),
    ("bm25f", "alpha river", {"option_name": "bm25f"}),
    ("synonyms", "river field", {"option_name": "bm25",
                                 "synonyms": True}),
    ("phrase", "river stone", {"phrase": True}),
    ("mixed", '"river stone" garden', {"option_name": "bm25"}),
    ("mixed-not", '"river stone" garden -cloud',
     {"option_name": "bm25", "negation": True}),
    ("facets", "river stone", {"option_name": "bm25",
                               "facets": "lang"}),
    ("highlight", "river stone", {"option_name": "bm25",
                                  "highlight": True}),
    ("page", "river stone", {"option_name": "bm25", "page": 2,
                             "per_page": 3}),
    ("wildcard", "riv* stone", {"option_name": "bm25"}),
    # the excluded typo corrects to 'tower' (in every snippet), which
    # must not be highlighted: highlight terms come from the positive
    # part of the query only
    ("highlight-fuzzy-not", "river stone -towxr",
     {"option_name": "bm25", "highlight": True, "fuzzy": True,
      "negation": True}),
]


def _strip(resp: dict) -> dict:
    """The response without its timing fields."""
    return {
        k: v for k, v in resp.items() if k not in ("searchTime", "profile")
    }


def _assert_same_up_to_float(a: dict, b: dict) -> None:
    """Equal responses, scores compared at rel 1e-9: a segment list
    and the compacted index may sum a doc's term contributions in a
    different order."""
    a, b = _strip(a), _strip(b)
    ta, tb = a.pop("textResult"), b.pop("textResult")
    assert a == b
    assert [{**r, "score": 0} for r in ta] == [{**r, "score": 0} for r in tb]
    for ra, rb in zip(ta, tb):
        assert math.isclose(ra["score"], rb["score"], rel_tol=1e-9)


@pytest.mark.parametrize(
    "query,kwargs", [r[1:] for r in REQUESTS], ids=[r[0] for r in REQUESTS]
)
def test_every_request_class_is_served_identically(served, query, kwargs):
    kw = {"k": 10, **kwargs}
    single = served.single.query_response(query, **kw)
    assert single["textResult"], "the request must rank something"
    assert _strip(served.one_segment.query_response(query, **kw)) == (
        _strip(single)
    )
    _assert_same_up_to_float(
        served.tiered.query_response(query, **kw),
        served.compacted.query_response(query, **kw),
    )
    if kwargs.get("highlight"):
        assert any("<em>" in r["chunkedBody"] for r in single["textResult"])
        assert not any(
            "<em>tower</em>" in r["chunkedBody"]
            for r in single["textResult"]
        )


# query shapes whose match set differs from the OR union of the
# positive terms
FACET_SHAPES = [
    ("title:alpha stone", {"negation": True}),
    ("+river stone", {"negation": True}),
    ("stone -title:alpha", {"negation": True}),
    ("river stone", {"semantics": "and"}),
    ("alpha", {"mode": "bm25f"}),
    ("river", {"synonyms": True}),
]


@pytest.mark.parametrize(
    "query,opts", FACET_SHAPES, ids=[q for q, _ in FACET_SHAPES]
)
def test_facets_count_the_result_match_set(served, query, opts):
    """Every doc has one lang value, so the lang totals (all categories
    returned) are the size of the match set the results rank."""
    for eng in (served.single, served.tiered):
        matched = eng.search_local(query, k=10**9, **opts)
        got = eng.facet_counts(query, field="lang", top=100, **opts)
        assert matched
        assert sum(got.values()) == len(matched)


def test_faceted_response_is_one_retrieval(served, monkeypatch):
    """The page and the facet counts of a local response come from one
    retrieval, and the page equals the unfaceted response's."""
    for eng in (served.single, served.tiered):
        kw = {"k": 10, "option_name": "bm25", "negation": True}
        plain = eng.query_response("river stone -garden", **kw)
        calls = []
        serve = eng._serve_matches
        monkeypatch.setattr(
            eng, "_serve_matches",
            lambda *a, **o: calls.append(a) or serve(*a, **o),
        )
        faceted = eng.query_response(
            "river stone -garden", facets="lang", **kw
        )
        monkeypatch.undo()
        assert len(calls) == 1
        matched = eng.search_local(
            "river stone -garden", k=10**9, negation=True
        )
        assert sum(faceted.pop("facets")["lang"].values()) == len(matched)
        _assert_same_up_to_float(faceted, plain)


@pytest.mark.parametrize("query,kwargs", [
    ("-river", {"negation": True}),
    ("+river -river", {"negation": True}),
    ("+title:alpha -title:alpha", {"negation": True}),
    ("zzzabsent", {}),
    ("river stone", {"phrase": True}),
    ('"river stone"', {}),
    ("   ", {}),
])
def test_tiered_boost_is_rejected_for_every_query(served, query, kwargs):
    """A segment list has no static rank: boost raises (HTTP 400) on
    every query shape, also where retrieval would return early."""
    with pytest.raises(ValueError, match="single-index"):
        served.tiered.query_response(query, boost="static", **kwargs)
    if not kwargs.get("phrase") and query.strip():
        with pytest.raises(ValueError, match="single-index"):
            served.tiered.search_local(query, boost="static", **kwargs)


# every query class of the distributed path, as search_ids arguments
DISTRIBUTED = [
    ("bag-tfidf", "river stone", {"mode": "tfidf"}),
    ("bag-bm25", "river stone", {"mode": "bm25"}),
    ("bm25f", "alpha river", {"mode": "bm25f"}),
    ("and", "river stone", {"mode": "bm25", "semantics": "and"}),
    ("must", "+river stone", {"mode": "bm25", "negation": True}),
    ("not", "river stone -garden", {"mode": "bm25", "negation": True}),
    ("title", "title:alpha stone", {"mode": "bm25", "negation": True}),
    ("synonyms", "river field", {"mode": "bm25", "synonyms": True}),
    ("wildcard", "riv* stone", {"mode": "bm25"}),
]


def _ids(frame) -> list[tuple[int, float]]:
    return [(int(r["docid"]), float(r["score"])) for r in frame.collect()]


def _assert_same_ranking(a, b) -> None:
    """Same docs in the same order, scores at rel 1e-9 (the paths may
    sum a doc's term contributions in a different order)."""
    assert [d for d, _ in a] == [d for d, _ in b]
    for (_, x), (_, y) in zip(a, b):
        assert math.isclose(x, y, rel_tol=1e-9)


@pytest.mark.parametrize("path", ["wand", "exhaustive"])
@pytest.mark.parametrize(
    "query,kwargs", [r[1:] for r in DISTRIBUTED],
    ids=[r[0] for r in DISTRIBUTED],
)
def test_distributed_query_classes_are_served_identically(
    served, path, query, kwargs
):
    kw = {"k": 10, "path": path, **kwargs}
    single = _ids(served.single.search_ids(query, **kw))
    assert single, "the query must rank something"
    _assert_same_ranking(
        single, served.single.search_local(query, k=10, **kwargs)
    )
    _assert_same_ranking(
        _ids(served.one_segment.search_ids(query, **kw)), single
    )
    _assert_same_ranking(
        _ids(served.tiered.search_ids(query, **kw)),
        _ids(served.compacted.search_ids(query, **kw)),
    )


def test_search_many_is_served_identically(served):
    queries = ["river stone", "   ", "zzzabsent", "alpha tower field"]

    def by_query(eng, mode):
        out: dict = {}
        for r in eng.search_many(queries, k=5, mode=mode).collect():
            out.setdefault(r["query_id"], []).append(
                (int(r["docid"]), float(r["score"]))
            )
        return {
            q: sorted(rows, key=lambda ds: (-ds[1], ds[0]))
            for q, rows in out.items()
        }

    for mode in ("bm25", "tfidf"):
        single = by_query(served.single, mode)
        assert sorted(single) == [0, 3]
        for qid, rows in single.items():
            _assert_same_ranking(rows, _ids(served.single.search_ids(
                queries[qid], k=5, mode=mode
            )))
        pairs = [
            (by_query(served.one_segment, mode), single),
            (by_query(served.tiered, mode),
             by_query(served.compacted, mode)),
        ]
        for got, exp in pairs:
            assert sorted(got) == sorted(exp)
            for qid in exp:
                _assert_same_ranking(got[qid], exp[qid])


def test_unknown_path_and_kernel_mode_are_rejected(served):
    """An unknown path raises instead of serving as exhaustive; the
    block-max kernel scores bm25/tfidf only, so any other mode raises
    instead of being scored as TF-IDF."""
    from wiki_search_engine_spark.operators.wand import search_topk

    for eng in (served.single, served.tiered):
        with pytest.raises(ValueError, match="path"):
            eng.search_ids("river stone", path="exhaustve")
    eng = served.single
    with pytest.raises(ValueError, match="bm25f"):
        search_topk(
            eng._postings(["river"]), ["river"], eng.n, eng.avgdl,
            k=5, mode="bm25f",
        )


def test_modes_exist_once(served):
    """Each serving mode and path lives on ServingCore only: neither
    engine may define its own copy (a parallel path would drift), and
    the tiered engine borrows no single-index method. Every source read
    is one fold over ``segments`` on the core: SearchEngine keeps only
    its per-segment readers, and TieredEngine only its constructor."""
    from wiki_search_engine_spark import tiered
    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.operators import codec, wand
    from wiki_search_engine_spark.serving import ServingCore
    from wiki_search_engine_spark.tiered import TieredEngine

    shared = {n for n, v in vars(ServingCore).items() if callable(v)}
    assert {"search_local", "search_mixed", "search_phrase",
            "facet_counts", "query_response", "search_ids",
            "search_many"} <= shared
    folds = {
        "_live_postings", "_live_title_rows", "_live_phrase_matches",
        "_live_facet_arrays", "lookup_docs", "_load_synonyms",
        "facet_fields", "_has_positions", "build_spellindex",
        "_candidate_postings", "_live_df_map", "_title_relation",
        "suggest", "correct", "fuzzy_terms", "expand_wildcard",
    }
    assert folds <= shared, folds - shared
    for cls in (SearchEngine, TieredEngine):
        assert not shared & set(vars(cls)), cls.__name__
        assert not {"_search_ids_fielded", "_decoded_live_postings"} & set(
            vars(cls)
        ), cls.__name__
    assert not re.search(
        r"SearchEngine\.\w+\(\s*self", inspect.getsource(tiered)
    )
    own = {
        n for n in vars(TieredEngine)
        if not (n.startswith("__") and n.endswith("__"))
    }
    assert own <= {"analyze"}, own
    assert len(inspect.getsource(TieredEngine).splitlines()) <= 200
    # every name perfbench/trace.py wraps or reads must resolve, or a
    # refactor crashes each traced benchmark run with an AttributeError
    for owner, name in [
        (codec, "decode_block"), (wand, "decode_block"),
        (wand, "score_shard_topk"), (TieredEngine, "query_response"),
        *((SearchEngine, n) for n in (
            "query_response", "lookup_docs", "term_df",
            "_cached_term_lists",
        )),
    ]:
        assert callable(getattr(owner, name)), name
    assert isinstance(served.single._term_cache, dict)


def test_title_row_cache_is_bounded(served):
    """The title-row cache follows the posting cache's ``cache_terms``
    LRU rule: 2,000 distinct absent terms leave at most ``cache_terms``
    entries, and title: and BM25F answers stay the same."""
    from wiki_search_engine_spark.engine import SearchEngine

    ref = served.single
    eng = SearchEngine(ref.spark, ref.index_dir, cache_terms=4)
    queries = [
        ("title:alpha stone", {"negation": True}),
        ("alpha river", {"mode": "bm25f"}),
    ]
    expected = [ref.search_local(q, k=10, **kw) for q, kw in queries]
    assert all(expected)
    assert [eng.search_local(q, k=10, **kw) for q, kw in queries] == (
        expected
    )
    for i in range(2000):
        eng._live_title_rows([f"zzabsent{i}"])
    assert len(eng._title_cache) <= 4
    assert len(eng._term_cache) <= 4
    assert [eng.search_local(q, k=10, **kw) for q, kw in queries] == (
        expected
    )


# the search-head features, as (method, args) calls
SEARCH_HEAD = [
    ("suggest-r", "suggest", ("r",), {"k": 5}),
    ("suggest-t", "suggest", ("t",), {"k": 3}),
    ("suggest-st", "suggest", ("st",), {"k": 10}),
    ("correct-rivr", "correct", ("rivr",), {"k": 5}),
    ("correct-towxr", "correct", ("towxr",), {"k": 5}),
    ("correct-all", "correct", ("stoen",), {"k": None}),
    ("fuzzy", "fuzzy_terms", (["rivr", "stone", "zzzzqq"],), {}),
    ("wildcard", "expand_wildcard", ("t*",), {}),
    ("wildcard-cap", "expand_wildcard", ("s*",), {"cap": 2}),
]


@pytest.mark.parametrize(
    "method,args,kwargs", [r[1:] for r in SEARCH_HEAD],
    ids=[r[0] for r in SEARCH_HEAD],
)
def test_search_head_features_are_served_identically(
    served, method, args, kwargs
):
    single = getattr(served.single, method)(*args, **kwargs)
    assert single, "the call must return something"
    assert getattr(served.one_segment, method)(*args, **kwargs) == single
    assert getattr(served.tiered, method)(*args, **kwargs) == (
        getattr(served.compacted, method)(*args, **kwargs)
    )


@pytest.fixture(scope="module")
def crawled(spark, served, tmp_path_factory):
    """A crawl batch over the base — three re-crawled base urls with new
    text and three new urls — served as [base, batch], and its
    compaction."""
    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.tiered import TieredEngine, compact

    root = tmp_path_factory.mktemp("crawled")
    recrawled = [
        {**_row(i), "text": f"{_row(i)['text']} river recrawl"}
        for i in (1, 2, 3)
    ]
    fresh = [_row(i) for i in range(N_DOCS, N_DOCS + 3)]
    batch = SearchEngine.build(
        spark,
        spark.createDataFrame(
            recrawled + fresh,
            "url string, warc_ts timestamp, html binary, text string, "
            "lang string",
        ),
        str(root / "batch"), stem=True, n_buckets=8, bucket_groups=1,
        salt_bits=2, positions=True,
    )
    batch.build_spellindex()
    base = served.single.index_dir
    compact(spark, [base, batch.index_dir], str(root / "compacted"))
    comp = SearchEngine(spark, str(root / "compacted"))
    comp.set_synonyms([["river", "harbor"]])
    comp.build_spellindex()
    return SimpleNamespace(
        tiered=TieredEngine(spark, [base, batch.index_dir]),
        compacted=comp,
        recrawled=[r["url"] for r in recrawled],
    )


def test_tombstones_hold_only_the_segments_own_docids(spark, crawled):
    """An earlier segment's tombstones are the later docids it really
    holds: a crawl batch's fresh urls tombstone nothing in the base."""
    import numpy as np
    import pyarrow.parquet as pq

    def docids(eng):
        return pq.read_table(
            f"{eng.index_dir}/docs", columns=["docid"]
        ).column("docid").to_numpy()

    (base, base_tombs, _), (batch, batch_tombs, _) = (
        crawled.tiered.segments
    )
    for seg, tombs in ((base, base_tombs), (batch, batch_tombs)):
        assert np.isin(tombs, docids(seg)).all()
    recrawled = {
        r["docid"] for r in spark.createDataFrame(
            [(u,) for u in crawled.recrawled], "url string"
        )
        .withColumn("docid", F.shiftrightunsigned(F.xxhash64("url"), 1))
        .collect()
    }
    assert set(base_tombs.tolist()) == recrawled
    assert batch_tombs.size == 0
    assert crawled.tiered.overridden == len(recrawled)
    assert crawled.tiered.n == crawled.compacted.n


@pytest.mark.parametrize(
    "query,kwargs", [r[1:] for r in REQUESTS], ids=[r[0] for r in REQUESTS]
)
def test_crawl_batch_is_served_as_compacted(crawled, query, kwargs):
    kw = {"k": 10, **kwargs}
    _assert_same_up_to_float(
        crawled.tiered.query_response(query, **kw),
        crawled.compacted.query_response(query, **kw),
    )
    if kwargs.get("phrase") or kwargs.get("fuzzy") or '"' in query:
        return  # local-only request classes
    kw = {
        k: v for k, v in kwargs.items()
        if k in ("semantics", "negation", "synonyms")
    }
    kw["mode"] = kwargs.get("option_name", "tfidf")
    _assert_same_ranking(
        _ids(crawled.tiered.search_ids(query, k=10, **kw)),
        _ids(crawled.compacted.search_ids(query, k=10, **kw)),
    )


def _cli_search(index: str, *flags: str) -> tuple[int, dict]:
    """(exit code, JSON output) of ``run_engine.py search``."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "scripts/run_engine.py", "search",
         "--index", index, *flags],
        capture_output=True, text=True, timeout=300, cwd=repo,
        env=dict(os.environ, SPARK_MASTER="local[2]", PYTHONPATH=repo),
    )
    return proc.returncode, json.loads(proc.stdout.strip().splitlines()[-1])


def test_cli_search_serves_a_segment_list_like_one_index(served):
    """The search CLI runs one dispatch for a single index and a
    segment list: phrase and quoted (mixed) queries serve over segments
    as over the compacted index, and a boost request over segments is
    the JSON 400 error, not a silently unboosted answer."""
    segments = f"{served.single.index_dir},{served.tiered_deletes_dir}"
    rc, out = _cli_search(
        segments, "--query", "river stone", "--phrase", "--k", "5"
    )
    assert rc == 0
    exp = served.compacted.search_phrase("river stone", k=5)
    assert [(r["docid"], r["phrase_tf"]) for r in out["results"]] == [
        (d, tf) for d, _s, tf in exp
    ]
    assert exp and all(
        math.isclose(r["score"], round(s, 6), abs_tol=1e-6)
        for r, (_d, s, _tf) in zip(out["results"], exp)
    )
    rc, out = _cli_search(
        segments, "--query", '"river stone" garden', "--path", "local",
        "--k", "5",
    )
    assert rc == 0
    exp = served.compacted.search_mixed('"river stone" garden', k=5)
    assert exp and [r["docid"] for r in out["results"]] == [
        d for d, _s in exp
    ]
    rc, out = _cli_search(
        segments, "--query", "river stone", "--path", "local",
        "--boost", "static",
    )
    assert rc == 1
    assert out == {
        "success": False, "error": "boost is single-index serving only"
    }


def test_republish_shares_the_unchanged_base_reader(
    spark, served, tmp_path
):
    """[base, del_a] then [base, del_b] share one base reader, warm
    from the first list's answers, and [base, del_b] still answers
    every request class as the compacted [base, del_b] does. A
    different cache_terms or spark session gets a fresh reader, and
    after a disjoint list the held readers are only that list's."""
    import os

    from wiki_search_engine_spark import tiered
    from wiki_search_engine_spark.tiered import (
        TieredEngine, write_deletes_segment,
    )

    base = served.single.index_dir
    del_a = write_deletes_segment(
        str(tmp_path / "del_a"),
        docids=served.single.sorted_docids()[1::9].tolist(),
    )
    first = TieredEngine(spark, [base, del_a], cache_terms=64)
    for _name, query, kwargs in REQUESTS:
        first.query_response(query, **{"k": 10, **kwargs})
    reader = first.segments[0][0]
    assert reader._term_cache and reader._doc_cache
    second = TieredEngine(
        spark, [base, served.tiered_deletes_dir], cache_terms=64
    )
    assert second.segments[0][0] is reader
    for _name, query, kwargs in REQUESTS:
        kw = {"k": 10, **kwargs}
        _assert_same_up_to_float(
            second.query_response(query, **kw),
            served.compacted.query_response(query, **kw),
        )
    for _name, method, args, kwargs in SEARCH_HEAD:
        assert getattr(second, method)(*args, **kwargs) == (
            getattr(served.compacted, method)(*args, **kwargs)
        )
    for _name, query, kwargs in DISTRIBUTED:
        _assert_same_ranking(
            _ids(second.search_ids(query, k=10, **kwargs)),
            _ids(served.compacted.search_ids(query, k=10, **kwargs)),
        )

    assert TieredEngine(spark, [base], cache_terms=8).segments[0][0] is not (
        reader
    )
    assert TieredEngine(None, [base], cache_terms=64).segments[0][0] is not (
        reader
    )
    comp = served.compacted.index_dir
    only = TieredEngine(spark, [comp])
    assert list(tiered._held_readers) == [os.path.realpath(comp)]
    assert tiered._held_readers[os.path.realpath(comp)][3] is (
        only.segments[0][0]
    )


def test_second_open_hydrates_co_decoded_base_rows(spark, served,
                                                   monkeypatch):
    """The base rows one TieredEngine's hydration decoded beside the
    requested doc are hot state of the shared base reader: a second
    TieredEngine over the same base hydrates them without opening any
    docs file, with the compacted index's rows."""
    import pyarrow.parquet as pq

    from wiki_search_engine_spark.engine import salt_of
    from wiki_search_engine_spark.tiered import TieredEngine

    segments = [served.single.index_dir, served.tiered_deletes_dir]
    # a cache_terms no other test opens with: a cold base reader
    first = TieredEngine(spark, segments, cache_terms=200)
    reader = first.segments[0][0]
    assert not reader._doc_cache
    live = served.compacted.sorted_docids().tolist()
    asked = live[0]
    first.lookup_docs([asked])
    bits = served.single.salt_bits
    mates = [
        d for d in live
        if d != asked and salt_of(d, bits) == salt_of(asked, bits)
    ]
    assert mates and set(mates) <= set(reader._doc_cache)
    exp = served.compacted.lookup_docs(mates)
    second = TieredEngine(spark, segments, cache_terms=200)
    assert second.segments[0][0] is reader

    def boom(*a, **kw):
        raise AssertionError("docs file opened for a co-decoded row")

    monkeypatch.setattr(pq, "ParquetFile", boom)
    got = second.lookup_docs(mates)
    monkeypatch.undo()
    assert got == exp


def test_concurrent_opens_answer_as_one_thread(spark, served):
    """Eight threads each opening [base, deletes] and answering every
    request class, with a short switch interval, get one shared base
    reader and the single-threaded answers."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from wiki_search_engine_spark.tiered import TieredEngine

    segments = [served.single.index_dir, served.tiered_deletes_dir]

    def answers(te):
        return [
            _strip(te.query_response(query, **{"k": 10, **kwargs}))
            for _name, query, kwargs in REQUESTS
        ]

    one = TieredEngine(spark, segments, cache_terms=64)
    want = answers(one)

    def run(_i):
        te = TieredEngine(spark, segments, cache_terms=64)
        return te.segments[0][0], answers(te)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:
            futures = [pool.submit(run, i) for i in range(8)]
            results = [f.result(timeout=300) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert all(reader is one.segments[0][0] for reader, _a in results)
    assert all(got == want for _r, got in results)


@pytest.fixture
def base_copy(served, tmp_path):
    """A copy of the served base index, so a writer can change it."""
    import shutil

    path = str(tmp_path / "base")
    shutil.copytree(served.single.index_dir, path)
    return path


def _reopened(spark, segments, before):
    """A TieredEngine over ``segments`` after a write: its reader must
    be fresh, not the one ``before`` held."""
    from wiki_search_engine_spark.tiered import TieredEngine

    after = TieredEngine(spark, segments, cache_terms=64)
    assert after.segments[0][0] is not before.segments[0][0]
    return after


def test_set_synonyms_between_opens_is_seen(spark, base_copy):
    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.tiered import TieredEngine

    kw = {"option_name": "bm25", "synonyms": True, "k": 10}
    before = TieredEngine(spark, [base_copy], cache_terms=64)
    old = _strip(before.query_response("harbor", **kw))
    SearchEngine(spark, base_copy).set_synonyms([])
    after = _reopened(spark, [base_copy], before)
    new = _strip(after.query_response("harbor", **kw))
    assert new != old
    assert new == _strip(
        SearchEngine(spark, base_copy).query_response("harbor", **kw)
    )


def test_build_title_tf_between_opens_is_seen(spark, base_copy):
    import shutil

    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.tiered import TieredEngine

    shutil.rmtree(f"{base_copy}/title_tf")
    before = TieredEngine(spark, [base_copy], cache_terms=64)
    with pytest.raises(FileNotFoundError):
        before.search_local("alpha river", k=10, mode="bm25f")
    SearchEngine(spark, base_copy).build_title_tf()
    after = _reopened(spark, [base_copy], before)
    got = after.search_local("alpha river", k=10, mode="bm25f")
    assert got and got == SearchEngine(spark, base_copy).search_local(
        "alpha river", k=10, mode="bm25f"
    )


def test_build_spellindex_between_opens_is_seen(spark, base_copy):
    import shutil

    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.tiered import TieredEngine

    shutil.rmtree(f"{base_copy}/spell")
    before = TieredEngine(spark, [base_copy], cache_terms=64)
    with pytest.raises(FileNotFoundError):
        before.correct("rivr", k=5)
    SearchEngine(spark, base_copy).build_spellindex()
    after = _reopened(spark, [base_copy], before)
    got = after.correct("rivr", k=5)
    assert got and got == SearchEngine(spark, base_copy).correct(
        "rivr", k=5
    )


def test_rebuild_between_opens_is_seen(spark, base_copy):
    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.tiered import TieredEngine

    kw = {"option_name": "bm25", "k": 10}
    before = TieredEngine(spark, [base_copy], cache_terms=64)
    old = _strip(before.query_response("river stone", **kw))
    rows = [_row(i) for i in range(20)]
    SearchEngine.build(
        spark,
        spark.createDataFrame(
            rows,
            "url string, warc_ts timestamp, html binary, text string, "
            "lang string",
        ),
        base_copy, stem=True, n_buckets=8, bucket_groups=1, salt_bits=2,
    )
    after = _reopened(spark, [base_copy], before)
    assert after.n == 20
    new = _strip(after.query_response("river stone", **kw))
    assert new != old
    assert new == _strip(
        SearchEngine(spark, base_copy).query_response("river stone", **kw)
    )


def test_snapshot_flip_between_opens_is_seen(spark, served, tmp_path):
    import os
    import shutil

    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.tiered import TieredEngine

    root = tmp_path / "root"
    root.mkdir()
    shutil.copytree(served.single.index_dir, str(root / "v_a"))
    shutil.copytree(served.compacted.index_dir, str(root / "v_b"))
    (root / "current").write_text("v_a")
    kw = {"option_name": "bm25", "k": 10}
    before = TieredEngine(spark, [str(root)], cache_terms=64)
    assert before.n == served.single.n
    (root / "current.tmp").write_text("v_b")
    os.replace(root / "current.tmp", root / "current")
    after = _reopened(spark, [str(root)], before)
    assert after.n == served.compacted.n != served.single.n
    assert _strip(after.query_response("river stone", **kw)) == _strip(
        SearchEngine(spark, str(root)).query_response("river stone", **kw)
    )


def test_republish_reads_no_index_segment_table(
    spark, crawled, tmp_path, monkeypatch
):
    """A takedown republish over unchanged index segments reads no
    pq.read_table of theirs (only the new deletes segment's docids),
    and opens the same segment list as fresh readers do."""
    import numpy as np
    import pyarrow.parquet as pq

    from wiki_search_engine_spark.tiered import (
        TieredEngine, write_deletes_segment,
    )

    (base, _t, _s), (batch, _t2, _s2) = crawled.tiered.segments
    gone = [int(base.sorted_docids()[4]), int(batch.sorted_docids()[0])]
    del0 = write_deletes_segment(str(tmp_path / "del0"), docids=gone[:1])
    del1 = write_deletes_segment(str(tmp_path / "del1"), docids=gone)
    segments = [base.index_dir, batch.index_dir]
    held = TieredEngine(spark, segments + [del0])
    read_table = pq.read_table

    def only_the_deletes(source, *args, **kwargs):
        assert str(source).startswith(del1), source
        return read_table(source, *args, **kwargs)

    monkeypatch.setattr(pq, "read_table", only_the_deletes)
    te = TieredEngine(spark, segments + [del1])
    monkeypatch.undo()
    fresh = TieredEngine(spark, segments + [del1], cache_terms=3)
    for (a, _ta, _sa), (b, _tb, _sb), (c, _tc, _sc) in zip(
        held.segments, te.segments, fresh.segments
    ):
        assert a is b and b is not c
    assert (te.n, te.total_length, te.overridden) == (
        fresh.n, fresh.total_length, fresh.overridden
    )
    assert te.overridden >= 2
    for (_a, ta, sa), (_b, tb, sb) in zip(te.segments, fresh.segments):
        assert np.array_equal(ta, tb) and sa == sb
    for _name, query, kwargs in REQUESTS:
        kw = {"k": 10, **kwargs}
        assert _strip(te.query_response(query, **kw)) == _strip(
            fresh.query_response(query, **kw)
        )


def test_overridden_doc_stats_equal_filtered_read(spark, served, tmp_path):
    """The point read of overridden docs' stats equals a filtered read
    of the whole doc_stats table, on the salted layout and on a legacy
    flat one."""
    import os
    import shutil

    import numpy as np
    import pyarrow.parquet as pq

    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.tiered import _overridden_doc_stats

    flat = str(tmp_path / "flat")
    shutil.copytree(served.single.index_dir, flat)
    table = pq.read_table(f"{flat}/doc_stats").drop(["salt"])
    shutil.rmtree(f"{flat}/doc_stats")
    os.makedirs(f"{flat}/doc_stats")
    pq.write_table(
        table, f"{flat}/doc_stats/part-0.parquet", row_group_size=10
    )
    ids = served.single.sorted_docids()
    for tombs in (
        np.unique(np.concatenate([ids[::5], ids[:3] + 1, [1, 2**62 + 7]])),
        np.array([1, 2**62 + 7], np.int64),
    ):
        for eng in (served.single, SearchEngine(spark, flat)):
            want = pq.read_table(
                f"{eng.index_dir}/doc_stats",
                columns=["docid", "doc_len"],
                filters=[("docid", "in", tombs.tolist())],
            )
            found, len_rm = _overridden_doc_stats(eng, tombs)
            assert np.array_equal(
                found, np.unique(want.column("docid").to_numpy())
            )
            assert found.size == (ids[::5].size if tombs.size > 2 else 0)
            assert len_rm == int(want.column("doc_len").to_numpy().sum())
