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
