"""HTTP surface e2e — mirrors the reference's supertest suites
(backend/__tests__/queryRoute.test.js:7-22: 200 with textResult array +
parseable searchTime for a valid query, success:false for blank;
emptyQuery.test.js:14-17) against a live local server."""

import json
import urllib.error
import urllib.parse
import urllib.request

import pytest


@pytest.fixture(scope="module")
def server(engine):
    from wiki_search_engine_spark.server import start_server

    srv = start_server(engine, port=0, path_mode="local")
    yield srv
    srv.shutdown()


def _get(server, path_qs):
    port = server.server_address[1]
    return urllib.request.urlopen(
        f"http://127.0.0.1:{port}{path_qs}", timeout=30
    )


def test_valid_query_returns_documents(server, fixture_queries):
    q = urllib.parse.quote(fixture_queries[0])
    with _get(server, f"/query-stem?query={q}&optionName=tfidf") as r:
        assert r.status == 200
        assert r.headers["Content-Type"] == "application/json"
        body = json.loads(r.read())
    assert isinstance(body["textResult"], list) and body["textResult"]
    assert not (float(body["searchTime"]) != float(body["searchTime"]))
    assert isinstance(body["imageResult"], list)
    assert body["profile"]["measures"]


def test_bm25_option(server, fixture_queries):
    q = urllib.parse.quote(fixture_queries[0])
    with _get(server, f"/query-stem?query={q}&optionName=BM25&k=3") as r:
        body = json.loads(r.read())
    assert len(body["textResult"]) <= 3
    scores = [d["score"] for d in body["textResult"]]
    assert scores == sorted(scores, reverse=True)


def test_empty_query_is_400(server):
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(server, "/query-stem?query=" + urllib.parse.quote("   "))
    assert ei.value.code == 400
    body = json.loads(ei.value.read())
    assert body == {"success": False, "result": [], "error": "Empty query"}


def test_missing_query_param_is_400(server):
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(server, "/query-stem")
    assert ei.value.code == 400
    assert json.loads(ei.value.read())["success"] is False


def test_unknown_route_404_and_health(server):
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(server, "/nope")
    assert ei.value.code == 404
    with _get(server, "/health") as r:
        assert json.loads(r.read()) == {"ok": True}


def test_concurrent_requests(server, fixture_queries):
    """ThreadingHTTPServer: parallel requests all succeed (the reference
    serves concurrent users; the driver-local path has no Spark-job
    serialization)."""
    import concurrent.futures

    def one(q):
        qq = urllib.parse.quote(q)
        with _get(server, f"/query-stem?query={qq}&k=5") as r:
            return json.loads(r.read())["textResult"] is not None

    qs = [q for q in fixture_queries[:4] if q.strip()] * 3
    with concurrent.futures.ThreadPoolExecutor(max_workers=6) as ex:
        assert all(ex.map(one, qs))


def test_server_over_tiered_engine(spark, engine, index_dir):
    """SearchServer serves a TieredEngine unmodified (single segment ==
    the plain index): the reference contract holds over segments too."""
    from wiki_search_engine_spark.server import start_server
    from wiki_search_engine_spark.tiered import TieredEngine

    srv = start_server(
        TieredEngine(spark, [index_dir]), port=0, path_mode="local"
    )
    try:
        q = urllib.parse.quote("document body words")
        with _get(srv, f"/query-stem?query={q}&optionName=bm25&k=3") as r:
            assert r.status == 200
            body = json.loads(r.read())
        assert isinstance(body["textResult"], list)
        with pytest.raises(urllib.error.HTTPError) as ei:
            _get(srv, "/query-stem?query=%20")
        assert ei.value.code == 400
        # the static-rank boost serves single indexes only: a client
        # error with the 400 body, not an opaque 500
        with pytest.raises(urllib.error.HTTPError) as ei:
            _get(srv, f"/query-stem?query={q}&optionName=bm25&boost=static")
        assert ei.value.code == 400
        assert json.loads(ei.value.read()) == {
            "success": False, "result": [],
            "error": "boost is single-index serving only",
        }
    finally:
        srv.shutdown()


def test_semantics_param_over_http(server, fixture_queries, engine):
    """&semantics=and returns only docs containing every term; default
    stays the reference's OR."""
    q2 = urllib.parse.quote(fixture_queries[0] + " " + fixture_queries[1])
    with _get(server, f"/query-stem?query={q2}&optionName=bm25"
                      f"&semantics=and&k=50") as r:
        and_body = json.loads(r.read())
    with _get(server, f"/query-stem?query={q2}&optionName=bm25&k=50") as r:
        or_body = json.loads(r.read())
    and_ids = {d["file_id"] for d in and_body["textResult"]}
    or_ids = {d["file_id"] for d in or_body["textResult"]}
    assert and_ids and and_ids <= or_ids
    exp = {
        str(d)
        for d, _ in engine.search_local(
            fixture_queries[0] + " " + fixture_queries[1],
            k=50, semantics="and",
        )
    }
    assert and_ids == exp


def test_pagination_over_http(server, fixture_queries):
    """&page=N&resultsPerPage=M replays the reference client's slice
    (react-app/src/App.js:145-147) server-side: pages partition the
    full top-k in order, carry totalResults, and page past the end is
    empty; an unpaged request keeps the reference response shape."""
    q = urllib.parse.quote(fixture_queries[0])
    with _get(server, f"/query-stem?query={q}&optionName=bm25&k=10") as r:
        full = json.loads(r.read())
    assert "page" not in full and "totalResults" not in full

    pages = []
    for page in (1, 2, 3, 99):
        with _get(
            server,
            f"/query-stem?query={q}&optionName=bm25&k=10"
            f"&page={page}&resultsPerPage=4",
        ) as r:
            pages.append(json.loads(r.read()))
    for i, body in enumerate(pages[:3], start=1):
        assert body["page"] == i and body["resultsPerPage"] == 4
        assert body["totalResults"]["text"] == len(full["textResult"])
        start = (i - 1) * 4
        assert [d["file_id"] for d in body["textResult"]] == [
            d["file_id"] for d in full["textResult"][start:start + 4]
        ]
        assert body["imageResult"] == full["imageResult"][start:start + 4]
    assert pages[3]["textResult"] == [] and pages[3]["imageResult"] == []
    # junk page param degrades to the unpaged reference shape, not a 500
    with _get(
        server, f"/query-stem?query={q}&k=5&page=xx&resultsPerPage=2"
    ) as r:
        body = json.loads(r.read())
    assert r.status == 200 and "page" not in body


def test_suggest_over_http(server, engine):
    body = json.loads(_get(server, "/suggest?prefix=s&k=5").read())
    assert body["success"] is True
    exp = [{"term": t, "df": df} for t, df in engine.suggest("s", k=5)]
    assert body["result"] == exp
    assert len(body["result"]) <= 5


def test_suggest_blank_prefix_is_400(server):
    import urllib.error

    try:
        _get(server, "/suggest?prefix=%20%21")
        raise AssertionError("expected HTTP 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400
        assert json.loads(e.read()) == {
            "success": False, "result": [], "error": "Empty query",
        }


def test_highlight_over_http(server, fixture_queries, engine):
    import urllib.parse

    q = urllib.parse.quote(fixture_queries[1])
    with _get(
        server, f"/query-stem?query={q}&optionName=bm25&highlight=true"
    ) as r:
        body = json.loads(r.read())
    terms = set(engine.analyze(fixture_queries[1]))
    marked = [
        d["chunkedBody"] for d in body["textResult"]
        if "<em>" in d["chunkedBody"]
    ]
    assert marked, "no snippet carried a highlight"
    import re as _re

    for chunk in marked:
        for word in _re.findall(r"<em>([^<]+)</em>", chunk):
            from wiki_search_engine_spark.functions.analyzer import (
                tokens_for,
            )

            toks = tokens_for(word, engine.analyzer)
            assert toks and toks[0] in terms, word
    # unflagged requests keep the raw snippet
    with _get(server, f"/query-stem?query={q}&optionName=bm25") as r:
        body2 = json.loads(r.read())
    assert all(
        "<em>" not in d["chunkedBody"] for d in body2["textResult"]
    )


def test_leading_wildcard_over_http(server, engine):
    """'*er' over /query-stem ranks exactly like search_local once the
    reversed-lexicon sidecar exists; the docs hydrate normally."""
    engine.build_lexicon_rev()
    q = urllib.parse.quote("*er")
    with _get(server, f"/query-stem?query={q}&optionName=bm25") as r:
        assert r.status == 200
        body = json.loads(r.read())
    exp = engine.search_local("*er", k=10)
    assert exp, "vocabulary should contain -er terms"
    got_ids = [int(d["file_id"]) for d in body["textResult"]]
    assert got_ids == [d for d, _s in exp][: len(got_ids)]
