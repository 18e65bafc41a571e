"""Spark engine vs pure-Python oracle: rank identity + index invariants.

Mirrors the reference's test intent (SURVEY §5): scoring monotonicity and
schema checks (backend/__tests__/scoringBM25.test.js, indexDocRetrieval
.test.js) — strengthened to full rank-identity against the oracle.
"""

import math

import pytest
from pyspark.sql import functions as F

from tests.conftest import assert_one_file_per_bucket, assert_rank_identical


@pytest.mark.parametrize("mode", ["bm25", "tfidf"])
@pytest.mark.parametrize("path", ["wand", "exhaustive", "local"])
def test_rank_identity(engine, oracle, fixture_queries, mode, path):
    for q in fixture_queries:
        exp = oracle.search(q, k=10, mode=mode)
        got = [
            (r["docid"], r["score"])
            for r in engine.search_ids(q, k=10, mode=mode, path=path).collect()
        ]
        assert_rank_identical(got, exp)


def test_wand_equals_exhaustive_at_k50(engine, fixture_queries):
    for q in fixture_queries[:4]:
        a = engine.search_ids(q, k=50, mode="bm25", path="wand").collect()
        b = engine.search_ids(
            q, k=50, mode="bm25", path="exhaustive"
        ).collect()
        assert [r["docid"] for r in a] == [r["docid"] for r in b]
        for x, y in zip(a, b):
            assert math.isclose(x["score"], y["score"], rel_tol=1e-9)


def test_corpus_stats_match_oracle(engine, oracle):
    assert engine.n == oracle.n_docs
    assert math.isclose(engine.avgdl, oracle.avgdl, rel_tol=1e-12)
    assert engine.total_length == sum(oracle.doc_len.values())


def test_index_invariants(spark, engine, oracle, index_dir):
    from wiki_search_engine_spark.operators.postings import decode_postings_df

    postings = spark.read.parquet(f"{index_dir}/postings")
    flat = decode_postings_df(postings).cache()
    # df == posting-list length (Q7) and matches oracle
    df_check = {
        r["term"]: r["n"]
        for r in flat.groupBy("term").agg(F.count("*").alias("n")).collect()
    }
    stored_df = {
        r["term"]: r["df"]
        for r in postings.groupBy("term")
        .agg(F.sum("df_shard").alias("df"))
        .collect()
    }
    assert df_check == stored_df
    oracle_df = {t: len(p) for t, p in oracle.postings.items()}
    assert df_check == oracle_df
    # sum(tf per doc) == doc_len (every row of the doc agrees)
    bad = (
        flat.groupBy("docid")
        .agg(
            F.sum("tf").alias("sum_tf"), F.first("doc_len").alias("doc_len")
        )
        .filter(F.col("sum_tf") != F.col("doc_len"))
        .count()
    )
    assert bad == 0
    # postings docid-sorted within each (term, salt) shard
    rows = postings.select("term", "salt", "blocks").collect()
    for r in rows:
        firsts = [b["first_docid"] for b in r["blocks"]]
        lasts = [b["last_docid"] for b in r["blocks"]]
        assert firsts == sorted(firsts)
        assert all(f <= l for f, l in zip(firsts, lasts))
        assert all(lasts[i] < firsts[i + 1] for i in range(len(firsts) - 1))
    flat.unpersist()


def test_empty_query_errors(engine):
    from wiki_search_engine_spark.engine import EmptyQueryError

    # reference: 400 {success:false,error:'Empty query'}
    # (queryController.js:21-25)
    with pytest.raises(EmptyQueryError):
        engine.search_ids("   ")


def test_hydration(engine, oracle, fixture_queries):
    q = fixture_queries[1]
    rows = engine.search(q, k=5).collect()
    exp = oracle.search(q, k=5)
    assert [r["docid"] for r in rows] == [d for d, _ in exp]
    for r in rows:
        assert r["url"].startswith("https://en.wikipedia.org/wiki/Doc_")
        assert r["title"] == r["url"].rsplit("/", 1)[1]
        assert isinstance(r["snippet"], str)


def test_snippet_semantics(spark):
    """cut_the_article: chars of first <=3 lines until the 2nd '.',
    inclusive (insertScript.py:8-24)."""
    from wiki_search_engine_spark.functions.textstats import snippet

    cases = [
        ("One. Two. Three.", "One. Two."),
        ("no dots at all\nsecond line\nthird\nfourth",
         "no dots at allsecond linethird"),
        ("a.\nb.\nc.", "a.b."),
        ("only one dot.", "only one dot."),
    ]
    df = spark.createDataFrame([(t,) for t, _ in cases], "text string")
    got = [r[0] for r in df.select(snippet(F.col("text"))).collect()]
    assert got == [w for _, w in cases]


def test_resume_skips_completed_units(spark, corpus_df, tmp_path):
    import json

    from wiki_search_engine_spark.plans.build import build_index
    from wiki_search_engine_spark.plans.manifest import Manifest

    d = str(tmp_path / "idx")
    m = build_index(
        spark, corpus_df, d, n_buckets=8, bucket_groups=2, salt_bits=1
    )
    assert m.is_done("all")
    # simulate a crash after group 0: drop completion of group 1 + all
    entries = json.load(open(f"{d}/manifest.json"))
    before_g1 = dict(entries)
    del before_g1["postings_g1"]
    del before_g1["all"]
    json.dump(before_g1, open(f"{d}/manifest.json", "w"))
    tok_done_at = entries["tokens"]["finished_at"]
    m2 = build_index(
        spark, corpus_df, d, n_buckets=8, bucket_groups=2, salt_bits=1,
        resume=True,
    )
    # completed units were NOT recomputed (same finished_at), missing one was
    assert m2.entries["tokens"]["finished_at"] == tok_done_at
    assert m2.is_done("postings_g1") and m2.is_done("all")
    # index is complete and loadable
    from wiki_search_engine_spark.engine import SearchEngine

    eng = SearchEngine.load(spark, d)
    assert eng.n > 0


def test_ner_index_rank_identity(spark, corpus_rows, tmp_path):
    """Entity-analyzer plug end-to-end: ner-built index answers entity
    queries rank-identically to the oracle with the same analyzer."""
    import pandas as pd

    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.operators.tokenize import with_docid
    from wiki_search_engine_spark.oracle_py.oracle import IndexOracle

    rows = corpus_rows[:30]
    # planted stopword-bridged entities: the r3 analyzer extension must
    # index and retrieve them end-to-end, not just in unit tests
    rows = rows + [
        dict(
            rows[0],
            url="https://en.wikipedia.org/wiki/Bridged_A",
            text="Title: Bridged A\nThe Bank of America tower opened. "
                 "Many visited Bank of America branches nearby.",
        ),
        dict(
            rows[1],
            url="https://en.wikipedia.org/wiki/Bridged_B",
            text="Title: Bridged B\nThe University of California hosted "
                 "a fair near Bank of America plaza.",
        ),
    ]
    corpus_df = spark.createDataFrame(pd.DataFrame(rows))
    eng = SearchEngine.build(
        spark, corpus_df, str(tmp_path / "ner_index"),
        n_buckets=8, bucket_groups=1, salt_bits=1, analyzer="ner",
    )
    assert eng.analyzer == "ner"

    oracle = IndexOracle(analyzer="ner")
    iddf = with_docid(corpus_df, "url").select("docid", "text").collect()
    for r in iddf:
        oracle.add_document(r["docid"], r["text"])

    # pick an entity phrase actually present in a doc (synth capitalizes
    # ~10% of words, so capitalized bigrams occur)
    from wiki_search_engine_spark.functions.analyzer import ner_tokens

    phrase = next(
        t for r in rows for t in ner_tokens(r["text"]) if " " in t
    )
    for q in [phrase, f"{phrase} xyznotaword", "Some Words here",
              "Bank of America", "University of California"]:
        exp = oracle.search(q, k=10, mode="bm25")
        got = [
            (r["docid"], r["score"])
            for r in eng.search_ids(q, k=10, mode="bm25", path="wand")
            .collect()
        ]
        from tests.conftest import assert_rank_identical

        assert_rank_identical(got, exp)
    # local path answers the phrase query identically too
    loc = eng.search_local(phrase, k=10, mode="bm25")
    exp = oracle.search(phrase, k=10, mode="bm25")
    assert_rank_identical(loc, exp)
    # the bridged-entity phrase must actually hit the planted docs
    # (rank-identity alone would also pass on two empty result sets)
    assert len(eng.search_local("Bank of America", k=10)) >= 2


def test_docs_image_metadata_parity(spark, engine, corpus_rows, index_dir,
                                    docid_map):
    """JVM image extraction in the docs stage == the python reference
    (functions/extraction.py extract_image_srcs), ids <file_id>-<i>."""
    from wiki_search_engine_spark.functions.extraction import (
        extract_image_srcs,
    )

    docs = {
        r["docid"]: r
        for r in spark.read.parquet(f"{index_dir}/docs").collect()
    }
    n_with_images = 0
    for row in corpus_rows:
        docid = docid_map[row["url"]]
        exp = extract_image_srcs(row["html"].decode("utf-8"))
        got = docs[docid]["images"]
        assert [g["src"] for g in got] == exp
        assert [g["image_id"] for g in got] == [
            f"{docid}-{j}" for j in range(len(exp))
        ]
        assert docs[docid]["image_count"] == len(exp)
        n_with_images += bool(exp)
    assert n_with_images > 0  # synth actually produces images


def test_image_results_flatten(engine, fixture_queries):
    ids = engine.image_results(fixture_queries[0], k=5)
    assert all("-" in i for i in ids)
    rows = engine.search(
        fixture_queries[0], k=5, with_images=True
    ).collect()
    assert sum(r["image_count"] for r in rows) == len(ids)


def test_build_from_raw_html(spark, corpus_rows, tmp_path, docid_map):
    """Rows with text=NULL are ingested via the extraction UDF: the
    resulting index equals one built from pre-extracted text."""
    import pandas as pd

    from wiki_search_engine_spark.engine import SearchEngine

    rows = [dict(r) for r in corpus_rows[:20]]
    withtext = spark.createDataFrame(pd.DataFrame(rows))
    for r in rows:
        r["text"] = None
    raw = spark.createDataFrame(pd.DataFrame(rows)).withColumn(
        "text", __import__("pyspark.sql.functions", fromlist=["lit"])
        .lit(None).cast("string")
    )
    a = SearchEngine.build(
        spark, withtext, str(tmp_path / "a"), n_buckets=8,
        bucket_groups=1, salt_bits=1,
    )
    b = SearchEngine.build(
        spark, raw, str(tmp_path / "b"), n_buckets=8,
        bucket_groups=1, salt_bits=1,
    )
    assert a.n == 20 and (a.n, a.total_length) == (b.n, b.total_length)
    from wiki_search_engine_spark.sources.synth import vocabulary

    w, _ = vocabulary(42)
    qa = a.search_local(f"{w[0]} {w[3]}", k=10)
    qb = b.search_local(f"{w[0]} {w[3]}", k=10)
    assert qa and qa == qb


def test_query_response_shape(engine, fixture_queries):
    """Reference HTTP response contract (queryController.js:11-59)."""
    r = engine.query_response(fixture_queries[0], option_name="BM25", k=5)
    assert set(r) >= {"imageResult", "textResult", "searchTime", "profile"}
    assert r["textResult"] and all(
        set(d) >= {"docId", "chunkedBody", "url", "file_id", "score"}
        for d in r["textResult"]
    )
    scores = [d["score"] for d in r["textResult"]]
    assert scores == sorted(scores, reverse=True)  # scoringBM25.test.js
    names = [m["name"] for m in r["profile"]["measures"]]
    assert names[:3] == ["validate_input", "stem_query", "get_documents"]
    assert names[-1] == "total_request"
    snap = r["profile"]["sysSnapshot"]  # profiler.js:20-29 shape
    assert set(snap) == {
        "rss_mb", "heapUsed_mb", "heapTotal_mb", "eventLoopDelay_ms",
    }
    assert snap["rss_mb"] > 0
    assert engine.query_response("   ") == {
        "success": False, "result": [], "error": "Empty query",
    }
    # unknown optionName falls back to tfidf (queryController.js:19)
    r2 = engine.query_response(fixture_queries[0], option_name="weird", k=3)
    assert r2["textResult"]


def test_search_many_matches_individual(engine, fixture_queries):
    """Batch path: each query's rows in the one-job batch result equal
    its individual search_ids ranking (incl. empty/absent queries
    contributing no rows)."""
    batch = engine.search_many(fixture_queries, k=10, mode="bm25")
    got = {}
    for r in batch.collect():
        got.setdefault(r["query_id"], []).append((r["docid"], r["score"]))
    for i, q in enumerate(fixture_queries):
        try:
            exp = [
                (r["docid"], r["score"])
                for r in engine.search_ids(
                    q, k=10, mode="bm25", path="wand"
                ).collect()
            ]
        except Exception:
            exp = []
        assert got.get(i, []) == exp, f"query {i}: {q!r}"


def test_build_text_only_corpus(spark, corpus_rows, tmp_path):
    """A corpus with no html column (pre-extracted text) must build and
    serve; image metadata degrades to empty arrays (ADVICE r1: the docs
    stage previously referenced F.col('html') unconditionally)."""
    import pandas as pd

    from wiki_search_engine_spark.engine import SearchEngine

    rows = [{"url": r["url"], "text": r["text"]} for r in corpus_rows[:20]]
    eng = SearchEngine.build(
        spark,
        spark.createDataFrame(pd.DataFrame(rows)),
        str(tmp_path / "textonly"),
        stem=True, n_buckets=8, bucket_groups=1, salt_bits=1,
    )
    query = rows[0]["text"].split()[0]
    hits = eng.search(query, k=5, with_images=True).collect()
    assert hits
    assert all(r["image_count"] == 0 and r["images"] == [] for r in hits)


def test_engine_rejects_old_format_version(spark, engine, index_dir,
                                           tmp_path):
    """format_version mismatch -> clear error, not a confusing path or
    schema failure deep in the serving path."""
    import json
    import shutil

    import pytest as _pytest

    from wiki_search_engine_spark.engine import SearchEngine

    old = str(tmp_path / "oldfmt")
    shutil.copytree(index_dir, old)
    with open(f"{old}/meta.json") as f:
        meta = json.load(f)
    meta["format_version"] = 1
    with open(f"{old}/meta.json", "w") as f:
        json.dump(meta, f)
    with _pytest.raises(ValueError, match="format_version"):
        SearchEngine.load(spark, old)


def test_local_cache_rank_identical_and_bounded(spark, engine, index_dir,
                                                fixture_queries):
    """cache_terms LRU: identical results to the uncached path on every
    fixture query (first and repeated hits), cache size stays bounded."""
    from wiki_search_engine_spark.engine import SearchEngine

    cached = SearchEngine.load(spark, index_dir)
    cached._cache_cap = 8
    for q in fixture_queries:
        try:
            exp = engine.search_local(q, k=10)
        except Exception:
            continue
        assert cached.search_local(q, k=10) == exp, q
        assert cached.search_local(q, k=10) == exp, q  # cache hit path
        assert len(cached._term_cache) <= 8
    cached.clear_cache()
    assert not cached._term_cache


def test_and_semantics(spark, engine, oracle, fixture_queries):
    """Conjunctive retrieval: every AND result contains every query
    term; AND results are a subset of OR results with identical scores;
    a query with an absent term returns nothing."""
    q = fixture_queries[0] + " " + fixture_queries[1]
    terms = engine.analyze(q)
    got_and = {
        r["docid"]: r["score"]
        for r in engine.search_ids(
            q, k=50, mode="bm25", semantics="and"
        ).collect()
    }
    got_or = {
        r["docid"]: r["score"]
        for r in engine.search_ids(
            q, k=500, mode="bm25", path="exhaustive"
        ).collect()
    }
    assert got_and
    for d, s in got_and.items():
        assert abs(got_or[d] - s) < 1e-9
        assert all(d in oracle.postings[t] for t in terms), d
    # OR-only docs (missing some term) are excluded
    partial = [
        d for d in got_or
        if not all(d in oracle.postings[t] for t in terms)
    ]
    assert all(d not in got_and for d in partial)
    assert (
        engine.search_ids(
            f"{fixture_queries[0]} zzznotaword", semantics="and"
        ).count() == 0
    )


def test_and_semantics_local_path(engine, fixture_queries):
    """The driver-local AND intersection scorer equals the exhaustive
    AND path, rank and score."""
    import math

    q = fixture_queries[0] + " " + fixture_queries[1]
    exp = [
        (r["docid"], r["score"])
        for r in engine.search_ids(
            q, k=20, mode="bm25", path="exhaustive", semantics="and"
        ).collect()
    ]
    got = engine.search_local(q, k=20, mode="bm25", semantics="and")
    assert [d for d, _ in got] == [d for d, _ in exp]
    for (_, a), (_, b) in zip(got, exp):
        assert math.isclose(a, b, rel_tol=1e-9)
    assert engine.search_local(
        f"{fixture_queries[0]} zzznotaword", semantics="and"
    ) == []


def test_fresh_rebuild_clears_stale_buckets(spark, tmp_path):
    """A non-resume rebuild into an existing index_dir must not inherit
    ghost postings: dynamic partition overwrite only rewrites bucket
    dirs the new corpus touches, so stale ones are cleared up front."""
    import pandas as pd

    from wiki_search_engine_spark.engine import SearchEngine

    d = str(tmp_path / "idx")
    rows_a = [
        {"url": f"https://x/a{i}", "text": f"alphaword{i % 7} shared"}
        for i in range(40)
    ]
    rows_b = [{"url": "https://x/b0", "text": "betaword solo"}]
    SearchEngine.build(
        spark, spark.createDataFrame(pd.DataFrame(rows_a)), d,
        stem=False, n_buckets=8, bucket_groups=1, salt_bits=1,
    )
    eng = SearchEngine.build(
        spark, spark.createDataFrame(pd.DataFrame(rows_b)), d,
        stem=False, n_buckets=8, bucket_groups=1, salt_bits=1,
    )
    assert eng.n == 1
    terms = {
        r["term"]
        for r in spark.read.parquet(f"{d}/term_stats").collect()
    }
    assert terms == {"betaword", "solo"}  # no ghost alphaword* terms
    assert eng.search_local("alphaword0", k=5) == []
    assert eng.search_local("betaword", k=5)


def test_negative_external_docid_fails_build(spark, tmp_path):
    """A pre-keyed corpus with a negative docid must fail the build
    loudly (tokenize kernel contract check) — a negative id would be
    salted inconsistently between the build's unsigned shift and the
    driver lookups' arithmetic shift, making the doc silently
    unfindable (ADVICE r2)."""
    import pandas as pd
    import pytest as _p

    from wiki_search_engine_spark.engine import SearchEngine

    df = spark.createDataFrame(
        pd.DataFrame(
            [
                {"docid": 5, "url": "https://x/a", "text": "alpha beta"},
                {"docid": -3, "url": "https://x/b", "text": "gamma delta"},
            ]
        )
    )
    with _p.raises(Exception, match="negative docid"):
        SearchEngine.build(
            spark, df, str(tmp_path / "negid"), stem=True,
            n_buckets=4, bucket_groups=1, salt_bits=1,
        )


def test_salt_of_matches_unsigned_shift(spark):
    """Driver-side salt derivation must equal Spark's
    shiftrightunsigned for NEGATIVE docids too (legacy pre-r3 indexes
    could contain them; arithmetic >> would compute a negative salt and
    miss the doc's salt directory — r3 review finding)."""
    from wiki_search_engine_spark.engine import salt_of

    ids = [0, 1, 5, 2**62, 2**63 - 1, -1, -5, -(2**62), -(2**63)]
    for bits in (1, 2, 3):
        exp = {
            r["d"]: r["s"]
            for r in spark.createDataFrame(
                [(d,) for d in ids], "d long"
            ).selectExpr(
                "d", f"cast(shiftrightunsigned(d, {63 - bits}) as long) s"
            ).collect()
        }
        for d in ids:
            assert salt_of(d, bits) == exp[d], (d, bits)


def test_suggest_matches_oracle(engine, oracle):
    """suggest == the lexicon's prefix top-k by (df desc, term asc),
    for every 1- and 2-char prefix present in the fixture vocab."""
    lex = [(t, len(p)) for t, p in oracle.postings.items()]
    prefixes = sorted({t[:1] for t, _ in lex} | {t[:2] for t, _ in lex})
    for p in prefixes:
        exp = sorted(
            [(t, df) for t, df in lex if t.startswith(p)],
            key=lambda x: (-x[1], x[0]),
        )[:10]
        assert engine.suggest(p, k=10) == exp, p


def test_suggest_normalizes_and_rejects_blank(engine):
    from wiki_search_engine_spark.engine import EmptyQueryError
    import pytest as _p

    got = engine.suggest("s", k=5)
    assert engine.suggest("  S!? ", k=5) == got  # case/punct normalized
    with _p.raises(EmptyQueryError):
        engine.suggest("   !!!   ")
    with _p.raises(EmptyQueryError):
        engine.suggest("")


def test_suggest_agrees_with_distributed_form(spark, engine, corpus_df):
    """The driver range-scan path == the distributed term_df form
    (q_term_prefix_topk's shape) over the same built index."""
    from pyspark.sql import functions as F

    lex = spark.read.parquet(f"{engine.index_dir}/term_stats")
    for p in ("s", "b", "re"):
        exp = [
            (r["term"], r["df"])
            for r in lex.filter(F.col("term").startswith(p))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(7)
            .collect()
        ]
        assert engine.suggest(p, k=7) == exp, p


def test_wildcard_expansion_terms(engine):
    exp_terms = [t for t, _df in engine.suggest("s", k=128)]
    assert engine.expand_query_terms("s*") == exp_terms
    # mixed bag + wildcard: analyzed bag first, expansions appended,
    # order-preserving dedupe; '*'-free queries equal plain analyze
    bag = engine.analyze("running table")
    mixed = engine.expand_query_terms("running table s*")
    assert mixed[: len(bag)] == bag
    assert mixed[len(bag):] == [t for t in exp_terms if t not in bag]
    assert engine.expand_query_terms("plain text") == engine.analyze(
        "plain text"
    )
    # bare '*' and unknown prefixes expand to nothing, not errors
    assert engine.expand_query_terms("zzzzq*") == []


def test_wildcard_search_matches_manual_or(engine, oracle):
    """search_local('s*') == BM25 OR over every lexicon term with the
    prefix, scored against the pure-Python oracle's postings."""
    import math

    K1, B = 1.5, 0.75
    terms = [t for t, _df in engine.suggest("s", k=128)]
    scores: dict = {}
    for t in dict.fromkeys(terms):
        pl = oracle.postings.get(t, {})
        if not pl:
            continue
        idf = math.log(
            (oracle.n_docs - len(pl) + 0.5) / (len(pl) + 0.5) + 1
        )
        for d, tf in pl.items():
            dl = oracle.doc_len[d]
            scores[d] = scores.get(d, 0.0) + idf * tf * (K1 + 1) / (
                tf + K1 * (1 - B + B * dl / oracle.avgdl)
            )
    exp = sorted(scores.items(), key=lambda r: (-r[1], r[0]))[:10]
    got = engine.search_local("s*", k=10)
    assert [(d, round(s, 9)) for d, s in got] == [
        (d, round(s, 9)) for d, s in exp
    ]


def test_wildcard_distributed_matches_local(engine):
    """Wildcard expansion is identical across serving paths: the wand
    and exhaustive DataFrame paths rank exactly like search_local."""
    exp = [
        (d, round(s, 6)) for d, s in engine.search_local("s*", k=8)
    ]
    for path in ("wand", "exhaustive"):
        got = [
            (r["docid"], round(r["score"], 6))
            for r in engine.search_ids("s*", k=8, path=path)
            .orderBy("score", ascending=False)
            .collect()
        ]
        got.sort(key=lambda r: (-r[1], r[0]))
        assert got == exp, path


def test_wildcard_leading_and_infix(engine, spark):
    """Leading/infix wildcards: the reversed-lexicon sidecar turns
    ``*ing`` into a term_rev prefix range; matches equal a full-lexicon
    regex scan ranked by (df desc, term asc), capped at 128. Without
    the sidecar, suffix-anchored patterns fail with the revindex
    remedy; prefix-anchored patterns never need it."""
    import os
    import re
    import shutil

    from pyspark.sql import functions as F

    rev_dir = f"{engine.index_dir}/lexicon_rev"
    shutil.rmtree(rev_dir, ignore_errors=True)
    engine._datasets.pop("lexicon_rev", None)
    with pytest.raises(FileNotFoundError, match="revindex"):
        engine.expand_wildcard("*ing")
    # trailing patterns keep working without the sidecar
    assert engine.expand_wildcard("s*")

    engine.build_lexicon_rev()
    assert os.path.isdir(rev_dir)
    lex = [
        (r["term"], int(r["df"]))
        for r in spark.read.parquet(
            f"{engine.index_dir}/term_stats"
        ).collect()
    ]
    for pattern in ("*ing", "*e", "s*e", "b*k"):
        rx = re.compile(
            "^" + ".*".join(map(re.escape, pattern.split("*"))) + "$"
        )
        exp = sorted(
            ((t, df) for t, df in lex if rx.match(t)),
            key=lambda td: (-td[1], td[0]),
        )[:128]
        assert engine.expand_wildcard(pattern) == exp, pattern
    # no range anchor ('*', '**', '*a*') -> the token is skipped at
    # query level (expanding would be a full lexicon scan), never an
    # error; bare-star and unanchored-infix behave alike
    from wiki_search_engine_spark.engine import EmptyQueryError

    with pytest.raises(EmptyQueryError):
        engine.expand_wildcard("*a*")
    assert engine.expand_query_terms("** plain") == engine.analyze(
        "plain"
    )
    assert engine.expand_query_terms("*a* plain") == engine.analyze(
        "plain"
    )


def test_wildcard_leading_search_paths_agree(engine):
    """search_local('*ing') == the distributed wand/exhaustive paths:
    expansion happens once, driver-side, identically for all three."""
    engine.build_lexicon_rev()
    exp = [
        (d, round(s, 6)) for d, s in engine.search_local("*ing", k=8)
    ]
    assert exp, "synthetic vocabulary should have -ing terms"
    for path in ("wand", "exhaustive"):
        got = [
            (r["docid"], round(r["score"], 6))
            for r in engine.search_ids("*ing", k=8, path=path).collect()
        ]
        got.sort(key=lambda r: (-r[1], r[0]))
        assert got == exp, path


def test_lexicon_rev_staleness_detected(engine):
    """A lexicon_rev left behind after term_stats changed must FAIL
    LOUDLY at leading-wildcard time, not silently expand against the
    old vocabulary (ADVICE r4): the sidecar carries a fingerprint of
    the term_stats files, checked once per engine instance."""
    import glob
    import os

    engine.build_lexicon_rev()
    engine._lexrev_stamp_ok = None
    assert engine.expand_wildcard("*ing")  # fresh: serves fine
    # simulate an in-place lexicon rewrite: bump a term_stats mtime
    part = sorted(
        glob.glob(f"{engine.index_dir}/term_stats/**/*.parquet",
                  recursive=True)
    )[0]
    st = os.stat(part)
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    engine._lexrev_stamp_ok = None
    with pytest.raises(FileNotFoundError, match="STALE"):
        engine.expand_wildcard("*ing")
    # rebuild restamps and serving resumes
    engine.build_lexicon_rev()
    assert engine.expand_wildcard("*ing")


# -- cached-footer point reads (lookup_docs / term_df / term lists) ------
def _direct_rows(d, key, values, columns):
    """The reference read: pyarrow dataset discovery + filter pushdown
    over one directory, as the engine did before footers were cached."""
    import os

    import pyarrow.parquet as pq

    if not os.path.isdir(d):
        return []
    return pq.read_table(
        d, columns=columns, filters=[(key, "in", values)]
    ).to_pylist()


def _docs_query_ids(index_dir, docid_map, salt_bits):
    """Ids spread over every salt dir, plus an unknown id in a present
    salt dir and a (legacy negative) id whose salt dir does not exist."""
    import os

    from wiki_search_engine_spark.engine import salt_of

    known = sorted(docid_map.values())
    present = {
        int(e.split("=")[1])
        for e in os.listdir(f"{index_dir}/docs")
        if e.startswith("salt=")
    }
    assert {salt_of(d, salt_bits) for d in known} == present
    unknown = next(d + 1 for d in known if d + 1 not in docid_map.values())
    absent_salt = -5
    assert not os.path.isdir(
        f"{index_dir}/docs/salt={salt_of(absent_salt, salt_bits)}"
    )
    return known[::3] + [unknown, absent_salt]


@pytest.mark.parametrize("with_images", [True, False])
def test_lookup_docs_matches_direct_read(spark, engine, index_dir,
                                         docid_map, with_images):
    from wiki_search_engine_spark.engine import SearchEngine, salt_of

    eng = SearchEngine(spark, index_dir)
    ids = _docs_query_ids(index_dir, docid_map, eng.salt_bits)
    cols = ["docid", "url", "title", "snippet"]
    if with_images:
        cols += ["images", "image_count"]
    by_salt: dict = {}
    for d in ids:
        by_salt.setdefault(salt_of(d, eng.salt_bits), []).append(d)
    exp = [
        row
        for s, ss in by_salt.items()
        for row in _direct_rows(f"{index_dir}/docs/salt={s}", "docid",
                                ss, cols)
    ]
    assert len(exp) == len(ids) - 2
    for _ in range(2):  # first touch, then the cached footers
        assert eng.lookup_docs(ids, with_images=with_images) == exp


def test_lookup_docs_legacy_layout_prunes_row_groups(spark, engine,
                                                   index_dir, docid_map,
                                                   tmp_path):
    """A legacy unpartitioned docs table (files directly under docs/),
    written docid-sorted in many row groups so the cached min/max skip
    most of them, hydrates exactly like the direct filtered read."""
    import os
    import shutil

    import pyarrow.parquet as pq

    from wiki_search_engine_spark.engine import SearchEngine

    copy = str(tmp_path / "idx")
    shutil.copytree(index_dir, copy)
    flat = pq.read_table(f"{copy}/docs").drop(["salt"]).sort_by("docid")
    shutil.rmtree(f"{copy}/docs")
    os.makedirs(f"{copy}/docs")
    pq.write_table(flat, f"{copy}/docs/part-0.parquet", row_group_size=8)
    eng = SearchEngine(spark, copy)
    ids = _docs_query_ids(index_dir, docid_map, eng.salt_bits)
    cols = ["docid", "url", "title", "snippet", "images", "image_count"]
    exp = _direct_rows(f"{copy}/docs", "docid", ids, cols)
    assert len(exp) == len(ids) - 2
    assert eng.lookup_docs(ids) == exp
    [(_path, md, ranges)] = eng._footer_index("docs", "docid")
    assert md.num_row_groups == len(ranges) > 1
    assert eng.lookup_docs(ids[:1]) == [r for r in exp if r["docid"] == ids[0]]


def test_term_reads_match_direct_read(spark, engine, index_dir, tmp_path):
    """term_df and _cached_term_lists vs direct reads: present terms,
    absent terms, and terms whose bucket directory is missing."""
    import shutil

    import pyarrow.parquet as pq

    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.operators.postings import term_bucket

    copy = str(tmp_path / "idx")
    shutil.copytree(index_dir, copy)
    lexicon = sorted(
        pq.read_table(f"{copy}/term_stats", columns=["term"])
        .column("term").to_pylist()
    )
    gone = term_bucket(lexicon[0], engine.n_buckets)
    shutil.rmtree(f"{copy}/term_stats/bucket={gone}")
    shutil.rmtree(f"{copy}/postings/bucket={gone}")
    eng = SearchEngine(spark, copy)
    terms = lexicon[::7] + ["zzqqxxnotaterm", "qqzzjjabsent"]
    assert any(term_bucket(t, eng.n_buckets) == gone for t in terms)
    by_bucket: dict = {}
    for t in terms:
        by_bucket.setdefault(term_bucket(t, eng.n_buckets), []).append(t)
    exp_df: dict = {}
    exp_lists = {t: (0, []) for t in terms}
    for b, ts in by_bucket.items():
        for r in _direct_rows(f"{copy}/term_stats/bucket={b}", "term",
                              ts, ["term", "df"]):
            exp_df[r["term"]] = int(r["df"])
        for r in _direct_rows(f"{copy}/postings/bucket={b}", "term", ts,
                              ["term", "salt", "blocks"]):
            _df, lists = exp_lists[r["term"]]
            exp_lists[r["term"]] = (
                exp_df[r["term"]], lists + [(r["salt"], r["blocks"])]
            )
    assert exp_df and all(t in exp_df for t in lexicon[::7]
                          if term_bucket(t, eng.n_buckets) != gone)
    assert not any(term_bucket(t, eng.n_buckets) == gone for t in exp_df)
    for _ in range(2):
        assert eng.term_df(terms) == exp_df
        assert eng._cached_term_lists(terms) == exp_lists


def test_cold_term_list_reads_one_postings_file(spark, engine, index_dir,
                                                monkeypatch):
    """The build writes one postings file per bucket directory, and a
    cold _cached_term_lists([t]) opens exactly that one file: df comes
    from the postings rows, so no term_stats file is touched."""
    import pyarrow.parquet as pq

    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.sources.synth import vocabulary

    assert_one_file_per_bucket(index_dir)
    term = engine.analyze(vocabulary(42)[0][3])[0]
    exp_df = engine.term_df([term])[term]
    eng = SearchEngine(spark, index_dir)
    touched: list = []
    opened: list = []

    def wrap(fn, seen):
        def inner(path, *args, **kwargs):
            seen.append(str(path))
            return fn(path, *args, **kwargs)
        return inner

    monkeypatch.setattr(pq, "ParquetFile", wrap(pq.ParquetFile, opened))
    monkeypatch.setattr(pq, "read_metadata", wrap(pq.read_metadata, touched))
    df, lists = eng._cached_term_lists([term])[term]
    assert df == exp_df > 0 and lists
    assert len(opened) == 1 and "/postings/bucket=" in opened[0]
    assert not any("term_stats" in p for p in opened + touched)


def test_lookup_docs_concurrent_threads(spark, engine, index_dir,
                                        docid_map):
    """8 threads hydrating at once — racing the first touch of every
    salt directory — all get the single-threaded rows."""
    import sys
    import threading

    from wiki_search_engine_spark.engine import SearchEngine

    ids = sorted(docid_map.values())[::2]
    exp = SearchEngine(spark, index_dir).lookup_docs(ids)
    eng = SearchEngine(spark, index_dir)
    start = threading.Barrier(8)
    results: list = []

    def work():
        start.wait(timeout=30)
        for _ in range(5):
            results.append(eng.lookup_docs(ids))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=work) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(results) == 40 and all(r == exp for r in results)


def _direct_doc_rows(index_dir, ids, salt_bits, with_images):
    """test_lookup_docs_matches_direct_read's expectation: per salt
    directory in first-request order, the direct filtered read."""
    from wiki_search_engine_spark.engine import salt_of

    cols = ["docid", "url", "title", "snippet"]
    if with_images:
        cols += ["images", "image_count"]
    by_salt: dict = {}
    for d in ids:
        by_salt.setdefault(salt_of(d, salt_bits), []).append(d)
    return [
        row
        for s, ss in by_salt.items()
        for row in _direct_rows(f"{index_dir}/docs/salt={s}", "docid",
                                ss, cols)
    ]


def _docs_row_groups(index_dir, ids, salt_bits):
    """The docids of each docs row group whose footer docid min/max
    can hold one of ``ids`` (each id looked up in its own salt
    directory), read directly: one list per row group."""
    import os

    import pyarrow.parquet as pq

    from wiki_search_engine_spark.engine import salt_of

    by_salt: dict = {}
    for d in ids:
        by_salt.setdefault(salt_of(d, salt_bits), []).append(d)
    out = []
    for s, ss in by_salt.items():
        sub = f"{index_dir}/docs/salt={s}"
        for name in sorted(os.listdir(sub)) if os.path.isdir(sub) else []:
            if name.startswith((".", "_")):
                continue
            with pq.ParquetFile(f"{sub}/{name}") as pf:
                md = pf.metadata
                j = next(i for i in range(md.num_columns)
                         if md.schema.column(i).path == "docid")
                for g in range(md.num_row_groups):
                    st = md.row_group(g).column(j).statistics
                    if any(st.min <= d <= st.max for d in ss):
                        out.append(pf.read_row_group(g, columns=["docid"])
                                   .column("docid").to_pylist())
    return out


@pytest.mark.parametrize("cache_terms", [0, 4, 1024])
def test_lookup_docs_cached_equals_direct_read(spark, engine, index_dir,
                                              docid_map, monkeypatch,
                                              cache_terms):
    """Hydration through the per-docid row cache returns the direct
    read's rows on a first lookup and on a repeat, with and without
    images, for known, unknown and absent-salt ids. The cache never
    holds more than ``cache_terms`` ids; with room to spare it holds
    every row of the docs row groups the lookups read, a repeat of a
    fully cached id set opens no parquet file, and clear_cache()
    empties it."""
    import pyarrow.parquet as pq

    from wiki_search_engine_spark.engine import SearchEngine

    eng = SearchEngine(spark, index_dir, cache_terms=cache_terms)
    ids = _docs_query_ids(index_dir, docid_map, eng.salt_bits)
    for with_images in (True, False):
        exp = _direct_doc_rows(index_dir, ids, eng.salt_bits, with_images)
        assert len(exp) == len(ids) - 2
        for _ in range(2):
            got = eng.lookup_docs(ids, with_images=with_images)
            assert got == exp
            assert len(eng._doc_cache) <= cache_terms
            got[0]["url"] = "mutated"  # callers own what they get
    hot = list(eng._doc_cache)
    if cache_terms < len(ids):
        assert len(hot) == min(cache_terms, len(ids))
    else:  # the requested ids and their row groups' co-decoded rows
        read = set(ids).union(
            *_docs_row_groups(index_dir, ids, eng.salt_bits)
        )
        assert set(hot) <= read
        assert len(hot) == min(cache_terms, len(read)) > len(ids)
    exp_hot = {
        w: _direct_doc_rows(index_dir, hot, eng.salt_bits, w)
        for w in (True, False)
    }

    def boom(*a, **kw):
        raise AssertionError("parquet file opened for a cached row")

    monkeypatch.setattr(pq, "ParquetFile", boom)
    for w in (True, False):
        assert eng.lookup_docs(hot, with_images=w) == exp_hot[w]
    monkeypatch.undo()
    eng.clear_cache()
    assert not eng._doc_cache
    assert eng.lookup_docs(ids) == _direct_doc_rows(
        index_dir, ids, eng.salt_bits, True
    )


def test_lookup_docs_concurrent_threads_evicting(spark, engine, index_dir,
                                                 docid_map):
    """test_lookup_docs_concurrent_threads with a row cache smaller than
    the id set: 8 threads race cache inserts and evictions, and every
    result is still the single-threaded rows."""
    import sys
    import threading

    from wiki_search_engine_spark.engine import SearchEngine

    ids = sorted(docid_map.values())[::2]
    exp = SearchEngine(spark, index_dir).lookup_docs(ids)
    eng = SearchEngine(spark, index_dir, cache_terms=len(ids) // 3)
    start = threading.Barrier(8)
    results: list = []

    def work():
        start.wait(timeout=30)
        for _ in range(5):
            results.append(eng.lookup_docs(ids))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=work) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(results) == 40 and all(r == exp for r in results)
    assert 0 < len(eng._doc_cache) <= len(ids) // 3


def test_cold_reader_decodes_each_docs_row_group_once(
    spark, engine, index_dir, docid_map, monkeypatch
):
    """With room for every doc, hydrating each docid alone opens one
    parquet reader per docs row group: the rows a read decodes beside
    the requested one fill the cache, so no row group is read twice."""
    import pyarrow.parquet as pq

    from wiki_search_engine_spark.engine import SearchEngine

    ids = sorted(docid_map.values())
    eng = SearchEngine(spark, index_dir, cache_terms=len(ids))
    groups = _docs_row_groups(index_dir, ids, eng.salt_bits)
    assert sorted(d for g in groups for d in g) == ids
    exp = {
        r["docid"]: r for r in SearchEngine(spark, index_dir).lookup_docs(ids)
    }
    opened: list = []
    real = pq.ParquetFile

    def counting(path, *args, **kwargs):
        opened.append(str(path))
        return real(path, *args, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    got = {}
    for d in ids:
        [row] = eng.lookup_docs([d])
        got[d] = row
    monkeypatch.undo()
    assert got == exp
    assert len(opened) == len(groups) and all("/docs/" in p for p in opened)
    assert len(eng._doc_cache) == len(ids)


def _assert_spares_yield(eng, index_dir, requests, cap, salt_bits):
    """Runs ``requests`` (id lists) through ``eng.lookup_docs`` one
    thread's worth: each answer equals the direct read, the requested
    ids are cached after their call, the cache never exceeds ``cap``,
    and a call evicts an id that was ever requested only when no
    never-requested (co-decoded) row is left in the cache. Returns how
    many calls left co-decoded rows cached and how many evicted a
    requested id."""
    asked: set = set()
    kept = evicted = 0
    for ids in requests:
        with eng._cache_lock:
            before = set(eng._doc_cache)
        assert eng.lookup_docs(ids) == _direct_doc_rows(
            index_dir, ids, salt_bits, True
        )
        asked |= set(ids)
        with eng._cache_lock:
            after = set(eng._doc_cache)
        assert set(ids) <= after and len(after) <= cap
        kept += bool(after - asked)
        if (before - after) & asked:
            evicted += 1
            assert after <= asked
    return kept, evicted


def test_co_decoded_rows_never_evict_requested(spark, engine, index_dir,
                                               docid_map):
    """A row cache smaller than a salt file: every requested row is
    cached after its lookup, co-decoded rows only fill free slots at the
    cold end (they never evict a requested row and are evicted first),
    and every answer equals the direct read."""
    import random

    from wiki_search_engine_spark.engine import SearchEngine, salt_of

    ids = sorted(docid_map.values())
    salt_bits = engine.salt_bits
    groups = _docs_row_groups(index_dir, ids, salt_bits)
    cap = 6
    assert cap < min(len(g) for g in groups)
    eng = SearchEngine(spark, index_dir, cache_terms=cap)
    rng = random.Random(5)
    requests = [rng.sample(ids, rng.randint(1, 3)) for _ in range(30)]
    kept, evicted = _assert_spares_yield(
        eng, index_dir, requests, cap, salt_bits
    )
    assert kept and evicted  # both rules were exercised

    # two requests from two salt directories: the first fills the
    # cache with its row group's rows behind it, the second evicts
    # exactly as many of those as it needs and leaves the rest coldest
    eng.clear_cache()
    by_salt: dict = {}
    for d in ids:
        by_salt.setdefault(salt_of(d, salt_bits), []).append(d)
    sa, sb = sorted(by_salt)[:2]
    a1, a2 = by_salt[sa][:2]
    b1, b2 = by_salt[sb][:2]
    eng.lookup_docs([a1, a2])
    first = list(eng._doc_cache)
    assert len(first) == cap and first[-2:] == [a1, a2]
    assert set(first[:-2]) <= set(by_salt[sa]) - {a1, a2}
    eng.lookup_docs([b1, b2])
    assert list(eng._doc_cache) == first[2:-2] + [a1, a2, b1, b2]


def test_co_decoded_rows_never_evict_requested_threads(
    spark, engine, index_dir, docid_map
):
    """The same with 8 threads racing on one engine, each asking for one
    salt directory's ids and then another's: their answers equal the
    direct read, requested rows stay cached, and the co-decoded rows
    fill exactly the slots the requested ones leave."""
    import sys
    import threading

    from wiki_search_engine_spark.engine import SearchEngine, salt_of

    ids = sorted(docid_map.values())
    salt_bits = engine.salt_bits
    by_salt: dict = {}
    for d in ids:
        by_salt.setdefault(salt_of(d, salt_bits), []).append(d)
    first, second = (v[:2] for v in sorted(by_salt.values())[:2])
    cap = 6
    eng = SearchEngine(spark, index_dir, cache_terms=cap)
    start = threading.Barrier(8)
    errors: list = []

    def work():
        try:
            start.wait(timeout=30)
            _assert_spares_yield(
                eng, index_dir, [first, second] * 3, cap, salt_bits
            )
        except Exception as e:  # re-raised on the main thread
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=work) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[0]
    hot = set(eng._doc_cache)
    assert len(hot) == cap and set(first + second) <= hot


def test_point_reads_skip_dataset_discovery(spark, engine, index_dir,
                                            fixture_queries, monkeypatch):
    """After a first query, hydration, the lexicon and posting-list
    loads never go back to per-query pq.read_table dataset discovery."""
    import pyarrow.parquet as pq

    from wiki_search_engine_spark.engine import SearchEngine

    eng = SearchEngine(spark, index_dir)  # cache_terms=0: every call loads
    q = fixture_queries[1]
    terms = eng.analyze(q)
    hits = eng.search_local(q, k=10)
    assert hits
    ids = [d for d, _ in hits]
    exp = (eng.lookup_docs(ids), eng.term_df(terms),
           eng._cached_term_lists(terms))

    def boom(*a, **kw):
        raise AssertionError("per-query pq.read_table")

    monkeypatch.setattr(pq, "read_table", boom)
    assert eng.search_local(q, k=10) == hits
    assert (eng.lookup_docs(ids), eng.term_df(terms),
            eng._cached_term_lists(terms)) == exp
