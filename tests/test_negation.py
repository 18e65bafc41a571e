"""Lucene-style NOT (-term) queries: split semantics, operator vs
brute force, local == exhaustive identity, tiered parity, HTTP/CLI
opt-in behavior."""

import pytest

from wiki_search_engine_spark.functions.analyzer import split_negations


def test_split_negations_shapes():
    assert split_negations("a b -c") == ("a b", "c")
    assert split_negations("-x -y z") == ("z", "x y")
    assert split_negations("state-of-the-art a") == (
        "state-of-the-art a", ""
    )
    assert split_negations("a - b") == ("a - b", "")  # bare dash stays
    assert split_negations("") == ("", "")
    assert split_negations("-only") == ("", "only")


@pytest.fixture(scope="module")
def neg_query(fixture_queries, engine):
    """A positive 2-term query plus an exclusion that actually removes
    some of its top docs (head term as exclusion guarantees overlap)."""
    from wiki_search_engine_spark.sources.synth import vocabulary

    words, _ = vocabulary(42)
    pos = f"{words[3]} {words[50]}"
    neg = words[0]  # Zipf-head term: overlaps many result docs
    return pos, neg


def _brute_not(engine, pos, neg, k=50):
    """Expected result: score the positive query big-k, drop docs that
    contain the excluded term (membership from the engine's own
    postings read), cut to k."""
    base = engine.search_local(pos, k=engine.n, mode="bm25")
    exc = set(engine._live_docids(engine.analyze(neg)).tolist())
    kept = [(d, s) for d, s in base if d not in exc]
    return kept[:k]


def test_local_negation_matches_bruteforce(engine, neg_query):
    pos, neg = neg_query
    got = engine.search_local(f"{pos} -{neg}", k=10, negation=True)
    exp = _brute_not(engine, pos, neg, k=10)
    assert got == exp
    # and the exclusion actually bit: plain != negated
    plain = engine.search_local(pos, k=10)
    assert plain != got


def test_negation_off_keeps_legacy_bag(engine, neg_query):
    """Without the flag, '-term' keeps the reference reading: the
    analyzer strips '-' and the term contributes POSITIVELY."""
    pos, neg = neg_query
    legacy = engine.search_local(f"{pos} -{neg}", k=10)
    bag = engine.search_local(f"{pos} {neg}", k=10)
    assert legacy == bag


def test_exhaustive_negation_identity(engine, neg_query):
    pos, neg = neg_query
    local = engine.search_local(f"{pos} -{neg}", k=10, negation=True)
    dist = [
        (int(r["docid"]), float(r["score"]))
        for r in engine.search_ids(
            f"{pos} -{neg}", k=10, path="exhaustive", negation=True
        ).collect()
    ]
    assert len(local) == len(dist)
    for (ld, ls), (dd, ds) in zip(local, dist):
        assert ld == dd
        assert ls == pytest.approx(ds, rel=1e-9)


def test_wand_negation_downgrades(engine, neg_query):
    pos, neg = neg_query
    local = engine.search_local(f"{pos} -{neg}", k=10, negation=True)
    wand = [
        (int(r["docid"]), float(r["score"]))
        for r in engine.search_ids(
            f"{pos} -{neg}", k=10, path="wand", negation=True
        ).collect()
    ]
    assert [d for d, _ in wand] == [d for d, _ in local]


def test_negation_and_semantics(engine, neg_query):
    pos, neg = neg_query
    got = engine.search_local(
        f"{pos} -{neg}", k=10, semantics="and", negation=True
    )
    base = engine.search_local(pos, k=engine.n, semantics="and")
    exc = set(engine._live_docids(engine.analyze(neg)).tolist())
    exp = [(d, s) for d, s in base if d not in exc][:10]
    assert got == exp


def test_negation_contradiction_and_pure_not(engine, neg_query):
    pos, neg = neg_query
    # +t AND -t empties
    assert engine.search_local(
        f"{neg} -{neg}", k=10, negation=True
    ) == []
    # pure NOT query ranks nothing
    assert engine.search_local(f"-{neg}", k=10, negation=True) == []
    # excluding an absent term is a no-op
    got = engine.search_local(
        f"{pos} -zzznotaterm", k=10, negation=True
    )
    assert got == engine.search_local(pos, k=10)


def test_tiered_negation_matches_single(
    spark, engine, corpus_df, neg_query, tmp_path
):
    """A 2-segment tiered view over a split of the same corpus must
    produce the same NOT results as the compacted index."""
    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.tiered import TieredEngine

    pos, neg = neg_query
    half = corpus_df.count() // 2
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    w = corpus_df.withColumn(
        "_r", F.row_number().over(Window.orderBy("url"))
    )
    a = w.filter(F.col("_r") <= half).drop("_r")
    b = w.filter(F.col("_r") > half).drop("_r")
    ea = SearchEngine.build(
        spark, a, str(tmp_path / "seg_a"), stem=True,
        n_buckets=16, bucket_groups=1, salt_bits=2,
    )
    eb = SearchEngine.build(
        spark, b, str(tmp_path / "seg_b"), stem=True,
        n_buckets=16, bucket_groups=1, salt_bits=2,
    )
    teng = TieredEngine(spark, [ea.index_dir, eb.index_dir])
    q = f"{pos} -{neg}"
    got = teng.search_local(q, k=10, negation=True)
    exp = engine.search_local(q, k=10, negation=True)
    assert len(got) == len(exp)
    for (gd, gs), (ed, es) in zip(got, exp):
        assert gd == ed
        assert gs == pytest.approx(es, rel=1e-9)
    # DISTRIBUTED tiered path: exclusion rides the tombstone mask
    dist = [
        (int(r["docid"]), float(r["score"]))
        for r in teng.search_ids(q, k=10, negation=True).collect()
    ]
    assert [d for d, _ in dist] == [d for d, _ in exp]
    for (dd, ds), (ed, es) in zip(dist, exp):
        assert ds == pytest.approx(es, rel=1e-9)
    # AND + NOT on the distributed tiered path
    got_and = [
        (int(r["docid"]), float(r["score"]))
        for r in teng.search_ids(
            q, k=10, semantics="and", negation=True
        ).collect()
    ]
    exp_and = engine.search_local(
        q, k=10, semantics="and", negation=True
    )
    assert [d for d, _ in got_and] == [d for d, _ in exp_and]


def test_negation_over_http(spark, engine, neg_query):
    import json
    import urllib.parse
    import urllib.request

    from wiki_search_engine_spark.server import start_server

    pos, neg = neg_query
    srv = start_server(engine, port=0, path_mode="local")
    try:
        port = srv.server_address[1]
        q = urllib.parse.quote(f"{pos} -{neg}")
        base = f"http://127.0.0.1:{port}/query-stem?query={q}"
        with urllib.request.urlopen(
            base + "&optionName=tfidf&negation=true", timeout=30
        ) as r:
            on = json.load(r)
        with urllib.request.urlopen(
            base + "&optionName=tfidf", timeout=30
        ) as r:
            off = json.load(r)
        exp = engine.search_local(
            f"{pos} -{neg}", k=50, mode="tfidf", negation=True
        )
        got_ids = [int(x["file_id"]) for x in on["textResult"]]
        assert got_ids == [d for d, _ in exp[: len(got_ids)]]
        # without the flag: legacy bag reading (different results)
        assert off["textResult"] != on["textResult"]
    finally:
        srv.shutdown()


def test_tiered_wildcard_matches_single(
    spark, engine, corpus_df, tmp_path
):
    """Append-only segment list: wildcard expansion (summed stored df
    == live df) and scoring equal the compacted index."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.sources.synth import vocabulary
    from wiki_search_engine_spark.tiered import TieredEngine

    half = corpus_df.count() // 2
    w = corpus_df.withColumn(
        "_r", F.row_number().over(Window.orderBy("url"))
    )
    ea = SearchEngine.build(
        spark, w.filter(F.col("_r") <= half).drop("_r"),
        str(tmp_path / "wc_a"), stem=True,
        n_buckets=16, bucket_groups=1, salt_bits=2,
    )
    eb = SearchEngine.build(
        spark, w.filter(F.col("_r") > half).drop("_r"),
        str(tmp_path / "wc_b"), stem=True,
        n_buckets=16, bucket_groups=1, salt_bits=2,
    )
    teng = TieredEngine(spark, [ea.index_dir, eb.index_dir])
    words, _ = vocabulary(42)
    pattern = words[3][:2] + "*"
    assert teng.expand_wildcard(pattern) == engine.expand_wildcard(
        pattern
    )
    q = f"{pattern} {words[50]}"
    got = teng.search_local(q, k=10)
    exp = engine.search_local(q, k=10)
    assert [d for d, _ in got] == [d for d, _ in exp]
    for (gd, gs), (ed, es) in zip(got, exp):
        assert gs == pytest.approx(es, rel=1e-9)


def test_must_semantics_all_paths(engine, neg_query):
    """+term MUST: OR scoring gated on required-term membership —
    brute-force identity, local == exhaustive == wand-downgrade,
    MUST+NOT composition, absent-+term empties."""
    pos, neg = neg_query
    w3, w50 = pos.split()
    q = f"+{w3} {w50}"
    got = engine.search_local(q, k=10, negation=True)
    base = engine.search_local(pos, k=engine.n)
    req_docs = {d for d, _ in engine.search_local(w3, k=engine.n)}
    exp = [(d, s) for d, s in base if d in req_docs][:10]
    assert got == exp
    # the gate provably bites with a rare +term: only the handful of
    # docs containing it survive, while plain OR backfills to k
    rare_docs = {
        d for d, _ in engine.search_local("rare7x0", k=engine.n)
    }
    assert 0 < len(rare_docs) < 10
    gated = engine.search_local(
        f"+rare7x0 {pos}", k=10, negation=True
    )
    assert {d for d, _ in gated} <= rare_docs
    assert len(engine.search_local(f"rare7x0 {pos}", k=10)) == 10
    dist = [
        (int(r["docid"]), float(r["score"]))
        for r in engine.search_ids(
            q, k=10, path="exhaustive", negation=True
        ).collect()
    ]
    assert [d for d, _ in dist] == [d for d, _ in got]
    for (dd, ds), (gd, gs) in zip(dist, got):
        assert ds == pytest.approx(gs, rel=1e-9)
    wand = [
        int(r["docid"])
        for r in engine.search_ids(
            q, k=10, path="wand", negation=True
        ).collect()
    ]
    assert wand == [d for d, _ in got]
    # MUST + NOT compose
    exc = set(engine._live_docids(engine.analyze(neg)).tolist())
    got2 = engine.search_local(f"{q} -{neg}", k=10, negation=True)
    exp2 = [
        (d, s) for d, s in base if d in req_docs and d not in exc
    ][:10]
    assert got2 == exp2
    # absent required term empties
    assert engine.search_local(
        f"+zzznotaterm {w50}", k=5, negation=True
    ) == []


def test_must_tiered_matches_single(
    spark, engine, corpus_df, neg_query, tmp_path
):
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.tiered import TieredEngine

    pos, _neg = neg_query
    w3, w50 = pos.split()
    half = corpus_df.count() // 2
    w = corpus_df.withColumn(
        "_r", F.row_number().over(Window.orderBy("url"))
    )
    ea = SearchEngine.build(
        spark, w.filter(F.col("_r") <= half).drop("_r"),
        str(tmp_path / "must_a"), stem=True,
        n_buckets=16, bucket_groups=1, salt_bits=2,
    )
    eb = SearchEngine.build(
        spark, w.filter(F.col("_r") > half).drop("_r"),
        str(tmp_path / "must_b"), stem=True,
        n_buckets=16, bucket_groups=1, salt_bits=2,
    )
    teng = TieredEngine(spark, [ea.index_dir, eb.index_dir])
    q = f"+{w3} {w50}"
    exp = engine.search_local(q, k=10, negation=True)
    got = teng.search_local(q, k=10, negation=True)
    assert len(got) == len(exp) and got
    for (gd, gs), (ed, es) in zip(got, exp):
        assert gd == ed
        assert gs == pytest.approx(es, rel=1e-9)
    dist = [
        (int(r["docid"]), float(r["score"]))
        for r in teng.search_ids(q, k=10, negation=True).collect()
    ]
    assert [d for d, _ in dist] == [d for d, _ in exp]


def test_split_boolean_partition_property():
    """Every whitespace token lands in exactly one bucket, prefix
    stripped, order preserved — fuzzed over prefix-heavy alphabets."""
    from hypothesis import given
    from hypothesis import strategies as st

    from wiki_search_engine_spark.functions.analyzer import (
        split_boolean,
    )

    @given(
        st.lists(
            st.text(alphabet="ab+-", min_size=1, max_size=4),
            max_size=8,
        )
    )
    def check(tokens):
        q = " ".join(tokens)
        should, must, neg = split_boolean(q)
        exp_should, exp_must, exp_neg = [], [], []
        for t in tokens:
            if t.startswith("-") and len(t) > 1:
                exp_neg.append(t[1:])
            elif t.startswith("+") and len(t) > 1:
                exp_must.append(t[1:])
            else:
                exp_should.append(t)
        assert should.split() == [s for s in exp_should if s]
        assert must.split() == exp_must
        assert neg.split() == exp_neg

    check()


@pytest.fixture()
def overlap_terms():
    """(excluded, other): a mid-tail exclusion that removes some of
    other's docs but not all (the Zipf-head term would legitimately
    empty an 80-doc corpus)."""
    from wiki_search_engine_spark.sources.synth import vocabulary

    words, _ = vocabulary(42)
    return words[20], words[50]


def test_should_overlap_drops_term_keeps_exclusion(
    engine, overlap_terms
):
    """Lucene overlap rule: 'a b -a' is NOT a contradiction — 'a' drops
    from the SHOULD set and the exclusion stands, so the query behaves
    exactly like 'b -a' (stemming collisions like 'run -runs' must not
    silently empty valid queries)."""
    neg, other = overlap_terms
    got = engine.search_local(
        f"{neg} {other} -{neg}", k=10, negation=True
    )
    exp = engine.search_local(f"{other} -{neg}", k=10, negation=True)
    assert got == exp and got  # non-empty: the b-only docs survive
    # distributed paths agree
    for path in ("exhaustive", "wand"):
        dist = [
            (int(r["docid"]), float(r["score"]))
            for r in engine.search_ids(
                f"{neg} {other} -{neg}", k=10, path=path,
                negation=True,
            ).collect()
        ]
        assert [d for d, _ in dist] == [d for d, _ in got]


def test_required_overlap_is_contradiction(engine, overlap_terms):
    """'+t ... -t' IS a genuine contradiction (term required and
    excluded): empty result on every path; same under semantics='and'
    where every term is implicitly required."""
    neg, other = overlap_terms
    q = f"+{neg} {other} -{neg}"
    assert engine.search_local(q, k=10, negation=True) == []
    assert (
        engine.search_ids(
            q, k=10, path="exhaustive", negation=True
        ).count()
        == 0
    )
    assert (
        engine.search_local(
            f"{neg} {other} -{neg}", k=10, semantics="and",
            negation=True,
        )
        == []
    )


def test_overlap_rule_tiered(
    spark, engine, corpus_df, overlap_terms, tmp_path
):
    """The overlap rule holds on tiered local AND tiered distributed."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.tiered import TieredEngine

    neg, other = overlap_terms
    half = corpus_df.count() // 2
    w = corpus_df.withColumn(
        "_r", F.row_number().over(Window.orderBy("url"))
    )
    ea = SearchEngine.build(
        spark, w.filter(F.col("_r") <= half).drop("_r"),
        str(tmp_path / "ov_a"), stem=True,
        n_buckets=16, bucket_groups=1, salt_bits=2,
    )
    eb = SearchEngine.build(
        spark, w.filter(F.col("_r") > half).drop("_r"),
        str(tmp_path / "ov_b"), stem=True,
        n_buckets=16, bucket_groups=1, salt_bits=2,
    )
    teng = TieredEngine(spark, [ea.index_dir, eb.index_dir])
    q = f"{neg} {other} -{neg}"
    got = teng.search_local(q, k=10, negation=True)
    exp = engine.search_local(q, k=10, negation=True)
    assert [d for d, _ in got] == [d for d, _ in exp] and got
    dist = [
        (int(r["docid"]), float(r["score"]))
        for r in teng.search_ids(q, k=10, negation=True).collect()
    ]
    assert [d for d, _ in dist] == [d for d, _ in exp]
    # contradiction still contradicts on both tiered paths
    qc = f"+{neg} {other} -{neg}"
    assert teng.search_local(qc, k=10, negation=True) == []
    assert teng.search_ids(qc, k=10, negation=True).count() == 0
