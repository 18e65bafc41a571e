"""Pure-Python core: Porter, analyzer, codec, extraction, synth."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from wiki_search_engine_spark.functions.analyzer import (
    analyze_query, base_tokens, full_tokens,
)
from wiki_search_engine_spark.functions.extraction import (
    extract_text, extract_title, normalize_title,
)
from wiki_search_engine_spark.functions.porter import porter_stem
from wiki_search_engine_spark.operators.codec import (
    decode_block, decode_posting_list, encode_postings, varbyte_decode,
    varbyte_encode,
)
from wiki_search_engine_spark.sources.synth import POISON, doc_html, doc_row


PORTER_CASES = {
    "caresses": "caress", "ponies": "poni", "ties": "ti", "cats": "cat",
    "feed": "feed", "agreed": "agre", "plastered": "plaster",
    "motoring": "motor", "sing": "sing", "sized": "size", "hopping": "hop",
    "falling": "fall", "hissing": "hiss", "failing": "fail",
    "filing": "file", "happy": "happi", "sky": "sky", "running": "run",
    "visited": "visit", "argentina": "argentina", "relational": "relat",
    "generalization": "gener", "obama": "obama",
}


def test_porter_known_cases():
    for word, want in PORTER_CASES.items():
        assert porter_stem(word) == want, word


def test_analyzer_base():
    # punctuation -> space, case folded, long digit runs dropped
    assert base_tokens("Hello, World! 123 123456789 don't") == [
        "hello", "world", "123", "don", "t",
    ]


def test_analyzer_full_stopwords_and_stem():
    # mirrors reference stemmingService.test.js expectations (obama, visit)
    toks = full_tokens("Barack Obama visited New York")
    assert "obama" in toks and "visit" in toks
    assert "the" not in full_tokens("the cat")


def test_query_dedup():
    # duplicate query terms never double-count (mongoService.js:18-30)
    assert analyze_query("messi messi Argentina") == ["messi", "argentina"]


def test_empty_and_whitespace_queries():
    assert analyze_query("   ") == []
    assert analyze_query("!!! ...") == []


@given(
    st.lists(st.integers(min_value=0, max_value=2**62), max_size=300)
)
@settings(max_examples=50, deadline=None)
def test_varbyte_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    assert (varbyte_decode(varbyte_encode(arr)) == arr).all()


@given(st.integers(min_value=1, max_value=400), st.integers(0, 2**31))
@settings(max_examples=25, deadline=None)
def test_block_roundtrip(n, seed):
    rng = np.random.default_rng(seed)
    docids = np.sort(rng.choice(2**45, size=n, replace=False))
    tfs = rng.integers(1, 50, n)
    dls = rng.integers(1, 3000, n)
    blocks = encode_postings(docids, tfs, dls, avgdl=500.0)
    d, t, dl = decode_posting_list(blocks)
    assert (d == docids).all() and (t == tfs).all() and (dl == dls).all()
    for b in blocks:
        bd, bt, bdl = decode_block(b)
        assert b["first_docid"] == bd[0] and b["last_docid"] == bd[-1]
        assert b["count"] == bd.size and b["max_tf"] == bt.max()
        assert (np.diff(bd) > 0).all()  # strictly docid-sorted
        # idf-FREE u bound (production/WAND contract; an idf-baked
        # value would be double-idf'd at query time -> unsound pruning)
        u = bt * 2.5 / (bt + 1.5 * (0.25 + 0.75 * bdl / 500.0))
        assert abs(b["max_score"] - u.max()) < 1e-12


def test_extraction_removes_decoys_and_formats_headings():
    html = doc_html(3)
    text = extract_text(html)
    assert POISON not in text
    # headings rendered \n## text\n, parts joined by \n\n (crawler.py:377-387)
    assert "\n## " in text or "\n### " in text
    assert extract_title(html) == "Doc 3 - Wikipedia"
    assert normalize_title("Doc 3 - Wikipedia") == "doc 3"


def test_extraction_fallback_branch():
    # doc 17 omits #mw-content-text -> get_text(' ', strip=True) fallback
    text = extract_text(doc_html(17))
    assert POISON not in text
    assert text.startswith("Doc 17 - Wikipedia")  # title text included


def test_synth_deterministic():
    a, b = doc_row(9), doc_row(9)
    assert a == b
    assert doc_row(9, seed=7)["html"] != a["html"]


def test_stored_text_byte_identical_to_extraction():
    # the input_hint contract: text == extract(html), byte-for-byte
    for i in (0, 1, 17, 34, 51):
        r = doc_row(i)
        assert extract_text(r["html"].decode("utf-8")) == r["text"]


def test_term_bucket_col_matches_python(spark):
    from pyspark.sql import functions as F

    from wiki_search_engine_spark.operators.postings import (
        term_bucket, term_bucket_col,
    )

    terms = ["table", "scan", "fast", "a", "Zq9", "rare123x0", "0001",
             "merge", "window", "spark"]
    rows = (
        spark.createDataFrame([(t,) for t in terms], "term string")
        .select("term", term_bucket_col(F.col("term"), 64).alias("b64"),
                term_bucket_col(F.col("term"), 16).alias("b16"))
        .collect()
    )
    for r in rows:
        assert r["b64"] == term_bucket(r["term"], 64), r["term"]
        assert r["b16"] == term_bucket(r["term"], 16), r["term"]


def test_ner_analyzer_reference_case():
    """Mirror of backend/__tests__/stemmingService.test.js:3-8 — the
    reference's own test expects entity-aware output."""
    from wiki_search_engine_spark.functions.analyzer import ner_tokens

    toks = ner_tokens("Barack Obama visited New York")
    assert "obama" in toks
    assert "visit" in toks          # non-entity word, Porter-stemmed
    assert "new york" in toks       # entity phrase
    assert "barack obama" in toks
    assert "barack" in toks and "new" in toks and "york" in toks
    # entity component words are not double-indexed via the stem pass
    assert "visited" not in toks


def test_ner_entity_words_skipped_in_stem_pass():
    from wiki_search_engine_spark.functions.analyzer import ner_tokens

    # 'York' appears both inside an entity and alone lowercase: the
    # lowercase occurrence is skipped (inverted_index.py:56-61 semantics)
    toks = ner_tokens("New York is big. york returns")
    assert toks.count("york") == 1
    assert "return" in toks


def test_ner_date_time_runs_are_not_entities():
    """The deterministic slice of spaCy's type filter: a capitalized
    run whose every core is a DATE/TIME word forms NO entity (the
    reference indexes only PERSON/ORG/GPE spans); the words still
    index through the normal Porter chain. Mixed runs survive."""
    from wiki_search_engine_spark.functions.analyzer import ner_tokens
    from wiki_search_engine_spark.functions.porter import porter_stem

    toks = ner_tokens("They met on Monday Morning to plan")
    assert "monday morning" not in toks
    assert porter_stem("monday") in toks
    assert porter_stem("morning") in toks

    toks2 = ner_tokens("Monday Night Football drew a crowd")
    assert "monday night football" in toks2

    # date word BRIDGED inside a real entity keeps the entity
    toks3 = ner_tokens("The September Institute opened")
    assert "september institute" in toks3


def test_extract_links_filters():
    from wiki_search_engine_spark.functions.extraction import extract_links

    html = (
        '<a href="/wiki/Foo">f</a><a href="https://other.com/x">o</a>'
        '<a href="/w/index.php?action=edit">e</a>'
        '<a href="/wiki/Special:Random">s</a><a href="/wiki/Foo">dup</a>'
        '<a href="ftp://en.wikipedia.org/f">ftp</a>'
    )
    got = extract_links(html, "https://en.wikipedia.org/wiki/Base")
    assert got == ["https://en.wikipedia.org/wiki/Foo"]


def test_link_table_over_synth(spark):
    from wiki_search_engine_spark.operators.tokenize import link_table
    from wiki_search_engine_spark.sources.synth import synth_corpus
    from wiki_search_engine_spark.functions.extraction import extract_links

    corpus = synth_corpus(spark, 12, partitions=2)
    edges = link_table(corpus).collect()
    assert edges, "synth docs should link out"
    by_src = {}
    for r in edges:
        by_src.setdefault(r["src_url"], []).append(r["dst_url"])
    rows = corpus.collect()
    for r in rows:
        exp = extract_links(
            r["html"].decode("utf-8"), base_url=r["url"]
        )
        assert by_src.get(r["url"], []) == exp
    # every edge is in-domain wikipedia
    assert all(
        r["dst_url"].startswith("https://en.wikipedia.org/wiki/")
        for r in edges
    )


def test_export_index_formats(spark, tmp_path):
    """S4-S6 sink parity: csv/json/tsv single-file exports with the
    reference's rename convention (Indexer/inverted_index.py:120-133)."""
    import json as _json

    import pytest as _pytest

    from wiki_search_engine_spark.sources import export as X

    df = spark.createDataFrame(
        [("alpha", 1, 2), ("beta", 3, 4)], "term string, tf int, df int"
    )
    p = X.export_index(df, str(tmp_path / "pq"), "parquet")
    assert spark.read.parquet(p).count() == 2

    f = X.export_index(df, str(tmp_path / "csv"), "csv", single_file=True)
    lines = open(f).read().strip().splitlines()
    assert lines[0] == "term,tf,df" and len(lines) == 3

    f = X.export_index(df, str(tmp_path / "tsv"), "tsv", single_file=True)
    assert f.endswith("inverted_index.txt")
    assert open(f).readline().rstrip("\n") == "term\ttf\tdf"

    f = X.export_index(df, str(tmp_path / "js"), "json", single_file=True)
    rows = [_json.loads(ln) for ln in open(f)]
    assert {r["term"] for r in rows} == {"alpha", "beta"}

    with _pytest.raises(ValueError, match="fmt"):
        X.export_index(df, str(tmp_path / "x"), "orc")

    X.SINGLE_FILE_MAX_ROWS, saved = 1, X.SINGLE_FILE_MAX_ROWS
    try:
        with _pytest.raises(ValueError, match="refused"):
            X.export_index(df, str(tmp_path / "y"), "csv", single_file=True)
    finally:
        X.SINGLE_FILE_MAX_ROWS = saved


def test_bounded_postings_rows(spark):
    """MAX_POSTINGS_PER_ROW splits oversized (term, salt) groups into
    several rows. Forced tiny cap: splits appear, every row stays under
    the cap, decode/df/top-k are identical to the uncapped index, and
    the merge kernel handles multi-row groups."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from wiki_search_engine_spark.operators.aggregates import (
        corpus_stats, doc_stats,
    )
    from wiki_search_engine_spark.operators.merge import (
        merge_postings_tables,
    )
    from wiki_search_engine_spark.operators.postings import (
        build_postings, decode_postings_df,
    )
    from wiki_search_engine_spark.operators.tokenize import tokenize
    from wiki_search_engine_spark.operators.wand import search_topk

    rows = [
        {"docid": i, "text": f"common word{i % 5} filler{i}"}
        for i in range(200)
    ]
    tokens = tokenize(
        spark.createDataFrame(pd.DataFrame(rows)), stem=False
    )
    st = corpus_stats(doc_stats(tokens)).collect()[0]
    n, avgdl = int(st["N"]), float(st["avgdl"])

    norm = build_postings(tokens, avgdl=avgdl, salt_bits=1)
    cap = build_postings(
        tokens, avgdl=avgdl, salt_bits=1, max_postings_per_row=7
    )
    rows_n, rows_c = norm.count(), cap.count()
    assert rows_c > rows_n  # 'common' (df 200) must have split
    per_row = cap.select(
        F.aggregate(
            "blocks", F.lit(0), lambda a, b: a + b["count"]
        ).alias("p"),
        "df_shard",
    ).collect()
    assert all(r["p"] <= 7 and r["p"] == r["df_shard"] for r in per_row)

    def decoded(p):
        return sorted(
            (r["term"], r["docid"], r["tf"], r["doc_len"])
            for r in decode_postings_df(p).collect()
        )

    assert decoded(cap) == decoded(norm)
    df_of = lambda p: {
        r["term"]: r["s"]
        for r in p.groupBy("term")
        .agg(F.sum("df_shard").alias("s"))
        .collect()
    }
    assert df_of(cap) == df_of(norm)
    for terms in (["common"], ["common", "word0"], ["word1", "filler7"]):
        a = search_topk(cap, terms, n, avgdl, k=10).collect()
        b = search_topk(norm, terms, n, avgdl, k=10).collect()
        assert [(r["docid"], r["score"]) for r in a] == [
            (r["docid"], r["score"]) for r in b
        ], terms

    # merge with multi-row base groups: purge docids 0..49, fold in a
    # delta re-crawl of them
    delta_rows = [
        {"docid": i, "text": f"common newword{i % 3}"} for i in range(50)
    ]
    dtok = tokenize(
        spark.createDataFrame(pd.DataFrame(delta_rows)), stem=False
    )
    dst = corpus_stats(doc_stats(dtok)).collect()[0]
    updated = np.arange(50, dtype=np.int64)
    kw = dict(
        updated_docids=updated, avgdl_merged=avgdl,
        f_base=1.0, f_delta=1.0,
    )
    m_cap = merge_postings_tables(
        cap, build_postings(dtok, avgdl=float(dst["avgdl"]), salt_bits=1,
                            max_postings_per_row=7), **kw
    )
    m_norm = merge_postings_tables(
        norm, build_postings(dtok, avgdl=float(dst["avgdl"]),
                             salt_bits=1), **kw
    )
    assert decoded(m_cap) == decoded(m_norm)


def test_ner_stopword_bridged_entities():
    """<= 2 function words (any case) may bridge two capitalized CORE
    words: 'Bank of America' / 'University of California' / 'Ministry
    of the Interior' are single entities. Bridges join the phrase but
    are never indexed as lone components; capitalized stopwords are
    bridge-class, never core ('The Government announced' forms no
    entity; 'The White House' -> 'white house'); runs never cross a
    sentence boundary."""
    from wiki_search_engine_spark.functions.analyzer import ner_tokens

    toks = ner_tokens(
        "He banked at Bank of America near the University of "
        "California campus"
    )
    assert "bank of america" in toks
    assert "university of california" in toks
    assert "america" in toks and "california" in toks
    assert "of" not in toks  # bridge never indexed alone
    # bare stopwords / trailing bridge form no entity
    assert ner_tokens("of the and") == []
    assert " ".join(ner_tokens("Alice of")) == "alic"
    # TWO function words between cores now bridge (r3: 'of the')
    toks = ner_tokens("the Ministry of the Interior said")
    assert "ministry of the interior" in toks
    assert "ministry" in toks and "interior" in toks
    toks = ner_tokens("Alice of the Bobs")
    assert "alice of the bobs" in toks
    # three in a row still do not
    toks = ner_tokens("Alice of the and Bobs")
    assert all(" " not in t for t in toks)
    # sentence-case stopword is not an entity core
    assert all(" " not in t for t in ner_tokens("The Government announced"))
    toks = ner_tokens("The White House confirmed")
    assert "white house" in toks and "the white house" not in toks
    # runs stop at sentence boundaries; honorific-style 'Mr.' drops
    toks = ner_tokens("He visited America. The President spoke")
    assert all(" " not in t for t in toks)
    toks = ner_tokens("Mr. John Smith arrived")
    assert "john smith" in toks
    assert not any(t.startswith("mr ") for t in toks)


def test_ner_sentence_initial_fp_guard():
    """The "Big Bank announced" class: a run's first word at a
    sentence start is sentence case, not a name, when the doc also
    uses the word lowercase — demote it from the span. Mid-sentence
    capitalized evidence re-instates it; no evidence keeps it (the
    reference's own one-sentence test must keep its entities)."""
    from wiki_search_engine_spark.functions.analyzer import ner_tokens

    # common-word evidence -> demoted; remaining single core = no entity
    toks = ner_tokens("Big Bank announced a big merger yesterday")
    assert "big bank" not in toks
    assert not any(" " in t for t in toks)  # no phrase survives at all
    assert "big" in toks and "bank" in toks  # both index as plain stems

    # demotion shortens, not kills, a longer span
    toks = ner_tokens("Big Bank of America announced a big merger")
    assert "big bank of america" not in toks
    assert "bank of america" in toks

    # entity evidence beats common-word evidence: capitalized
    # mid-sentence elsewhere re-instates the word
    toks = ner_tokens(
        "Big Bank announced a big merger. We asked Big Bank why."
    )
    assert "big bank" in toks

    # no evidence either way -> kept (the reference test's shape)
    toks = ner_tokens("Barack Obama visited New York")
    assert "barack obama" in toks and "new york" in toks

    # mid-sentence runs are untouched by the guard
    toks = ner_tokens("We phoned Big Bank yesterday about a big loan")
    assert "big bank" in toks


def test_coverage_states_the_entry_count():
    """The entry count COVERAGE.md states is the size of the
    ``__spark_entry__`` registry (the two drifted apart once)."""
    import os
    import re

    import __spark_entry__ as E

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "COVERAGE.md")) as f:
        stated = re.findall(r"All (\d+) `__spark_entry__` entries", f.read())
    assert stated
    assert {int(n) for n in stated} == {len(E.queries())}
