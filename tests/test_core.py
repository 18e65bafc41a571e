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


def _ref_varbyte(data) -> list[int]:
    """Byte-at-a-time varbyte reference (high bit ends a value)."""
    out, cur, shift = [], 0, 0
    for byte in bytes(data):
        cur |= (byte & 0x7F) << shift
        shift += 7
        if byte & 0x80:
            out.append(cur)
            cur, shift = 0, 0
    return out


def _ref_decode_blocks(blocks):
    """Per-block reference decode of a run of blocks, concatenated."""
    d, t, dl = [], [], []
    for b in blocks:
        doc = b["first_docid"]
        for delta in _ref_varbyte(b["docids_bytes"]):
            doc += delta
            d.append(doc)
        t += _ref_varbyte(b["tfs_bytes"])
        dl += _ref_varbyte(b["doclens_bytes"])
    return d, t, dl


@given(st.integers(1, 6), st.integers(0, 2**31))
@settings(max_examples=40, deadline=None)
def test_batched_decode_matches_per_block_reference(n_blocks, seed):
    """decode_posting_list over lists of 1-6 blocks — docid gaps up to
    2^62, tf/doc_len values of 1-9 varbyte bytes — and over any subset
    of their blocks (the kernel decodes only the blocks it keeps)
    equals a per-block, byte-at-a-time reference decode."""
    rng = np.random.default_rng(seed)
    n = int(rng.integers((n_blocks - 1) * 128 + 1, n_blocks * 128 + 1))
    gaps = rng.integers(0, 2 ** rng.integers(1, 53, n), dtype=np.int64)
    gaps[1:] += 1  # strictly increasing docids
    gaps[rng.integers(n)] += int(rng.integers(1, 2**62 + 1))
    docids = np.cumsum(gaps)

    def wide():  # values needing 1..9 varbyte bytes
        return rng.integers(
            0, 2 ** rng.integers(1, 64, n).astype(np.uint64),
            dtype=np.uint64,
        ).astype(np.int64)

    tfs, dls = wide(), wide()
    blocks = encode_postings(docids, tfs, dls, avgdl=500.0)
    assert len(blocks) == n_blocks
    d, t, dl = decode_posting_list(blocks)
    assert (d == docids).all() and (t == tfs).all() and (dl == dls).all()
    keep = np.flatnonzero(rng.random(n_blocks) < 0.5)
    sub = [blocks[i] for i in keep]
    got = decode_posting_list(sub)
    exp = _ref_decode_blocks(sub)
    for g, e in zip(got, exp):
        assert g.dtype == np.int64 and g.tolist() == e


def _brute_topk(term_lists, n, avgdl, k, mode):
    """Exhaustive top-k by (score desc, docid asc): every posting of
    every list decoded by the reference decoder and scored, tombstoned
    docids dropped. Contributions are summed in the kernel's term order
    (descending upper bound), so equal docs get bit-identical sums."""
    from wiki_search_engine_spark import B, K1
    from wiki_search_engine_spark.oracle_py.oracle import (
        bm25_idf, tfidf_idf,
    )

    def idf_ub(tl):
        if mode == "bm25":
            idf = bm25_idf(n, tl["df"])
            return idf, idf * max(b["max_score"] for b in tl["blocks"])
        idf = tfidf_idf(n, tl["df"])
        return idf, idf * max(b["max_tf"] for b in tl["blocks"])

    acc: dict[int, float] = {}
    for tl in sorted(term_lists, key=lambda tl: -idf_ub(tl)[1]):
        idf = idf_ub(tl)[0]
        tombs = set(tl.get("tombs", np.empty(0, np.int64)).tolist())
        for doc, tf, dl in zip(*_ref_decode_blocks(tl["blocks"])):
            if doc in tombs:
                continue
            if mode == "bm25":
                s = idf * tf * (K1 + 1.0) / (
                    tf + K1 * (1.0 - B + B * dl / avgdl)
                )
            else:
                s = tf * idf
            acc[doc] = acc.get(doc, 0.0) + float(s)
    return sorted(acc.items(), key=lambda ds: (-ds[1], ds[0]))[:k]


@pytest.mark.parametrize("mode", ["bm25", "tfidf"])
@pytest.mark.parametrize("k", [1, 10, 50])
@pytest.mark.parametrize("tombstoned", [False, True])
def test_kernel_matches_bruteforce_on_multiblock_lists(
    monkeypatch, mode, k, tombstoned
):
    """score_shard_topk over lists of >= 3 blocks equals an exhaustive
    top-k, ties broken by docid, with and without tombstones; across
    the seeds the kernel's closed phase skips blocks (block selection
    runs), so the check covers pruning, not only the open phase."""
    from wiki_search_engine_spark.operators import wand

    decoded = []
    batched = wand.decode_posting_list
    monkeypatch.setattr(
        wand, "decode_posting_list",
        lambda blocks: decoded.append(len(blocks)) or batched(blocks),
    )
    skipped = 0
    n_docs, avgdl = 600, 8.0
    for seed in range(12):
        rng = np.random.default_rng(seed)
        term_lists = []
        if seed % 2 == 0:
            # one topical high-tf term over the first docid range, whose
            # matches fill the top-k and close the pruning phase, and
            # common low-tf terms over every docid: their blocks past
            # the topical range hold no candidate and must be skipped
            specs = [(250, 120, (10, 40), (2, 7))] + [
                (n_docs, int(rng.integers(350, 500)), (1, 4), (8, 31))
            ] * 3
        else:
            # four terms of one df whose every posting scores the same
            # bound: docs holding only later terms tie the early ones
            # and win on docid, so closing the phase before the bounds
            # allow (even on a tie) would lose them
            specs = [(n_docs, 180, (3, 4), (8, 9))] * 4
        for span, size, (tf_lo, tf_hi), (dl_lo, dl_hi) in specs:
            docids = np.sort(rng.choice(span, size, replace=False))
            tfs = rng.integers(tf_lo, tf_hi, size)
            dls = rng.integers(dl_lo, dl_hi, size)
            blocks = encode_postings(
                docids, tfs, dls, avgdl=avgdl, block_size=8
            )
            assert len(blocks) >= 3
            tl = {"df": size, "blocks": blocks}
            if tombstoned:
                tl["tombs"] = np.sort(
                    rng.choice(docids, size // 4, replace=False)
                )
            term_lists.append(tl)
        decoded.clear()
        d, s = wand.score_shard_topk(term_lists, n_docs, avgdl, k, mode)
        exp = _brute_topk(term_lists, n_docs, avgdl, k, mode)
        assert list(zip(d.tolist(), s.tolist())) == exp, seed
        skipped += sum(len(tl["blocks"]) for tl in term_lists) - sum(
            decoded
        )
    assert skipped > 0, "the closed phase never skipped a block"


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


def test_bounded_postings_rows(spark, tmp_path):
    """MAX_POSTINGS_PER_ROW splits oversized (term, salt) groups into
    several rows. Forced tiny cap: splits appear, every row stays under
    the cap, decode/df/top-k are identical to the uncapped index, the
    table writer keeps a split group's rows in docid order, and the
    merge kernel handles multi-row groups."""
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

    # written as the build writes postings, and loaded as the local
    # path loads them: a term's rows, concatenated salt by salt in read
    # order, decode to the unsplit list, even when a group's later rows
    # reach the writer first
    import pyarrow as pa
    import pyarrow.parquet as pq

    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.operators.codec import decode_posting_list
    from wiki_search_engine_spark.plans.build import write_bucket_table

    vocab = sorted(
        r["term"] for r in norm.select("term").distinct().collect()
    )

    def served(p, name):
        d = tmp_path / name
        write_bucket_table(p, str(d / "postings"))
        (d / "stats").mkdir()
        pq.write_table(
            pa.table({"N": [n], "avgdl": [avgdl], "total_length": [0]}),
            str(d / "stats" / "part-0.parquet"),
        )
        out = {}
        for t, (df, salted) in (
            SearchEngine(spark, str(d))._cached_term_lists(vocab).items()
        ):
            docids, tfs, doclens = decode_posting_list([
                b for _salt, blocks in sorted(salted, key=lambda sb: sb[0])
                for b in blocks
            ])
            out[t] = (df, docids.tolist(), tfs.tolist(), doclens.tolist())
        return out

    first = F.col("blocks")[0]["first_docid"]
    served_cap = served(
        cap.filter(first >= 100).unionByName(cap.filter(first < 100)), "cap"
    )
    assert served_cap["common"][0] == 200
    assert all(
        d == sorted(set(d)) for _df, d, _tf, _dl in served_cap.values()
    )
    assert served_cap == served(norm, "norm")
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
