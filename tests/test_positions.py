"""Positional sidecar: codec roundtrip, row-cap splitting, indexed ==
corpus-scan phrase identity, and the engine serving path."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from wiki_search_engine_spark.functions.analyzer import full_tokens
from wiki_search_engine_spark.operators.phrase import (
    indexed_phrase_occurrences,
    phrase_occurrences,
)
from wiki_search_engine_spark.operators.positions import (
    build_positions,
    decode_positions_row,
    positions_flat,
    positions_packed,
)

N_BUCKETS = 16
SALT_BITS = 2


@pytest.fixture(scope="module")
def pos_index(spark, corpus_df, tmp_path_factory):
    """An index built WITH the positional sidecar (porter analyzer,
    the engine default)."""
    from wiki_search_engine_spark.engine import SearchEngine

    d = str(tmp_path_factory.mktemp("pos_index"))
    eng = SearchEngine.build(
        spark, corpus_df, d, stem=True,
        n_buckets=N_BUCKETS, bucket_groups=2, salt_bits=SALT_BITS,
        positions=True,
    )
    return eng


@pytest.fixture(scope="module")
def keyed_corpus(spark, corpus_df):
    from wiki_search_engine_spark.operators.tokenize import with_docid

    return with_docid(corpus_df, "url").select("docid", "text")


@pytest.fixture(scope="module")
def fixture_phrases(corpus_rows):
    """Phrases guaranteed present: adjacent analyzed-token pairs and
    triples lifted from fixture docs."""
    out = []
    for r in corpus_rows[:6]:
        toks = full_tokens(r["text"])
        if len(toks) >= 3:
            out.append(" ".join(toks[0:2]))
            out.append(" ".join(toks[1:4]))
    return sorted(set(out))[:6]


def _flat_rows(df):
    return sorted(
        (r["term"], r["docid"], int(r["apos"]), int(r["doc_len"]))
        for r in df.collect()
    )


def _decode_all(rows):
    out = []
    for row in rows:
        d = row.asDict()
        docids, doclens, offsets, pos = decode_positions_row(d)
        for i, (doc, dl) in enumerate(zip(docids, doclens)):
            for p in pos[offsets[i]:offsets[i + 1]]:
                out.append((d["term"], int(doc), int(p), int(dl)))
    return sorted(out)


def test_roundtrip_flat_to_rows(spark, keyed_corpus):
    """packed kernel -> sidecar rows -> decode == the token-per-row
    ground truth (positions_flat is the independent reference form)."""
    flat = positions_flat(keyed_corpus, stem=True)
    packed = build_positions(
        positions_packed(keyed_corpus, stem=True),
        salt_bits=SALT_BITS, n_buckets=N_BUCKETS,
    )
    assert _decode_all(packed.collect()) == _flat_rows(flat)


def test_packed_kernel_matches_flat(spark, keyed_corpus):
    """The shuffle-side pre-pack (positions_packed) carries exactly
    the flat stream's per-(doc, term) position lists."""
    import numpy as np

    from wiki_search_engine_spark.operators.codec import varbyte_decode

    flat = {}
    for r in positions_flat(keyed_corpus, stem=True).collect():
        flat.setdefault((r["docid"], r["term"]), []).append(
            int(r["apos"])
        )
    got = {}
    for r in positions_packed(keyed_corpus, stem=True).collect():
        deltas = varbyte_decode(bytes(r["pos_blob"])).astype(np.int64)
        got[(r["docid"], r["term"])] = list(np.cumsum(deltas))
        assert int(r["npos"]) == len(deltas)
    assert got == {k: sorted(v) for k, v in flat.items()}


def test_row_cap_splits_on_doc_bounds(spark, keyed_corpus):
    flat = positions_flat(keyed_corpus, stem=True)
    packed = build_positions(
        positions_packed(keyed_corpus, stem=True),
        salt_bits=SALT_BITS, n_buckets=N_BUCKETS,
        max_positions_per_row=64,
    ).collect()
    # the cap forces splits: some (term, salt) spans several rows
    key_counts = pd.Series(
        [(r["term"], r["salt"]) for r in packed]
    ).value_counts()
    assert key_counts.max() > 1
    # each row stays within cap + one doc's slack and decodes standalone
    for r in packed:
        d = r.asDict()
        _doc, _dl, offsets, pos = decode_positions_row(d)
        assert offsets[-1] == len(pos)
    assert _decode_all(packed) == _flat_rows(flat)


def test_positions_match_tokens_table(spark, pos_index):
    """The sidecar's (term, docid) universe and per-doc counts equal
    the postings' tf — same analyzed stream, two layouts."""
    eng = pos_index
    toks = (
        spark.read.parquet(f"{eng.index_dir}/tokens")
        .select("term", "docid", "tf")
        .collect()
    )
    exp = {(r["term"], r["docid"]): r["tf"] for r in toks}
    got = {}
    rows = spark.read.parquet(f"{eng.index_dir}/positions").collect()
    for row in rows:
        d = row.asDict()
        docids, _dl, offsets, _pos = decode_positions_row(d)
        for i, doc in enumerate(docids):
            key = (d["term"], int(doc))
            got[key] = got.get(key, 0) + int(
                offsets[i + 1] - offsets[i]
            )
    assert got == exp


def test_positions_build_postings_identical(
    spark, corpus_df, pos_index, tmp_path
):
    """The single-scan staging kernel (packed_frame, positions=True)
    must yield byte-identical postings / doc_stats / term_stats to the
    plain tokenize_frame build — the sidecar adds a column, never
    changes the index."""
    from wiki_search_engine_spark.engine import SearchEngine

    plain = SearchEngine.build(
        spark, corpus_df, str(tmp_path / "plain"), stem=True,
        n_buckets=N_BUCKETS, bucket_groups=2, salt_bits=SALT_BITS,
        positions=False,
    )

    def rows(eng, sub, cols):
        return sorted(
            tuple(r[c] for c in cols)
            for r in spark.read.parquet(
                f"{eng.index_dir}/{sub}"
            ).select(*cols).collect()
        )

    for sub, cols in (
        ("postings", ["bucket", "term", "salt", "df_shard", "blocks"]),
        ("doc_stats", ["docid", "doc_len"]),
        ("term_stats", ["bucket", "term", "df"]),
    ):
        assert rows(pos_index, sub, cols) == rows(plain, sub, cols), sub
    # staging carries the blob only on the positions build
    assert "pos_blob" in spark.read.parquet(
        f"{pos_index.index_dir}/tokens"
    ).columns
    assert "pos_blob" not in spark.read.parquet(
        f"{plain.index_dir}/tokens"
    ).columns


def test_indexed_equals_corpus_scan(
    spark, pos_index, keyed_corpus, fixture_phrases
):
    for phrase in fixture_phrases:
        exp = sorted(
            (r["docid"], r["start"])
            for r in phrase_occurrences(
                keyed_corpus, phrase, stem=True
            ).collect()
        )
        got = sorted(
            (r["docid"], r["start"])
            for r in indexed_phrase_occurrences(
                spark, pos_index.index_dir, phrase, stem=True,
                n_buckets=N_BUCKETS,
            ).collect()
        )
        assert got == exp and exp, phrase


def test_engine_search_phrase_matches_operator(
    spark, pos_index, keyed_corpus, fixture_phrases
):
    from wiki_search_engine_spark.operators.phrase import (
        phrase_bm25,
    )

    eng = pos_index
    for phrase in fixture_phrases[:3]:
        exp = [
            (r["docid"], r["score"], r["phrase_tf"])
            for r in phrase_bm25(
                keyed_corpus, phrase, n=eng.n, avgdl=eng.avgdl,
                k=10, stem=True,
            ).collect()
        ]
        got = [
            (d, round(s, 6), tf)
            for d, s, tf in eng.search_phrase(phrase, k=10)
        ]
        assert got == exp, phrase


def test_engine_search_mixed_matches_operator(
    spark, pos_index, keyed_corpus, fixture_phrases
):
    from wiki_search_engine_spark.functions.analyzer import full_tokens
    from wiki_search_engine_spark.operators.phrase import mixed_bm25

    eng = pos_index
    phrase = fixture_phrases[0]
    # a bag term present in the corpus but outside the phrase
    bag_raw = next(
        t
        for r in keyed_corpus.limit(3).collect()
        for t in (r["text"] or "").split()
        if full_tokens(t) and full_tokens(t)[0] not in phrase.split()
    )
    bag_term = full_tokens(bag_raw)[0]
    exp = [
        (r["docid"], r["score"])
        for r in mixed_bm25(
            keyed_corpus, [bag_term], [phrase], n=eng.n,
            avgdl=eng.avgdl, k=10, stem=True,
        ).collect()
    ]
    got = [
        (d, round(s, 6))
        for d, s in eng.search_mixed(f'{bag_raw} "{phrase}"', k=10)
    ]
    assert got == exp
    # quote-free delegates to search_local
    assert eng.search_mixed(bag_raw, k=5) == eng.search_local(
        bag_raw, k=5
    )


def test_engine_slop_matches_operator(
    spark, pos_index, keyed_corpus, corpus_rows
):
    """Driver greedy-chain proximity == the operator's chained range
    joins, for a phrase built from two near-but-not-adjacent tokens of
    a fixture doc."""
    from wiki_search_engine_spark.operators.phrase import (
        rank_occurrences, slop_occurrences,
    )

    toks = full_tokens(corpus_rows[0]["text"])
    t0, t1 = toks[0], toks[2]          # distance 2 -> needs slop >= 1
    if t0 == t1:
        t1 = toks[3]
    eng = pos_index
    for slop in (1, 3):
        exp = [
            (r["docid"], r["score"], r["phrase_tf"])
            for r in rank_occurrences(
                slop_occurrences(
                    keyed_corpus, [t0, t1], slop, stem=True
                ),
                n=eng.n, avgdl=eng.avgdl, k=10,
            ).select("docid", "score", "phrase_tf").collect()
        ]
        got = [
            (d, round(s, 6), tf)
            for d, s, tf in eng.search_phrase(
                f"{t0} {t1}", k=10, slop=slop
            )
        ]
        assert got == exp, slop
    # slop=0 equals the exact path
    assert eng.search_phrase(f"{t0} {t1}", k=10, slop=0) == (
        eng.search_phrase(f"{t0} {t1}", k=10)
    )


def test_slop_syntax_in_mixed_query(pos_index, corpus_rows):
    """'"a b"~N' parses through search_mixed and widens matches."""
    toks = full_tokens(corpus_rows[0]["text"])
    t0, t1 = toks[0], toks[2]
    if t0 == t1:
        t1 = toks[3]
    tight = pos_index.search_mixed(f'"{t0} {t1}"', k=50)
    loose = pos_index.search_mixed(f'"{t0} {t1}"~3', k=50)
    assert len(loose) >= max(len(tight), 1)


def test_mixed_routes_over_http(spark, pos_index, fixture_phrases):
    import json
    import urllib.parse
    import urllib.request

    from wiki_search_engine_spark.server import start_server

    srv = start_server(pos_index, port=0, path_mode="local")
    try:
        port = srv.server_address[1]
        q = urllib.parse.quote(f'"{fixture_phrases[0]}"')
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/query-stem?query={q}"
            "&optionName=bm25",
            timeout=60,
        ) as r:
            body = json.loads(r.read())
        exp = [
            str(d)
            for d, _s in pos_index.search_mixed(
                f'"{fixture_phrases[0]}"', k=50
            )
        ]
        assert [d["file_id"] for d in body["textResult"]] == exp
    finally:
        srv.shutdown()


def test_quoted_query_without_sidecar_keeps_legacy_bag(engine):
    """No positional sidecar -> quotes are stripped by the analyzer
    and the query serves as bag-of-words (no new failure mode on old
    indexes)."""
    resp = engine.query_response('"anything here"', option_name="bm25")
    legacy = engine.query_response("anything here", option_name="bm25")
    assert [d["file_id"] for d in resp["textResult"]] == [
        d["file_id"] for d in legacy["textResult"]
    ]


def test_search_phrase_absent_term_and_empty(pos_index):
    from wiki_search_engine_spark.engine import EmptyQueryError

    assert pos_index.search_phrase("zzznotaword table") == []
    with pytest.raises(EmptyQueryError):
        pos_index.search_phrase("   ")


def test_search_phrase_requires_sidecar(engine):
    with pytest.raises(FileNotFoundError, match="positions"):
        engine.search_phrase("anything here")


def test_phrase_over_http(spark, pos_index, fixture_phrases):
    import json
    import urllib.parse
    import urllib.request

    from wiki_search_engine_spark.server import start_server

    srv = start_server(pos_index, port=0, path_mode="local")
    try:
        port = srv.server_address[1]
        q = urllib.parse.quote(fixture_phrases[0])
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/query-stem?query={q}&phrase=true",
            timeout=60,
        ) as r:
            body = json.loads(r.read())
        assert r.status == 200 and body["textResult"]
        exp = [str(d) for d, _s, _tf in pos_index.search_phrase(
            fixture_phrases[0], k=50
        )]
        assert [d["file_id"] for d in body["textResult"]] == exp
    finally:
        srv.shutdown()


def test_phrase_http_400_without_sidecar(spark, engine):
    import json
    import urllib.error
    import urllib.request

    from wiki_search_engine_spark.server import start_server

    srv = start_server(engine, port=0, path_mode="local")
    try:
        port = srv.server_address[1]
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(
                f"http://127.0.0.1:{port}/query-stem"
                "?query=alpha%20beta&phrase=true",
                timeout=60,
            )
        assert ei.value.code == 400
        body = json.loads(ei.value.read())
        assert body["success"] is False and "positions" in body["error"]
    finally:
        srv.shutdown()


def test_merge_folds_positions(
    spark, corpus_df, corpus_rows, tmp_path_factory
):
    """base+delta both built with positions -> the merged sidecar
    decodes to exactly the rebuild-from-merged-corpus position stream,
    and phrase search over the merged index matches the corpus-scan
    operator on the merged corpus."""
    import pandas as pd
    from pyspark.sql import functions as F

    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.operators.phrase import (
        phrase_occurrences,
    )
    from wiki_search_engine_spark.operators.tokenize import with_docid

    root = tmp_path_factory.mktemp("posmerge")
    half = len(corpus_rows) // 2
    base_c = spark.createDataFrame(
        pd.DataFrame(corpus_rows[:half + 10])
    )
    # re-crawl: last 10 of base get new text + 10 brand-new docs
    delta_rows = [
        {**r, "text": r["text"] + " posmergedelta posmergedelta"}
        for r in corpus_rows[half:half + 10]
    ] + list(corpus_rows[half + 10:half + 20])
    delta_c = spark.createDataFrame(pd.DataFrame(delta_rows))
    kw = dict(
        stem=True, n_buckets=N_BUCKETS, bucket_groups=1,
        salt_bits=SALT_BITS, positions=True,
    )
    base = SearchEngine.build(
        spark, base_c, str(root / "base"), **kw
    )
    SearchEngine.build(spark, delta_c, str(root / "delta"), **kw)
    merged = SearchEngine.merge(
        spark, str(root / "base"), str(root / "delta"),
        str(root / "out"),
    )
    import json

    with open(f"{merged.index_dir}/meta.json") as f:
        assert json.load(f)["positions"] is True
    # expected merged corpus: base docs not re-crawled + delta docs
    delta_urls = {r["url"] for r in delta_rows}
    exp_rows = [
        r
        for r in corpus_rows[:half + 10]
        if r["url"] not in delta_urls
    ] + delta_rows
    exp_corpus = with_docid(
        spark.createDataFrame(pd.DataFrame(exp_rows)), "url"
    ).select("docid", "text")
    # sidecar == rebuild stream
    rows = spark.read.parquet(f"{merged.index_dir}/positions").collect()
    assert _decode_all(rows) == _flat_rows(
        positions_flat(exp_corpus, stem=True)
    )
    # phrase serving over the merged index == corpus-scan truth,
    # including the delta-only phrase
    toks = full_tokens(delta_rows[0]["text"])
    for phrase in ("posmergedelta posmergedelta", " ".join(toks[:2])):
        exp = sorted(
            r["docid"]
            for r in phrase_occurrences(exp_corpus, phrase, stem=True)
            .select("docid").distinct().collect()
        )
        got = sorted(
            d for d, _s, _tf in merged.search_phrase(phrase, k=1000)
        )
        assert got == exp, phrase


def test_delete_folds_positions(spark, pos_index, tmp_path):
    import json

    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.operators.positions import (
        decode_positions_row,
    )

    out = str(tmp_path / "del_pos")
    victim = int(
        spark.read.parquet(f"{pos_index.index_dir}/doc_stats")
        .limit(1).collect()[0]["docid"]
    )
    SearchEngine.delete(
        spark, pos_index.index_dir, out, docids=[victim]
    )
    with open(f"{out}/meta.json") as f:
        assert json.load(f)["positions"] is True
    for row in spark.read.parquet(f"{out}/positions").collect():
        docids, _dl, _off, _pos = decode_positions_row(row.asDict())
        assert victim not in set(int(d) for d in docids)
    # remaining docs' streams are byte-for-byte the same positions
    after = _decode_all(spark.read.parquet(f"{out}/positions").collect())
    exp = [
        t for t in _decode_all(
            spark.read.parquet(
                f"{pos_index.index_dir}/positions"
            ).collect()
        )
        if t[1] != victim
    ]
    assert after == exp


def test_mixed_sidecar_inputs_refuse(spark, pos_index, engine, tmp_path):
    from wiki_search_engine_spark.plans.merge import merge_indexes

    with pytest.raises(ValueError, match="sidecar"):
        merge_indexes(
            spark, pos_index.index_dir, engine.index_dir,
            str(tmp_path / "mix"),
        )


def test_delete_drop_positions_writes_sidecarless_index(
    spark, pos_index, tmp_path
):
    import json
    import os

    from wiki_search_engine_spark.plans.merge import delete_docs

    out = str(tmp_path / "del_ok")
    some_doc = int(
        spark.read.parquet(
            f"{pos_index.index_dir}/doc_stats"
        ).limit(1).collect()[0]["docid"]
    )
    delete_docs(
        spark, pos_index.index_dir, out, docids=[some_doc],
        drop_positions=True,
    )
    assert not os.path.isdir(f"{out}/positions")
    with open(f"{out}/meta.json") as f:
        assert json.load(f)["positions"] is False


def test_build_rejects_ner_positions(spark, corpus_df, tmp_path):
    from wiki_search_engine_spark.plans.build import build_index

    with pytest.raises(ValueError, match="NER"):
        build_index(
            spark, corpus_df, str(tmp_path / "x"),
            analyzer="ner", positions=True,
        )


def test_tiered_phrase_matches_compacted(
    spark, corpus_rows, tmp_path_factory
):
    """TieredEngine.search_phrase / search_mixed over [base, delta]
    segments == the same queries on the compacted (merged) index —
    exact scores, including live-stats effects of the re-crawl."""
    import pandas as pd

    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.tiered import TieredEngine

    root = tmp_path_factory.mktemp("postiered")
    base_rows = corpus_rows[:40]
    delta_rows = [
        {**r, "text": r["text"] + " tierphrase alpha tierphrase alpha"}
        for r in corpus_rows[30:36]
    ] + list(corpus_rows[40:46])
    kw = dict(
        stem=True, n_buckets=N_BUCKETS, bucket_groups=1,
        salt_bits=SALT_BITS, positions=True,
    )
    SearchEngine.build(
        spark, spark.createDataFrame(pd.DataFrame(base_rows)),
        str(root / "base"), **kw,
    )
    SearchEngine.build(
        spark, spark.createDataFrame(pd.DataFrame(delta_rows)),
        str(root / "delta"), **kw,
    )
    merged = SearchEngine.merge(
        spark, str(root / "base"), str(root / "delta"),
        str(root / "out"),
    )
    tiered = TieredEngine(
        spark, [str(root / "base"), str(root / "delta")]
    )
    assert (tiered.n, round(tiered.avgdl, 9)) == (
        merged.n, round(merged.avgdl, 9)
    )
    base_toks = full_tokens(base_rows[0]["text"])
    probes = [
        ("tierphrase alpha", 0),          # delta-only phrase
        (" ".join(base_toks[:2]), 0),     # base content
        (" ".join(base_toks[:2]), 2),     # proximity
    ]
    for phrase, slop in probes:
        t = tiered.search_phrase(phrase, k=100, slop=slop)
        c = merged.search_phrase(phrase, k=100, slop=slop)
        assert [(d, round(s, 9), tf) for d, s, tf in t] == [
            (d, round(s, 9), tf) for d, s, tf in c
        ], (phrase, slop)
    # mixed: quoted filter + bag boost, tiered == compacted
    bag = base_toks[3] if len(base_toks) > 3 else base_toks[0]
    q = f'{bag} "tierphrase alpha"'
    tm = [(d, round(s, 9)) for d, s in tiered.search_mixed(q, k=50)]
    cm = [(d, round(s, 9)) for d, s in merged.search_mixed(q, k=50)]
    assert tm == cm


def test_mixed_negation_compose(spark, pos_index):
    """&negation composes with mixed quoted routing: quoted spans stay
    conjunctive, -terms drop docs before the cut."""
    from wiki_search_engine_spark.functions.analyzer import full_tokens
    from wiki_search_engine_spark.sources.synth import vocabulary

    eng = pos_index
    words, _ = vocabulary(42)
    # a phrase guaranteed present: adjacent analyzed tokens of a
    # head-term result's snippet
    phrase = None
    for r in eng.lookup_docs(
        [d for d, _s in eng.search_local(words[0], k=3)]
    ):
        toks = full_tokens(r["snippet"])
        if len(toks) >= 2:
            phrase = f"{toks[0]} {toks[1]}"
            break
    assert phrase is not None
    neg = words[0]
    q = f'"{phrase}" -{neg}'
    resp = eng.query_response(
        q, option_name="bm25", k=10, negation=True
    )
    got = [int(x["file_id"]) for x in resp["textResult"]]
    exc = set(eng._live_docids(eng.analyze(neg)).tolist())
    base = eng.search_mixed(f'"{phrase}"', k=eng.n, mode="bm25")
    exp = [d for d, _s in base if d not in exc][:10]
    assert got == exp
    assert all(d not in exc for d in got)
