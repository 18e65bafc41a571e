"""Dedup / similarity / text-stat / multimodal operator semantics.

(The exact-SQL equivalence of these operators is additionally checked
against DuckDB by tools/selfcheck.py and the driver's correctness gate;
here we test the semantic properties on constructed fixtures.)
"""

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup
        (2, "the quick brown fox jumps over the lazy cat", "en"),  # near dup
        (3, "completely different content about spark engines", "en"),
        (4, "el perro come la comida de la casa que es buena", "es"),
        (5, "THE  Quick   Brown Fox jumps over the lazy dog", "en"),  # ws/case
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_dedup(docs_df):
    from wiki_search_engine_spark.operators.dedup import exact_dedup

    out = {r["keep_id"]: r["dup_count"] for r in exact_dedup(docs_df).collect()}
    # 0, 1, 5 collapse (whitespace/case-normalized); keep_id = min = 0
    assert out[0] == 3
    assert out[2] == 1 and out[3] == 1 and out[4] == 1


def test_first_wins_dedup(docs_df):
    from wiki_search_engine_spark.operators.dedup import (
        first_wins_dedup, normalized_text,
    )

    keyed = docs_df.withColumn(
        "k", F.substring(normalized_text(F.col("text")), 1, 13)
    )
    kept = sorted(
        r["doc_id"]
        for r in first_wins_dedup(keyed, "k", order_col="doc_id").collect()
    )
    # 'the quick bro' group -> doc 0 wins; 3 and 4 unique
    assert kept == [0, 3, 4]


def test_minhash_identical_docs_match_all_bands(docs_df):
    from wiki_search_engine_spark.operators.dedup import (
        minhash_lsh_candidates,
    )

    cands = {
        (r["id_a"], r["id_b"]): r["n_bands"]
        for r in minhash_lsh_candidates(docs_df, num_hashes=16, bands=4)
        .collect()
    }
    assert cands[(0, 1)] == 4  # identical text -> every band matches
    assert cands[(0, 5)] == 4  # normalization happens in shingling (lower)
    assert (0, 2) in cands  # near-dup shares most shingles


def test_ngram_jaccard(docs_df):
    from wiki_search_engine_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs_df, threshold=0.3).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert 0.3 <= pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs


def test_simhash(docs_df):
    from wiki_search_engine_spark.operators.dedup import (
        simhash, simhash_near_dups,
    )

    sh = {r["doc_id"]: r["simhash"] for r in simhash(docs_df).collect()}
    assert sh[0] == sh[1]  # identical text -> identical simhash
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dups(docs_df, max_hamming=10).collect()
    }
    assert pairs[(0, 1)] == 0


def test_cosine_topk_matches_numpy(spark):
    from wiki_search_engine_spark.operators.similarity import cosine_topk

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(40, 16)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    q = [float(x) for x in vecs[0]]
    got = [(r["vec_id"], r["cos_sim"]) for r in cosine_topk(df, q, k=5).collect()]
    v = vecs.astype(np.float64)
    qv = np.array(q)
    sims = (v @ qv) / (np.linalg.norm(v, axis=1) * np.linalg.norm(qv))
    order = sorted(range(40), key=lambda i: (-round(sims[i], 6), i))[:5]
    assert [g[0] for g in got] == order
    assert got[0][0] == 0 and got[0][1] == 1.0  # self-similarity


def test_ann_lsh_contains_query_bucket(spark):
    from wiki_search_engine_spark.operators.similarity import ann_lsh_topk

    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(60, 8)).astype(np.float64)
    vecs[7] = vecs[0] * 1.5  # same direction as query -> same bucket
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    got = ann_lsh_topk(
        df, [float(x) for x in vecs[0]], k=5, n_planes=4, seed=1
    ).collect()
    ids = [r["vec_id"] for r in got]
    assert ids[0] == 0  # exact match always shares its own bucket
    assert 7 in ids  # colinear vector lands in the same bucket


def test_lang_id_markers(spark):
    from wiki_search_engine_spark.functions.textstats import lang_id

    df = spark.createDataFrame(
        [
            ("the cat and the dog is in a house",),
            ("el perro y la casa de los gatos es",),
            ("der hund und die katze ist von ein haus",),
            ("xyzzy qwerty plugh",),
        ],
        "text string",
    )
    got = [r[0] for r in df.select(lang_id(F.col("text"))).collect()]
    assert got == ["en", "es", "de", "und"]


def test_quality_and_token_counts(spark):
    from wiki_search_engine_spark.functions.textstats import (
        bpe_ish_token_count, quality_score, ws_token_count,
    )

    df = spark.createDataFrame(
        [("hello world, it's 7 o'clock.",), ("",)], "text string"
    )
    rows = df.select(
        ws_token_count(F.col("text")).alias("ws"),
        bpe_ish_token_count(F.col("text")).alias("bpe"),
        quality_score(F.col("text")).alias("q"),
    ).collect()
    assert rows[0]["ws"] == 5
    # hello|world|,|it|'|s|7|o|'|clock|. -> 11
    assert rows[0]["bpe"] == 11
    assert 0.0 <= rows[0]["q"] <= 1.0
    assert rows[1]["ws"] == 0 and rows[1]["bpe"] == 0


def test_multimodal_plumbing(spark):
    from wiki_search_engine_spark.operators.multimodal import (
        FEATURE_DIM, decode_image_features, frame_sample, synth_media,
    )

    media = synth_media(spark, 30)
    feats = decode_image_features(media).collect()
    assert len(feats) == 30
    for r in feats:
        assert len(r["feature"]) == FEATURE_DIM
        assert all(0.0 <= x <= 1.0 for x in r["feature"])
        assert len(r["payload_md5"]) == 32
    # determinism
    again = decode_image_features(media).collect()
    assert {r["media_id"]: r["payload_md5"] for r in feats} == {
        r["media_id"]: r["payload_md5"] for r in again
    }
    frames = frame_sample(media, every_n_bytes=32).collect()
    assert all(r["frame_offset"] % 32 == 0 for r in frames)
    assert len(frames) > 0


def test_png_unfilter_matches_reference_decoder():
    """The vectorized kernel decoder (operators/multimodal.py) and the
    independent scalar reference decoder (oracle_py/png_ref.py) must
    reconstruct identical pixels — and identical exact-integer-sum
    features — for every RFC 2083 filter type and mixed-filter rows."""
    import hashlib

    from wiki_search_engine_spark.operators.multimodal import (
        decode_png_rgba, png_bytes_full, png_pixel_features,
    )
    from wiki_search_engine_spark.oracle_py import png_ref

    seed_bytes = hashlib.md5(b"pix").digest() * 4000
    for (w, h) in [(1, 1), (3, 2), (16, 16), (37, 11)]:
        raw = np.frombuffer(
            seed_bytes[: w * h * 4], np.uint8
        ).reshape(h, w, 4)
        for filters in (
            [[f] * h for f in range(5)]
            + [[(y * 3 + 1) % 5 for y in range(h)]]
        ):
            b = png_bytes_full(w, h, raw, filters)
            assert (decode_png_rgba(b) == raw).all(), (w, h, filters[:3])
            rw, rh, px = png_ref.decode_rgba(b)
            assert (rw, rh) == (w, h)
            assert px == list(raw.reshape(-1))
            assert png_pixel_features(b) == png_ref.features(b)
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png_rgba(b"junk")


def test_real_image_features_spark_path(spark):
    """decode_image_features(fake=False): PNG payloads (real IDAT,
    mixed filters), GIF payloads (real LZW, interlace/transparency
    cycling), and baseline JPEG payloads (real Huffman entropy data,
    grayscale + restart-interval cycling) all decode in the Arrow
    kernel to the reference decoders' exact features; only non-image
    payloads carry feature NULL."""
    from wiki_search_engine_spark.operators.multimodal import (
        decode_image_features, synth_media, synth_payload, synth_spec,
    )
    from wiki_search_engine_spark.oracle_py import (
        gif_ref, jpeg_ref, png_ref,
    )

    n = 45
    rows = {
        r["media_id"]: r
        for r in decode_image_features(
            synth_media(spark, n), fake=False
        ).collect()
    }
    assert len(rows) == n
    per_fmt = {"png": 0, "gif": 0, "jpeg": 0}
    for i in range(n):
        _doc, kind, fmt, _w, _h = synth_spec(i, n)
        r = rows[i]
        if kind == "image":
            ref = {"png": png_ref, "gif": gif_ref, "jpeg": jpeg_ref}[fmt]
            exp = ref.features(synth_payload(i, n))
            assert list(r["feature"]) == exp, i
            per_fmt[fmt] += 1
        else:
            assert r["feature"] is None, (i, kind, fmt)
    assert all(c >= 3 for c in per_fmt.values()), per_fmt


def test_ivf_assign_and_topk(spark):
    from wiki_search_engine_spark.operators.similarity import (
        ivf_assign, ivf_topk,
    )

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(80, 12)).astype(np.float64)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(80)],
        "vec_id long, embedding array<float>",
    )
    centroids = [(i, [float(x) for x in vecs[i]]) for i in range(8)]

    # assignment matches NumPy argmin over L2
    got = {
        r["vec_id"]: r["cell"]
        for r in ivf_assign(df, centroids).select("vec_id", "cell").collect()
    }
    cmat = vecs[:8]
    for i in range(80):
        d = ((cmat - vecs[i]) ** 2).sum(axis=1)
        assert got[i] == int(np.argmin(d)), i

    # probing every cell == exact brute-force ranking
    q = [float(x) for x in vecs[3]]
    full = ivf_topk(df, q, centroids, k=5, nprobe=8).collect()
    sims = (vecs @ vecs[3]) / (
        np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[3])
    )
    order = sorted(range(80), key=lambda i: (-round(sims[i], 6), i))[:5]
    assert [r["vec_id"] for r in full] == order

    # nprobe=1 returns only vectors from the query's own cell
    one = ivf_topk(df, q, centroids, k=80, nprobe=1).collect()
    assert all(got[r["vec_id"]] == got[3] for r in one)


def test_embedding_near_dups_finds_planted_pair(spark):
    from wiki_search_engine_spark.operators.similarity import (
        embedding_near_dups,
    )

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(50, 16)).astype(np.float64)
    vecs[9] = vecs[2] + rng.normal(scale=1e-3, size=16)  # planted near-dup
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in embedding_near_dups(df, threshold=0.99).collect()
    }
    assert (2, 9) in pairs and pairs[(2, 9)] > 0.999


def test_ngram_jaccard_candidates_path(spark):
    """Candidates path (array_intersect per pair, no shingle self-join)
    must equal the unrestricted self-join path restricted to the same
    pairs — including on a corpus with one hot shingle shared by all
    docs (the case where the r1 formulation blew up m^2)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from wiki_search_engine_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    hot = "common shared prefix"
    rows = [
        {"doc_id": i, "text": f"{hot} body word{i} tail{i % 3} end{i}"}
        for i in range(12)
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    cand_pairs = [(0, 1), (1, 2), (3, 4), (5, 9)]
    cands = spark.createDataFrame(
        pd.DataFrame(cand_pairs, columns=["id_a", "id_b"])
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, threshold=0.1, candidates=cands
        ).collect()
    }
    full = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.1).collect()
    }
    exp = {p: j for p, j in full.items() if p in set(cand_pairs)}
    assert got == exp and got
    # no shingle-equality join in the candidates plan
    plan = ngram_jaccard_pairs(
        df, threshold=0.1, candidates=cands
    )._jdf.queryExecution().executedPlan().toString()
    assert "array_intersect" in plan
    join_lines = [ln for ln in plan.splitlines() if "Join" in ln]
    assert join_lines and all("shingle#" not in ln for ln in join_lines)


def test_media_header_parse_roundtrip():
    """Codec-free header parsing: build -> parse round-trips dims for
    every format; non-image and truncated payloads degrade cleanly."""
    from wiki_search_engine_spark.operators.multimodal import (
        gif_bytes, jpeg_bytes, parse_media_header, png_bytes,
    )

    assert parse_media_header(png_bytes(640, 480, b"x" * 20)) == (
        "png", 640, 480,
    )
    assert parse_media_header(gif_bytes(33, 7)) == ("gif", 33, 7)
    assert parse_media_header(jpeg_bytes(1024, 768, b"\x00" * 9)) == (
        "jpeg", 1024, 768,
    )
    assert parse_media_header(b"RAW0junk") == ("raw", None, None)
    assert parse_media_header(b"\xff\xd8\xff\xe0\x00\x04ab") == (
        "jpeg", None, None,
    )
    assert parse_media_header(b"") == ("raw", None, None)


def test_media_payload_md5s_pinned():
    """Every synth media payload hashes to the md5 committed in the
    media_features oracle sidecar. JPEG payloads pass a floating-point
    FDCT, so this fails if its rounding ever depends on the machine's
    BLAS kernel."""
    import hashlib
    import os

    import pyarrow.parquet as pq

    from wiki_search_engine_spark.operators.multimodal import synth_payload

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "oracle_sidecar", "media_expected_v7.parquet",
    )
    rows = pq.read_table(path, columns=["media_id", "payload_md5"])
    n = rows.num_rows
    assert n == 200
    got = {
        i: hashlib.md5(synth_payload(i, n)).hexdigest() for i in range(n)
    }
    assert got == dict(zip(*rows.to_pydict().values()))


def test_decode_media_meta_matches_encoded(spark):
    """The distributed kernel's parsed dims equal the dims encoded at
    synth time for every image row (Arrow binary plumbing round-trip)."""
    from wiki_search_engine_spark.operators.multimodal import (
        decode_media_meta, synth_media,
    )

    media = synth_media(spark, 60)
    enc = {
        r["media_id"]: (r["kind"], r["width"], r["height"])
        for r in media.collect()
    }
    got = decode_media_meta(media).collect()
    assert len(got) == 60
    for r in got:
        kind, w, h = enc[r["media_id"]]
        if kind == "image":
            assert (r["width"], r["height"]) == (w, h)
            assert r["format"] in ("png", "jpeg", "gif")
        else:
            assert r["format"] == ("wav" if kind == "audio" else "avi")
            assert r["width"] is None and r["height"] is None


def test_kmeans_train_deterministic_and_useful(spark):
    """kmeans_train: deterministic across runs (4-dp rounding pins fp
    order), shrinks mean within-cell L2 vs the init assignment, and
    feeds ivf_topk end-to-end without caller-supplied centroids."""
    from wiki_search_engine_spark.operators.similarity import (
        ivf_assign, ivf_topk, kmeans_train,
    )

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(120, 16)).astype(np.float64)
    vecs[:40] += 4.0  # three loose clusters
    vecs[40:80] -= 4.0
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(120)],
        "vec_id long, embedding array<float>",
    )
    c1 = kmeans_train(df, k=4, iters=2)
    c2 = kmeans_train(df, k=4, iters=2)
    assert c1 == c2
    assert len(c1) == 4 and all(len(v) == 16 for _, v in c1)

    def mean_within(cents):
        cmap = {cid: np.array(v) for cid, v in cents}
        rows = ivf_assign(df, cents).select(
            "vec_id", "cell"
        ).collect()
        return float(
            np.mean(
                [
                    np.sum((vecs[r["vec_id"]] - cmap[r["cell"]]) ** 2)
                    for r in rows
                ]
            )
        )

    init = [(i, [round(float(x), 4) for x in vecs[i]]) for i in range(4)]
    assert mean_within(c1) < mean_within(init)

    top = ivf_topk(
        df, [float(x) for x in vecs[7]], c1, k=5, nprobe=2
    ).collect()
    assert len(top) == 5 and top[0]["vec_id"] == 7


def test_ivf_materialized_layout_matches_inmemory(spark, tmp_path):
    """ivf_write + ivf_read_topk (partitionBy(cell) + partition-pruned
    scan) must rank-match ivf_topk over the raw table, and the read plan
    must prune to the probed cell directories."""
    from wiki_search_engine_spark.operators.similarity import (
        ivf_read_topk, ivf_topk, ivf_write,
    )

    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(100, 8)).astype(np.float64)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(100)],
        "vec_id long, embedding array<float>",
    )
    cents = [(i, [float(x) for x in vecs[i]]) for i in range(6)]
    path = str(tmp_path / "ivf")
    ivf_write(df, cents, path)
    import os

    assert any(e.startswith("cell=") for e in os.listdir(path))
    q = [float(x) for x in vecs[42]]
    got = [
        (r["vec_id"], r["cos_sim"])
        for r in ivf_read_topk(spark, path, q, cents, k=5, nprobe=2)
        .collect()
    ]
    exp = [
        (r["vec_id"], r["cos_sim"])
        for r in ivf_topk(df, q, cents, k=5, nprobe=2).collect()
    ]
    assert got == exp and got[0][0] == 42
    plan = ivf_read_topk(
        spark, path, q, cents, k=5, nprobe=2
    )._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan


def test_corpus_clean_pipeline(spark):
    """corpus_clean: exact winners minus verified near-dups, on a corpus
    with planted exact and near duplicates."""
    import pandas as pd

    from wiki_search_engine_spark.operators.dedup import corpus_clean

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        {"doc_id": 0, "text": base},
        {"doc_id": 1, "text": base},                      # exact dup of 0
        {"doc_id": 2, "text": base + " extraword"},       # near dup of 0
        {"doc_id": 3, "text": "totally different words here entirely"},
        {"doc_id": 4, "text": "  " + base + "  "},        # ws-normalized dup
        {"doc_id": 5, "text": "another unique document body text"},
    ]
    kept = sorted(
        r["doc_id"]
        for r in corpus_clean(
            spark.createDataFrame(pd.DataFrame(rows)),
            jaccard_threshold=0.5,
        ).collect()
    )
    # 1 and 4 fall to exact dedup (same normalized content as 0);
    # 2 is the higher id of a verified near-dup pair with 0
    assert kept == [0, 3, 5]


def test_dedup_components(spark):
    """Connected components over pair edges: transitive chains collapse
    to min-id reps (incl. a 6-node path needing several propagation
    rounds), disjoint clusters stay disjoint."""
    import pandas as pd

    from wiki_search_engine_spark.operators.dedup import dedup_components

    pairs = [
        (1, 2), (2, 3),          # triangle-ish chain -> rep 1
        (10, 11),                # pair -> rep 10
        (20, 21), (21, 22),      # chain -> rep 20
        (5, 9),                  # pair -> rep 5
        (30, 31), (31, 32), (32, 33), (33, 34), (34, 35),  # long path
    ]
    got = {
        r["doc_id"]: r["rep_id"]
        for r in dedup_components(
            spark.createDataFrame(
                pd.DataFrame(pairs, columns=["id_a", "id_b"])
            )
        ).collect()
    }
    exp = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20,
           5: 5, 9: 5}
    exp.update({i: 30 for i in range(30, 36)})
    assert got == exp


def test_ivf_assign_bulk_matches_literal(spark):
    """The large-nlist broadcast-matrix assignment equals the
    Catalyst-literal path (chunked centroid scan exercised)."""
    from wiki_search_engine_spark.operators.similarity import (
        ivf_assign, ivf_assign_bulk,
    )

    rng = np.random.default_rng(17)
    vecs = rng.normal(size=(150, 12)).astype(np.float64)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(150)],
        "vec_id long, embedding array<float>",
    )
    cents = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    a = {
        r["vec_id"]: r["cell"] for r in ivf_assign(df, cents).collect()
    }
    b = {
        r["vec_id"]: r["cell"]
        for r in ivf_assign_bulk(df, cents, centroid_chunk=16).collect()
    }
    assert a == b


def test_dedup_components_rejects_nonpositive_max_iter(spark):
    import pytest as _p

    from wiki_search_engine_spark.operators.dedup import dedup_components

    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with _p.raises(ValueError, match="max_iter"):
        dedup_components(pairs, max_iter=0)


def test_md5_prefix64_matches_hashlib():
    """functions/fasthash.py must be byte-identical to hashlib md5 —
    the SimHash kernel's values are replayed by the DuckDB oracle, so
    the vectorized path cannot drift by a single bit."""
    import hashlib
    import random

    from wiki_search_engine_spark.functions.fasthash import md5_prefix64

    toks = (
        [""]
        + ["a" * i for i in range(1, 70)]  # crosses the 55-byte cutoff
        + ["héllo wörld", "日本語トークン", "x" * 55, "y" * 56]
    )
    rng = random.Random(7)
    toks += [
        "".join(
            rng.choice("abcdefghij0123456789_é")
            for _ in range(rng.randint(1, 64))
        )
        for _ in range(500)
    ]
    got = md5_prefix64(np.array(toks, dtype=object))
    for t, g in zip(toks, got):
        exp = int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
        assert int(g) == exp, t
    assert md5_prefix64(np.array([], dtype=object)).size == 0


def test_minhash_families_candidate_supersets(spark):
    """Both hash families (md5 oracle-exact, xxhash64 production) must
    surface every planted near-dup pair as an LSH candidate; unknown
    family names are rejected."""
    import random

    import pytest as _p

    from wiki_search_engine_spark.operators.dedup import (
        minhash_lsh_candidates, minhash_signatures,
    )

    import pandas as pd

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(400)]
    rows = []
    for i in range(50):
        toks = [rng.choice(vocab) for _ in range(40)]
        rows.append({"doc_id": i, "text": " ".join(toks)})
        if i < 8:  # planted near-dup: one token substituted
            dup = list(toks)
            dup[17] = "zzsub"
            rows.append({"doc_id": 1000 + i, "text": " ".join(dup)})
    df = spark.createDataFrame(pd.DataFrame(rows))
    planted = {(i, 1000 + i) for i in range(8)}
    for fam in ("md5", "xxhash64"):
        got = {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_candidates(
                df, num_hashes=16, bands=4, hash_family=fam
            ).collect()
        }
        missing = planted - got
        assert not missing, (fam, missing)
    with _p.raises(ValueError, match="hash_family"):
        minhash_signatures(df, hash_family="sha9")


def test_lsh_multiprobe_recall_monotone(spark):
    """Multi-probe LSH: the probe set always contains the query's own
    bucket, grows by smallest-margin single flips, and recall@10 vs
    exact cosine is monotone non-decreasing in n_probes (reaching the
    exact top-10 well before probing all 2^n_planes buckets on this
    seeded corpus)."""
    from wiki_search_engine_spark.operators.similarity import (
        ann_lsh_topk, cosine_topk, hyperplanes, lsh_probe_buckets,
    )

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(300, 16)).astype(np.float64)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(300)],
        "vec_id long, embedding array<float>",
    )
    qv = [float(x) for x in vecs[0]]
    planes = hyperplanes(16, 8, 42)
    probes = lsh_probe_buckets(qv, planes, 4)
    assert len(probes) == 4 == len(set(probes))
    assert probes == lsh_probe_buckets(qv, planes, 4)  # deterministic
    assert lsh_probe_buckets(qv, planes, 1) == [probes[0]]

    exact = {r["vec_id"] for r in cosine_topk(df, qv, k=10).collect()}
    last = -1.0
    recalls = []
    for n in (1, 2, 4, 8, 16):
        got = {
            r["vec_id"]
            for r in ann_lsh_topk(
                df, qv, k=10, n_planes=8, seed=42, n_probes=n
            ).collect()
        }
        r = len(got & exact) / 10
        assert r >= last - 1e-9, (n, r, last)
        last = r
        recalls.append(r)
    assert recalls[-1] > recalls[0] or recalls[0] == 1.0
    import pytest as _p

    with _p.raises(ValueError, match="n_probes"):
        lsh_probe_buckets(qv, planes, 0)


def test_lsh_multitable_union_and_recall(spark):
    """Multi-table LSH: the candidate set is the UNION of each table's
    bucket matches (superset of every single table), recall@10 vs exact
    is >= the single-table form, one table reproduces ann_lsh_topk
    exactly, and plane families are deterministic and pairwise
    distinct."""
    from pyspark.sql import functions as F

    from wiki_search_engine_spark.operators.similarity import (
        ann_lsh_multitable_topk, ann_lsh_topk, cosine_topk, lsh_bucket,
        lsh_probe_buckets, table_planes,
    )

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(400, 16)).astype(np.float64)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(400)],
        "vec_id long, embedding array<float>",
    )
    qv = [float(x) for x in vecs[0]]

    tables = table_planes(16, 6, 4, 42)
    assert tables == table_planes(16, 6, 4, 42)  # deterministic
    assert len({str(t) for t in tables}) == 4  # no shared family

    per_table = []
    for planes in tables:
        b = lsh_probe_buckets(qv, planes, 1)
        per_table.append(
            {
                r["vec_id"]
                for r in df.filter(
                    lsh_bucket(F.col("embedding"), planes).isin(b)
                ).collect()
            }
        )
    union = set().union(*per_table)
    got_all = {
        r["vec_id"]
        for r in ann_lsh_multitable_topk(
            df, qv, k=400, n_planes=6, n_tables=4, seed=42
        ).collect()
    }
    assert got_all == union  # candidate set IS the union of tables

    exact = {r["vec_id"] for r in cosine_topk(df, qv, k=10).collect()}

    def recall(res):
        return len({r["vec_id"] for r in res.collect()} & exact) / 10

    r1 = recall(ann_lsh_topk(df, qv, k=10, n_planes=6, seed=42))
    r1_mt = recall(
        ann_lsh_multitable_topk(df, qv, k=10, n_planes=6, n_tables=1, seed=42)
    )
    r4 = recall(
        ann_lsh_multitable_topk(df, qv, k=10, n_planes=6, n_tables=4, seed=42)
    )
    assert r1_mt == r1  # one table == the single-table operator
    assert r4 >= r1  # more tables never lose candidates


def test_lsh_materialized_layout(spark, tmp_path):
    """lsh_write/lsh_read_topk: the partitioned (tbl, bucket) layout is
    result-identical to the compute-form ann_lsh_multitable_topk at the
    same params, its physical plan carries tbl+bucket PartitionFilters
    (partition-pruned probe, not a layout scan), vectors found in
    several tables dedup to one candidate, and a mismatched query dim
    is rejected."""
    from wiki_search_engine_spark.operators.similarity import (
        ann_lsh_multitable_topk, lsh_read_topk, lsh_write,
    )

    rng = np.random.default_rng(13)
    vecs = rng.normal(size=(300, 16)).astype(np.float64)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(300)],
        "vec_id long, embedding array<float>",
    )
    qv = [float(x) for x in vecs[0]]
    path = str(tmp_path / "lsh_idx")
    lsh_write(df, path, n_planes=5, n_tables=4, seed=42)

    got = lsh_read_topk(spark, path, qv, k=10, n_probes=2)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "tbl" in plan and "bucket" in plan

    want = ann_lsh_multitable_topk(
        df, qv, k=10, n_planes=5, n_tables=4, seed=42, n_probes=2
    )
    g = [(r["vec_id"], r["cos_sim"]) for r in got.collect()]
    w = [(r["vec_id"], r["cos_sim"]) for r in want.collect()]
    assert g == w and g[0][0] == 0  # identical ranks; self-hit first
    assert len({i for i, _ in g}) == len(g)  # cross-table dedup

    import pytest as _p

    with _p.raises(ValueError, match="dim"):
        lsh_read_topk(spark, path, qv + [0.0], k=5)


def test_lsh_append_equals_bulk_write(spark, tmp_path):
    """lsh_append: building the layout from a base write plus an
    appended batch serves results identical to one bulk write over the
    union — buckets come from the RECORDED plane family, so appended
    vectors are findable by the same probes."""
    from wiki_search_engine_spark.operators.similarity import (
        lsh_append, lsh_read_topk, lsh_write,
    )

    rng = np.random.default_rng(17)
    vecs = rng.normal(size=(300, 16)).astype(np.float64)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(300)]
    df_all = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    df_base = spark.createDataFrame(
        rows[:200], "vec_id long, embedding array<float>"
    )
    df_new = spark.createDataFrame(
        rows[200:], "vec_id long, embedding array<float>"
    )

    bulk = str(tmp_path / "bulk")
    incr = str(tmp_path / "incr")
    lsh_write(df_all, bulk, n_planes=5, n_tables=3, seed=42)
    lsh_write(df_base, incr, n_planes=5, n_tables=3, seed=42)
    lsh_append(df_new, incr)

    for qi in (0, 250):  # one base vector, one appended vector
        qv = [float(x) for x in vecs[qi]]
        g = [
            (r["vec_id"], r["cos_sim"])
            for r in lsh_read_topk(spark, incr, qv, k=10, n_probes=2)
            .collect()
        ]
        w = [
            (r["vec_id"], r["cos_sim"])
            for r in lsh_read_topk(spark, bulk, qv, k=10, n_probes=2)
            .collect()
        ]
        assert g == w and g[0][0] == qi  # self-hit proves findability


def test_corrupt_png_yields_null_feature_not_job_failure(spark):
    """A malformed PNG payload (valid magic/IHDR, garbage IDAT) must
    produce feature=NULL in decode_image_features(fake=False), never an
    exception that kills the Spark job — malformed media is a certainty
    at corpus scale."""
    import pandas as pd

    from wiki_search_engine_spark.operators.multimodal import (
        _png_chunk, PNG_MAGIC, decode_image_features,
    )

    good_hdr = (
        PNG_MAGIC
        + _png_chunk(
            b"IHDR",
            (4).to_bytes(4, "big") + (4).to_bytes(4, "big")
            + b"\x08\x06\x00\x00\x00",
        )
    )
    corrupt = good_hdr + _png_chunk(b"IDAT", b"not zlib at all")
    truncated = good_hdr  # no IDAT chunk
    df = spark.createDataFrame(
        pd.DataFrame(
            [
                {"media_id": 0, "kind": "image", "payload": corrupt,
                 "n_bytes": len(corrupt)},
                {"media_id": 1, "kind": "image", "payload": truncated,
                 "n_bytes": len(truncated)},
            ]
        )
    )
    rows = {
        r["media_id"]: r
        for r in decode_image_features(df, fake=False).collect()
    }
    assert rows[0]["format"] == "png" and rows[0]["feature"] is None
    assert rows[1]["format"] == "png" and rows[1]["feature"] is None


def test_malicious_png_payloads_yield_null_not_oom(spark):
    """Adversarial payloads (r3 review findings): zero-dimension IHDR,
    truncated IHDR, declared-size lies, and a zlib bomb whose IDAT
    inflates far beyond the declared scanline size must all yield
    feature=NULL — and the bomb must be rejected by the BOUNDED inflate
    (decompressobj max_length), never materialized."""
    import zlib

    import pandas as pd

    from wiki_search_engine_spark.operators.multimodal import (
        PNG_MAGIC, _png_chunk, decode_image_features, decode_png_rgba,
    )

    def ihdr(w, h):
        return _png_chunk(
            b"IHDR",
            int(w).to_bytes(4, "big") + int(h).to_bytes(4, "big")
            + b"\x08\x06\x00\x00\x00",
        )

    zero_dim = PNG_MAGIC + ihdr(0, 0) + _png_chunk(b"IDAT", zlib.compress(b""))
    trunc_ihdr = PNG_MAGIC + _png_chunk(b"IHDR", b"\x00" * 8)
    # declares 2x2 but carries 64KB of zeros: inflate must stop at the
    # 2 * (2*4+1) = 18-byte cap and reject, not buffer 64KB+ first
    bomb = PNG_MAGIC + ihdr(2, 2) + _png_chunk(
        b"IDAT", zlib.compress(b"\x00" * 65536)
    )
    huge_decl = PNG_MAGIC + ihdr(1 << 14, 1 << 14) + _png_chunk(
        b"IDAT", zlib.compress(b"\x00" * 64)
    )
    for b in (zero_dim, trunc_ihdr, bomb, huge_decl):
        with pytest.raises(ValueError):
            decode_png_rgba(b)
    df = spark.createDataFrame(
        pd.DataFrame(
            [
                {"media_id": i, "kind": "image", "payload": b,
                 "n_bytes": len(b)}
                for i, b in enumerate(
                    (zero_dim, trunc_ihdr, bomb, huge_decl)
                )
            ]
        )
    )
    rows = decode_image_features(df, fake=False).collect()
    assert len(rows) == 4
    assert all(r["feature"] is None for r in rows)


def test_dd_cache_detects_rewritten_sidecar(tmp_path):
    """The per-executor sidecar cache keys by file identity (mtime_ns +
    size), so a sidecar REWRITTEN at the same path — rmtree + re-merge
    into a reused out_dir with worker reuse on — serves the new docid
    set, never the previous run's (r3 review finding)."""
    import os

    from wiki_search_engine_spark.operators.merge import (
        _dd_provider, write_updated_docids,
    )

    d = str(tmp_path / "sidecar")
    write_updated_docids(np.array([1, 2, 3], dtype=np.int64), d, 1)
    load = _dd_provider(None, d)
    assert load([0]).tolist() == [1, 2, 3]
    # rewrite with different content; force a distinct mtime_ns
    write_updated_docids(np.array([7, 8], dtype=np.int64), d, 1)
    p = f"{d}/salt=0/docids.parquet"
    st = os.stat(p)
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert _dd_provider(None, d)([0]).tolist() == [7, 8]


def test_gif_roundtrip_vs_independent_oracle():
    """The vectorized GIF decoder (decode_gif_rgba) and the scalar
    reference decoder (oracle_py/gif_ref.py — zero shared code) must
    reconstruct identical pixels AND identical feature doubles across
    interlace, transparency, and LZW table growth past every width
    boundary (random 256-symbol frames grow ~1 dict entry per pixel, so
    a 90x70 frame crosses 512/1024/2048/4096)."""
    from wiki_search_engine_spark.operators.multimodal import (
        decode_gif_rgba, gif_bytes_full, gif_pixel_features,
        parse_media_header,
    )
    from wiki_search_engine_spark.oracle_py import gif_ref

    rng = np.random.default_rng(3)
    for t in range(12):
        w, h = int(rng.integers(1, 90)), int(rng.integers(1, 70))
        idx = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        pal = rng.integers(0, 256, size=(256, 3), dtype=np.uint8)
        tr = int(idx[0, 0]) if t % 3 == 0 else None
        b = gif_bytes_full(
            w, h, idx, pal, interlace=bool(t % 2), transparent_index=tr
        )
        assert parse_media_header(b) == ("gif", w, h)
        px = decode_gif_rgba(b)
        assert (px[:, :, :3] == pal[idx]).all()
        exp_a = np.full((h, w), 255, np.uint8)
        if tr is not None:
            exp_a[idx == tr] = 0
        assert (px[:, :, 3] == exp_a).all()
        ow, oh, flat = gif_ref.decode_rgba(b)
        assert (ow, oh) == (w, h)
        assert flat == px.reshape(-1).tolist()
        assert gif_pixel_features(b) == gif_ref.features(b)


def test_gif_lzw_kwkwk_and_table_reset():
    """Single-symbol runs exercise the KwKwK (code == next-slot) rule
    on nearly every code; 20k random symbols force the 4096-entry table
    reset mid-stream (encoder emits CLEAR, decoder must resync)."""
    from wiki_search_engine_spark.operators.multimodal import (
        _gif_lzw_compress, _gif_lzw_decompress,
    )

    run = np.zeros(9000, dtype=np.uint8)
    enc = _gif_lzw_compress(run, 8)
    assert _gif_lzw_decompress(enc, 8, 9000) == run.tobytes()
    rng = np.random.default_rng(11)
    big = rng.integers(0, 256, size=20000, dtype=np.uint8)
    assert (
        _gif_lzw_decompress(_gif_lzw_compress(big, 8), 8, 20000)
        == big.tobytes()
    )


def test_malicious_gif_payloads_yield_null_not_oom(spark):
    """Adversarial GIFs: a pixel bomb whose LZW stream expands past the
    declared w*h (bounded decode must reject, never materialize),
    truncated LZW (no EOI), a frame with no color table, a dimension
    lie, and an out-of-range palette index against a 4-entry local
    table — all NULL features, never a job failure."""
    import pandas as pd

    from wiki_search_engine_spark.operators.multimodal import (
        _gif_lzw_compress, decode_gif_rgba, decode_image_features,
        gif_bytes_full,
    )

    rng = np.random.default_rng(5)
    pal = rng.integers(0, 256, size=(256, 3), dtype=np.uint8)
    good = gif_bytes_full(
        4, 4, rng.integers(0, 256, size=(4, 4), dtype=np.uint8), pal
    )

    # bomb: take a valid 64x64 frame's LZW data but declare 2x2
    big = gif_bytes_full(
        64, 64, rng.integers(0, 256, size=(64, 64), dtype=np.uint8), pal
    )
    bomb = bytearray(big)
    bomb[6:8] = (2).to_bytes(2, "little")
    bomb[8:10] = (2).to_bytes(2, "little")
    # image descriptor w/h live after the 768-byte GCT at offset 13
    desc = 13 + 768
    assert bomb[desc] == 0x2C
    bomb[desc + 5 : desc + 7] = (2).to_bytes(2, "little")
    bomb[desc + 7 : desc + 9] = (2).to_bytes(2, "little")
    bomb = bytes(bomb)

    truncated = good[: len(good) - 6]  # chops EOI + trailer

    no_palette = bytearray(good)
    no_palette[10] &= 0x7F  # clear GCT flag but leave bytes: junk walk
    no_palette = bytes(no_palette[:13] + no_palette[13 + 768 :])

    zero_dim = bytearray(good)
    zero_dim[desc + 5 : desc + 7] = (0).to_bytes(2, "little")
    zero_dim = bytes(zero_dim)

    # 4-entry local palette with indices up to 255 in the stream
    lct_frame = bytearray()
    lct_frame += b"GIF89a" + (2).to_bytes(2, "little")
    lct_frame += (2).to_bytes(2, "little") + b"\x00\x00\x00"  # no GCT
    lct_frame += b"\x2c" + b"\x00\x00\x00\x00"
    lct_frame += (2).to_bytes(2, "little") + (2).to_bytes(2, "little")
    lct_frame += b"\x80"  # LCT present, 2 entries... (2<<0)
    lct_frame += bytes(6)  # 2-entry palette
    lzw = _gif_lzw_compress(np.array([200, 1, 0, 1], np.uint8), 8)
    lct_frame += bytes([8, len(lzw)]) + lzw + b"\x00\x3b"
    lct_frame = bytes(lct_frame)

    bad = [bomb, truncated, no_palette, zero_dim, lct_frame]
    for b in bad:
        with pytest.raises(ValueError):
            decode_gif_rgba(b)
    df = spark.createDataFrame(
        pd.DataFrame(
            [
                {"media_id": i, "kind": "image", "payload": b,
                 "n_bytes": len(b)}
                for i, b in enumerate(bad)
            ]
        )
    )
    rows = decode_image_features(df, fake=False).collect()
    assert len(rows) == len(bad)
    assert all(r["feature"] is None for r in rows)


def test_jpeg_roundtrip_vs_independent_oracle():
    """The matmul-IDCT decoder (operators/jpeg.py decode_jpeg_rgb) and
    the scalar figure-F.16 reference decoder (oracle_py/jpeg_ref.py —
    different Huffman algorithm, per-coefficient IDCT loops) must
    produce BIT-IDENTICAL pixels and feature doubles: the fixed-point
    IDCT + YCbCr spec leaves no accumulation-order slack. Sweeps
    color/gray, odd dims, and restart intervals."""
    from wiki_search_engine_spark.operators.jpeg import (
        decode_jpeg_rgb, jpeg_bytes_full, jpeg_pixel_features,
    )
    from wiki_search_engine_spark.oracle_py import jpeg_ref

    rng = np.random.default_rng(9)
    yy, xx = np.mgrid[0:33, 0:57]
    gradient = np.stack(
        [
            np.clip(40 + xx, 0, 255),
            np.clip(30 + yy * 2, 0, 255),
            np.clip(100 + (xx - yy), 0, 255),
        ],
        axis=2,
    ).astype(np.uint8)
    cases = [
        (gradient, False, 0),
        (rng.integers(0, 256, size=(41, 29, 3), dtype=np.uint8), False, 0),
        (rng.integers(0, 256, size=(3, 5, 3), dtype=np.uint8), False, 0),
        (
            np.repeat(
                rng.integers(0, 256, size=(17, 23, 1), dtype=np.uint8),
                3, 2,
            ),
            True, 0,
        ),
        (rng.integers(0, 256, size=(50, 66, 3), dtype=np.uint8), False, 3),
        (rng.integers(0, 256, size=(24, 24, 3), dtype=np.uint8), True, 1),
    ]
    for img, gray, ri in cases:
        b = jpeg_bytes_full(img, gray=gray, restart_interval=ri)
        k = decode_jpeg_rgb(b)
        w, h, flat = jpeg_ref.decode_rgb(b)
        assert (h, w) == k.shape[:2]
        assert flat == k.reshape(-1).tolist(), (gray, ri)
        assert jpeg_pixel_features(b) == jpeg_ref.features(b), (gray, ri)


def test_jpeg_decode_is_faithful():
    """Lossy but sane: flat-color frames reconstruct within +-3 and a
    smooth gradient within +-8 of the source — catches transform
    orientation/scale bugs that bit-identical cross-decoder checks
    alone would miss (both decoders could share a transposed view)."""
    from wiki_search_engine_spark.operators.jpeg import (
        decode_jpeg_rgb, jpeg_bytes_full,
    )

    img = np.zeros((24, 40, 3), np.uint8)
    img[:, :] = (12, 200, 99)
    out = decode_jpeg_rgb(jpeg_bytes_full(img))
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 3
    yy, xx = np.mgrid[0:33, 0:57]
    grad = np.stack(
        [
            np.clip(40 + xx, 0, 255),
            np.clip(30 + yy * 2, 0, 255),
            np.clip(100 + (xx - yy), 0, 255),
        ],
        axis=2,
    ).astype(np.uint8)
    out = decode_jpeg_rgb(jpeg_bytes_full(grad))
    err = np.abs(out.astype(int) - grad.astype(int))
    assert err.max() <= 8 and err.mean() < 3


def test_malicious_jpeg_payloads_yield_null_not_failure(spark):
    """Adversarial JPEGs: progressive (SOF2) and arithmetic-coded
    (DAC) files are out of the baseline decoder's scope, truncated
    entropy data and dimension lies must be rejected — all NULL
    features in the kernel, never a job failure."""
    import pandas as pd

    from wiki_search_engine_spark.operators.jpeg import (
        decode_jpeg_rgb, jpeg_bytes_full,
    )
    from wiki_search_engine_spark.operators.multimodal import (
        decode_image_features,
    )

    rng = np.random.default_rng(21)
    good = jpeg_bytes_full(
        rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    )

    progressive = bytearray(good)
    sof = good.index(b"\xff\xc0")
    progressive[sof + 1] = 0xC2
    progressive = bytes(progressive)

    truncated = good[: len(good) - 40]

    huge = bytearray(good)
    huge[sof + 5 : sof + 7] = (60000).to_bytes(2, "big")
    huge[sof + 7 : sof + 9] = (60000).to_bytes(2, "big")
    huge = bytes(huge)

    subsampled = bytearray(good)
    assert good[sof + 11] == 0x11  # Y sampling byte
    subsampled[sof + 11] = 0x22
    subsampled = bytes(subsampled)

    bad = [progressive, truncated, huge, subsampled]
    for b in bad:
        with pytest.raises(ValueError):
            decode_jpeg_rgb(b)
    df = spark.createDataFrame(
        pd.DataFrame(
            [
                {"media_id": i, "kind": "image", "payload": b,
                 "n_bytes": len(b)}
                for i, b in enumerate(bad)
            ]
        )
    )
    rows = decode_image_features(df, fake=False).collect()
    assert len(rows) == len(bad)
    assert all(r["feature"] is None for r in rows)


def test_wav_roundtrip_vs_independent_oracle():
    """The numpy WAV decoder (operators/wav.py) and the stdlib-``wave``
    reference decoder (oracle_py/wav_ref.py — zero shared code) must
    reconstruct identical samples AND identical feature doubles across
    bit depths, channel counts, LIST chunks, and odd data sizes (RIFF
    pad byte)."""
    from wiki_search_engine_spark.operators.wav import (
        decode_wav_pcm, wav_bytes_full, wav_features,
    )
    from wiki_search_engine_spark.operators.multimodal import (
        parse_media_header,
    )
    from wiki_search_engine_spark.oracle_py import wav_ref

    rng = np.random.default_rng(7)
    for t in range(16):
        channels = 1 + t % 3
        bits = 8 if t % 2 else 16
        n = int(rng.integers(1, 200))
        if bits == 16:
            pcm = rng.integers(-32768, 32768, size=(n, channels))
        else:
            pcm = rng.integers(-128, 128, size=(n, channels))
        rate = int(rng.choice([8000, 11025, 44100, 48000]))
        info = b"x" * int(rng.integers(0, 9)) if t % 3 == 0 else None
        b = wav_bytes_full(pcm, rate, bits=bits, info=info)
        assert parse_media_header(b) == ("wav", None, None)
        samples, got_rate, got_bits = decode_wav_pcm(b)
        assert (got_rate, got_bits) == (rate, bits)
        assert (samples == pcm).all()
        assert wav_features(b) == wav_ref.features(b)


def test_malformed_wav_payloads_yield_null_not_failure(spark):
    """Adversarial WAVs: float-PCM format tag, 24-bit depth, data chunk
    whose declared size runs past the buffer, data not aligned to whole
    frames, data before fmt, and a sample-count bomb — ValueError from
    the decoder, NULL features (never a failed job) through the Spark
    kernel."""
    import struct

    import pandas as pd

    from wiki_search_engine_spark.operators.multimodal import (
        decode_audio_features,
    )
    from wiki_search_engine_spark.operators.wav import (
        decode_wav_pcm, wav_bytes_full,
    )

    good = wav_bytes_full(
        np.arange(-20, 20).reshape(-1, 2), 8000, bits=16
    )
    fi = good.index(b"fmt ") + 8

    float_fmt = bytearray(good)
    float_fmt[fi : fi + 2] = struct.pack("<H", 3)  # IEEE float tag
    bits24 = bytearray(good)
    bits24[fi + 14 : fi + 16] = struct.pack("<H", 24)
    bits24[fi + 12 : fi + 14] = struct.pack("<H", 6)  # block_align 2ch*3
    size_lie = bytearray(good)
    di = good.index(b"data") + 4
    size_lie[di : di + 4] = struct.pack("<I", 10_000)
    misaligned = bytearray(good)
    misaligned[di : di + 4] = struct.pack("<I", 7)  # not whole 4-byte frames
    data_first = good[:12] + good[good.index(b"data"):] 
    bomb = bytearray(good)
    bomb[di : di + 4] = struct.pack("<I", 0xFFFFFFF0)

    bad = [bytes(x) for x in
           (float_fmt, bits24, size_lie, misaligned, data_first, bomb)]
    for b in bad:
        with pytest.raises(ValueError):
            decode_wav_pcm(b)
    df = spark.createDataFrame(
        pd.DataFrame(
            [
                {"media_id": i, "kind": "audio", "payload": b,
                 "n_bytes": len(b)}
                for i, b in enumerate(bad)
            ]
        )
    )
    rows = decode_audio_features(df).collect()
    assert len(rows) == len(bad)
    assert all(r["feature"] is None for r in rows)


def test_avi_roundtrip_vs_independent_oracle():
    """The LIST-walking AVI parser (operators/avi.py) and the
    idx1-index-based reference parser (oracle_py/avi_ref.py — zero
    shared code, structurally different route through the file) must
    extract identical frame bytes AND identical per-frame feature
    doubles across geometries, frame counts, grayscale, restart
    intervals, and sampling strides."""
    from wiki_search_engine_spark.operators.avi import (
        avi_bytes_full, avi_frame_features, decode_avi_frames,
    )
    from wiki_search_engine_spark.operators.multimodal import (
        parse_media_header,
    )
    from wiki_search_engine_spark.oracle_py import avi_ref

    rng = np.random.default_rng(13)
    for t in range(8):
        w, h = 8 + 8 * (t % 4), 8 + 8 * (t % 3)
        n = 1 + t % 5
        frames = [
            rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            for _ in range(n)
        ]
        us = [33333, 40000, 66667][t % 3]
        b = avi_bytes_full(
            frames, us_per_frame=us, gray=(t % 5 == 0),
            restart_interval=(t % 3) * 2,
        )
        assert parse_media_header(b) == ("avi", None, None)
        got, gw, gh, gus = decode_avi_frames(b)
        assert (gw, gh, gus, len(got)) == (w, h, us, n)
        ref_frames, *_ = avi_ref.frames(b)
        assert got == ref_frames
        for stride in (1, 2, 3):
            assert avi_frame_features(b, stride) == avi_ref.frame_features(
                b, stride
            )


def test_malformed_avi_payloads_yield_null_not_failure(spark):
    """Adversarial AVIs: frame-count lie in avih, chunk size past the
    buffer, a frame-count bomb, a multi-stream claim, a non-MJPG
    handler, and a truncated movi — ValueError from the decoder, a
    single NULL-feature row (never a failed job) through the Spark
    kernel."""
    import struct

    import pandas as pd

    from wiki_search_engine_spark.operators.avi import (
        avi_bytes_full, decode_avi_frames,
    )
    from wiki_search_engine_spark.operators.multimodal import (
        decode_video_features,
    )

    rng = np.random.default_rng(17)
    good = avi_bytes_full(
        [rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
         for _ in range(3)],
    )
    ah = good.index(b"avih") + 8

    count_lie = bytearray(good)
    count_lie[ah + 16 : ah + 20] = struct.pack("<I", 7)
    bomb = bytearray(good)
    bomb[ah + 16 : ah + 20] = struct.pack("<I", 1 << 20)
    streams_lie = bytearray(good)
    streams_lie[ah + 24 : ah + 28] = struct.pack("<I", 2)
    not_mjpg = bytearray(good)
    sh = good.index(b"strh") + 8
    not_mjpg[sh + 4 : sh + 8] = b"H264"
    size_lie = bytearray(good)
    mv = good.index(b"00dc") + 4
    size_lie[mv : mv + 4] = struct.pack("<I", 1 << 24)
    truncated = good[: good.index(b"movi") + 40]

    bad = [bytes(x) for x in
           (count_lie, bomb, streams_lie, not_mjpg, size_lie, truncated)]
    for b in bad:
        with pytest.raises(ValueError):
            decode_avi_frames(b)
    df = spark.createDataFrame(
        pd.DataFrame(
            [
                {"media_id": i, "kind": "video", "payload": b,
                 "n_bytes": len(b)}
                for i, b in enumerate(bad)
            ]
        )
    )
    rows = decode_video_features(df).collect()
    assert len(rows) == len(bad)
    assert all(r["feature"] is None and r["frame_idx"] is None for r in rows)


def test_media_projection_embedding_topk(spark):
    """decode -> project_embedding -> cosine_topk composition: the
    projection emits literal-weight codegen chains (no UDF) of the
    configured dimension, and querying with media 0's own embedding
    returns media 0 first at cos_sim 1.0."""
    import __spark_entry__ as E
    from wiki_search_engine_spark.operators.multimodal import (
        decode_image_features, synth_media,
    )
    from wiki_search_engine_spark.operators.similarity import (
        cosine_topk, project_embedding,
    )

    feats = decode_image_features(
        synth_media(spark, 60), fake=False
    ).filter(F.col("feature").isNotNull())
    proj = project_embedding(feats, E._media_planes())
    rows = proj.select("media_id", "embedding").collect()
    assert all(len(r["embedding"]) == E.MEDIA_EMBED_DIM for r in rows)
    # no Python row UDF in the plan: the projection is pure expressions
    plan = proj._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    got = cosine_topk(
        proj.select(F.col("media_id").alias("vec_id"), "embedding"),
        E._media_query_embedding(),
        k=3,
    ).collect()
    assert got[0]["vec_id"] == 0 and got[0]["cos_sim"] == 1.0


def test_highlight_snippet_semantics():
    from wiki_search_engine_spark.functions.textstats import (
        highlight_snippet,
    )

    # stem-aware: query term 'run' highlights 'running'; punctuation
    # rides along inside the wrapped word; stopwords never highlight
    out = highlight_snippet(
        "The running, fox runs fast.", {"run", "fast"}
    )
    assert out == "The <em>running,</em> fox <em>runs</em> <em>fast.</em>"
    assert highlight_snippet("", {"x"}) == ""
    assert highlight_snippet("plain text", set()) == "plain text"
    # whitespace preserved verbatim
    assert highlight_snippet("a  b", {"zzz"}) == "a  b"


def test_lsh_low_recall_warning_and_ivf_default(spark):
    """Quality-by-default contract (similarity.py): LSH configs probing
    below the measured recall~0.5 bucket fraction warn (routing users
    to IVF); configs at/above it don't; and ivf_topk's DEFAULT nprobe
    is DEFAULT_NPROBE — the measured >=0.9-recall point."""
    import inspect
    import warnings

    import numpy as np

    from wiki_search_engine_spark.operators.similarity import (
        DEFAULT_NPROBE, ann_lsh_multitable_topk, ann_lsh_topk,
        ivf_read_topk, ivf_topk,
    )

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(30, 8)).astype(np.float64)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    qv = [float(x) for x in vecs[0]]

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        ann_lsh_topk(df, qv, k=3, n_planes=8, n_probes=1, seed=1)
        assert len(w) == 1 and "recall@10" in str(w[0].message)

    # 8 tables x 1 probe over 2^8 buckets = 3% probed -> still warns
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        ann_lsh_multitable_topk(
            df, qv, k=3, n_planes=8, n_tables=8, seed=1
        )
        assert len(w) == 1

    # 8 tables over 2^5 buckets = 25% probed -> above the measured
    # ~0.5-recall boundary, no warning
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        ann_lsh_multitable_topk(
            df, qv, k=3, n_planes=5, n_tables=8, seed=1
        )
        assert len(w) == 0

    assert DEFAULT_NPROBE == 8
    for fn in (ivf_topk, ivf_read_topk):
        assert (
            inspect.signature(fn).parameters["nprobe"].default
            == DEFAULT_NPROBE
        )
