"""Driver contract: entry / queries / oracle_sql.

Every oracle-checked query runs the REAL engine operators
(wiki_search_engine_spark.*) on the driver-provided parquet tables and is
mirrored by an exact ANSI-SQL implementation for DuckDB. Conventions to
keep the value-hash comparison stable:

- integer outputs cast to BIGINT both sides; floats rounded to 6 dp
  (2 dp for large TPC-H-style sums where fp accumulation order differs);
- identical column names via explicit aliases;
- deterministic ordering columns (score desc, id asc) in both engines;
- the oracle tokenizer is the byte-identical SQL transliteration of the
  engine's base analyzer (functions/analyzer.py — lowercase, punctuation ->
  space, whitespace split, drop all-digit tokens longer than 4).

Every entry has a value-level oracle. A few use non-view sources the SQL
reads directly: ``bm25_stemmed`` scores over a sidecar parquet of
pure-Python-stemmed tokens (Porter is not SQL-expressible; the scoring
math stays in SQL), and the media entries (``media_features``,
``media_embed``, ``audio_features``, ``video_frames``) compare against
sidecars of independently computed expected rows (the payloads are
Spark-side synthesized binaries, not a driver view; the sidecars come
from the independent decoders in oracle_py/ — scalar PNG/GIF/JPEG pixel
decoders, a stdlib-``wave`` audio decoder, and an idx1-index AVI
parser, none sharing code with the kernels). ``simhash_near_dups`` is
fully transliterated to SQL (md5-hex -> uint64 via strpos+shifts,
bit_count/xor hamming).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wiki_search_engine_spark.operators.aggregates import (
    corpus_stats as _corpus_stats,
    doc_stats as _doc_stats,
    term_df_salted,
)
from wiki_search_engine_spark.operators.tokenize import tokenize

# ---------------------------------------------------------------------------
# shared constants
# ---------------------------------------------------------------------------

K1, B = 1.5, 0.75
Q_MAIN = ["table", "scan", "fast"]      # analog of "messi argentina"
Q_MID = ["merge", "window"]
Q_OR = ["customer", "zzznotaword"]      # present + absent -> OR semantics
Q_ONE = ["spark"]
N_PLANES, LSH_SEED = 8, 42
JACCARD_T = 0.2

# DuckDB CTEs: the engine's base analyzer, transliterated
SQL_TOKS = """
toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(
             trim(lower(regexp_replace(text, '[^a-zA-Z0-9 \t\n\r]', ' ', 'g'))),
             '\\s+')) AS tok
    FROM documents) t
  WHERE tok <> ''
    AND NOT (regexp_matches(tok, '^[0-9]+$') AND length(tok) > 4)
)"""

SQL_TF = (
    "tf AS (SELECT doc_id, tok AS term, count(*)::BIGINT AS tf "
    "FROM toks GROUP BY 1, 2)"
)
SQL_DL = (
    "dl AS (SELECT doc_id, count(*)::BIGINT AS doc_len "
    "FROM toks GROUP BY 1)"
)
SQL_STATS = (
    "stats AS (SELECT count(*)::BIGINT AS n, avg(doc_len) AS avgdl, "
    "sum(doc_len)::BIGINT AS total_length FROM dl)"
)

# raw whitespace tokens with positions (for shingles — no analyzer filters)
SQL_POS_TOKS = """
ptoks AS (
  SELECT doc_id, tok, pos FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok,
           generate_subscripts(
             regexp_split_to_array(trim(lower(text)), '\\s+'), 1) - 1 AS pos
    FROM documents) t
  WHERE tok <> '')"""

SQL_SHINGLES = """
sh AS (
  SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
  FROM ptoks a
  JOIN ptoks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN ptoks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2)"""


def _sql_terms(terms: list[str]) -> str:
    inner = ", ".join(f"'{t}'" for t in terms)
    return f"qterms AS (SELECT unnest([{inner}]) AS term)"


def _bm25_sql(
    terms: list[str], k: int, mode: str = "bm25", semantics: str = "or",
    exclude: list[str] | None = None,
    must: list[str] | None = None,
) -> str:
    if mode == "bm25":
        part = (
            f"ln((s.n - q.df + 0.5)/(q.df + 0.5) + 1) * tf.tf * {K1 + 1.0} "
            f"/ (tf.tf + {K1} * (1 - {B} + {B} * dl.doc_len / s.avgdl))"
        )
    else:
        part = "tf.tf * ln(s.n / q.df)"
    having = (
        f"\nHAVING count(DISTINCT term) = {len(set(terms))}"
        if semantics == "and"
        else ""
    )
    if must and semantics != "and":
        m_in = ", ".join("'" + t + "'" for t in sorted(set(must)))
        having = (
            "\nHAVING count(DISTINCT CASE WHEN term IN (" + m_in
            + ") THEN term END) = " + str(len(set(must)))
        )
    anti = ""
    if exclude:
        inner = ", ".join(f"'{t}'" for t in exclude)
        anti = (
            f"\nWHERE doc_id NOT IN (SELECT doc_id FROM tf "
            f"WHERE term IN ({inner}))"
        )
    return f"""
WITH {SQL_TOKS}, {SQL_TF}, {SQL_DL}, {SQL_STATS}, {_sql_terms(terms)},
qdf AS (
  SELECT term, count(*)::BIGINT AS df FROM tf
  WHERE term IN (SELECT term FROM qterms) GROUP BY 1),
contrib AS (
  SELECT tf.doc_id, tf.term, {part} AS part
  FROM tf JOIN qdf q USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s)
SELECT doc_id, round(sum(part), 6) AS score
FROM contrib{anti} GROUP BY doc_id{having}
ORDER BY score DESC, doc_id LIMIT {k}"""


def _bm25f_sql(terms: list[str], k: int, w: float = 2.0) -> str:
    """DuckDB replay of operators/scoring.py score_bm25f over the
    documents table: pseudo-title = first 8 raw whitespace tokens,
    analyzed by the same base chain; tf' = tf_b + (w-1)*tf_t; df =
    docs with tf' > 0; body doc_len normalization throughout."""
    part = (
        f"ln((s.n - q.df + 0.5)/(q.df + 0.5) + 1) * m.tfp * {K1 + 1.0} "
        f"/ (m.tfp + {K1} * (1 - {B} + {B} * m.doc_len / s.avgdl))"
    )
    return f"""
WITH {SQL_TOKS}, {SQL_TF}, {SQL_DL}, {SQL_STATS}, {_sql_terms(terms)},
tdoc AS (
  SELECT doc_id,
         array_to_string(
           (regexp_split_to_array(trim(text), '\\s+'))[1:8], ' ') AS text
  FROM documents),
ttoks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(
             trim(lower(regexp_replace(text, '[^a-zA-Z0-9 \t\n\r]', ' ', 'g'))),
             '\\s+')) AS tok
    FROM tdoc) t
  WHERE tok <> ''
    AND NOT (regexp_matches(tok, '^[0-9]+$') AND length(tok) > 4)),
ttf AS (SELECT doc_id, tok AS term, count(*)::BIGINT AS tf
        FROM ttoks GROUP BY 1, 2),
merged AS (
  SELECT coalesce(b.doc_id, t.doc_id) AS doc_id,
         coalesce(b.term, t.term) AS term,
         coalesce(b.tf, 0) + {w - 1.0} * coalesce(t.tf, 0) AS tfp,
         dl.doc_len AS doc_len
  FROM (SELECT * FROM tf
        WHERE term IN (SELECT term FROM qterms)) b
  FULL JOIN (SELECT * FROM ttf
             WHERE term IN (SELECT term FROM qterms)) t
    ON b.doc_id = t.doc_id AND b.term = t.term
  JOIN dl ON dl.doc_id = coalesce(b.doc_id, t.doc_id)
  WHERE coalesce(b.tf, 0) + {w - 1.0} * coalesce(t.tf, 0) > 0),
qdf AS (SELECT term, count(*)::BIGINT AS df FROM merged GROUP BY 1),
contrib AS (
  SELECT m.doc_id, {part} AS part
  FROM merged m JOIN qdf q USING (term) CROSS JOIN stats s)
SELECT doc_id, round(sum(part), 6) AS score
FROM contrib GROUP BY doc_id
ORDER BY score DESC, doc_id LIMIT {k}"""


def _live_corpus_bm25_sql(deleted: tuple = ()) -> str:
    """BM25 over the live corpus after the re-crawl (docs < 300
    original, >= 300 with appended delta terms) — the shared oracle for
    the compacted (merged_index_bm25) and tiered (tiered_bm25) forms.
    ``deleted``: doc_ids additionally excluded everywhere (the
    tombstone-takedown form, tiered_deleted_bm25 — N/avgdl/df all drop
    because the corpus CTE itself shrinks)."""
    excl = (
        f" AND doc_id NOT IN ({', '.join(str(d) for d in deleted)})"
        if deleted
        else ""
    )
    return (
        _bm25_sql(["table", "scan", "mergedelta"], 50, "bm25")
        .replace("FROM documents", "FROM corpus")
        .replace(
            "\nWITH ",
            "\nWITH corpus AS ("
            f"SELECT doc_id, text FROM documents WHERE doc_id < 300{excl} "
            "UNION ALL "
            "SELECT doc_id, text || ' mergedelta mergedelta' AS text "
            f"FROM documents WHERE doc_id >= 300{excl}),\n",
            1,
        )
    )


def _base_snapshot_bm25_sql() -> str:
    """BM25 over the PRE-FOLD corpus (doc_id < 400, original text) —
    the time-travel oracle: what the retained v_init snapshot must
    still answer after the re-crawl delta was folded into the live
    pointer (time_travel_bm25)."""
    return (
        _bm25_sql(["table", "scan"], 50, "bm25")
        .replace("FROM documents", "FROM corpus")
        .replace(
            "\nWITH ",
            "\nWITH corpus AS ("
            "SELECT doc_id, text FROM documents WHERE doc_id < 400),\n",
            1,
        )
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _base_tokens_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine tokenizer (mapInPandas, base analyzer) over documents,
    renamed to the table's doc_id key."""
    corpus = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("docid"), "text"
    )
    return tokenize(corpus, stem=False)


def _stats_scalars(tokens: DataFrame) -> tuple[int, float]:
    row = _corpus_stats(_doc_stats(tokens)).collect()[0]
    return int(row["N"]), float(row["avgdl"])


def _score_query(
    spark: SparkSession,
    sf_dir: str,
    terms: list[str],
    k: int,
    mode: str,
    path: str = "exhaustive",
    semantics: str = "or",
    exclude: list[str] | None = None,
    required: list[str] | None = None,
) -> DataFrame:
    from wiki_search_engine_spark.operators.postings import build_postings
    from wiki_search_engine_spark.operators.scoring import score_exhaustive
    from wiki_search_engine_spark.operators.wand import search_topk

    tokens = _base_tokens_df(spark, sf_dir)
    n, avgdl = _stats_scalars(tokens)
    if path == "wand":
        postings = build_postings(tokens, avgdl=avgdl, salt_bits=2)
        res = search_topk(postings, terms, n, avgdl, k=2 * k, mode=mode)
    else:
        res = score_exhaustive(
            tokens, terms, n, avgdl, k=None, mode=mode,
            semantics=semantics, exclude_terms=exclude,
            required_terms=required,
        )
    return (
        res.select(
            F.col("docid").cast("long").alias("doc_id"),
            F.round("score", 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# individual queries
# ---------------------------------------------------------------------------


def q_tokenize_tf(spark, sf_dir):
    return _base_tokens_df(spark, sf_dir).select(
        F.col("docid").cast("long").alias("doc_id"),
        "term",
        F.col("tf").cast("long").alias("tf"),
    )


def q_doc_stats(spark, sf_dir):
    return _doc_stats(_base_tokens_df(spark, sf_dir)).select(
        F.col("docid").cast("long").alias("doc_id"),
        F.col("doc_len").cast("long").alias("doc_len"),
    )


def q_term_df(spark, sf_dir):
    # salted two-phase aggregation path (north_rule skew handling)
    return term_df_salted(_base_tokens_df(spark, sf_dir)).select(
        "term", F.col("df").cast("long").alias("df")
    )


def q_corpus_stats(spark, sf_dir):
    return _corpus_stats(_doc_stats(_base_tokens_df(spark, sf_dir))).select(
        F.col("N").cast("long").alias("n_docs"),
        F.round("avgdl", 6).alias("avgdl"),
        F.col("total_length").cast("long").alias("total_length"),
    )


def q_inverted_index(spark, sf_dir):
    """The reference's stored index relation (term, docid, tf, df, doc_len,
    tfidf = tf * N/df — the no-log stored formula, inverted_index.py:116)."""
    tokens = _base_tokens_df(spark, sf_dir)
    n, _ = _stats_scalars(tokens)
    df = term_df_salted(tokens)
    return (
        tokens.join(df, "term")
        .select(
            "term",
            F.col("docid").cast("long").alias("doc_id"),
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.col("doc_len").cast("long").alias("doc_len"),
            F.round(
                F.col("tf") * F.lit(float(n)) / F.col("df"), 6
            ).alias("tfidf"),
        )
    )


def q_postings_roundtrip(spark, sf_dir):
    """Full compressed-postings path: salted encode -> doc-range shards ->
    varbyte decode; must reproduce the flat token relation exactly."""
    from wiki_search_engine_spark.operators.postings import (
        build_postings, decode_postings_df,
    )

    tokens = _base_tokens_df(spark, sf_dir)
    _, avgdl = _stats_scalars(tokens)
    postings = build_postings(tokens, avgdl=avgdl, salt_bits=2)
    return decode_postings_df(postings).select(
        "term",
        F.col("docid").cast("long").alias("doc_id"),
        F.col("tf").cast("long").alias("tf"),
        F.col("doc_len").cast("long").alias("doc_len"),
    )


def q_bm25_top50(spark, sf_dir):
    return _score_query(spark, sf_dir, Q_MAIN, 50, "bm25", "exhaustive")


def q_bm25_top50_wand(spark, sf_dir):
    return _score_query(spark, sf_dir, Q_MAIN, 50, "bm25", "wand")


def q_tfidf_top50(spark, sf_dir):
    return _score_query(spark, sf_dir, Q_MAIN, 50, "tfidf", "exhaustive")


def q_bm25f_top50(spark, sf_dir):
    """BM25F with a weight-2 TITLE field (operators/scoring.py
    score_bm25f): tf' = tf_body + (w-1)*tf_title through the standard
    saturation, df = docs with tf' > 0 (== body df at w=1, the
    rank-identity gate). The documents table has no title column, so
    the pseudo-title is the first 8 raw whitespace tokens of text —
    the analogue of the reference's doc format, which stores the title
    as line 1 of every document (Crawler/crawler.py:401-406) while its
    ranking ignores field structure entirely."""
    from wiki_search_engine_spark.operators.scoring import score_bm25f
    from wiki_search_engine_spark.operators.tokenize import tokenize

    tokens = _base_tokens_df(spark, sf_dir)
    n, avgdl = _stats_scalars(tokens)
    titles = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("docid"),
        F.array_join(
            F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 8), " "
        ).alias("text"),
    )
    title_tf = (
        tokenize(titles, stem=False)
        .select("docid", "term", "tf")
        .join(_doc_stats(tokens).select("docid", "doc_len"), "docid")
    )
    res = score_bm25f(
        tokens, title_tf, Q_MAIN, n, avgdl, k=None, title_weight=2.0
    )
    return (
        res.select(
            F.col("docid").cast("long").alias("doc_id"),
            F.round("score", 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(50)
    )


def q_bm25_mid(spark, sf_dir):
    return _score_query(spark, sf_dir, Q_MID, 50, "bm25", "wand")


def q_bm25_or_semantics(spark, sf_dir):
    return _score_query(spark, sf_dir, Q_OR, 50, "bm25", "exhaustive")


def q_bm25_and_semantics(spark, sf_dir):
    """Conjunctive retrieval: only docs containing EVERY query term
    (list-intersection form; operators/scoring.py semantics='and')."""
    return _score_query(
        spark, sf_dir, Q_MAIN, 50, "bm25", "exhaustive", semantics="and"
    )


def q_bm25_not_semantics(spark, sf_dir):
    """Lucene-style NOT: OR-scored Q_MAIN minus every doc containing
    the excluded term (operators/scoring.py exclude_terms — one LEFT
    ANTI join BEFORE the top-k cut; engine surface: search --negation /
    &negation=true with "-term" tokens)."""
    return _score_query(
        spark, sf_dir, Q_MAIN, 50, "bm25", "exhaustive", exclude=Q_ONE
    )


def q_source_quality_report(spark, sf_dir):
    """Domain-level filtering signals (RefinedWeb-style): per source,
    doc count, mean quality score, and the INTRA-SOURCE near-dup rate
    (1 - distinct min-hash fingerprints / docs — boilerplate farms
    duplicate across their own pages first). flagged = dup_frac > 0.5
    OR avg_quality < 0.3: the drop-the-domain rule a 100 TB pipeline
    applies before per-doc filtering (one groupBy(source) with
    map-side partial aggs; fingerprints ride the same scan)."""
    from wiki_search_engine_spark.functions.textstats import (
        doc_fingerprint, quality_score,
    )

    docs = _docs(spark, sf_dir)
    per_doc = docs.select(
        "source",
        quality_score(F.col("text")).alias("q"),
        doc_fingerprint(F.col("text")).alias("fp"),
    )
    rep = per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("q"), 6).alias("avg_quality"),
        F.round(
            1.0
            - F.count_distinct("fp").cast("double") / F.count("*"),
            6,
        ).alias("dup_frac"),
    )
    return rep.select(
        "source",
        "n_docs",
        "avg_quality",
        "dup_frac",
        (
            (F.col("dup_frac") > 0.5) | (F.col("avg_quality") < 0.3)
        ).alias("flagged"),
    ).orderBy("source")


def q_training_mix(spark, sf_dir):
    """END-TO-END training-data mix: Gopher repetition filter (drop
    flagged docs) -> benchmark decontamination (drop any doc sharing a
    13-gram with the eval suite) -> deterministic per-language token
    budget pack (2000 tokens/lang, seed 7). One composed plan: the
    map-only repetition kernel and the broadcast contamination join
    both ride the same corpus scan; only the pack's two-phase cutoff
    aggregates. (PII scrub composes the same way — map-only — but the
    synthetic corpus carries no PII so it is exercised by its own
    entry, not repeated here.)"""
    from wiki_search_engine_spark.operators.decontaminate import (
        contaminated_docs, ws_token_array,
    )
    from wiki_search_engine_spark.operators.repetition import (
        repetition_metrics,
    )
    from wiki_search_engine_spark.operators.sampling import (
        pack_token_budget,
    )

    docs = _docs(spark, sf_dir)
    keep = repetition_metrics(docs).filter(
        ~F.col("flagged")
    ).select("doc_id")
    toks = ws_token_array(F.col("text"))
    eval_df = docs.filter(
        (F.col("doc_id") % 17 == 3) & (F.size(toks) >= 25)
    ).select(F.array_join(F.slice(toks, 6, 20), " ").alias("text"))
    cont = contaminated_docs(docs, eval_df, n=13).select("doc_id")
    clean = (
        docs.join(keep, "doc_id")
        .join(cont, "doc_id", "left_anti")
        .select(
            "doc_id",
            "lang",
            F.size(F.split(F.trim("text"), r"\s+")).alias("n_toks"),
        )
    )
    return pack_token_budget(
        clean, strata_col="lang", key_col="doc_id",
        tokens_col="n_toks", budget=2000, seed=7,
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        F.col("n_toks").cast("long").alias("n_toks"),
    )


def q_bigram_pmi(spark, sf_dir):
    """Collocation mining: top-25 adjacent bigrams by PMI, min_count=5
    (operators/collocations.py — one codegen pair explode, two hash
    aggs, AQE-planned joins)."""
    from wiki_search_engine_spark.operators.collocations import (
        bigram_pmi,
    )

    return bigram_pmi(
        _docs(spark, sf_dir), min_count=5, k=25
    )


SYN_GROUPS = [["table", "hash"], ["scan"], ["fast"]]


def q_synonym_bm25(spark, sf_dir):
    """Query-time synonym groups (Lucene SynonymQuery semantics, true
    disjunction df — operators/scoring.py score_synonyms): the
    'table'+'hash' group scores as one pseudo-term (summed tf), plus
    ordinary 'scan' and 'fast' contributions. Serving twin:
    SearchEngine.search_local(synonyms=True) over the synonyms.json
    sidecar (pytest rank identity)."""
    from wiki_search_engine_spark.operators.scoring import (
        score_synonyms,
    )

    tokens = _base_tokens_df(spark, sf_dir)
    n, avgdl = _stats_scalars(tokens)
    return score_synonyms(
        tokens, SYN_GROUPS, n, avgdl, k=50, mode="bm25"
    ).select(
        F.col("docid").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )


def q_bm25_must_semantics(spark, sf_dir):
    """Lucene MUST: Q_MAIN scored as OR but only docs containing the
    +term (Q_MAIN[0]) survive — the SHOULD terms still contribute
    (operators/scoring.py required_terms: the same single hash
    aggregate as AND with a required-subset gate; serving surface:
    '+term' under --negation / &negation=true)."""
    return _score_query(
        spark, sf_dir, Q_MAIN, 50, "bm25", "exhaustive",
        required=[Q_MAIN[0]],
    )


def q_bm25_single_term(spark, sf_dir):
    return _score_query(spark, sf_dir, Q_ONE, 20, "bm25", "wand")


def q_search_hydrated(spark, sf_dir):
    """Top-10 + snippet hydration join (mongoService.js:75-113 analogue)."""
    from wiki_search_engine_spark.functions.textstats import snippet

    top = _score_query(spark, sf_dir, Q_MAIN, 10, "bm25", "exhaustive")
    docs = _docs(spark, sf_dir).select(
        "doc_id", snippet(F.col("text")).alias("snippet")
    )
    return (
        docs.join(F.broadcast(top), "doc_id")
        .select("doc_id", "score", "snippet")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def q_dedup_exact(spark, sf_dir):
    from wiki_search_engine_spark.operators.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir)).select(
        "content_md5",
        F.col("keep_id").cast("long").alias("keep_id"),
        F.col("dup_count").cast("long").alias("dup_count"),
    )


def q_dedup_first_wins(spark, sf_dir):
    from wiki_search_engine_spark.operators.dedup import (
        first_wins_dedup, normalized_text,
    )

    docs = _docs(spark, sf_dir).withColumn(
        "content_key", F.substring(normalized_text(F.col("text")), 1, 20)
    )
    return first_wins_dedup(
        docs, "content_key", order_col="doc_id"
    ).select("content_key", F.col("doc_id").cast("long").alias("doc_id"))


def q_minhash_lsh_candidates(spark, sf_dir):
    from wiki_search_engine_spark.operators.dedup import (
        minhash_lsh_candidates,
    )

    return minhash_lsh_candidates(
        _docs(spark, sf_dir), num_hashes=16, bands=4
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("n_bands").cast("long").alias("n_bands"),
    )


def q_ngram_jaccard_dups(spark, sf_dir):
    from wiki_search_engine_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), threshold=JACCARD_T
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "jaccard",
    )


def q_ngram_jaccard_verify(spark, sf_dir):
    """The scale path: LSH candidate pairs -> exact Jaccard verify via
    per-pair array_intersect (no shingle self-join anywhere in the
    plan)."""
    from wiki_search_engine_spark.operators.dedup import (
        minhash_lsh_candidates, ngram_jaccard_pairs,
    )

    docs = _docs(spark, sf_dir)
    cands = minhash_lsh_candidates(docs, num_hashes=16, bands=4)
    return ngram_jaccard_pairs(
        docs, threshold=JACCARD_T, candidates=cands
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "jaccard",
    )


def q_dedup_components(spark, sf_dir):
    """Duplicate clusters from verified near-dup pairs: connected
    components (min-label propagation), rep = min id — the transitive
    closure a pair-level drop rule gets wrong on a-b, b-c chains."""
    from wiki_search_engine_spark.operators.dedup import (
        dedup_components, minhash_lsh_candidates, ngram_jaccard_pairs,
    )

    docs = _docs(spark, sf_dir)
    cands = minhash_lsh_candidates(docs, num_hashes=16, bands=4)
    pairs = ngram_jaccard_pairs(
        docs, threshold=JACCARD_T, candidates=cands
    )
    return dedup_components(pairs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("rep_id").cast("long").alias("rep_id"),
    )


def q_simhash_near_dups(spark, sf_dir):
    from wiki_search_engine_spark.operators.dedup import simhash_near_dups

    return simhash_near_dups(
        _docs(spark, sf_dir), max_hamming=12
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )


def _query_vec(spark, sf_dir) -> list[float]:
    row = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .collect()[0]
    )
    return [float(x) for x in row[0]]


def q_cosine_top10(spark, sf_dir):
    from wiki_search_engine_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_topk(emb, _query_vec(spark, sf_dir), k=10).select(
        F.col("vec_id").cast("long").alias("vec_id"), "cos_sim"
    )


NEARDUP_T = 0.4
IVF_C, IVF_NPROBE = 16, 4


def _ivf_centroids(spark, sf_dir) -> list[tuple[int, list[float]]]:
    """Deterministic coarse quantizer: the embeddings of vec_id < IVF_C
    (expressible identically in the SQL oracle)."""
    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") < IVF_C)
        .select("vec_id", "embedding")
        .collect()
    )
    return sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in rows
    )


def q_ann_ivf_top10(spark, sf_dir):
    from wiki_search_engine_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_topk(
        emb,
        _query_vec(spark, sf_dir),
        _ivf_centroids(spark, sf_dir),
        k=10,
        nprobe=IVF_NPROBE,
    ).select(F.col("vec_id").cast("long").alias("vec_id"), "cos_sim")


def q_corpus_clean(spark, sf_dir):
    """Composed dedup pipeline: exact winners minus verified near-dups
    (operators/dedup.py corpus_clean). Output = kept doc ids."""
    from wiki_search_engine_spark.operators.dedup import corpus_clean

    return corpus_clean(
        _docs(spark, sf_dir), jaccard_threshold=JACCARD_T
    ).select(F.col("doc_id").cast("long").alias("doc_id"))


KMEANS_K, KMEANS_ITERS, TRAINED_NPROBE = 8, 2, 3


def q_ann_ivf_pruned(spark, sf_dir):
    """IVF over a MATERIALIZED partitionBy(cell) layout: write once
    (cached per sf), then query via cell-directory partition pruning
    (operators/similarity.py ivf_write/ivf_read_topk) — the vector
    analogue of the postings bucket layout. Same result as the
    in-memory ivf_topk, so it shares the ann_ivf oracle."""
    import os

    from wiki_search_engine_spark.operators.similarity import (
        ivf_read_topk, ivf_write,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = _ivf_centroids(spark, sf_dir)
    tag = sf_dir.rstrip("/").replace("/", "_")
    path = f"/tmp/wse_ivf_index{tag}"
    if not os.path.exists(f"{path}/_SUCCESS"):
        ivf_write(emb, cents, path)
    return ivf_read_topk(
        spark, path, _query_vec(spark, sf_dir), cents, k=10,
        nprobe=IVF_NPROBE,
    ).select(F.col("vec_id").cast("long").alias("vec_id"), "cos_sim")


def q_ann_ivf_trained(spark, sf_dir):
    """IVF-Flat end-to-end WITHOUT caller-supplied centroids: seeded
    distributed k-means training (operators/similarity.py kmeans_train —
    per-partition partial sums, driver update, 4-dp rounding so the SQL
    oracle replays the identical iterations), then nprobe-pruned exact
    cosine top-k."""
    from wiki_search_engine_spark.operators.similarity import (
        ivf_topk, kmeans_train,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centroids = kmeans_train(emb, k=KMEANS_K, iters=KMEANS_ITERS)
    return ivf_topk(
        emb,
        _query_vec(spark, sf_dir),
        centroids,
        k=10,
        nprobe=TRAINED_NPROBE,
    ).select(F.col("vec_id").cast("long").alias("vec_id"), "cos_sim")


def q_embedding_near_dups(spark, sf_dir):
    from wiki_search_engine_spark.operators.similarity import (
        embedding_near_dups,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_near_dups(
        emb, threshold=NEARDUP_T, n_planes=N_PLANES, seed=LSH_SEED,
        dim=64,  # matches the oracle's 64-dim planes; skips the probe
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "cos_sim",
    )


def q_ann_lsh_top10(spark, sf_dir):
    from wiki_search_engine_spark.operators.similarity import ann_lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann_lsh_topk(
        emb, _query_vec(spark, sf_dir), k=10, n_planes=N_PLANES,
        seed=LSH_SEED,
    ).select(F.col("vec_id").cast("long").alias("vec_id"), "cos_sim")


LSH_NPROBES = 4


def q_ann_lsh_multiprobe(spark, sf_dir):
    """Multi-probe LSH ANN: the query's own bucket plus the
    (n_probes - 1) smallest-|margin| single-bit-flip buckets
    (operators/similarity.py lsh_probe_buckets — the single-flip prefix
    of Lv et al. VLDB'07's probing sequence). Recall climbs toward
    exact at linear probe cost (bench.py grades recall@10 for the
    sweep); the probe-set selection is replayed EXACTLY in SQL (dots of
    literal planes, ORDER BY abs(margin) LIMIT, xor)."""
    from wiki_search_engine_spark.operators.similarity import ann_lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann_lsh_topk(
        emb, _query_vec(spark, sf_dir), k=10, n_planes=N_PLANES,
        seed=LSH_SEED, n_probes=LSH_NPROBES,
    ).select(F.col("vec_id").cast("long").alias("vec_id"), "cos_sim")


LSH_NTABLES = 4


def q_ann_lsh_multitable(spark, sf_dir):
    """Multi-TABLE LSH ANN (operators/similarity.py
    ann_lsh_multitable_topk): L=4 independent hyperplane families; a
    vector is a candidate if it collides with the query in ANY table,
    then exact cosine re-rank of the union — recall 1-(1-p^b)^L, the
    standard table-count recall lever (vs multi-probe's bit flips
    within ONE table). The oracle replays every table's literal planes
    as an OR of bucket equalities, so the candidate set is
    value-checked, not just the final ranks."""
    from wiki_search_engine_spark.operators.similarity import (
        ann_lsh_multitable_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann_lsh_multitable_topk(
        emb, _query_vec(spark, sf_dir), k=10, n_planes=N_PLANES,
        n_tables=LSH_NTABLES, seed=LSH_SEED,
    ).select(F.col("vec_id").cast("long").alias("vec_id"), "cos_sim")


def q_lang_id(spark, sf_dir):
    from wiki_search_engine_spark.functions.textstats import lang_id

    return (
        _docs(spark, sf_dir)
        .select("lang", lang_id(F.col("text")).alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def q_quality_scores(spark, sf_dir):
    from wiki_search_engine_spark.functions.textstats import (
        bpe_ish_token_count, punct_ratio, quality_score, stopword_ratio,
        ws_token_count,
    )

    t = F.col("text")
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        ws_token_count(t).cast("long").alias("ws_tokens"),
        bpe_ish_token_count(t).cast("long").alias("bpe_tokens"),
        F.round(punct_ratio(t), 6).alias("punct_ratio"),
        F.round(stopword_ratio(t), 6).alias("stopword_ratio"),
        quality_score(t).alias("quality"),
    )


def q_doc_fingerprint(spark, sf_dir):
    from wiki_search_engine_spark.functions.textstats import doc_fingerprint

    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        doc_fingerprint(F.col("text")).alias("fingerprint"),
    )


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (GPT-3 app. C style): docs sharing any
    13-gram with a deterministic eval suite (docs ``doc_id % 17 == 3``
    contribute tokens 6..25 as one eval question). Corpus grams explode
    in codegen; the eval grams broadcast; overlap = map-side
    BroadcastHashJoin + per-doc distinct count
    (operators/decontaminate.py)."""
    from wiki_search_engine_spark.operators.decontaminate import (
        contaminated_docs, ws_token_array,
    )

    docs = _docs(spark, sf_dir)
    toks = ws_token_array(F.col("text"))
    eval_df = docs.filter(
        (F.col("doc_id") % 17 == 3) & (F.size(toks) >= 25)
    ).select(F.array_join(F.slice(toks, 6, 20), " ").alias("text"))
    return (
        contaminated_docs(docs, eval_df, n=13)
        .select(F.col("doc_id").cast("long").alias("doc_id"), "n_hits")
        .orderBy("doc_id")
    )


def q_decontaminate_xx64(spark, sf_dir):
    """Production decontamination mode: grams join on xxhash64 (8-byte
    keys) instead of strings — bench line only; the string mode is the
    oracle gate (candidate-superset pytest covers this one)."""
    from wiki_search_engine_spark.operators.decontaminate import (
        contaminated_docs, ws_token_array,
    )

    docs = _docs(spark, sf_dir)
    toks = ws_token_array(F.col("text"))
    eval_df = docs.filter(
        (F.col("doc_id") % 17 == 3) & (F.size(toks) >= 25)
    ).select(F.array_join(F.slice(toks, 6, 20), " ").alias("text"))
    return (
        contaminated_docs(docs, eval_df, n=13, join_on="xxhash64")
        .select(F.col("doc_id").cast("long").alias("doc_id"), "n_hits")
        .orderBy("doc_id")
    )


def q_pii_scrub(spark, sf_dir):
    """PII redaction pass: emails/IPv4/phones injected deterministically
    by doc_id residue, then counted and masked by the codegen regexp
    chain (functions/pii.py). tail40 pins the masked text bytes."""
    from wiki_search_engine_spark.functions.pii import (
        pii_counts, scrub_pii,
    )

    docs = _docs(spark, sf_dir)
    injected = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" call 415-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit(" host 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".7"),
            ),
        ).otherwise(F.lit("")),
    )
    counts = pii_counts(injected)
    scrubbed = scrub_pii(injected)
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        counts["n_emails"].cast("long").alias("n_emails"),
        counts["n_ips"].cast("long").alias("n_ips"),
        counts["n_phones"].cast("long").alias("n_phones"),
        F.substring(
            scrubbed,
            F.greatest(F.length(scrubbed) - 39, F.lit(1)),
            F.lit(40),
        ).alias("tail40"),
    )


def q_repetition_flags(spark, sf_dir):
    """Gopher-style repetition filter: per-doc top 2-/3-gram token
    fraction, map-only vectorized kernel (operators/repetition.py)."""
    from wiki_search_engine_spark.operators.repetition import (
        repetition_metrics,
    )

    return repetition_metrics(_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("top2_count").cast("long").alias("top2_count"),
        F.col("top3_count").cast("long").alias("top3_count"),
        F.round("top2_frac", 6).alias("top2_frac"),
        F.round("top3_frac", 6).alias("top3_frac"),
        "flagged",
    )


def q_events_window_agg(spark, sf_dir):
    from wiki_search_engine_spark.streaming.ingest import (
        events_windowed_counts,
    )

    # align epoch arithmetic with DuckDB (naive timestamps treated as UTC)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return events_windowed_counts(events, window="1 minute").select(
        F.unix_timestamp("window_start").cast("long").alias("win_start"),
        F.unix_timestamp("window_end").cast("long").alias("win_end"),
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        "sum_value",
    )


def q_events_sessions(spark, sf_dir):
    """Session windows (gap 5 min) per event_type — the native
    Structured Streaming sessionization (F.session_window), batch form
    = streaming oracle (streaming/ingest.py events_sessionized)."""
    from wiki_search_engine_spark.streaming.ingest import (
        events_sessionized,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return events_sessionized(events, gap="5 minutes").select(
        F.unix_timestamp("session_start").cast("long").alias(
            "session_start"
        ),
        F.unix_timestamp("session_end").cast("long").alias(
            "session_end"
        ),
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        "sum_value",
    )


def q_worker_totals(spark, sf_dir):
    """Batch form of the stateful liveness monitor's running totals
    (streaming/heartbeats.py — applyInPandasWithState op; the streaming
    totals are pytest-verified against this exact aggregation)."""
    from wiki_search_engine_spark.streaming.heartbeats import (
        worker_totals_batch,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    hb = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("event_type").alias("worker_id"),
        "ts",
        F.floor("value").cast("long").alias("pages"),
    )
    return worker_totals_batch(hb).select(
        "worker_id",
        F.unix_timestamp("last_ts").cast("long").alias("last_ts_epoch"),
        F.col("n_beats").cast("long").alias("n_beats"),
        "total_pages",
    )


def q_lineitem_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style scan+agg (pushdown/codegen demo on the big table)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.count("*").cast("long").alias("count_order"),
        )
    )


def q_orders_by_segment(spark, sf_dir):
    """Broadcast-join demo: orders x customer (small dim broadcast)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return (
        orders.join(
            F.broadcast(cust),
            orders["o_custkey"] == cust["c_custkey"],
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


def q_revenue_by_nation(spark, sf_dir):
    """TPC-H Q5-shaped six-table join — the mixed join-strategy demo:
    region (5 rows, filtered) and nation (25) and supplier (100) are
    BROADCAST; customer-orders-lineitem are shuffle joins AQE can
    re-plan; the local-supplier condition (c_nationkey = s_nationkey)
    rides the join output. Filters (r_name, the o_orderdate year) push
    into the scans. At 100 TB this is exactly the plan you want: tiny
    dims never shuffle, the three big tables hash-partition on their
    join keys once each."""
    rd = spark.read
    region = rd.parquet(f"{sf_dir}/region.parquet").filter(
        F.col("r_name") == "ASIA"
    )
    nation = rd.parquet(f"{sf_dir}/nation.parquet")
    supplier = rd.parquet(f"{sf_dir}/supplier.parquet")
    customer = rd.parquet(f"{sf_dir}/customer.parquet")
    orders = rd.parquet(f"{sf_dir}/orders.parquet").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    lineitem = rd.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        customer.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    nation["n_regionkey"] == region["r_regionkey"],
                )
            ),
            customer["c_nationkey"] == F.col("n_nationkey"),
        )
        .join(orders, customer["c_custkey"] == orders["o_custkey"])
        .join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .join(
            F.broadcast(supplier),
            (lineitem["l_suppkey"] == supplier["s_suppkey"])
            & (customer["c_nationkey"] == supplier["s_nationkey"]),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ),
                2,
            ).alias("revenue"),
            F.count("*").cast("long").alias("n_lineitems"),
        )
    )


def q_hll_register_sketch(spark, sf_dir):
    """HyperLogLog distinct-terms sketch over the token stream — the
    entry output is the REGISTER TABLE itself (<= 4096 (register, rho)
    rows, integer-exact, register-wise-max mergeable), which is what a
    100-TB job ships per map task instead of the vocabulary
    (operators/sketches.py). The estimate derived from it is graded in
    pytest/bench (error vs exact distinct)."""
    from wiki_search_engine_spark.operators.sketches import (
        hll_register_sketch,
    )

    return hll_register_sketch(
        _base_tokens_df(spark, sf_dir), "term"
    ).select(
        F.col("register").cast("long").alias("register"),
        F.col("rho").cast("long").alias("rho"),
    )


def q_term_heavy_hitters(spark, sf_dir):
    """Top-15 heaviest terms by total occurrences via distributed
    weighted Misra-Gries (mapInPandas per-partition summaries +
    sketch-sized union — operators/sketches.py). capacity=4096 >> the
    sf vocab, so the sketch is in its exact regime and the oracle is
    the exact frequency top-k; the lossy regime's error bound is
    hypothesis-tested."""
    from wiki_search_engine_spark.operators.sketches import (
        mg_heavy_hitters,
    )

    return mg_heavy_hitters(
        _base_tokens_df(spark, sf_dir),
        term_col="term",
        weight_col="tf",
        capacity=4096,
        k=15,
    )


def q_term_prefix_topk(spark, sf_dir):
    """Autocomplete surface: top-5 terms with prefix 's' ranked by df
    — the distributed form of SearchEngine.suggest (the serving path
    reads the term-sorted lexicon with range-pruned pyarrow row
    groups; pytest asserts both forms agree on a built index)."""
    return (
        term_df_salted(_base_tokens_df(spark, sf_dir))
        .filter(F.col("term").startswith("s"))
        .select("term", F.col("df").cast("long").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(5)
    )


def q_fuzzy_term_match(spark, sf_dir):
    """Spell correction, distributed reference form
    (operators/fuzzy.py fuzzy_scan): one JVM levenshtein pass over the
    lexicon ranking corrections of the misspelling 'tabel' by
    (distance asc, df desc, term asc). The serving path is the
    materialized SymSpell deletion-neighborhood lookup
    (spell_lookup — zero Spark jobs), pytest-proven equivalent to
    this scan."""
    from wiki_search_engine_spark.operators.fuzzy import fuzzy_scan

    lex = term_df_salted(_base_tokens_df(spark, sf_dir))
    return fuzzy_scan(lex, "srt", max_dist=3, k=10).select(
        "term",
        F.col("df").cast("long").alias("df"),
        F.col("dist").cast("long").alias("dist"),
    )


def q_phrase_bm25(spark, sf_dir):
    """Exact-phrase retrieval ("table hash") scored as a BM25
    pseudo-term (operators/phrase.py): ONE kernel pass emits hit rows
    only for the phrase's terms with their analyzed positions, then
    adjacency is a single groupBy(docid, apos - slot) counting distinct
    slots — no m-way self-join, no token-stream materialization. The
    oracle replays analyzed positions via generate_subscripts +
    row_number."""
    from wiki_search_engine_spark.operators.phrase import phrase_bm25

    corpus = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("docid"), "text"
    )
    n, avgdl = _stats_scalars(_base_tokens_df(spark, sf_dir))
    return phrase_bm25(corpus, "table hash", n, avgdl, k=10).select(
        F.col("docid").cast("long").alias("doc_id"),
        F.col("phrase_tf").cast("long").alias("phrase_tf"),
        "score",
    )


def q_phrase_occurrences(spark, sf_dir):
    """All exact occurrences of a 3-token phrase — the raw adjacency
    relation (docid, start) underlying phrase ranking; value-checks the
    anchor-aggregation formulation against the oracle's positional
    join."""
    from wiki_search_engine_spark.operators.phrase import (
        phrase_occurrences,
    )

    corpus = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("docid"), "text"
    )
    return (
        phrase_occurrences(corpus, "slow hash batch")
        .select(
            F.col("docid").cast("long").alias("doc_id"),
            F.col("start").cast("long").alias("start"),
        )
        .orderBy("doc_id", "start")
    )


def q_stratified_sample(spark, sf_dir):
    """Deterministic stratified quota: 20 docs per language by
    seeded-hash order (operators/sampling.py stratified_sample) — the
    reproducible 'N examples per stratum' selector a training-data mix
    needs; the sample is a pure function of (data, seed), which is
    exactly why the oracle can replay it row-for-row."""
    from wiki_search_engine_spark.operators.sampling import (
        stratified_sample,
    )

    return stratified_sample(
        _docs(spark, sf_dir).select("doc_id", "lang"),
        strata_col="lang",
        key_col="doc_id",
        n_per=20,
        seed=42,
    ).select(F.col("doc_id").cast("long").alias("doc_id"), "lang")


def q_token_budget_pack(spark, sf_dir):
    """Greedy per-language token-budget packing: walk the seeded-hash
    order and keep docs while the running whitespace-token sum stays
    under 3000 (operators/sampling.py pack_token_budget; atomic docs,
    overshoot bounded by one). The 'give me ~X tokens per language'
    selector."""
    from wiki_search_engine_spark.operators.sampling import (
        pack_token_budget,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_toks"),
    )
    return pack_token_budget(
        docs, strata_col="lang", key_col="doc_id",
        tokens_col="n_toks", budget=3000, seed=42,
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        F.col("n_toks").cast("long").alias("n_toks"),
    )


def q_wildcard_bm25(spark, sf_dir):
    """Wildcard multi-term query ('s*'): every lexicon term with the
    prefix expands into an OR-scored BM25 query with its own df — the
    Lucene scoring-boolean rewrite. The serving twin is
    SearchEngine.expand_query_terms (top-df-capped suggest expansion,
    pytest identity); here the expansion and scoring are fully
    distributed and the oracle expands with LIKE."""
    from wiki_search_engine_spark.operators.scoring import (
        score_exhaustive,
    )

    tokens = _base_tokens_df(spark, sf_dir)
    n, avgdl = _stats_scalars(tokens)
    terms = sorted(
        r["term"]
        for r in term_df_salted(tokens)
        .filter(F.col("term").startswith("s"))
        .select("term")
        .collect()
    )
    res = score_exhaustive(tokens, terms, n, avgdl, k=None, mode="bm25")
    return (
        res.select(
            F.col("docid").cast("long").alias("doc_id"),
            F.round("score", 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


def q_wildcard_leading_bm25(spark, sf_dir):
    """Leading wildcard ('*er'): every lexicon term with the SUFFIX
    expands into an OR-scored BM25 query with its own df. The serving
    twin is ServingCore.expand_wildcard over the reversed-term
    lexicon sidecar (engine.build_lexicon_rev / CLI revindex — a
    term_rev prefix RANGE scan, footer-stats pruned, pytest identity
    vs a full-lexicon regex); here the expansion is the distributed
    reverse()-startswith form and the oracle expands with LIKE
    '%er'."""
    from wiki_search_engine_spark.operators.scoring import (
        score_exhaustive,
    )

    tokens = _base_tokens_df(spark, sf_dir)
    n, avgdl = _stats_scalars(tokens)
    terms = sorted(
        r["term"]
        for r in term_df_salted(tokens)
        .filter(F.reverse(F.col("term")).startswith("re"))
        .select("term")
        .collect()
    )
    res = score_exhaustive(tokens, terms, n, avgdl, k=None, mode="bm25")
    return (
        res.select(
            F.col("docid").cast("long").alias("doc_id"),
            F.round("score", 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


def q_phrase_slop_bm25(spark, sf_dir):
    """Ordered proximity ("slow batch"~2): matches where 'batch'
    follows 'slow' within a window of span 3; scored as a pseudo-term
    like exact phrases (operators/phrase.py slop_occurrences — the
    hit-kernel + chained range joins form; the driver twin is the
    greedy smallest-successor chain in SearchEngine._phrase_rows,
    pytest-identity). At sf0.01 this widens 36 exact starts to 93 —
    the discriminating case."""
    from wiki_search_engine_spark.operators.phrase import (
        rank_occurrences, slop_occurrences,
    )

    corpus = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("docid"), "text"
    )
    n, avgdl = _stats_scalars(_base_tokens_df(spark, sf_dir))
    occ = slop_occurrences(corpus, "slow batch", slop=2)
    return rank_occurrences(occ, n, avgdl, k=10).select(
        F.col("docid").cast("long").alias("doc_id"),
        F.col("phrase_tf").cast("long").alias("phrase_tf"),
        "score",
    )


def q_mixed_phrase_bm25(spark, sf_dir):
    """Mixed query semantics (operators/phrase.py mixed_bm25): docs
    must contain the quoted phrase "table hash" (conjunctive filter,
    scored as a BM25 pseudo-term), and the bag term 'fast' adds its
    ordinary contribution without expanding the candidate set — the
    '"exact phrase" plus keywords' query every search engine serves.
    Driver twin: SearchEngine.search_mixed (quotes auto-route on
    /query-stem when the index has the positional sidecar)."""
    from wiki_search_engine_spark.operators.phrase import mixed_bm25

    corpus = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("docid"), "text"
    )
    n, avgdl = _stats_scalars(_base_tokens_df(spark, sf_dir))
    return mixed_bm25(
        corpus, ["fast"], ["table hash"], n, avgdl, k=10
    ).select(
        F.col("docid").cast("long").alias("doc_id"), "score"
    )


def _pos_index_dir(spark, sf_dir) -> str:
    """A positions-enabled index over the documents table (pre-keyed
    docid = doc_id, base analyzer), cached per sf like _tiered_dirs."""
    import json
    import os

    from wiki_search_engine_spark.plans.build import build_index

    tag = sf_dir.rstrip("/").replace("/", "_")
    d = f"/tmp/wse_positions{tag}"
    marker = f"{d}/manifest.json"
    if os.path.exists(marker):
        with open(marker) as f:
            if json.load(f).get("all", {}).get("status") == "done":
                return d
    build_index(
        spark,
        _docs(spark, sf_dir).select(
            F.col("doc_id").alias("docid"),
            F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
            "text",
        ),
        d,
        stem=False,
        n_buckets=16,
        bucket_groups=1,
        salt_bits=2,
        positions=True,
    )
    return d


def q_indexed_phrase_bm25(spark, sf_dir):
    """The SERVING form of phrase_bm25: exact-phrase top-10 from the
    positional sidecar (operators/positions.py) — reads only the two
    phrase terms' bucket directories with an In(term) pushdown, never
    the corpus — scored with the index's stats singleton. Same oracle
    as phrase_bm25, so the sidecar encode/decode, bucket routing, and
    anchor aggregation are all value-checked end-to-end."""
    import pyarrow.parquet as pq

    from wiki_search_engine_spark.operators.phrase import (
        indexed_phrase_occurrences, rank_occurrences,
    )

    d = _pos_index_dir(spark, sf_dir)
    stats = pq.read_table(f"{d}/stats").to_pandas().iloc[0]
    occ = indexed_phrase_occurrences(
        spark, d, "table hash", stem=False, n_buckets=16
    )
    return rank_occurrences(
        occ, n=int(stats["N"]), avgdl=float(stats["avgdl"]), k=10
    ).select(
        F.col("docid").cast("long").alias("doc_id"),
        F.col("phrase_tf").cast("long").alias("phrase_tf"),
        "score",
    )


# ----- rows-only entries (non-SQL-expressible) -----------------------------


def q_bm25_stemmed(spark, sf_dir):
    """Full analyzer (stopwords + Porter) path — verified against the
    pure-Python oracle in pytest; Porter is not expressible in SQL."""
    from wiki_search_engine_spark.operators.scoring import score_exhaustive

    tokens = tokenize(
        _docs(spark, sf_dir).select(
            F.col("doc_id").alias("docid"), "text"
        ),
        stem=True,
    )
    n, avgdl = _stats_scalars(tokens)
    res = score_exhaustive(
        tokens, ["tabl", "scan", "fast"], n, avgdl, k=50, mode="bm25"
    )
    return res.select(
        F.col("docid").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )


def q_bm25_batch(spark, sf_dir):
    """Batched top-k (operators/wand.py search_topk_many): three query
    sets scored in ONE job over a shared postings build; per-query rows
    must equal the per-query oracle (UNION ALL of the single-query
    SQLs)."""
    from wiki_search_engine_spark.operators.postings import build_postings
    from wiki_search_engine_spark.operators.wand import search_topk_many

    tokens = _base_tokens_df(spark, sf_dir)
    n, avgdl = _stats_scalars(tokens)
    postings = build_postings(tokens, avgdl=avgdl, salt_bits=2)
    res = search_topk_many(
        postings, {0: Q_MAIN, 1: Q_MID, 2: Q_ONE}, n, avgdl, k=20,
        mode="bm25",
    )
    return res.select(
        "query_id",
        F.col("docid").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )


def q_merged_index_bm25(spark, sf_dir):
    """Incremental index merge (operators/merge.py) end-to-end: base
    index over doc_id < 400, a "re-crawl" delta over doc_id >= 300 with
    appended text, merged with delta-wins purge semantics, then BM25
    top-50 via the WAND kernel over the MERGED postings. The oracle
    scores the same query over the expected merged corpus
    (docs < 300 original, docs >= 300 modified) — so stale-posting
    purge, delta-only terms ('mergedelta'), merged stats, and the
    rescaled block-max bounds are all value-checked against DuckDB."""
    import numpy as np

    from wiki_search_engine_spark.operators.merge import (
        merge_postings_tables,
    )
    from wiki_search_engine_spark.operators.postings import build_postings
    from wiki_search_engine_spark.operators.wand import search_topk

    docs = _docs(spark, sf_dir)
    base_corpus = docs.filter(F.col("doc_id") < 400).select(
        F.col("doc_id").alias("docid"), "text"
    )
    delta_corpus = docs.filter(F.col("doc_id") >= 300).select(
        F.col("doc_id").alias("docid"),
        F.concat(F.col("text"), F.lit(" mergedelta mergedelta")).alias(
            "text"
        ),
    )
    tok_b = tokenize(base_corpus, stem=False)
    tok_d = tokenize(delta_corpus, stem=False)
    _, avgdl_b = _stats_scalars(tok_b)
    _, avgdl_d = _stats_scalars(tok_d)
    n_m, avgdl_m = _stats_scalars(
        tok_b.filter(F.col("docid") < 300).unionByName(tok_d)
    )
    updated = np.sort(
        np.array(
            [r[0] for r in delta_corpus.select("docid").collect()],
            dtype=np.int64,
        )
    )
    merged = merge_postings_tables(
        build_postings(tok_b, avgdl=avgdl_b, salt_bits=2),
        build_postings(tok_d, avgdl=avgdl_d, salt_bits=2),
        updated_docids=updated,
        avgdl_merged=avgdl_m,
        f_base=max(1.0, avgdl_m / avgdl_b),
        f_delta=max(1.0, avgdl_m / avgdl_d),
    )
    res = search_topk(
        merged, ["table", "scan", "mergedelta"], n_m, avgdl_m, k=50,
        mode="bm25",
    )
    return res.select(
        F.col("docid").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
    ).orderBy(F.desc("score"), F.asc("doc_id"))


N_MEDIA = 200


def _tiered_dirs(spark, sf_dir) -> tuple[str, str]:
    """Base + re-crawl-delta segment indexes over the documents table
    (cached per sf; same corpus split as merged_index_bm25). The corpus
    is pre-keyed: docid = doc_id, so results align with the oracle."""
    import json
    import os

    from wiki_search_engine_spark.plans.build import build_index

    tag = sf_dir.rstrip("/").replace("/", "_")
    root = f"/tmp/wse_tiered{tag}"
    base_dir, delta_dir = f"{root}/base", f"{root}/delta"

    def done(d):
        p = f"{d}/manifest.json"
        return os.path.exists(p) and "all" in json.load(open(p))

    if not (done(base_dir) and done(delta_dir)):
        docs = _docs(spark, sf_dir)

        def prep(df):
            return df.select(
                F.col("doc_id").cast("long").alias("docid"),
                F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
                "text",
            )

        base = prep(docs.filter(F.col("doc_id") < 400))
        delta = prep(docs.filter(F.col("doc_id") >= 300)).withColumn(
            "text",
            F.concat(F.col("text"), F.lit(" mergedelta mergedelta")),
        )
        build_index(
            spark, base, base_dir, stem=False, n_buckets=16,
            bucket_groups=1, salt_bits=2,
        )
        build_index(
            spark, delta, delta_dir, stem=False, n_buckets=16,
            bucket_groups=1, salt_bits=2,
        )
    return base_dir, delta_dir


def q_tiered_bm25(spark, sf_dir):
    """Tiered (segment) serving WITHOUT compaction: base index + delta
    index queried as one (wiki_search_engine_spark/tiered.py) — stale
    base postings tombstoned, df/N/avgdl computed over LIVE docs, so
    scores must equal BM25 over the live corpus exactly (same oracle as
    merged_index_bm25; pytest additionally asserts tiered == the
    compacted index)."""
    import pandas as pd

    from wiki_search_engine_spark.tiered import TieredEngine

    base_dir, delta_dir = _tiered_dirs(spark, sf_dir)
    eng = TieredEngine(spark, [base_dir, delta_dir])
    rows = eng.search_local("table scan mergedelta", k=50, mode="bm25")
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": pd.array(
                    [d for d, _ in rows], dtype="int64"
                ),
                "score": [round(s, 6) for _, s in rows],
            }
        )
    )


# base-only doc, re-crawled doc (lives in the DELTA segment), and a
# nonexistent id (must be a no-op) — the takedown entry's victims
TIERED_DELETED_IDS = (7, 350, 99999999)


def q_tiered_deleted_bm25(spark, sf_dir):
    """Tombstone-only takedown end-to-end (tiered.py
    write_deletes_segment): base + re-crawl-delta segments plus a
    DELETES segment queried as one index — the deleted docs vanish and
    live N/avgdl/df drop exactly, so BM25 scores must equal DuckDB over
    (live corpus minus the deleted ids). One victim lives only in the
    base, one in the overriding delta, one nowhere. Pytest additionally
    asserts the deletes segment equals delete_docs' full rewrite."""
    import os

    import pandas as pd

    from wiki_search_engine_spark.tiered import (
        TieredEngine, write_deletes_segment,
    )

    base_dir, delta_dir = _tiered_dirs(spark, sf_dir)
    del_dir = os.path.join(os.path.dirname(base_dir), "delseg")
    if not os.path.exists(f"{del_dir}/meta.json"):
        write_deletes_segment(del_dir, docids=list(TIERED_DELETED_IDS))
    eng = TieredEngine(spark, [base_dir, delta_dir, del_dir])
    rows = eng.search_local("table scan mergedelta", k=50, mode="bm25")
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": pd.array([d for d, _ in rows], dtype="int64"),
                "score": [round(s, 6) for _, s in rows],
            }
        )
    )


def _ttravel_root(spark, sf_dir) -> str:
    """Snapshot root (cached per sf) where v_init = the base index
    (doc_id < 400) is RETAINED after the re-crawl delta folded in —
    built by replaying the maintenance loop's exact commit sequence
    (streaming/ingest.py process_batch steps 2-5: merge into
    v_*.building, rename, pointer flip, snapshots.log append,
    expire_snapshots with retain 2)."""
    import os
    import shutil

    from wiki_search_engine_spark.plans.build import build_index
    from wiki_search_engine_spark.plans.merge import merge_indexes
    from wiki_search_engine_spark.streaming.ingest import (
        append_snapshot_log, enroll_index_root, expire_snapshots,
        write_index_pointer,
    )

    tag = sf_dir.rstrip("/").replace("/", "_")
    root = f"/tmp/wse_ttravel{tag}"
    if (
        os.path.isfile(f"{root}/current")
        and open(f"{root}/current").read().strip() == "v_00000000"
        and os.path.isdir(f"{root}/v_init")
        and os.path.isdir(f"{root}/v_00000000")
    ):
        return root
    shutil.rmtree(root, ignore_errors=True)
    docs = _docs(spark, sf_dir)

    def prep(df):
        return df.select(
            F.col("doc_id").cast("long").alias("docid"),
            F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
            "text",
        )

    base = prep(docs.filter(F.col("doc_id") < 400))
    delta = prep(docs.filter(F.col("doc_id") >= 300)).withColumn(
        "text",
        F.concat(F.col("text"), F.lit(" mergedelta mergedelta")),
    )
    build_index(
        spark, base, root, stem=False, n_buckets=16, bucket_groups=1,
        salt_bits=2,
    )
    enroll_index_root(root)
    delta_dir = root + "_delta"
    shutil.rmtree(delta_dir, ignore_errors=True)
    build_index(
        spark, delta, delta_dir, stem=False, n_buckets=16,
        bucket_groups=1, salt_bits=2,
    )
    building = f"{root}/v_00000000.building"
    merge_indexes(spark, f"{root}/v_init", delta_dir, building)
    os.rename(building, f"{root}/v_00000000")
    write_index_pointer(root, "v_00000000")
    append_snapshot_log(root, "v_00000000", batch_id=0)
    expire_snapshots(root, keep_last=2)
    shutil.rmtree(delta_dir, ignore_errors=True)
    return root


def q_time_travel_bm25(spark, sf_dir):
    """TIME TRAVEL over the snapshot-log commit scheme
    (streaming/ingest.py, engine.resolve_index_dir): the live pointer
    serves the folded re-crawl, but loading snapshot='v_init' serves
    BM25 AS OF the pre-fold commit — so the oracle is BM25 over the
    ORIGINAL base corpus (doc_id < 400, no delta terms), value-checking
    that retention really preserves a consistent, queryable past index
    (stats, df, postings all pre-fold)."""
    import pandas as pd

    from wiki_search_engine_spark.engine import SearchEngine

    root = _ttravel_root(spark, sf_dir)
    eng = SearchEngine.load(spark, root, snapshot="v_init")
    rows = eng.search_local("table scan", k=50, mode="bm25")
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": pd.array([d for d, _ in rows], dtype="int64"),
                "score": [round(s, 6) for _, s in rows],
            }
        )
    )


def q_media_features(spark, sf_dir):
    """Multimodal decode: synthetic binary payloads with VALID
    PNG/JPEG/GIF headers -> Arrow-batched codec-free header parse
    (format, width, height, md5). Value-checked against a sidecar of
    independently expected rows: the oracle's dims come from the synth
    FORMULAS, so the check is that build -> Arrow distribute -> parse
    round-trips the encoded values (operators/multimodal.py)."""
    from wiki_search_engine_spark.operators.multimodal import (
        decode_media_meta, synth_media,
    )

    media = synth_media(spark, N_MEDIA)
    return decode_media_meta(media).select(
        F.col("media_id").cast("long").alias("media_id"),
        "kind",
        "format",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("n_bytes").cast("long").alias("n_bytes"),
        "payload_md5",
    )


def q_media_embed(spark, sf_dir):
    """REAL pixel decode for every image format the corpus carries:
    PNG payloads are complete files (zlib IDAT, scanline filters
    cycling over all five RFC 2083 types), GIF payloads complete
    LZW-coded frames (interlace + transparency exercised), and JPEG
    payloads complete baseline files (Huffman entropy data, grayscale
    and restart intervals exercised) — all decoded dependency-free in
    the Arrow kernel (operators/multimodal.py decode_png_rgba /
    decode_gif_rgba, operators/jpeg.py decode_jpeg_rgb with its
    integer-exact IDCT spec) into exact-integer-sum feature vectors
    (mean RGBA + 4-bin luma histogram), exploded to (media_id, dim,
    value). Value-checked against a sidecar computed by the
    INDEPENDENT scalar decoders (oracle_py/{png,gif,jpeg}_ref.py —
    share no code with the kernels); the feature definition has no
    fp-accumulation slack, so the match is bit-exact."""
    from wiki_search_engine_spark.operators.multimodal import (
        decode_image_features, synth_media,
    )

    emb = decode_image_features(synth_media(spark, N_MEDIA), fake=False)
    return (
        emb.filter(F.col("format").isin("png", "gif", "jpeg"))
        .select("media_id", F.posexplode("feature").alias("dim", "value"))
        .select(
            F.col("media_id").cast("long").alias("media_id"),
            F.col("dim").cast("long").alias("dim"),
            "value",
        )
    )


def q_audio_features(spark, sf_dir):
    """REAL audio decode: the corpus's audio payloads are complete
    RIFF/WAVE PCM files (8/16-bit, mono/stereo, LIST chunks and RIFF
    pad bytes exercised) decoded dependency-free in the Arrow kernel
    (operators/wav.py decode_wav_pcm) into exact-integer feature
    vectors (rate/channels/frames/bits, sum, abs-sum, peak,
    zero-crossings), exploded to (media_id, dim, value). Value-checked
    against a sidecar computed by an INDEPENDENT decoder built on
    stdlib ``wave`` (oracle_py/wav_ref.py — zero shared code, plain
    Python loops); the integer feature definition leaves no
    fp-accumulation slack, so the match is bit-exact."""
    from wiki_search_engine_spark.operators.multimodal import (
        decode_audio_features, synth_media,
    )

    feats = decode_audio_features(synth_media(spark, N_MEDIA))
    return (
        feats.filter(F.col("format") == "wav")
        .select("media_id", F.posexplode("feature").alias("dim", "value"))
        .select(
            F.col("media_id").cast("long").alias("media_id"),
            F.col("dim").cast("long").alias("dim"),
            "value",
        )
    )


def q_video_frames(spark, sf_dir):
    """REAL video frame sampling: the corpus's video payloads are
    complete single-stream MJPG AVI files (RIFF container, 00dc JPEG
    frame chunks, idx1 index) parsed dependency-free in the Arrow
    kernel (operators/avi.py walks the LIST tree), every 2nd frame
    decoded through the integer-exact JPEG spec into a 12-double
    vector (container meta + pixel features), exploded to
    (media_id, frame_idx, dim, value). Value-checked against a sidecar
    computed by an INDEPENDENT parser that resolves frames through the
    idx1 index instead (oracle_py/avi_ref.py + the scalar jpeg_ref
    decoder — zero shared code); integer-exact decode means the match
    is bit-exact."""
    from wiki_search_engine_spark.operators.multimodal import (
        decode_video_features, synth_media,
    )

    frames = decode_video_features(synth_media(spark, N_MEDIA), every_n=2)
    return (
        frames.filter(F.col("format") == "avi")
        .select(
            "media_id", "frame_idx",
            F.posexplode("feature").alias("dim", "value"),
        )
        .select(
            F.col("media_id").cast("long").alias("media_id"),
            F.col("frame_idx").cast("long").alias("frame_idx"),
            F.col("dim").cast("long").alias("dim"),
            "value",
        )
    )


MEDIA_EMBED_DIM, MEDIA_EMBED_SEED = 16, 1234


def _media_planes() -> list[list[float]]:
    from wiki_search_engine_spark.operators.similarity import hyperplanes

    return hyperplanes(8, MEDIA_EMBED_DIM, MEDIA_EMBED_SEED)


def _media_query_embedding() -> list[float]:
    """Query embedding for media_ann_top5, computed driver-side from
    the synth corpus's media 0 (a PNG): real pixel decode -> the same
    left-assoc projection chains the Spark/SQL sides use."""
    from wiki_search_engine_spark.operators.multimodal import (
        png_pixel_features, synth_payload,
    )

    feat = png_pixel_features(synth_payload(0, N_MEDIA))
    out = []
    for plane in _media_planes():
        acc = feat[0] * plane[0]
        for k in range(1, len(plane)):
            acc = acc + feat[k] * plane[k]
        out.append(acc)
    return out


def q_media_ann_top5(spark, sf_dir):
    """End-to-end media similarity search: binary payloads -> REAL
    pixel decode (all three image codecs) -> deterministic seeded
    linear projection into a 16-dim embedding (operators/similarity.py
    project_embedding — the documented stand-in for the learned CNN
    embed; a real model drops into the same column contract) -> exact
    cosine top-5 against media 0's embedding. The whole pipeline after
    the decode kernel is Catalyst codegen (literal-weight product
    chains + the cosine HOFs); the oracle replays decode via the
    independent-scalar-decoder sidecar and the projection/cosine as
    the identical SQL expressions. Top hit must be media 0 itself at
    cos_sim 1.0."""
    from wiki_search_engine_spark.operators.multimodal import (
        decode_image_features, synth_media,
    )
    from wiki_search_engine_spark.operators.similarity import (
        cosine_topk, project_embedding,
    )

    feats = decode_image_features(
        synth_media(spark, N_MEDIA), fake=False
    ).filter(F.col("feature").isNotNull())
    proj = project_embedding(feats, _media_planes())
    out = cosine_topk(
        proj.select(F.col("media_id").alias("vec_id"), "embedding"),
        _media_query_embedding(),
        k=5,
    )
    return out.select(
        F.col("vec_id").cast("long").alias("media_id"), "cos_sim"
    )


# ---------------------------------------------------------------------------
# oracle SQL
# ---------------------------------------------------------------------------


def _sql_dot(vec_expr: str, lits: list[float]) -> str:
    """Explicit left-assoc product chain: identical fp order to Spark's
    sequential aggregate fold."""
    return " + ".join(
        f"{vec_expr}[{i + 1}]*{x!r}" for i, x in enumerate(lits)
    )


def _lsh_planes_sql() -> list[str]:
    from wiki_search_engine_spark.operators.similarity import hyperplanes

    return [
        _sql_dot("v", plane) for plane in hyperplanes(64, N_PLANES, LSH_SEED)
    ]


def _lsh_table_bucket_exprs() -> list[str]:
    """One bucket-id SQL expression per hash table, from the SAME
    literal planes the Spark side uses (table_planes; table 0 is the
    single-table family)."""
    from wiki_search_engine_spark.operators.similarity import table_planes

    out = []
    for planes in table_planes(64, N_PLANES, LSH_NTABLES, LSH_SEED):
        dots = [_sql_dot("v", p) for p in planes]
        out.append(
            " + ".join(
                f"(CASE WHEN ({d}) >= 0 THEN {2 ** i} ELSE 0 END)"
                for i, d in enumerate(dots)
            )
        )
    return out


# independent per-seed hash family: h_s = md5('<s>|' || shingle)
# (matches operators/dedup.py minhash_signatures exactly)
_MINHASH_COLS = ",\n  ".join(
    f"min(md5('{s}' || '|' || shingle)) AS h{s}" for s in range(16)
)
_BAND_SELECTS = "\nUNION ALL\n".join(
    f"SELECT doc_id, {b} AS band, "
    f"md5(h{4 * b} || '|' || h{4 * b + 1} || '|' || h{4 * b + 2} || '|' "
    f"|| h{4 * b + 3}) AS band_hash FROM minh"
    for b in range(4)
)

def _stemmed_tokens_sidecar() -> str:
    """Sidecar parquet (doc_id, term, tf) of the FULL analyzer (stopwords
    + Porter) over the driver's sf0.01 documents table, computed by the
    scalar pure-Python analyzer (functions/analyzer.py full_tokens — a
    different implementation from the vectorized tokenize_frame the
    Spark path runs; the two are cross-verified by hypothesis property
    tests). Porter itself is not expressible in SQL, so the oracle
    stems here and scores in SQL: DuckDB reads this relation via
    read_parquet and runs the same BM25 arithmetic as every other
    scoring oracle. Tied to sf0.01 — the driver's correctness gate runs
    at that scale (TESTDATA.md)."""
    import os
    from collections import Counter

    import pyarrow as pa
    import pyarrow.parquet as pq

    from wiki_search_engine_spark.functions.analyzer import full_tokens

    here = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(here, "oracle_sidecar", "stemmed_tokens_sf001.parquet")
    if os.path.exists(path):
        return path
    tbl = pq.read_table(
        "/root/testdata/sf0.01/documents.parquet", columns=["doc_id", "text"]
    )
    ids, terms, tfs = [], [], []
    for doc_id, text in zip(
        tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist()
    ):
        for term, tf in sorted(Counter(full_tokens(text or "")).items()):
            ids.append(int(doc_id))
            terms.append(term)
            tfs.append(int(tf))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "term": pa.array(terms, pa.string()),
                "tf": pa.array(tfs, pa.int64()),
            }
        ),
        path,
    )
    return path


def _bm25_stemmed_sql(terms: list[str], k: int) -> str:
    part = (
        f"ln((s.n - q.df + 0.5)/(q.df + 0.5) + 1) * tf.tf * {K1 + 1.0} "
        f"/ (tf.tf + {K1} * (1 - {B} + {B} * dl.doc_len / s.avgdl))"
    )
    path = _stemmed_tokens_sidecar()
    return f"""
WITH tf AS (
  SELECT doc_id, term, tf::BIGINT AS tf FROM read_parquet('{path}')),
dl AS (SELECT doc_id, sum(tf)::BIGINT AS doc_len FROM tf GROUP BY 1),
stats AS (SELECT count(*)::BIGINT AS n, avg(doc_len) AS avgdl FROM dl),
{_sql_terms(terms)},
qdf AS (
  SELECT term, count(*)::BIGINT AS df FROM tf
  WHERE term IN (SELECT term FROM qterms) GROUP BY 1),
contrib AS (
  SELECT tf.doc_id, {part} AS part
  FROM tf JOIN qdf q USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s)
SELECT doc_id, round(sum(part), 6) AS score
FROM contrib GROUP BY doc_id
ORDER BY score DESC, doc_id LIMIT {k}"""


def _ivf_trained_sql(qvec: str) -> str:
    """Unrolled SQL replay of kmeans_train + ivf_topk: init = vectors of
    the KMEANS_K smallest ids rounded to 4 dp, then KMEANS_ITERS x
    (argmin-L2 assign -> per-dim avg -> round 4 dp, empty cells keep the
    previous centroid), then the standard nprobe/cosine tail. Rounding
    every iteration pins centroids across fp summation orders, so DuckDB
    and Spark converge to identical values."""
    dim = 64
    parts = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"""c0 AS (
  SELECT cid, cv FROM (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
           list_transform(v, x -> round(x, 4)) AS cv
    FROM e) t WHERE cid < {KMEANS_K})""",
    ]
    for it in range(1, KMEANS_ITERS + 1):
        prev = f"c{it - 1}"
        parts.append(f"""a{it} AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             (SELECT sum((e.v[j] - c.cv[j]) * (e.v[j] - c.cv[j]))
              FROM generate_series(1, {dim}) g(j)), c.cid) AS rn
    FROM e CROSS JOIN {prev} c) t WHERE rn = 1)""")
        parts.append(f"""m{it} AS (
  SELECT a.cell AS cid, g.j, round(avg(e.v[g.j]), 4) AS mv
  FROM a{it} a JOIN e USING (vec_id)
  CROSS JOIN generate_series(1, {dim}) g(j)
  GROUP BY 1, 2)""")
        parts.append(f"""c{it} AS (
  SELECT p.cid, coalesce(n.cv, p.cv) AS cv
  FROM {prev} p LEFT JOIN (
    SELECT cid, array_agg(mv ORDER BY j) AS cv FROM m{it} GROUP BY cid
  ) n USING (cid))""")
    last = f"c{KMEANS_ITERS}"
    parts.append(f"q AS (SELECT {qvec} AS qv)")
    parts.append(f"""qd AS (
  SELECT c.cid,
    (SELECT sum((q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))
     FROM generate_series(1, {dim}) g(i)) AS d
  FROM {last} c CROSS JOIN q)""")
    parts.append(
        f"probe AS (SELECT cid FROM qd ORDER BY d, cid "
        f"LIMIT {TRAINED_NPROBE})"
    )
    parts.append(f"""asgn AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             (SELECT sum((e.v[j] - c.cv[j]) * (e.v[j] - c.cv[j]))
              FROM generate_series(1, {dim}) g(j)), c.cid) AS rn
    FROM e CROSS JOIN {last} c) t WHERE rn = 1)""")
    parts.append("""cand AS (
  SELECT e.vec_id, e.v FROM e
  JOIN asgn USING (vec_id)
  WHERE asgn.cell IN (SELECT cid FROM probe))""")
    parts.append(f"""d AS (
  SELECT c.vec_id,
    (SELECT sum(c.v[i] * q.qv[i]) FROM generate_series(1, {dim}) g(i))
      AS dp,
    sqrt((SELECT sum(c.v[i] * c.v[i])
          FROM generate_series(1, {dim}) g(i))) AS na,
    sqrt((SELECT sum(q.qv[i] * q.qv[i])
          FROM generate_series(1, {dim}) g(i))) AS nb
  FROM cand c CROSS JOIN q)""")
    return (
        "WITH " + ",\n".join(parts)
        + "\nSELECT vec_id, round(dp / (na * nb), 6) AS cos_sim"
        + "\nFROM d ORDER BY cos_sim DESC, vec_id LIMIT 10"
    )


def _media_sidecar() -> str:
    """Expected rows for the media_features entry, computed WITHOUT
    Spark: per-id spec (kind/format/width/height) from the synth
    formulas and payload md5/length from the payload builder
    (operators/multimodal.py synth_spec/synth_payload). The Spark side
    must reproduce these by PARSING the headers after Arrow transfer —
    a round-trip check of builder + distributed plumbing + parser."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from wiki_search_engine_spark.operators.multimodal import (
        synth_payload, synth_spec,
    )

    here = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(here, "oracle_sidecar", "media_expected_v7.parquet")
    if os.path.exists(path):
        return path
    import hashlib

    cols: dict[str, list] = {
        k: []
        for k in (
            "media_id", "kind", "format", "width", "height", "n_bytes",
            "payload_md5",
        )
    }
    for i in range(N_MEDIA):
        _doc, kind, fmt, w, h = synth_spec(i, N_MEDIA)
        payload = synth_payload(i, N_MEDIA)
        cols["media_id"].append(i)
        cols["kind"].append(kind)
        # audio/video rows are real RIFF files now, so the header
        # parse on the Spark side reports 'wav' / 'avi'
        cols["format"].append(
            fmt if kind == "image" else ("wav" if kind == "audio" else "avi")
        )
        cols["width"].append(w)
        cols["height"].append(h)
        cols["n_bytes"].append(len(payload))
        cols["payload_md5"].append(hashlib.md5(payload).hexdigest())
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "media_id": pa.array(cols["media_id"], pa.int64()),
                "kind": pa.array(cols["kind"], pa.string()),
                "format": pa.array(cols["format"], pa.string()),
                "width": pa.array(cols["width"], pa.int64()),
                "height": pa.array(cols["height"], pa.int64()),
                "n_bytes": pa.array(cols["n_bytes"], pa.int64()),
                "payload_md5": pa.array(cols["payload_md5"], pa.string()),
            }
        ),
        path,
    )
    return path


def _media_embed_sidecar() -> str:
    """Expected (media_id, dim, value) rows for media_embed, computed
    WITHOUT Spark by the independent scalar PNG/GIF/JPEG decoders
    (oracle_py/{png,gif,jpeg}_ref.py) over the same deterministic
    synth payloads.
    Exact-integer-sum features mean any two correct decoders agree to
    the last double bit — no rounding in the comparison."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from wiki_search_engine_spark.operators.multimodal import (
        synth_payload, synth_spec,
    )
    from wiki_search_engine_spark.oracle_py import (
        gif_ref, jpeg_ref, png_ref,
    )

    here = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(
        here, "oracle_sidecar", "media_embed_expected_v3.parquet"
    )
    if os.path.exists(path):
        return path
    ids, dims, vals = [], [], []
    for i in range(N_MEDIA):
        _doc, kind, fmt, _w, _h = synth_spec(i, N_MEDIA)
        if kind != "image":
            continue
        ref = {"png": png_ref, "gif": gif_ref, "jpeg": jpeg_ref}[fmt]
        for d, v in enumerate(ref.features(synth_payload(i, N_MEDIA))):
            ids.append(i)
            dims.append(d)
            vals.append(v)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "media_id": pa.array(ids, pa.int64()),
                "dim": pa.array(dims, pa.int64()),
                "value": pa.array(vals, pa.float64()),
            }
        ),
        path,
    )
    return path


def _audio_sidecar() -> str:
    """Expected (media_id, dim, value) rows for audio_features,
    computed WITHOUT Spark by the independent stdlib-``wave`` reference
    decoder (oracle_py/wav_ref.py) over the same deterministic synth
    payloads.  Exact-integer features mean any two correct decoders
    agree to the last double bit."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from wiki_search_engine_spark.operators.multimodal import (
        synth_payload, synth_spec,
    )
    from wiki_search_engine_spark.oracle_py import wav_ref

    here = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(here, "oracle_sidecar", "audio_expected_v1.parquet")
    if os.path.exists(path):
        return path
    ids, dims, vals = [], [], []
    for i in range(N_MEDIA):
        _doc, kind, _fmt, _w, _h = synth_spec(i, N_MEDIA)
        if kind != "audio":
            continue
        for d, v in enumerate(wav_ref.features(synth_payload(i, N_MEDIA))):
            ids.append(i)
            dims.append(d)
            vals.append(v)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "media_id": pa.array(ids, pa.int64()),
                "dim": pa.array(dims, pa.int64()),
                "value": pa.array(vals, pa.float64()),
            }
        ),
        path,
    )
    return path


def _video_sidecar() -> str:
    """Expected (media_id, frame_idx, dim, value) rows for
    video_frames, computed WITHOUT Spark by the independent idx1-based
    AVI parser + scalar JPEG decoder (oracle_py/avi_ref.py) over the
    same deterministic synth payloads, every_n=2 sampling."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from wiki_search_engine_spark.operators.multimodal import (
        synth_payload, synth_spec,
    )
    from wiki_search_engine_spark.oracle_py import avi_ref

    here = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(here, "oracle_sidecar", "video_expected_v1.parquet")
    if os.path.exists(path):
        return path
    ids, fidx, dims, vals = [], [], [], []
    for i in range(N_MEDIA):
        _doc, kind, _fmt, _w, _h = synth_spec(i, N_MEDIA)
        if kind != "video":
            continue
        for idx, feat in avi_ref.frame_features(
            synth_payload(i, N_MEDIA), every_n=2
        ):
            for d, v in enumerate(feat):
                ids.append(i)
                fidx.append(idx)
                dims.append(d)
                vals.append(v)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "media_id": pa.array(ids, pa.int64()),
                "frame_idx": pa.array(fidx, pa.int64()),
                "dim": pa.array(dims, pa.int64()),
                "value": pa.array(vals, pa.float64()),
            }
        ),
        path,
    )
    return path


def _media_ann_sql() -> str:
    """Full SQL replay of media_ann_top5: features from the
    independent-decoder sidecar, projection as the same literal-weight
    left-assoc chains, cosine/round/order as in cosine_topk."""
    chains = ",\n    ".join(
        " + ".join(f"v.fv[{k + 1}]*{w!r}" for k, w in enumerate(plane))
        for plane in _media_planes()
    )
    d = MEDIA_EMBED_DIM
    return f"""
WITH f AS (SELECT media_id, dim, value
           FROM read_parquet('{_media_embed_sidecar()}')),
v AS (SELECT media_id, list(value ORDER BY dim) AS fv
      FROM f GROUP BY media_id),
emb AS (SELECT media_id, [{chains}] AS ev FROM v),
q AS (SELECT ev AS qv FROM emb WHERE media_id = 0),
d AS (
  SELECT emb.media_id,
    (SELECT sum(emb.ev[i] * q.qv[i])
     FROM generate_series(1, {d}) g(i)) AS dp,
    sqrt((SELECT sum(emb.ev[i] * emb.ev[i])
          FROM generate_series(1, {d}) g(i))) AS na,
    sqrt((SELECT sum(q.qv[i] * q.qv[i])
          FROM generate_series(1, {d}) g(i))) AS nb
  FROM emb CROSS JOIN q)
SELECT media_id::BIGINT AS media_id,
  round(CASE WHEN na * nb > 0 THEN dp / (na * nb) ELSE 0.0 END, 6)
    AS cos_sim
FROM d ORDER BY cos_sim DESC, media_id LIMIT 5"""


def _hll_sql() -> str:
    """SQL transliteration of operators/sketches.py
    hll_register_sketch over the analyzed token stream: 64-bit hash =
    first 16 md5 hex chars split 3/13 at the hex boundary (12-bit
    register / 52-bit remainder), rho via binary-string length
    (integer-exact on both engines: Spark bin(), DuckDB to_base)."""
    hex3 = "(" + " + ".join(
        f"((strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1)"
        f"::BIGINT << {4 * (2 - i)})"
        for i in range(3)
    ) + ")"
    hex13 = "(" + " + ".join(
        f"((strpos('0123456789abcdef', substr(h, {i + 4}, 1)) - 1)"
        f"::BIGINT << {4 * (12 - i)})"
        for i in range(13)
    ) + ")"
    return f"""
WITH {SQL_TOKS},
h AS (SELECT md5(tok) AS h FROM (SELECT DISTINCT tok FROM toks)),
bits AS (SELECT {hex3} AS register, {hex13} AS w FROM h)
SELECT register::BIGINT AS register,
       max(CASE WHEN w = 0 THEN 53
                ELSE 53 - length(to_base(w, 2)) END)::BIGINT AS rho
FROM bits GROUP BY 1"""


# Analyzed token stream WITH positions: apos = 0-based index among the
# tokens that survive the junk filter, replayed via generate_subscripts
# over the cleaned split + row_number over raw position — in lock-step
# with operators/phrase.py's kernel.
_SQL_APOS = """
praw AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(
           trim(lower(regexp_replace(text, '[^a-zA-Z0-9 \t\n\r]', ' ', 'g'))),
           '\\s+')) AS tok,
         generate_subscripts(regexp_split_to_array(
           trim(lower(regexp_replace(text, '[^a-zA-Z0-9 \t\n\r]', ' ', 'g'))),
           '\\s+'), 1) AS rpos
  FROM documents),
atoks AS (
  SELECT doc_id, tok,
         row_number() OVER (PARTITION BY doc_id ORDER BY rpos) - 1 AS apos
  FROM praw
  WHERE tok <> ''
    AND NOT (regexp_matches(tok, '^[0-9]+$') AND length(tok) > 4))"""


def _phrase_occ_sql(terms: list[str]) -> str:
    """CTE chain praw/atoks/slots/hits/occ: exact phrase occurrences
    (doc_id, start) via the same anchor-grouping the Spark operator
    uses (slot i at apos ⇒ anchor apos - i; all |terms| distinct slots
    on one anchor = a match)."""
    tlist = ", ".join(f"'{t}'" for t in terms)
    ilist = ", ".join(str(i) for i in range(len(terms)))
    return f"""{_SQL_APOS},
slots AS (SELECT unnest([{tlist}]) AS term, unnest([{ilist}]) AS slot),
hits AS (
  SELECT a.doc_id, a.apos - s.slot AS start, s.slot
  FROM atoks a JOIN slots s ON a.tok = s.term
  WHERE a.apos - s.slot >= 0),
occ AS (
  SELECT doc_id, start FROM hits
  GROUP BY 1, 2 HAVING count(DISTINCT slot) = {len(terms)})"""


def _phrase_bm25_sql(terms: list[str], k: int) -> str:
    return f"""
WITH {_phrase_occ_sql(terms)},
pdl AS (SELECT doc_id, count(*)::BIGINT AS doc_len FROM atoks GROUP BY 1),
pstats AS (SELECT count(*)::BIGINT AS n, avg(doc_len) AS avgdl FROM pdl),
ptf AS (SELECT doc_id, count(*)::BIGINT AS phrase_tf FROM occ GROUP BY 1),
pdf AS (SELECT count(*)::BIGINT AS df FROM ptf)
SELECT p.doc_id, p.phrase_tf,
       round(ln((s.n - q.df + 0.5) / (q.df + 0.5) + 1) * p.phrase_tf
             * {K1 + 1.0}
             / (p.phrase_tf
                + {K1} * (1 - {B} + {B} * d.doc_len / s.avgdl)),
             6) AS score
FROM ptf p JOIN pdl d USING (doc_id)
CROSS JOIN pstats s CROSS JOIN pdf q
ORDER BY score DESC, doc_id LIMIT {k}"""


def _slop_occ_sql(terms: list[str], slop: int) -> str:
    """occ CTE for ordered proximity: chained self-joins of the
    analyzed positional stream with order predicates and the final
    span constraint; one occurrence per DISTINCT start."""
    m = len(terms)
    span = m - 1 + slop
    joins = []
    for i in range(1, m):
        joins.append(
            f"JOIN atoks t{i} ON t{i}.doc_id = t0.doc_id "
            f"AND t{i}.tok = '{terms[i]}' "
            f"AND t{i}.apos > t{i - 1}.apos"
        )
    return f"""{_SQL_APOS},
occ AS (
  SELECT DISTINCT t0.doc_id, t0.apos AS start
  FROM atoks t0 {' '.join(joins)}
  WHERE t0.tok = '{terms[0]}'
    AND t{m - 1}.apos - t0.apos <= {span})"""


def _slop_bm25_sql(terms: list[str], slop: int, k: int) -> str:
    return f"""
WITH {_slop_occ_sql(terms, slop)},
pdl AS (SELECT doc_id, count(*)::BIGINT AS doc_len FROM atoks GROUP BY 1),
pstats AS (SELECT count(*)::BIGINT AS n, avg(doc_len) AS avgdl FROM pdl),
ptf AS (SELECT doc_id, count(*)::BIGINT AS phrase_tf FROM occ GROUP BY 1),
pdf AS (SELECT count(*)::BIGINT AS df FROM ptf)
SELECT p.doc_id, p.phrase_tf,
       round(ln((s.n - q.df + 0.5) / (q.df + 0.5) + 1) * p.phrase_tf
             * {K1 + 1.0}
             / (p.phrase_tf
                + {K1} * (1 - {B} + {B} * d.doc_len / s.avgdl)),
             6) AS score
FROM ptf p JOIN pdl d USING (doc_id)
CROSS JOIN pstats s CROSS JOIN pdf q
ORDER BY score DESC, doc_id LIMIT {k}"""


def _mixed_sql(
    phrase_terms: list[str], bag_terms: list[str], k: int
) -> str:
    """Mixed-query oracle: phrase pseudo-term BM25 (conjunctive
    filter) + bag-term contributions LEFT-joined on the phrase docs —
    mirrors operators/phrase.py mixed_bm25."""
    blist = ", ".join(f"'{t}'" for t in bag_terms)
    return f"""
WITH {_phrase_occ_sql(phrase_terms)},
pdl AS (SELECT doc_id, count(*)::BIGINT AS doc_len FROM atoks GROUP BY 1),
pstats AS (SELECT count(*)::BIGINT AS n, avg(doc_len) AS avgdl FROM pdl),
ptf AS (SELECT doc_id, count(*)::BIGINT AS phrase_tf FROM occ GROUP BY 1),
pdf AS (SELECT count(*)::BIGINT AS df FROM ptf),
ph AS (
  SELECT p.doc_id,
         ln((s.n - q.df + 0.5) / (q.df + 0.5) + 1) * p.phrase_tf
         * {K1 + 1.0}
         / (p.phrase_tf
            + {K1} * (1 - {B} + {B} * d.doc_len / s.avgdl)) AS pscore
  FROM ptf p JOIN pdl d USING (doc_id)
  CROSS JOIN pstats s CROSS JOIN pdf q),
btf AS (
  SELECT doc_id, tok AS term, count(*)::BIGINT AS tf FROM atoks
  WHERE tok IN ({blist}) GROUP BY 1, 2),
bdf AS (
  SELECT term, count(*)::BIGINT AS df FROM btf GROUP BY 1),
bag AS (
  SELECT t.doc_id,
         sum(ln((s.n - b.df + 0.5) / (b.df + 0.5) + 1) * t.tf
             * {K1 + 1.0}
             / (t.tf + {K1} * (1 - {B} + {B} * d.doc_len / s.avgdl))
         ) AS bscore
  FROM btf t JOIN bdf b USING (term) JOIN pdl d USING (doc_id)
  CROSS JOIN pstats s GROUP BY 1)
SELECT p.doc_id, round(p.pscore + coalesce(g.bscore, 0), 6) AS score
FROM ph p LEFT JOIN bag g USING (doc_id)
ORDER BY score DESC, doc_id LIMIT {k}"""


def _simhash_sql(max_hamming: int) -> str:
    """Full SQL transliteration of operators/dedup.py simhash +
    simhash_near_dups: per-token 64-bit hash = first 8 md5 bytes
    (big-endian, rebuilt from the hex digest via strpos + shifts),
    per-bit +-count accumulation, 16-bit band blocking, bit_count(xor)
    hamming. Docs with no tokens hash to 0 (all-band collisions among
    empty docs are real pairs in both engines)."""
    hexpr = "(" + " + ".join(
        f"((strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1)"
        f"::HUGEINT << {4 * (15 - i)})"
        for i in range(16)
    ) + ")::UBIGINT"
    band_cond = "\n     OR ".join(
        f"((a.hv >> {16 * b}::UBIGINT) & 65535::UBIGINT) = "
        f"((b.hv >> {16 * b}::UBIGINT) & 65535::UBIGINT)"
        for b in range(4)
    )
    return f"""
WITH rtoks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
    FROM documents) t
  WHERE tok <> ''),
tcount AS (
  SELECT doc_id, tok, count(*)::BIGINT AS c FROM rtoks GROUP BY 1, 2),
thash AS (
  SELECT tok, {hexpr} AS hv
  FROM (SELECT DISTINCT tok, substr(md5(tok), 1, 16) AS h FROM rtoks)),
accs AS (
  SELECT t.doc_id, g.b,
         sum(CASE WHEN (th.hv >> g.b::UBIGINT) & 1::UBIGINT = 1::UBIGINT
                  THEN t.c ELSE -t.c END) AS acc
  FROM tcount t JOIN thash th USING (tok)
  CROSS JOIN generate_series(0, 63) g(b)
  GROUP BY 1, 2),
sim0 AS (
  SELECT doc_id,
         sum(CASE WHEN acc > 0 THEN 1::HUGEINT << b ELSE 0 END)::UBIGINT
           AS hv
  FROM accs GROUP BY 1),
sim AS (
  SELECT d.doc_id, coalesce(s.hv, 0::UBIGINT) AS hv
  FROM documents d LEFT JOIN sim0 s USING (doc_id)),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.hv AS ha, b.hv AS hb
  FROM sim a JOIN sim b ON a.doc_id < b.doc_id
   AND ({band_cond}))
SELECT id_a, id_b, bit_count(xor(ha, hb))::BIGINT AS hamming
FROM pairs WHERE bit_count(xor(ha, hb)) <= {max_hamming}"""


from wiki_search_engine_spark.functions.textstats import (  # noqa: E402
    LANG_MARKERS as _LANGS,
)


def _lang_sql() -> str:
    score_cols = ",\n    ".join(
        "sum(CASE WHEN tok IN ({}) THEN 1 ELSE 0 END) AS s_{}".format(
            ", ".join(f"'{m}'" for m in ms), lang
        )
        for lang, ms in _LANGS.items()
    )
    best = "greatest(s_en, s_es, s_fr, s_de)"
    case = " ".join(
        f"WHEN s_{lang} > 0 AND s_{lang} = {best} THEN '{lang}'"
        for lang in sorted(_LANGS)
    )
    return f"""
WITH rtoks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM documents),
marks AS (
  SELECT d.doc_id, {score_cols}
  FROM documents d LEFT JOIN rtoks USING (doc_id) GROUP BY d.doc_id),
pred AS (
  SELECT m.doc_id, CASE {case} ELSE 'und' END AS pred_lang FROM marks m)
SELECT d.lang, p.pred_lang, count(*)::BIGINT AS n_docs
FROM documents d JOIN pred p USING (doc_id)
GROUP BY 1, 2"""


_SNIPPET_SQL = (
    "trim(coalesce(nullif(regexp_extract(array_to_string(list_slice("
    "string_split(text, chr(10)), 1, 3), ''), '^([^.]*\\.[^.]*\\.)', 1), "
    "''), array_to_string(list_slice(string_split(text, chr(10)), 1, 3), "
    "'')))"
)

_QUALITY_SQL = f"""
WITH base AS (
  SELECT doc_id,
    text,
    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
         ELSE regexp_split_to_array(trim(text), '\\s+') END AS wtoks,
    CASE WHEN trim(lower(text)) = '' THEN []::VARCHAR[]
         ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS ltoks
  FROM documents),
m AS (
  SELECT doc_id,
    len(wtoks)::BIGINT AS ws_tokens,
    len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]'))::BIGINT
      AS bpe_tokens,
    CASE WHEN length(text) = 0 THEN 0.0
         ELSE (length(text) - length(regexp_replace(text,
           '[^a-zA-Z0-9 \t\n\r]', '', 'g'))) * 1.0 / length(text)
    END AS praw,
    CASE WHEN len(ltoks) = 0 THEN 0.0
         ELSE len(list_filter(ltoks, t -> t IN ('the','a','an','and','or',
           'of','to','in','is','it'))) * 1.0 / len(ltoks)
    END AS sraw
  FROM base)
SELECT doc_id, ws_tokens, bpe_tokens,
  round(praw, 6) AS punct_ratio,
  round(sraw, 6) AS stopword_ratio,
  round(0.5 * least(ws_tokens / 100.0, 1.0)
        + 0.3 * (1.0 - least(praw * 5.0, 1.0))
        + 0.2 * least(sraw * 4.0, 1.0), 6) AS quality
FROM m"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-50 for the reference-style query over the
    sf0.001 documents corpus, via the engine's scoring pipeline."""
    return q_bm25_top50(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the round driver value-checks the FIRST 50 entries
    # (insertion order). Entries 1-50 hold exactly one representative of
    # every distinct operator family; entries past the cap are
    # near-duplicate VARIANTS of an in-window family (same kernel,
    # different query shape), each re-checkable any time via
    # `python tools/selfcheck.py <sf_dir> <name>`.
    # ROTATION (r5): kernels that debuted past the cap in r4 are now in
    # the window (synonym_bm25, bm25_must_semantics, events_sessions,
    # bigram_pmi); four true variants rotated out (time_travel_bm25 ==
    # tiered_deleted_bm25's tombstone machinery, ann_lsh_multitable ==
    # ann_lsh_top10's probing, phrase_slop_bm25 == phrase_bm25's window
    # widened, tfidf_top50 == bm25_top50's exhaustive kernel with a
    # different weighting mode). Additionally the FULL entry list is
    # selfchecked and committed as SELFCHECK_ALL.json each round, so
    # past-cap entries are never permanently unchecked.
    return {
        # -- index build core ------------------------------------------
        "tokenize_tf": q_tokenize_tf,
        "doc_stats": q_doc_stats,
        "term_df_salted": q_term_df,
        "corpus_stats": q_corpus_stats,
        "inverted_index": q_inverted_index,
        "postings_roundtrip": q_postings_roundtrip,
        # -- scoring / serving -----------------------------------------
        "bm25_top50": q_bm25_top50,
        "bm25_top50_wand": q_bm25_top50_wand,
        "bm25f_top50": q_bm25f_top50,
        "synonym_bm25": q_synonym_bm25,
        "search_hydrated": q_search_hydrated,
        # -- index lifecycle: merge / tiers / deletes / time travel -----
        "merged_index_bm25": q_merged_index_bm25,
        "tiered_bm25": q_tiered_bm25,
        "tiered_deleted_bm25": q_tiered_deleted_bm25,
        # -- query language --------------------------------------------
        "fuzzy_term_match": q_fuzzy_term_match,
        "bm25_not_semantics": q_bm25_not_semantics,
        "bm25_must_semantics": q_bm25_must_semantics,
        "field_title_bm25": q_field_title_bm25,
        "phrase_bm25": q_phrase_bm25,
        "mixed_phrase_bm25": q_mixed_phrase_bm25,
        "wildcard_leading_bm25": q_wildcard_leading_bm25,
        "facet_counts": q_facet_counts,
        # -- dedup family ----------------------------------------------
        "dedup_exact": q_dedup_exact,
        "minhash_lsh_candidates": q_minhash_lsh_candidates,
        "ngram_jaccard_verify": q_ngram_jaccard_verify,
        "simhash_near_dups": q_simhash_near_dups,
        "ngram_dup_frac": q_ngram_dup_frac,
        # -- similarity / ANN ------------------------------------------
        "cosine_top10": q_cosine_top10,
        "ann_lsh_top10": q_ann_lsh_top10,
        "ann_ivf_trained": q_ann_ivf_trained,
        "ann_ivf_pruned": q_ann_ivf_pruned,
        # -- text analysis ---------------------------------------------
        "quality_scores": q_quality_scores,
        "bigram_pmi": q_bigram_pmi,
        # -- training-data pipeline --------------------------------------
        "decontaminate": q_decontaminate,
        "pii_scrub": q_pii_scrub,
        "repetition_flags": q_repetition_flags,
        # -- streaming -------------------------------------------------
        "events_window_agg": q_events_window_agg,
        "events_sessions": q_events_sessions,
        "worker_totals": q_worker_totals,
        # -- relational demo -------------------------------------------
        "lineitem_pricing_summary": q_lineitem_pricing_summary,

        # -- sampling / sketches ---------------------------------------
        "token_budget_pack": q_token_budget_pack,
        "hll_register_sketch": q_hll_register_sketch,
        "term_heavy_hitters": q_term_heavy_hitters,
        "doclen_quantiles": q_doclen_quantiles,
        "pagerank_top20": q_pagerank_top20,
        # -- multimodal ------------------------------------------------
        "media_features": q_media_features,
        "media_embed": q_media_embed,
        "audio_features": q_audio_features,
        "video_frames": q_video_frames,
        "media_ann_top5": q_media_ann_top5,
        # ==== past the driver's 50-entry cap: variants of in-window
        # families (selfcheck-able on demand) =============================
        "bm25_batch": q_bm25_batch,             # scoring kernel, N queries in one plan
        "bm25_mid_wand": q_bm25_mid,            # wand kernel, mid-df terms
        "bm25_and_semantics": q_bm25_and_semantics,  # OR kernel + conjunctive filter
        "tfidf_top50": q_tfidf_top50,           # bm25_top50's exhaustive kernel, tfidf mode (r5 demotion)
        "time_travel_bm25": q_time_travel_bm25,  # tiered_deleted_bm25's tombstone machinery on a snapshot (r5 demotion)
        "phrase_slop_bm25": q_phrase_slop_bm25,  # phrase_bm25 with a widened window (r5 demotion)
        "ann_lsh_multitable": q_ann_lsh_multitable,  # ann_lsh_top10 probing variant (r5 demotion)
        "indexed_phrase_bm25": q_indexed_phrase_bm25,  # exact sidecar path (slop=0 ≡; slop+mixed in window)
        "bm25_stemmed": q_bm25_stemmed,         # porter path (also exercised by every engine-built entry)
        "wildcard_bm25": q_wildcard_bm25,       # trailing-* expansion (leading-* variant in window)
        "bm25_or_semantics": q_bm25_or_semantics,  # default-OR restated
        "bm25_single_term_wand": q_bm25_single_term,  # wand, 1 term
        "ann_lsh_multiprobe": q_ann_lsh_multiprobe,  # lsh probing variant
        "ann_ivf_top10": q_ann_ivf_top10,       # ivf w/ fixed centroids
        "ngram_jaccard_dups": q_ngram_jaccard_dups,  # unrestricted verify
        "dedup_first_wins": q_dedup_first_wins,  # window-dedup variant
        "corpus_clean": q_corpus_clean,         # composition of dedup ops
        "doc_fingerprint": q_doc_fingerprint,   # textstats variant
        "phrase_occurrences": q_phrase_occurrences,  # phrase scan variant
        "orders_by_segment": q_orders_by_segment,  # TPC-H demo variant
        "lang_id": q_lang_id,                   # textstats codegen family (rep: quality_scores; r5 demotion for bm25f_top50)
        "embedding_near_dups": q_embedding_near_dups,  # bucketed-cosine family (rep: ann_lsh_top10/cosine_top10; r5 demotion for ngram_dup_frac)
        "term_prefix_topk": q_term_prefix_topk,  # lexicon range-scan family (rep: wildcard_leading_bm25; r5 demotion for facet_counts)
        "stratified_sample": q_stratified_sample,  # deterministic-sampling family (rep: token_budget_pack; r5 demotion for field_title_bm25)
        "revenue_by_nation": q_revenue_by_nation,  # TPC-H demo family (rep: lineitem_pricing_summary; r5 demotion for doclen_quantiles)
        "doclen_histogram": q_doclen_histogram,  # the raw sketch table behind doclen_quantiles
        "dedup_components": q_dedup_components,  # label propagation over minhash candidate pairs (dedup family; r5 demotion for pagerank_top20)
        "decontaminate_xx64": q_decontaminate_xx64,  # hash-join production mode
        "training_mix": q_training_mix,         # composed pipeline (filter -> decontam -> pack)
        "source_quality_report": q_source_quality_report,  # domain-level filtering signals
        "bm25_static_rank": q_bm25_static_rank,  # composition: bm25 (in-window) + pagerank (in-window) authority boost
    }


_DECONTAM_SQL = r"""
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x <> '') AS t
  FROM documents),
ev AS (
  SELECT DISTINCT array_to_string(t[6:25], ' ') AS q
  FROM tok WHERE doc_id % 17 = 3 AND len(t) >= 25),
evt AS (
  SELECT list_filter(regexp_split_to_array(lower(q), '\s+'),
                     x -> x <> '') AS et
  FROM ev),
evg AS (
  SELECT DISTINCT unnest(
    [array_to_string(et[i+1:i+13], ' ') for i in range(0, len(et)-12)]
  ) AS gram
  FROM evt WHERE len(et) >= 13),
dg AS (
  SELECT doc_id, unnest(
    [array_to_string(t[i+1:i+13], ' ') for i in range(0, len(t)-12)]
  ) AS gram
  FROM tok WHERE len(t) >= 13)
SELECT dg.doc_id, count(DISTINCT dg.gram)::BIGINT AS n_hits
FROM dg JOIN evg USING (gram)
GROUP BY dg.doc_id
ORDER BY doc_id"""


def oracle_sql() -> dict[str, str]:
    qvec = "(SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)"
    plane_dots = _lsh_planes_sql()
    # multi-table candidate test: OR over tables of bucket(v)==bucket(qv)
    mt_pred = " OR ".join(
        f"(({e}) = ({e.replace('v[', 'qv[')}))"
        for e in _lsh_table_bucket_exprs()
    )
    bucket_expr = " + ".join(
        f"(CASE WHEN ({d}) >= 0 THEN {2 ** i} ELSE 0 END)"
        for i, d in enumerate(plane_dots)
    )
    # per-plane query margins for the multi-probe flip ordering
    qdots_union = "\n  UNION ALL\n".join(
        f"  SELECT {i} AS i, ({d.replace('v[', 'qv[')}) AS d FROM q"
        for i, d in enumerate(plane_dots)
    )
    cos_sql = f"""
WITH q AS (SELECT {qvec} AS qv),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
d AS (
  SELECT e.vec_id,
    (SELECT sum(e.v[i] * q.qv[i]) FROM generate_series(1, 64) g(i)) AS dp,
    sqrt((SELECT sum(e.v[i] * e.v[i]) FROM generate_series(1, 64) g(i)))
      AS na,
    sqrt((SELECT sum(q.qv[i] * q.qv[i]) FROM generate_series(1, 64) g(i)))
      AS nb
  FROM e CROSS JOIN q)
"""
    return {
        "tokenize_tf": f"WITH {SQL_TOKS} SELECT doc_id, tok AS term, "
        "count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2",
        "doc_stats": f"WITH {SQL_TOKS} SELECT doc_id, count(*)::BIGINT AS "
        "doc_len FROM toks GROUP BY 1",
        "term_df_salted": f"WITH {SQL_TOKS}, {SQL_TF} SELECT term, "
        "count(*)::BIGINT AS df FROM tf GROUP BY 1",
        "corpus_stats": f"WITH {SQL_TOKS}, {SQL_DL}, {SQL_STATS} "
        "SELECT n AS n_docs, round(avgdl, 6) AS avgdl, total_length "
        "FROM stats",
        "inverted_index": f"""
WITH {SQL_TOKS}, {SQL_TF}, {SQL_DL}, {SQL_STATS},
qdf AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1)
SELECT tf.term, tf.doc_id, tf.tf, qdf.df, dl.doc_len,
       round(tf.tf * s.n * 1.0 / qdf.df, 6) AS tfidf
FROM tf JOIN qdf USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s""",
        "postings_roundtrip": f"WITH {SQL_TOKS}, {SQL_TF}, {SQL_DL} "
        "SELECT tf.term, tf.doc_id, tf.tf, dl.doc_len "
        "FROM tf JOIN dl USING (doc_id)",
        "bm25_top50": _bm25_sql(Q_MAIN, 50, "bm25"),
        "bm25f_top50": _bm25f_sql(Q_MAIN, 50, 2.0),
        "ngram_dup_frac": """
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x <> '') AS t
  FROM documents),
g AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(t) >= 8
      THEN [array_to_string(t[i+1:i+8], ' ') for i in range(0, len(t)-7)]
      ELSE []::VARCHAR[] END)) AS gram
  FROM tok),
gdf AS (SELECT gram, count(*)::BIGINT AS gram_df FROM g GROUP BY 1),
pd AS (
  SELECT doc_id, count(*)::BIGINT AS n_grams,
         sum(CASE WHEN gram_df >= 2 THEN 1 ELSE 0 END)::BIGINT
           AS n_dup_grams
  FROM g JOIN gdf USING (gram) GROUP BY 1)
SELECT d.doc_id,
       coalesce(pd.n_grams, 0)::BIGINT AS n_grams,
       coalesce(pd.n_dup_grams, 0)::BIGINT AS n_dup_grams,
       CASE WHEN coalesce(pd.n_grams, 0) = 0 THEN 0.0
            ELSE round(pd.n_dup_grams * 1.0 / pd.n_grams, 6)
       END AS dup_frac
FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
ORDER BY d.doc_id""",
        "pagerank_top20": _pagerank_sql(3, 20),
        # composition oracle: the pagerank CTE chain (everything before
        # its final SELECT) + the bm25 CTEs + the boost formula
        "bm25_static_rank": (
            _pagerank_sql(3, 20)
            .split("SELECT node::BIGINT")[0]
            + f""",
{SQL_TOKS.strip()}, {SQL_TF}, {SQL_DL}, {SQL_STATS}, {_sql_terms(Q_MAIN)},
qdf AS (
  SELECT term, count(*)::BIGINT AS df FROM tf
  WHERE term IN (SELECT term FROM qterms) GROUP BY 1),
contrib AS (
  SELECT tf.doc_id, ln((s.n - q.df + 0.5)/(q.df + 0.5) + 1) * tf.tf * {K1 + 1.0}
         / (tf.tf + {K1} * (1 - {B} + {B} * dl.doc_len / s.avgdl)) AS part
  FROM tf JOIN qdf q USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s),
bm AS (SELECT doc_id, sum(part) AS s FROM contrib GROUP BY 1)
SELECT bm.doc_id,
       round(bm.s + 2.0 * ln(1 + (SELECT count(*) FROM documents) * r.rank), 6)
         AS score
FROM bm JOIN r3 r ON bm.doc_id = r.node
ORDER BY score DESC, doc_id LIMIT 50"""
        ),
        "doclen_histogram": """
WITH tok AS (
  SELECT len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                         x -> x <> ''))::BIGINT AS nt
  FROM documents),
h AS (
  SELECT CASE WHEN nt <= 0 THEN -1
              ELSE length(to_base(nt, 2)) - 1 END AS bin,
         count(*)::BIGINT AS n
  FROM tok GROUP BY 1)
SELECT bin::INT AS bin, n,
       round(CASE WHEN bin < 0 THEN 0.0 ELSE pow(2.0, bin) END, 6) AS lo,
       round(CASE WHEN bin < 0 THEN 0.0 ELSE pow(2.0, bin + 1) END, 6) AS hi
FROM h ORDER BY bin""",
        "doclen_quantiles": """
WITH tok AS (
  SELECT len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                         x -> x <> ''))::BIGINT AS nt
  FROM documents),
h AS (
  SELECT CASE WHEN nt <= 0 THEN -1
              ELSE length(to_base(nt, 2)) - 1 END AS bin,
         count(*)::BIGINT AS n
  FROM tok GROUP BY 1),
c AS (
  SELECT bin, n,
         coalesce(sum(n) OVER (ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
         sum(n) OVER () AS total
  FROM h),
qs AS (SELECT unnest([0.5, 0.9, 0.99]) AS q),
hit AS (
  SELECT q, bin, n, cb, total,
         row_number() OVER (PARTITION BY q ORDER BY bin) AS rn
  FROM qs JOIN c ON c.cb + c.n >= q * c.total)
SELECT q::DOUBLE AS q,
       CASE WHEN bin < 0 THEN 0.0
            ELSE least(round(pow(2.0, bin + (q * total - cb) / n), 6),
                       round(pow(2.0, bin + 1), 6) - 1e-6) END AS est
FROM hit WHERE rn = 1 ORDER BY q""",
        "field_title_bm25": f"""
WITH {SQL_TOKS}, {SQL_TF}, {SQL_DL}, {SQL_STATS},
tdoc AS (
  SELECT doc_id,
         array_to_string(
           (regexp_split_to_array(trim(text), '\s+'))[1:8], ' ') AS text
  FROM documents),
ttoks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(
             trim(lower(regexp_replace(text, '[^a-zA-Z0-9 	

]', ' ', 'g'))),
             '\s+')) AS tok
    FROM tdoc) t
  WHERE tok <> ''
    AND NOT (regexp_matches(tok, '^[0-9]+$') AND length(tok) > 4)),
ttf AS (SELECT doc_id, tok AS term, count(*)::BIGINT AS tf
        FROM ttoks GROUP BY 1, 2),
rel AS (
  SELECT doc_id, term, tf FROM tf
  UNION ALL
  SELECT doc_id, 'title:' || term AS term, tf FROM ttf),
q AS (SELECT unnest(['table', 'title:scan']) AS term),
qdf AS (SELECT term, count(*)::BIGINT AS df FROM rel
        WHERE term IN (SELECT term FROM q) GROUP BY 1),
contrib AS (
  SELECT r.doc_id,
         ln((s.n - d.df + 0.5)/(d.df + 0.5) + 1) * r.tf * {K1 + 1.0}
         / (r.tf + {K1} * (1 - {B} + {B} * dl.doc_len / s.avgdl)) AS part
  FROM rel r JOIN qdf d USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s
  WHERE r.term IN (SELECT term FROM q))
SELECT doc_id, round(sum(part), 6) AS score
FROM contrib GROUP BY doc_id
ORDER BY score DESC, doc_id LIMIT 50""",
        "facet_counts": f"""
WITH {SQL_TOKS}, {SQL_TF}, {_sql_terms(Q_MAIN)},
m AS (SELECT DISTINCT doc_id FROM tf
      WHERE term IN (SELECT term FROM qterms))
SELECT lang, count(*)::BIGINT AS n_docs
FROM m JOIN documents USING (doc_id)
GROUP BY lang ORDER BY lang""",
        "bigram_pmi": r"""
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x <> '') AS t
  FROM documents),
uni AS (
  SELECT unnest(t) AS w FROM tok),
uc AS (SELECT w, count(*)::BIGINT AS c FROM uni GROUP BY 1),
tot AS (SELECT sum(c)::DOUBLE AS T FROM uc),
pairs AS (
  SELECT unnest([struct_pack(w1 := t[i], w2 := t[i+1])
                 for i in range(1, len(t))]) AS p
  FROM tok WHERE len(t) >= 2),
pc AS (
  SELECT p.w1 AS w1, p.w2 AS w2, count(*)::BIGINT AS n_pair
  FROM pairs GROUP BY 1, 2 HAVING count(*) >= 5),
ptot AS (SELECT count(*)::DOUBLE AS P FROM pairs)
SELECT pc.w1, pc.w2, pc.n_pair,
  round(ln((pc.n_pair / ptot.P)
           / ((u1.c / tot.T) * (u2.c / tot.T))), 6) AS pmi
FROM pc
JOIN uc u1 ON u1.w = pc.w1
JOIN uc u2 ON u2.w = pc.w2
CROSS JOIN tot CROSS JOIN ptot
ORDER BY pmi DESC, w1, w2 LIMIT 25""",
        "synonym_bm25": f'''
WITH {SQL_TOKS}, {SQL_TF}, {SQL_DL}, {SQL_STATS},
syn AS (SELECT * FROM (VALUES ('table', 0), ('hash', 0), ('scan', 1),
                              ('fast', 2)) m(term, gid)),
pd AS (
  SELECT tf.doc_id, m.gid, sum(tf.tf) AS tf
  FROM tf JOIN syn m USING (term) GROUP BY 1, 2),
gdf AS (SELECT gid, count(*)::BIGINT AS df FROM pd GROUP BY 1),
contrib AS (
  SELECT pd.doc_id,
    ln((s.n - g.df + 0.5)/(g.df + 0.5) + 1) * pd.tf * {K1 + 1.0}
      / (pd.tf + {K1} * (1 - {B} + {B} * dl.doc_len / s.avgdl)) AS part
  FROM pd JOIN gdf g USING (gid) JOIN dl USING (doc_id)
  CROSS JOIN stats s)
SELECT doc_id, round(sum(part), 6) AS score
FROM contrib GROUP BY doc_id
ORDER BY score DESC, doc_id LIMIT 50''',
        "bm25_must_semantics": _bm25_sql(
            Q_MAIN, 50, "bm25", must=[Q_MAIN[0]]
        ),
        "bm25_not_semantics": _bm25_sql(
            Q_MAIN, 50, "bm25", exclude=Q_ONE
        ),
        "bm25_top50_wand": _bm25_sql(Q_MAIN, 50, "bm25"),
        "tfidf_top50": _bm25_sql(Q_MAIN, 50, "tfidf"),
        "bm25_mid_wand": _bm25_sql(Q_MID, 50, "bm25"),
        "bm25_or_semantics": _bm25_sql(Q_OR, 50, "bm25"),
        "bm25_and_semantics": _bm25_sql(
            Q_MAIN, 50, "bm25", semantics="and"
        ),
        "bm25_single_term_wand": _bm25_sql(Q_ONE, 20, "bm25"),
        "bm25_batch": " UNION ALL ".join(
            f"SELECT {qid} AS query_id, doc_id, score FROM ({sql})"
            for qid, sql in (
                (0, _bm25_sql(Q_MAIN, 20, "bm25")),
                (1, _bm25_sql(Q_MID, 20, "bm25")),
                (2, _bm25_sql(Q_ONE, 20, "bm25")),
            )
        ),
        # merged-index query == BM25 over the EXPECTED merged corpus:
        # originals below the re-crawl range, modified text at and above
        # it (delta wins) — same corpus-override applied inside the CTE.
        # tiered_bm25 serves the SAME live corpus without compaction
        # (segments + tombstones), so it shares the oracle.
        "merged_index_bm25": _live_corpus_bm25_sql(),
        "tiered_bm25": _live_corpus_bm25_sql(),
        "tiered_deleted_bm25": _live_corpus_bm25_sql(TIERED_DELETED_IDS),
        "time_travel_bm25": _base_snapshot_bm25_sql(),
        "search_hydrated": f"""
WITH ranked AS ({_bm25_sql(Q_MAIN, 10, "bm25")})
SELECT r.doc_id, r.score, {_SNIPPET_SQL} AS snippet
FROM ranked r JOIN documents USING (doc_id)
ORDER BY r.score DESC, r.doc_id""",
        "dedup_exact": """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
         AS content_md5,
       min(doc_id)::BIGINT AS keep_id, count(*)::BIGINT AS dup_count
FROM documents GROUP BY 1""",
        "dedup_first_wins": """
WITH keyed AS (
  SELECT doc_id,
    substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1, 20)
      AS content_key
  FROM documents),
rn AS (
  SELECT content_key, doc_id,
    row_number() OVER (PARTITION BY content_key
                       ORDER BY doc_id, doc_id) AS r
  FROM keyed)
SELECT content_key, doc_id FROM rn WHERE r = 1""",
        "minhash_lsh_candidates": f"""
WITH {SQL_POS_TOKS}, {SQL_SHINGLES},
minh AS (
  SELECT doc_id, {_MINHASH_COLS}
  FROM sh GROUP BY doc_id),
bands AS ({_BAND_SELECTS})
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_bands
FROM bands a
JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
            AND a.doc_id < b.doc_id
GROUP BY 1, 2""",
        "ngram_jaccard_dups": f"""
WITH {SQL_POS_TOKS}, {SQL_SHINGLES},
sizes AS (SELECT doc_id, count(*)::BIGINT AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS ni
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       round(ni * 1.0 / (sa.n + sb.n - ni), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE ni * 1.0 / (sa.n + sb.n - ni) >= {JACCARD_T}""",
        "dedup_components": f"""
WITH RECURSIVE {SQL_POS_TOKS}, {SQL_SHINGLES},
minh AS (
  SELECT doc_id, {_MINHASH_COLS}
  FROM sh GROUP BY doc_id),
bands AS ({_BAND_SELECTS}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, count(*)::BIGINT AS n FROM sh GROUP BY 1),
inter AS (
  SELECT c.id_a, c.id_b, count(*)::BIGINT AS ni
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2),
vp AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE ni * 1.0 / (sa.n + sb.n - ni) >= {JACCARD_T}),
nodes AS (SELECT id_a AS id FROM vp UNION SELECT id_b FROM vp),
edges2 AS (
  SELECT id_a AS s, id_b AS d FROM vp
  UNION SELECT id_b AS s, id_a AS d FROM vp),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.s, reach.r FROM edges2 e JOIN reach ON reach.id = e.d)
SELECT id::BIGINT AS doc_id, min(r)::BIGINT AS rep_id
FROM reach GROUP BY id""",
        "ngram_jaccard_verify": f"""
WITH {SQL_POS_TOKS}, {SQL_SHINGLES},
minh AS (
  SELECT doc_id, {_MINHASH_COLS}
  FROM sh GROUP BY doc_id),
bands AS ({_BAND_SELECTS}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, count(*)::BIGINT AS n FROM sh GROUP BY 1),
inter AS (
  SELECT c.id_a, c.id_b, count(*)::BIGINT AS ni
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2)
SELECT id_a, id_b,
       round(ni * 1.0 / (sa.n + sb.n - ni), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE ni * 1.0 / (sa.n + sb.n - ni) >= {JACCARD_T}""",
        "cosine_top10": cos_sql
        + """
SELECT vec_id, round(dp / (na * nb), 6) AS cos_sim
FROM d ORDER BY cos_sim DESC, vec_id LIMIT 10""",
        "ann_lsh_top10": f"""
WITH q AS (SELECT {qvec} AS qv),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
bucketed AS (
  SELECT vec_id, v, {bucket_expr} AS bucket FROM e),
qb AS (
  SELECT {bucket_expr.replace('v[', 'qv[')} AS qbucket FROM q),
cand AS (
  SELECT b.vec_id, b.v FROM bucketed b CROSS JOIN qb
  WHERE b.bucket = qb.qbucket),
d AS (
  SELECT c.vec_id,
    (SELECT sum(c.v[i] * q.qv[i]) FROM generate_series(1, 64) g(i)) AS dp,
    sqrt((SELECT sum(c.v[i] * c.v[i]) FROM generate_series(1, 64) g(i)))
      AS na,
    sqrt((SELECT sum(q.qv[i] * q.qv[i]) FROM generate_series(1, 64) g(i)))
      AS nb
  FROM cand c CROSS JOIN q)
SELECT vec_id, round(dp / (na * nb), 6) AS cos_sim
FROM d ORDER BY cos_sim DESC, vec_id LIMIT 10""",
        "ann_lsh_multiprobe": f"""
WITH q AS (SELECT {qvec} AS qv),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
bucketed AS (
  SELECT vec_id, v, {bucket_expr} AS bucket FROM e),
qb AS (
  SELECT {bucket_expr.replace('v[', 'qv[')} AS qbucket FROM q),
qdots AS (
{qdots_union}),
flips AS (
  SELECT (1 << i) AS bit FROM qdots ORDER BY abs(d), i
  LIMIT {LSH_NPROBES - 1}),
probes AS (
  SELECT qbucket AS b FROM qb
  UNION ALL
  SELECT xor(qb.qbucket, f.bit) FROM qb CROSS JOIN flips f),
cand AS (
  SELECT b.vec_id, b.v FROM bucketed b
  WHERE b.bucket IN (SELECT b FROM probes)),
d AS (
  SELECT c.vec_id,
    (SELECT sum(c.v[i] * q.qv[i]) FROM generate_series(1, 64) g(i)) AS dp,
    sqrt((SELECT sum(c.v[i] * c.v[i]) FROM generate_series(1, 64) g(i)))
      AS na,
    sqrt((SELECT sum(q.qv[i] * q.qv[i]) FROM generate_series(1, 64) g(i)))
      AS nb
  FROM cand c CROSS JOIN q)
SELECT vec_id, round(dp / (na * nb), 6) AS cos_sim
FROM d ORDER BY cos_sim DESC, vec_id LIMIT 10""",
        "ann_lsh_multitable": f"""
WITH q AS (SELECT {qvec} AS qv),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cand AS (
  SELECT e.vec_id, e.v FROM e CROSS JOIN q
  WHERE {mt_pred}),
d AS (
  SELECT c.vec_id,
    (SELECT sum(c.v[i] * q.qv[i]) FROM generate_series(1, 64) g(i)) AS dp,
    sqrt((SELECT sum(c.v[i] * c.v[i]) FROM generate_series(1, 64) g(i)))
      AS na,
    sqrt((SELECT sum(q.qv[i] * q.qv[i]) FROM generate_series(1, 64) g(i)))
      AS nb
  FROM cand c CROSS JOIN q)
SELECT vec_id, round(dp / (na * nb), 6) AS cos_sim
FROM d ORDER BY cos_sim DESC, vec_id LIMIT 10""",
        "ann_ivf_top10": f"""
WITH q AS (SELECT {qvec} AS qv),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings
  WHERE vec_id < {IVF_C}),
dists AS (
  SELECT e.vec_id, c.cid,
    (SELECT sum((e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))
     FROM generate_series(1, 64) g(i)) AS d
  FROM e CROSS JOIN cents c),
asgn AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM dists) t WHERE rn = 1),
qd AS (
  SELECT c.cid,
    (SELECT sum((q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))
     FROM generate_series(1, 64) g(i)) AS d
  FROM cents c CROSS JOIN q),
probe AS (SELECT cid FROM qd ORDER BY d, cid LIMIT {IVF_NPROBE}),
cand AS (
  SELECT e.vec_id, e.v FROM e
  JOIN asgn USING (vec_id) WHERE asgn.cell IN (SELECT cid FROM probe)),
d AS (
  SELECT c.vec_id,
    (SELECT sum(c.v[i] * q.qv[i]) FROM generate_series(1, 64) g(i)) AS dp,
    sqrt((SELECT sum(c.v[i] * c.v[i]) FROM generate_series(1, 64) g(i)))
      AS na,
    sqrt((SELECT sum(q.qv[i] * q.qv[i]) FROM generate_series(1, 64) g(i)))
      AS nb
  FROM cand c CROSS JOIN q)
SELECT vec_id, round(dp / (na * nb), 6) AS cos_sim
FROM d ORDER BY cos_sim DESC, vec_id LIMIT 10""",
        "ann_ivf_trained": _ivf_trained_sql(qvec),
        "ann_ivf_pruned": f"""
WITH q AS (SELECT {qvec} AS qv),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings
  WHERE vec_id < {IVF_C}),
dists AS (
  SELECT e.vec_id, c.cid,
    (SELECT sum((e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))
     FROM generate_series(1, 64) g(i)) AS d
  FROM e CROSS JOIN cents c),
asgn AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM dists) t WHERE rn = 1),
qd AS (
  SELECT c.cid,
    (SELECT sum((q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))
     FROM generate_series(1, 64) g(i)) AS d
  FROM cents c CROSS JOIN q),
probe AS (SELECT cid FROM qd ORDER BY d, cid LIMIT {IVF_NPROBE}),
cand AS (
  SELECT e.vec_id, e.v FROM e
  JOIN asgn USING (vec_id) WHERE asgn.cell IN (SELECT cid FROM probe)),
d AS (
  SELECT c.vec_id,
    (SELECT sum(c.v[i] * q.qv[i]) FROM generate_series(1, 64) g(i)) AS dp,
    sqrt((SELECT sum(c.v[i] * c.v[i]) FROM generate_series(1, 64) g(i)))
      AS na,
    sqrt((SELECT sum(q.qv[i] * q.qv[i]) FROM generate_series(1, 64) g(i)))
      AS nb
  FROM cand c CROSS JOIN q)
SELECT vec_id, round(dp / (na * nb), 6) AS cos_sim
FROM d ORDER BY cos_sim DESC, vec_id LIMIT 10""",
        "corpus_clean": f"""
WITH RECURSIVE {SQL_POS_TOKS}, {SQL_SHINGLES},
minh AS (
  SELECT doc_id, {_MINHASH_COLS}
  FROM sh GROUP BY doc_id),
bands AS ({_BAND_SELECTS}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, count(*)::BIGINT AS n FROM sh GROUP BY 1),
inter AS (
  SELECT c.id_a, c.id_b, count(*)::BIGINT AS ni
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2),
vp AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE ni * 1.0 / (sa.n + sb.n - ni) >= {JACCARD_T}),
nodes AS (SELECT id_a AS id FROM vp UNION SELECT id_b FROM vp),
edges2 AS (
  SELECT id_a AS s, id_b AS d FROM vp
  UNION SELECT id_b AS s, id_a AS d FROM vp),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.s, reach.r FROM edges2 e JOIN reach ON reach.id = e.d),
near_drop AS (
  SELECT id AS doc_id FROM (
    SELECT id, min(r) AS rep FROM reach GROUP BY id) t
  WHERE id != rep),
winners AS (
  SELECT min(doc_id)::BIGINT AS doc_id
  FROM documents
  GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))))
SELECT doc_id FROM winners
WHERE doc_id NOT IN (SELECT doc_id FROM near_drop)""",
        "embedding_near_dups": f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
bucketed AS (SELECT vec_id, v, {bucket_expr} AS bucket FROM e),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS va, b.v AS vb
  FROM bucketed a JOIN bucketed b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
d AS (
  SELECT id_a, id_b,
    (SELECT sum(va[i] * vb[i]) FROM generate_series(1, 64) g(i)) AS dp,
    sqrt((SELECT sum(va[i] * va[i]) FROM generate_series(1, 64) g(i)))
      AS na,
    sqrt((SELECT sum(vb[i] * vb[i]) FROM generate_series(1, 64) g(i)))
      AS nb
  FROM pairs)
SELECT id_a, id_b, round(dp / (na * nb), 6) AS cos_sim
FROM d WHERE round(dp / (na * nb), 6) >= {NEARDUP_T}""",
        "simhash_near_dups": _simhash_sql(12),
        "bm25_stemmed": _bm25_stemmed_sql(["tabl", "scan", "fast"], 50),
        "media_features": (
            "SELECT media_id::BIGINT AS media_id, kind, format, "
            "width::BIGINT AS width, height::BIGINT AS height, "
            "n_bytes::BIGINT AS n_bytes, payload_md5 "
            f"FROM read_parquet('{_media_sidecar()}')"
        ),
        "media_embed": (
            "SELECT media_id::BIGINT AS media_id, dim::BIGINT AS dim, "
            f"value FROM read_parquet('{_media_embed_sidecar()}')"
        ),
        "audio_features": (
            "SELECT media_id::BIGINT AS media_id, dim::BIGINT AS dim, "
            f"value FROM read_parquet('{_audio_sidecar()}')"
        ),
        "video_frames": (
            "SELECT media_id::BIGINT AS media_id, "
            "frame_idx::BIGINT AS frame_idx, dim::BIGINT AS dim, "
            f"value FROM read_parquet('{_video_sidecar()}')"
        ),
        "media_ann_top5": _media_ann_sql(),
        "lang_id": _lang_sql(),
        "quality_scores": _QUALITY_SQL,
        "doc_fingerprint": f"""
WITH {SQL_POS_TOKS}, {SQL_SHINGLES}
SELECT doc_id, min(md5(shingle)) AS fingerprint
FROM sh GROUP BY doc_id""",
        "source_quality_report": f"""
WITH {SQL_POS_TOKS}, {SQL_SHINGLES},
fp AS (SELECT doc_id, min(md5(shingle)) AS f FROM sh GROUP BY doc_id),
base AS (
  SELECT doc_id, source, text,
    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
         ELSE regexp_split_to_array(trim(text), '\\s+') END AS wtoks,
    CASE WHEN trim(lower(text)) = '' THEN []::VARCHAR[]
         ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS ltoks
  FROM documents),
m AS (
  SELECT doc_id, source,
    len(wtoks)::BIGINT AS ws_tokens,
    CASE WHEN length(text) = 0 THEN 0.0
         ELSE (length(text) - length(regexp_replace(text,
           '[^a-zA-Z0-9 	

]', '', 'g'))) * 1.0 / length(text)
    END AS praw,
    CASE WHEN len(ltoks) = 0 THEN 0.0
         ELSE len(list_filter(ltoks, t -> t IN ('the','a','an','and','or',
           'of','to','in','is','it'))) * 1.0 / len(ltoks)
    END AS sraw
  FROM base),
q AS (
  SELECT m.doc_id, m.source,
    round(0.5 * least(ws_tokens / 100.0, 1.0)
          + 0.3 * (1.0 - least(praw * 5.0, 1.0))
          + 0.2 * least(sraw * 4.0, 1.0), 6) AS qs,
    fp.f AS f
  FROM m LEFT JOIN fp USING (doc_id))
SELECT source,
  count(*)::BIGINT AS n_docs,
  round(avg(qs), 6) AS avg_quality,
  round(1.0 - count(DISTINCT f) * 1.0 / count(*), 6) AS dup_frac,
  ((1.0 - count(DISTINCT f) * 1.0 / count(*)) > 0.5
   OR avg(qs) < 0.3) AS flagged
FROM q GROUP BY source
ORDER BY source""",
        "training_mix": r"""
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x <> '') AS t
  FROM documents),
lt AS (
  SELECT doc_id,
    CASE WHEN trim(lower(text)) = '' THEN []::VARCHAR[]
         ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS t
  FROM documents),
g AS (
  SELECT doc_id, n, unnest(
    [array_to_string(t[i+1:i+n], ' ') for i in range(0, len(t)-n+1)]
  ) AS gram
  FROM lt, (VALUES (2), (3)) AS ns(n)
  WHERE len(t) >= n),
c AS (
  SELECT doc_id, n, max(cnt) AS topc
  FROM (SELECT doc_id, n, gram, count(*) AS cnt
        FROM g GROUP BY 1, 2, 3)
  GROUP BY 1, 2),
piv AS (
  SELECT doc_id,
    coalesce(max(CASE WHEN n = 2 THEN topc END), 0) AS top2,
    coalesce(max(CASE WHEN n = 3 THEN topc END), 0) AS top3
  FROM c GROUP BY doc_id),
flagged AS (
  SELECT lt.doc_id
  FROM lt LEFT JOIN piv USING (doc_id)
  WHERE (coalesce(top2, 0) >= 2
         AND coalesce(top2, 0) * 2.0 / greatest(len(t), 1) > 0.20)
     OR (coalesce(top3, 0) >= 2
         AND coalesce(top3, 0) * 3.0 / greatest(len(t), 1) > 0.18)),
ev AS (
  SELECT DISTINCT array_to_string(t[6:25], ' ') AS q
  FROM tok WHERE doc_id % 17 = 3 AND len(t) >= 25),
evt AS (
  SELECT list_filter(regexp_split_to_array(lower(q), '\s+'),
                     x -> x <> '') AS et
  FROM ev),
evg AS (
  SELECT DISTINCT unnest(
    [array_to_string(et[i+1:i+13], ' ') for i in range(0, len(et)-12)]
  ) AS gram
  FROM evt WHERE len(et) >= 13),
dg AS (
  SELECT doc_id, unnest(
    [array_to_string(t[i+1:i+13], ' ') for i in range(0, len(t)-12)]
  ) AS gram
  FROM tok WHERE len(t) >= 13),
contaminated AS (
  SELECT DISTINCT dg.doc_id FROM dg JOIN evg USING (gram)),
clean AS (
  SELECT d.doc_id, d.lang,
         len(regexp_split_to_array(trim(d.text), '\s+'))::BIGINT
           AS n_toks
  FROM documents d
  WHERE d.doc_id NOT IN (SELECT doc_id FROM flagged)
    AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)),
runs AS (
  SELECT doc_id, lang, n_toks,
         coalesce(sum(n_toks) OVER (
           PARTITION BY lang ORDER BY md5('7|' || doc_id::VARCHAR)
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS pre
  FROM clean)
SELECT doc_id::BIGINT AS doc_id, lang, n_toks
FROM runs WHERE pre < 2000""",
        "decontaminate": _DECONTAM_SQL,
        "decontaminate_xx64": _DECONTAM_SQL,
        "pii_scrub": r"""
WITH injected AS (
  SELECT doc_id,
    text
    || CASE WHEN doc_id % 5 = 0
            THEN ' contact user' || doc_id || '@example.com now'
            ELSE '' END
    || CASE WHEN doc_id % 7 = 0
            THEN ' call 415-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
            ELSE '' END
    || CASE WHEN doc_id % 11 = 0
            THEN ' host 10.0.' || (doc_id % 256) || '.7'
            ELSE '' END AS t
  FROM documents),
masked AS (
  SELECT doc_id, t,
    regexp_replace(t,
      '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}',
      '<EMAIL>', 'g') AS after_email
  FROM injected),
masked2 AS (
  SELECT doc_id, t, after_email,
    regexp_replace(after_email,
      '\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\b',
      '<IP>', 'g') AS after_ip
  FROM masked)
SELECT doc_id,
  len(regexp_extract_all(t,
    '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}'))::BIGINT
    AS n_emails,
  len(regexp_extract_all(after_email,
    '\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\b'))::BIGINT
    AS n_ips,
  len(regexp_extract_all(after_ip,
    '(?:\+?[0-9]{1,2}[ .\-])?\(?[0-9]{3}\)?[ .\-][0-9]{3}[ .\-][0-9]{4}\b'))::BIGINT
    AS n_phones,
  CASE WHEN length(scrubbed) <= 40 THEN scrubbed
       ELSE substring(scrubbed, length(scrubbed) - 39, 40) END AS tail40
FROM (
  SELECT doc_id, t, after_email, after_ip,
    regexp_replace(after_ip,
      '(?:\+?[0-9]{1,2}[ .\-])?\(?[0-9]{3}\)?[ .\-][0-9]{3}[ .\-][0-9]{4}\b',
      '<PHONE>', 'g') AS scrubbed
  FROM masked2)""",
        "repetition_flags": r"""
WITH tok AS (
  SELECT doc_id,
    CASE WHEN trim(lower(text)) = '' THEN []::VARCHAR[]
         ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS t
  FROM documents),
g AS (
  SELECT doc_id, n, unnest(
    [array_to_string(t[i+1:i+n], ' ') for i in range(0, len(t)-n+1)]
  ) AS gram
  FROM tok, (VALUES (2), (3)) AS ns(n)
  WHERE len(t) >= n),
c AS (
  SELECT doc_id, n, max(cnt) AS topc
  FROM (SELECT doc_id, n, gram, count(*) AS cnt
        FROM g GROUP BY 1, 2, 3)
  GROUP BY 1, 2),
piv AS (
  SELECT doc_id,
    coalesce(max(CASE WHEN n = 2 THEN topc END), 0) AS top2_count,
    coalesce(max(CASE WHEN n = 3 THEN topc END), 0) AS top3_count
  FROM c GROUP BY doc_id)
SELECT tok.doc_id,
  len(t)::BIGINT AS n_tokens,
  coalesce(top2_count, 0)::BIGINT AS top2_count,
  coalesce(top3_count, 0)::BIGINT AS top3_count,
  round(coalesce(top2_count, 0) * 2.0 / greatest(len(t), 1), 6)
    AS top2_frac,
  round(coalesce(top3_count, 0) * 3.0 / greatest(len(t), 1), 6)
    AS top3_frac,
  ((coalesce(top2_count, 0) >= 2
    AND coalesce(top2_count, 0) * 2.0 / greatest(len(t), 1) > 0.20)
   OR (coalesce(top3_count, 0) >= 2
    AND coalesce(top3_count, 0) * 3.0 / greatest(len(t), 1) > 0.18))
    AS flagged
FROM tok LEFT JOIN piv USING (doc_id)""",
        "events_window_agg": """
SELECT epoch(date_trunc('minute', ts))::BIGINT AS win_start,
       epoch(date_trunc('minute', ts) + INTERVAL 1 MINUTE)::BIGINT
         AS win_end,
       event_type, count(*)::BIGINT AS n_events,
       round(sum(value), 6) AS sum_value
FROM events GROUP BY 1, 2, 3""",
        "events_sessions": """
WITH o AS (
  SELECT ts, event_type, value,
    CASE WHEN lag(ts) OVER (PARTITION BY event_type ORDER BY ts)
              IS NULL
         OR ts - lag(ts) OVER (PARTITION BY event_type ORDER BY ts)
              >= INTERVAL 5 MINUTE
         THEN 1 ELSE 0 END AS brk
  FROM events),
s AS (
  SELECT *, sum(brk) OVER (
    PARTITION BY event_type ORDER BY ts
    ROWS UNBOUNDED PRECEDING) AS sid
  FROM o)
SELECT floor(epoch(min(ts)))::BIGINT AS session_start,
       floor(epoch(max(ts) + INTERVAL 5 MINUTE))::BIGINT AS session_end,
       event_type,
       count(*)::BIGINT AS n_events,
       round(sum(value), 6) AS sum_value
FROM s GROUP BY event_type, sid""",
        "worker_totals": """
SELECT event_type AS worker_id,
       floor(epoch(max(ts)))::BIGINT AS last_ts_epoch,
       count(*)::BIGINT AS n_beats,
       sum(floor(value)::BIGINT)::BIGINT AS total_pages
FROM events GROUP BY 1""",
        "lineitem_pricing_summary": """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       count(*)::BIGINT AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2""",
        "revenue_by_nation": """
SELECT n_name,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
  count(*)::BIGINT AS n_lineitems
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name""",
        "orders_by_segment": """
SELECT c_mktsegment, count(*)::BIGINT AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1""",
        "fuzzy_term_match": f"""
WITH {SQL_TOKS}, {SQL_TF},
lex AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1)
SELECT term, df, levenshtein(term, 'srt')::BIGINT AS dist
FROM lex WHERE levenshtein(term, 'srt') <= 3
ORDER BY dist, df DESC, term LIMIT 10""",
        "phrase_bm25": _phrase_bm25_sql(["table", "hash"], 10),
        "indexed_phrase_bm25": _phrase_bm25_sql(["table", "hash"], 10),
        "mixed_phrase_bm25": _mixed_sql(["table", "hash"], ["fast"], 10),
        "phrase_slop_bm25": _slop_bm25_sql(["slow", "batch"], 2, 10),
        "stratified_sample": """
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang ORDER BY md5('42|' || doc_id::VARCHAR)
         ) AS rk
  FROM documents)
SELECT doc_id::BIGINT AS doc_id, lang FROM ranked WHERE rk <= 20""",
        "token_budget_pack": """
WITH toks AS (
  SELECT doc_id, lang,
         len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT
           AS n_toks
  FROM documents),
runs AS (
  SELECT doc_id, lang, n_toks,
         coalesce(sum(n_toks) OVER (
           PARTITION BY lang ORDER BY md5('42|' || doc_id::VARCHAR)
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS pre
  FROM toks)
SELECT doc_id::BIGINT AS doc_id, lang, n_toks
FROM runs WHERE pre < 3000""",
        "wildcard_bm25": f"""
WITH {SQL_TOKS}, {SQL_TF}, {SQL_DL}, {SQL_STATS},
qdf AS (
  SELECT term, count(*)::BIGINT AS df FROM tf
  WHERE term LIKE 's%' GROUP BY 1),
contrib AS (
  SELECT tf.doc_id,
         ln((s.n - q.df + 0.5)/(q.df + 0.5) + 1) * tf.tf * {K1 + 1.0}
         / (tf.tf + {K1} * (1 - {B} + {B} * dl.doc_len / s.avgdl))
         AS part
  FROM tf JOIN qdf q USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s)
SELECT doc_id, round(sum(part), 6) AS score
FROM contrib GROUP BY 1
ORDER BY score DESC, doc_id LIMIT 10""",
        "wildcard_leading_bm25": f"""
WITH {SQL_TOKS}, {SQL_TF}, {SQL_DL}, {SQL_STATS},
qdf AS (
  SELECT term, count(*)::BIGINT AS df FROM tf
  WHERE term LIKE '%er' GROUP BY 1),
contrib AS (
  SELECT tf.doc_id,
         ln((s.n - q.df + 0.5)/(q.df + 0.5) + 1) * tf.tf * {K1 + 1.0}
         / (tf.tf + {K1} * (1 - {B} + {B} * dl.doc_len / s.avgdl))
         AS part
  FROM tf JOIN qdf q USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s)
SELECT doc_id, round(sum(part), 6) AS score
FROM contrib GROUP BY 1
ORDER BY score DESC, doc_id LIMIT 10""",
        "phrase_occurrences": f"""
WITH {_phrase_occ_sql(["slow", "hash", "batch"])}
SELECT doc_id, start::BIGINT AS start FROM occ ORDER BY 1, 2""",
        "hll_register_sketch": _hll_sql(),
        "term_heavy_hitters": f"WITH {SQL_TOKS} "
        "SELECT tok AS term, count(*)::BIGINT AS est_count FROM toks "
        "GROUP BY 1 ORDER BY est_count DESC, term LIMIT 15",
        "term_prefix_topk": f"WITH {SQL_TOKS}, {SQL_TF} "
        "SELECT term, count(*)::BIGINT AS df FROM tf "
        "WHERE term LIKE 's%' "
        "GROUP BY 1 ORDER BY df DESC, term LIMIT 5",
    }


def q_facet_counts(spark, sf_dir):
    """Facet counts over the FULL match set (docs containing any
    Q_MAIN term): per-lang doc counts — the distributed twin of the
    serving head's engine.facet_counts (&facets=lang). Plan: tokens
    semi-filtered to the query terms -> distinct docid -> join the
    documents table on its COLUMN-PRUNED (doc_id, lang) projection
    (tools/explain_audit.py facet_no_corpus_scan asserts text never
    reaches the scan) -> one hash aggregate."""
    tokens = _base_tokens_df(spark, sf_dir)
    matched = (
        tokens.filter(F.col("term").isin(Q_MAIN))
        .select("docid")
        .distinct()
    )
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("docid"), "lang"
    )
    return (
        matched.join(docs, "docid")
        .groupBy("lang")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .orderBy("lang")
    )


def q_ngram_dup_frac(spark, sf_dir):
    """Exact substring duplication metric (Lee et al. 2022 style):
    per-doc fraction of distinct word 8-grams that also occur in
    another document — the span-level dedup signal whole-doc sketches
    (minhash/simhash) structurally miss
    (operators/substring_dedup.py; key='xxhash64' is the 8-byte
    production mode, string mode here for the oracle)."""
    from wiki_search_engine_spark.operators.substring_dedup import (
        ngram_dup_fraction,
    )

    return (
        ngram_dup_fraction(_docs(spark, sf_dir), n=8, key="gram")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "n_grams",
            "n_dup_grams",
            "dup_frac",
        )
        .orderBy("doc_id")
    )


def q_field_title_bm25(spark, sf_dir):
    """Lucene field-scoped query as ONE tagged relation: the bag term
    'table' scores on body tokens, 'title:scan' scores on the TITLE
    pseudo-field (first 8 raw whitespace tokens — the reference's
    title-on-line-1 analogue), both through the same exhaustive
    scorer; df per tagged term is its live row count
    (serving.ServingCore._fielded_ids is the serving twin)."""
    from wiki_search_engine_spark.operators.scoring import (
        score_exhaustive,
    )
    from wiki_search_engine_spark.operators.tokenize import tokenize

    tokens = _base_tokens_df(spark, sf_dir)
    n, avgdl = _stats_scalars(tokens)
    titles = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("docid"),
        F.array_join(
            F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 8), " "
        ).alias("text"),
    )
    title_rel = (
        tokenize(titles, stem=False)
        .select(
            "docid",
            F.concat(F.lit("title:"), F.col("term")).alias("term"),
            "tf",
        )
        .join(_doc_stats(tokens).select("docid", "doc_len"), "docid")
    )
    rel = tokens.select("docid", "term", "tf", "doc_len").unionByName(
        title_rel.select("docid", "term", "tf", "doc_len")
    )
    res = score_exhaustive(
        rel, ["table", "title:scan"], n, avgdl, k=None, mode="bm25"
    )
    return (
        res.select(
            F.col("docid").cast("long").alias("doc_id"),
            F.round("score", 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(50)
    )


def _doclen_df(spark, sf_dir):
    """(doc_id, n_tokens int) — raw whitespace token count per doc."""
    from wiki_search_engine_spark.operators.decontaminate import (
        ws_token_array,
    )

    return _docs(spark, sf_dir).select(
        "doc_id",
        F.size(ws_token_array(F.col("text"))).cast("int").alias(
            "n_tokens"
        ),
    )


def q_doclen_histogram(spark, sf_dir):
    """Mergeable log2-binned doc-length histogram — the third
    mergeable-summary sketch (operators/sketches.py log_histogram):
    ~64 (bin, n, lo, hi) rows describe the tokens-per-doc distribution
    of any corpus slice; slices merge by adding counts. Integer-exact
    binning (binary digit count), so the oracle replays bit-for-bit."""
    from wiki_search_engine_spark.operators.sketches import (
        log_histogram,
    )

    return log_histogram(
        _doclen_df(spark, sf_dir).select("n_tokens"), "n_tokens"
    ).orderBy("bin")


def q_doclen_quantiles(spark, sf_dir):
    """p50/p90/p99 tokens-per-doc estimated FROM the histogram sketch
    (one window cumsum over ~64 rows, exponent interpolation inside
    the hit bin — no corpus re-access; sketches.histogram_quantiles)."""
    from wiki_search_engine_spark.operators.sketches import (
        histogram_quantiles, log_histogram,
    )

    hist = log_histogram(
        _doclen_df(spark, sf_dir).select("n_tokens"), "n_tokens"
    )
    return histogram_quantiles(hist, [0.5, 0.9, 0.99]).orderBy("q")


def q_pagerank_top20(spark, sf_dir):
    """PageRank (3 power iterations, d=0.85, dangling-mass
    redistribution) over a DETERMINISTIC synthetic link graph derived
    from the documents table's ids (src -> (src*k + 1) mod N for
    k in 2,3,5) — the kernel-correctness gate for
    operators/linkgraph.py pagerank; the real-corpus path (html link
    extraction -> resolve_link_docids -> pagerank) is pytest-gated
    against a pure-Python power iteration."""
    from wiki_search_engine_spark.operators.linkgraph import pagerank

    docs = _docs(spark, sf_dir).select("doc_id")
    n = docs.count()
    edges = None
    for kk in (2, 3, 5):
        e = docs.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * kk + 1) % n).alias("dst"),
        )
        edges = e if edges is None else edges.unionByName(e)
    pr = pagerank(edges, n_iter=3)
    return (
        pr.select(
            F.col("node").cast("long").alias("doc_id"),
            F.round("rank", 6).alias("rank"),
        )
        .orderBy(F.desc("rank"), F.asc("doc_id"))
        .limit(20)
    )


def _pagerank_sql(n_iter: int = 3, k_top: int = 20) -> str:
    """Chained-CTE replay of the fixed-iteration PageRank entry:
    one rN CTE per power iteration (teleport + damped contributions +
    dangling mass, identical double arithmetic)."""
    head = """
WITH nn AS (SELECT count(*)::DOUBLE AS n FROM documents),
e AS (
  SELECT doc_id AS src,
         (doc_id * 2 + 1) % (SELECT count(*) FROM documents) AS dst
  FROM documents
  UNION ALL
  SELECT doc_id, (doc_id * 3 + 1) % (SELECT count(*) FROM documents)
  FROM documents
  UNION ALL
  SELECT doc_id, (doc_id * 5 + 1) % (SELECT count(*) FROM documents)
  FROM documents),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
deg AS (SELECT src, count(*)::DOUBLE AS deg FROM e GROUP BY 1),
r0 AS (SELECT node, 1.0::DOUBLE / (SELECT n FROM nn) AS rank
       FROM nodes)"""
    its = []
    for i in range(1, n_iter + 1):
        p = f"r{i - 1}"
        its.append(f"""
r{i} AS (
  SELECT nodes.node,
    0.15::DOUBLE / (SELECT n FROM nn)
    + 0.85::DOUBLE * (
        coalesce(c.c, 0.0)
        + (SELECT coalesce(sum(r.rank), 0.0) FROM {p} r
           LEFT JOIN deg ON r.node = deg.src WHERE deg.src IS NULL)
          / (SELECT n FROM nn)
      ) AS rank
  FROM nodes LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank / deg.deg) AS c
    FROM e JOIN {p} r ON e.src = r.node
    JOIN deg ON deg.src = e.src
    GROUP BY 1) c ON nodes.node = c.node)""")
    return (
        head + "," + ",".join(its)
        + f"""
SELECT node::BIGINT AS doc_id, round(rank, 6) AS rank
FROM r{n_iter}
ORDER BY rank DESC, doc_id LIMIT {k_top}"""
    )


def q_bm25_static_rank(spark, sf_dir):
    """The classic web-ranking composition: BM25 relevance + a static
    link-authority prior — score' = bm25 + 2*ln(1 + N*pagerank), over
    the same deterministic link graph as pagerank_top20 (3 power
    iterations). One plan: exhaustive scorer join the rank table on
    docid; the serving analogue would broadcast the (docid, rank) side
    table exactly like doc_stats."""
    from wiki_search_engine_spark.operators.linkgraph import pagerank
    from wiki_search_engine_spark.operators.scoring import (
        score_exhaustive,
    )

    tokens = _base_tokens_df(spark, sf_dir)
    n, avgdl = _stats_scalars(tokens)
    docs = _docs(spark, sf_dir).select("doc_id")
    n_docs = docs.count()
    edges = None
    for kk in (2, 3, 5):
        e = docs.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * kk + 1) % n_docs).alias("dst"),
        )
        edges = e if edges is None else edges.unionByName(e)
    pr = pagerank(edges, n_iter=3)
    bm = score_exhaustive(tokens, Q_MAIN, n, avgdl, k=None)
    return (
        bm.join(pr, bm["docid"] == pr["node"])
        .select(
            F.col("docid").cast("long").alias("doc_id"),
            F.round(
                F.col("score")
                + 2.0 * F.log(1.0 + F.lit(float(n_docs)) * F.col("rank")),
                6,
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(50)
    )
