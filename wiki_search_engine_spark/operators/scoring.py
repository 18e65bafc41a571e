"""Exhaustive BM25 / TF-IDF scoring as declarative DataFrame ops.

This is the Catalyst-native path: the whole computation is JVM-side
(whole-stage codegen), no Python in the loop. It replicates the
reference's serving-path loop (backend/services/mongoService.js:28-58)
as a filter -> arithmetic -> aggregate -> TakeOrderedAndProject plan:

    tokens (docid, term, tf, doc_len)
      |> semi-filter on analyzed query terms      ($in, mongoService.js:18)
      |> join broadcast (term, df) for query terms only
      |> per-row partial score (BM25 or TF-IDF formula)
      |> groupBy(docid).sum                       (OR-semantics accumulate)
      |> orderBy(score desc, docid asc).limit(k)  (top-k, §8.Q5 tie-break)

N / avgdl arrive as literals (the reference reads its metaData singleton
per query, mongoService.js:15-26). df for scoring is recomputed from the
live postings (len(posting list), §8.Q7) — here that's exactly the
count of token rows per term, computed on the FILTERED tokens so only
query terms are aggregated (tiny shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import B, K1


def score_expr(mode: str, n: int, avgdl: float):
    """Partial per-(term,doc) contribution column. Formulas:
    backend/services/mongoService.js:34-48."""
    tf = F.col("tf").cast("double")
    df = F.col("df").cast("double")
    if mode == "bm25":
        idf = F.log((F.lit(float(n)) - df + 0.5) / (df + 0.5) + 1.0)
        dl = F.col("doc_len").cast("double")
        denom = tf + F.lit(K1) * (1.0 - B + F.lit(B) * dl / F.lit(avgdl))
        return idf * tf * F.lit(K1 + 1.0) / denom
    if mode == "tfidf":
        return tf * F.log(F.lit(float(n)) / df)
    raise ValueError(f"unknown scoring mode: {mode}")


def with_live_df(rows: DataFrame) -> DataFrame:
    """``rows`` (one per term and doc) plus ``df``: each term's row
    count, recomputed from the live relation (§8.Q7). A partial-
    aggregating ``groupBy(term)`` — one row per term and map task, so a
    head term never lands in one task the way a window keyed on term
    would put its whole relation there — broadcast-joined back (the
    side is query-sized)."""
    dfs = rows.groupBy("term").agg(F.count("*").alias("df"))
    return rows.join(F.broadcast(dfs), "term")


def score_exhaustive(
    tokens: DataFrame,
    query_terms: list[str],
    n: int,
    avgdl: float,
    k: int | None = 50,
    mode: str = "bm25",
    semantics: str = "or",
    exclude_terms: list[str] | None = None,
    required_terms: list[str] | None = None,
    df_map: dict[str, int] | None = None,
) -> DataFrame:
    """Top-k (docid, score) over a token/posting relation.

    ``query_terms`` must already be analyzed + deduped
    (functions.analyzer.analyze_query). ``k=None`` returns ALL scored docs
    unordered (caller applies its own ordering/limit) — never pass a huge k
    instead: orderBy().limit(k) plans a size-k TakeOrderedAndProject heap
    per partition.

    ``semantics``: 'or' (the reference's accumulate-any, default) or
    'and' — conjunctive retrieval: only docs containing EVERY query term
    score (the web-search list-intersection form; expressed as the same
    single aggregation plus a distinct-term count, so Catalyst plans one
    hash aggregate — no join chain per term). A query term absent from
    the corpus empties the AND result by definition.

    ``exclude_terms``: Lucene-style NOT — docs containing ANY excluded
    term are removed BEFORE the top-k cut (a post-cut filter would
    under-fill k). Planned as one LEFT ANTI join against the excluded
    terms' docids: the anti-join side is per-doc-per-excluded-term rows
    only (the same magnitude as the excluded postings the engine's
    local path decodes), never corpus-sized; AQE broadcasts it when
    small. A term both queried and excluded empties the result (the
    Lucene boolean contradiction).

    ``df_map``: each query term's df when the caller already knows it to
    equal the relation's live count (a source with no overridden doc:
    its lexicon df), given as a literal map — then the relation is
    decoded once instead of also feeding ``with_live_df``'s count.
    Without it df is recomputed from the relation."""
    if not query_terms:
        return (
            tokens.sparkSession.createDataFrame(
                [], "docid long, score double"
            )
        )
    matched = tokens.filter(F.col("term").isin(query_terms))
    if df_map is None:
        matched = with_live_df(matched)
    else:
        matched = matched.withColumn("df", F.create_map(*(
            F.lit(x)
            for t in dict.fromkeys(query_terms)
            for x in (t, int(df_map.get(t, 0)))
        ))[F.col("term")])
    scored = matched.withColumn("partial", score_expr(mode, n, avgdl))
    if semantics == "and":
        agg = (
            scored.groupBy("docid")
            .agg(
                F.sum("partial").alias("score"),
                F.count_distinct("term").alias("_nt"),
            )
            .filter(F.col("_nt") == len(set(query_terms)))
            .drop("_nt")
        )
    elif semantics == "or":
        if required_terms:
            # Lucene MUST subset: same single hash aggregate as AND,
            # but only the required terms gate membership (SHOULD
            # terms still contribute to the sum)
            # an absent required term can never be counted, so the
            # filter empties the result — correct MUST semantics
            req = sorted(set(required_terms))
            agg = (
                scored.groupBy("docid")
                .agg(
                    F.sum("partial").alias("score"),
                    F.count_distinct(
                        F.when(
                            F.col("term").isin(req), F.col("term")
                        )
                    ).alias("_req"),
                )
                .filter(F.col("_req") == len(req))
                .drop("_req")
            )
        else:
            agg = scored.groupBy("docid").agg(
                F.sum("partial").alias("score")
            )
    else:
        raise ValueError(f"unknown semantics: {semantics}")
    if exclude_terms:
        excluded = (
            tokens.filter(F.col("term").isin(list(set(exclude_terms))))
            .select("docid")
            .distinct()
        )
        agg = agg.join(excluded, "docid", "left_anti")
    if k is None:
        return agg
    return agg.orderBy(F.desc("score"), F.asc("docid")).limit(k)


def score_synonyms(
    tokens: DataFrame,
    groups: list[list[str]],
    n: int,
    avgdl: float,
    k: int | None = 50,
    mode: str = "bm25",
) -> DataFrame:
    """Top-k with query-time synonym groups: each group of analyzed
    terms scores as ONE pseudo-term whose per-doc tf is the SUM of the
    group's tfs and whose df is the DOC FREQUENCY OF THE DISJUNCTION
    (count of docs containing any group member).

    This is Lucene's SynonymQuery semantics with one deliberate
    difference: Lucene approximates the group df with the max member
    df (cheap from per-term stats); here the true disjunction df is
    one extra hash aggregate over rows the query already touched, and
    it is what the BM25 saturation actually means — a synonym group
    behaves exactly like a single vocabulary item.

    Plan shape: broadcast the (term -> gid) mapping (query-sized),
    one hash aggregate to (docid, gid) with map-side partial combine,
    one group-sized aggregate for df, broadcast it back, then the
    standard accumulate + TakeOrderedAndProject — no corpus-sized
    shuffle beyond the per-(doc, gid) rows the matched terms produce."""
    mapping = [
        (t, gid) for gid, terms in enumerate(groups) for t in set(terms)
    ]
    if not mapping:
        return tokens.sparkSession.createDataFrame(
            [], "docid long, score double"
        )
    mdf = tokens.sparkSession.createDataFrame(
        mapping, "term string, gid int"
    )
    per_doc = (
        tokens.join(F.broadcast(mdf), "term")
        .groupBy("docid", "gid")
        .agg(
            F.sum("tf").cast("int").alias("tf"),
            # doc_len is constant per doc
            F.first("doc_len").alias("doc_len"),
        )
    )
    gdf = per_doc.groupBy("gid").agg(
        F.count("*").cast("long").alias("df")
    )
    scored = per_doc.join(F.broadcast(gdf), "gid").withColumn(
        "partial", score_expr(mode, n, avgdl)
    )
    agg = scored.groupBy("docid").agg(F.sum("partial").alias("score"))
    if k is None:
        return agg
    return agg.orderBy(F.desc("score"), F.asc("docid")).limit(k)


def score_bm25f(
    tokens: DataFrame,
    title_tokens: DataFrame,
    query_terms: list[str],
    n: int,
    avgdl: float,
    k: int | None = 50,
    title_weight: float = 2.0,
) -> DataFrame:
    """Top-k BM25F with a weighted TITLE field: per-(doc, term) the
    effective tf is

        tf' = tf_body + (title_weight - 1) * tf_title

    scored through the standard BM25 saturation against the BODY
    length normalization. ``title_weight == 1`` is EXACTLY plain BM25
    (rank-identity pytest); 2.0 (default) counts a title occurrence
    twice — the classic "matches in the title rank higher" upgrade the
    reference's ranking lacks even though its doc format puts the
    title on line 1 of every document (Crawler/crawler.py:401-406) and
    its doc store keys results by title
    (mongodb_scripts/insertScript.py:95-103).

    ``tokens``: (docid, term, tf, doc_len); ``title_tokens``: (docid,
    term, tf [title occurrences], doc_len [BODY length]) — the outer
    side covers title-only matches (a term in the title but not the
    body still scores, with tf' = (w-1)*tf_title). df is recomputed
    live (SURVEY §8.Q7) as the count of docs with tf' > 0, which at
    w == 1 collapses to the body df — preserving the identity.

    Plan shape: both sides filter to the query terms BEFORE the join
    (query-sized relations), full-outer hash join on (docid, term),
    broadcast live-df count, one hash aggregate,
    TakeOrderedAndProject."""
    if not query_terms:
        return tokens.sparkSession.createDataFrame(
            [], "docid long, score double"
        )
    w = float(title_weight)
    body = tokens.filter(F.col("term").isin(query_terms)).select(
        "docid", "term",
        F.col("tf").cast("double").alias("tf_b"),
        F.col("doc_len").cast("double").alias("dl_b"),
    )
    title = title_tokens.filter(
        F.col("term").isin(query_terms)
    ).select(
        "docid", "term",
        F.col("tf").cast("double").alias("tf_t"),
        F.col("doc_len").cast("double").alias("dl_t"),
    )
    merged = body.join(title, ["docid", "term"], "full_outer").select(
        "docid",
        "term",
        (
            F.coalesce(F.col("tf_b"), F.lit(0.0))
            + F.lit(w - 1.0) * F.coalesce(F.col("tf_t"), F.lit(0.0))
        ).alias("tfp"),
        F.coalesce(F.col("dl_b"), F.col("dl_t")).alias("doc_len"),
    ).filter(F.col("tfp") > 0)
    merged = with_live_df(merged)
    tfp = F.col("tfp")
    dfc = F.col("df").cast("double")
    idf = F.log((F.lit(float(n)) - dfc + 0.5) / (dfc + 0.5) + 1.0)
    denom = tfp + F.lit(K1) * (
        1.0 - B + F.lit(B) * F.col("doc_len") / F.lit(avgdl)
    )
    scored = merged.withColumn(
        "partial", idf * tfp * F.lit(K1 + 1.0) / denom
    )
    agg = scored.groupBy("docid").agg(F.sum("partial").alias("score"))
    if k is None:
        return agg
    return agg.orderBy(F.desc("score"), F.asc("docid")).limit(k)
