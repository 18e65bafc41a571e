"""Link-graph analytics: PageRank over the corpus link table — the
static-authority signal of web ranking (Brin & Page 1998), computed
from the edge list the reference's crawler already extracts but only
ever uses as a crawl frontier (Crawler/crawler.py:227-269; our batch
twin is operators/tokenize.py link_table).

Spark-first shape, and how it survives 10^12 pages:

- the edge list is materialized ONCE (persist + count): upstream of it
  sits the whole html anchor extraction, which every later use — nodes,
  out-degrees and each iteration's join — would otherwise re-run;
- nodes / out-degrees are computed ONCE and cached; every iteration is
  one join (edges x current ranks on src — both sides partitioned by
  the join key, AQE-planned) and one hash aggregate (contributions by
  dst). Nothing but the 1-row dangling-mass aggregate ever reaches the
  driver.
- dangling nodes (no out-links — extremely common on the web)
  redistribute their mass uniformly each iteration, so ranks sum to 1
  exactly (pytest asserts the invariant per iteration).
- each iteration materializes (persist + count) and unpersists its
  predecessor: the lineage stays one-iteration deep instead of
  re-planning k joins at iteration k — the standard iterative-algorithm
  discipline on Spark.

Rank-use note: the classic serving-side application is a static boost
(score + alpha * log(rank)) — left to the caller; this module is the
oracle-checked computation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    n_iter: int = 10,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(node, rank) after ``n_iter`` power iterations with uniform
    teleport and dangling-mass redistribution; ranks sum to 1.

    ``edges``: directed (src, dst) pairs; duplicate edges count once
    per occurrence (a page linking twice passes twice the mass —
    dedupe upstream for the at-most-once reading). Nodes appearing
    only as destinations are part of the graph (they hold rank and
    dangle)."""
    d = float(damping)
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).persist()
    e.count()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n == 0:
        e.unpersist()
        return nodes.select(
            "node", F.lit(0.0).alias("rank")
        )
    out_deg = (
        e.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
    ).persist()
    out_deg.count()
    ranks = nodes.select(
        "node", F.lit(1.0 / n).alias("rank")
    ).persist()
    ranks.count()
    for _ in range(n_iter):
        with_deg = ranks.join(
            out_deg, ranks["node"] == out_deg["src"], "left"
        ).select(ranks["node"], "rank", "deg")
        dangling = (
            with_deg.filter(F.col("deg").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
            .collect()[0][0]
        )
        contribs = (
            e.join(with_deg.filter(F.col("deg").isNotNull()),
                   e["src"] == F.col("node"))
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("deg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        new_ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit((1.0 - d) / n)
                    + F.lit(d)
                    * (
                        F.coalesce(F.col("c"), F.lit(0.0))
                        + F.lit(float(dangling) / n)
                    )
                ).alias("rank"),
            )
            .persist()
        )
        new_ranks.count()
        ranks.unpersist()
        ranks = new_ranks
    nodes.unpersist()
    out_deg.unpersist()
    e.unpersist()
    return ranks


def resolve_link_docids(
    links: DataFrame, known_urls: DataFrame
) -> DataFrame:
    """(src, dst) docid edges from a (src_url, dst_url) link table,
    keeping only destinations that exist in the corpus (``known_urls``:
    one ``url`` column) — crawl-frontier links to unfetched pages don't
    belong in the graph. Docids derive exactly as the index does
    (xxhash64(url) >> 1)."""
    def did(col):
        return F.shiftrightunsigned(F.xxhash64(col), 1)

    known = known_urls.select(
        F.col("url").alias("dst_url")
    ).distinct()
    return links.join(known, "dst_url").select(
        did(F.col("src_url")).alias("src"),
        did(F.col("dst_url")).alias("dst"),
    )


def anchor_terms(
    corpus: DataFrame,
    stem: bool = True,
    analyzer: str | None = None,
    allow_domains: tuple = ("en.wikipedia.org",),
) -> DataFrame:
    """(docid, term, tf, anchor_len): the ANCHOR-TEXT field relation —
    how OTHER pages describe each document, the web-ranking signal the
    original PageRank paper weighted alongside authority (anchors
    describe the target better than the target describes itself).
    Every incoming anchor's text runs through the INDEX analyzer and
    aggregates per destination: tf = occurrences of the term across
    all incoming anchors, anchor_len = the destination's total anchor
    tokens (the field-length norm). Shape-compatible with the title_tf
    side of operators/scoring.score_bm25f, so anchor-boosted ranking
    composes with the existing field machinery.

    Plan: one Arrow-batched extraction pass over html (the reference's
    link filter chain keeping the anchors' visible text) -> explode ->
    frontier drop (join on the corpus's own urls) -> the vectorized
    tokenize kernel over anchor snippets -> one (docid, term) hash
    aggregate + a docid-keyed length aggregate. Anchor volume is
    link-count-sized, far below the corpus token stream."""
    import pandas as pd

    from ..functions.extraction import extract_anchor_texts
    from ..operators.tokenize import tokenize

    @F.pandas_udf("array<struct<url:string,text:string>>")
    def _anchors(html, url):
        return pd.Series(
            [
                [
                    {"url": u, "text": t}
                    for u, t in extract_anchor_texts(
                        bytes(h).decode("utf-8", "replace")
                        if h is not None
                        else "",
                        base_url=base or "",
                        allow_domains=allow_domains,
                    )
                ]
                for h, base in zip(html, url)
            ]
        )

    pairs = corpus.select(
        F.explode(_anchors(F.col("html"), F.col("url"))).alias("a")
    ).select(
        F.col("a.url").alias("dst_url"), F.col("a.text").alias("text")
    )
    known = corpus.select(
        F.col("url").alias("dst_url")
    ).distinct()
    resolved = pairs.join(known, "dst_url").select(
        F.shiftrightunsigned(F.xxhash64("dst_url"), 1).alias("docid"),
        "text",
    )
    toks = tokenize(resolved, stem=stem, analyzer=analyzer).select(
        "docid", "term", "tf"
    )
    agg = toks.groupBy("docid", "term").agg(
        F.sum("tf").cast("int").alias("tf")
    )
    from pyspark.sql import Window

    return agg.withColumn(
        "anchor_len",
        F.sum("tf").over(Window.partitionBy("docid")).cast("int"),
    )
