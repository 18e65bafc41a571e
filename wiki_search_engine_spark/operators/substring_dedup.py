"""Exact substring duplication metrics: per-document fraction of word
n-grams that also occur in ANOTHER document — the corpus-internal twin
of benchmark decontamination and the signal behind exact-substring
training-data dedup (Lee et al. 2022, "Deduplicating Training Data
Makes Language Models Better": duplicated 50-gram spans; here the gram
length is a parameter since test corpora are short).

Relationship to the rest of the dedup family (operators/dedup.py):
MinHash/SimHash/Jaccard find docs that are near-duplicates AS A WHOLE;
this finds documents that SHARE EXACT SPANS (boilerplate, quoted
templates, mirrored paragraphs) even when the documents as a whole are
unrelated — the case whole-doc sketches structurally miss.

Spark-first shape, and how it survives 100 TB:

- per-doc DISTINCT grams come from one codegen pass (the arrays_zip
  n-gram form — functions/textstats.py shingles' linear shape, NOT an
  interpreted-lambda explode) + ``array_distinct`` BEFORE the explode,
  so within-doc repetition never inflates the shuffle;
- cross-doc document frequency is ONE partial-aggregating hash
  aggregate keyed on the gram: each map task collapses a gram to one
  row before the shuffle, so the hottest boilerplate gram never
  buffers its rows in one task (a gram-keyed window would). Only the
  duplicated grams (df >= 2) join back to the (doc, gram) rows; AQE's
  skew-join split keeps a hot gram's probe rows off a single task.
  ``key='xxhash64'`` (production mode) shuffles an 8-byte key instead
  of an ~n-token string — the same trade as
  operators/decontaminate.py, collisions can only ADD (~2^-64 each)
  false dup marks, never lose one;
- the per-doc rollup is a hash aggregate keyed on doc_id whose input
  is already one row per (doc, distinct gram). Nothing driver-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .decontaminate import ngrams_col, ws_token_array


def ngram_dup_fraction(
    docs: DataFrame,
    n: int = 8,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    key: str = "gram",
) -> DataFrame:
    """(doc_id, n_grams, n_dup_grams, dup_frac) per document:
    ``n_grams`` = distinct word n-grams in the doc, ``n_dup_grams`` =
    how many of those occur in at least one OTHER document,
    ``dup_frac`` = their ratio (0.0 when the doc is shorter than n).

    ``key``: 'gram' joins/aggregates on the gram STRING (DuckDB-oracle
    exact); 'xxhash64' is the 8-byte production mode (see module
    docstring)."""
    if key not in ("gram", "xxhash64"):
        raise ValueError(f"unknown key: {key}")
    toks = ws_token_array(F.col(text_col))
    g = docs.select(
        F.col(doc_id_col).alias("doc_id"),
        F.explode_outer(
            F.array_distinct(ngrams_col(toks, n))
        ).alias("gram"),
    )
    if key == "xxhash64":
        g = g.select(
            "doc_id",
            F.when(
                F.col("gram").isNotNull(), F.xxhash64("gram")
            ).alias("gram"),
        )
    # document frequency per distinct gram: rows are (doc, distinct
    # gram), so the per-gram row count == count of docs containing it.
    # The null gram (docs shorter than n, kept by explode_outer) never
    # joins, so it counts in neither column.
    dup_grams = (
        g.groupBy("gram")
        .count()
        .filter(F.col("count") >= 2)
        .select("gram", F.lit(1).alias("dup"))
    )
    per_doc = (
        g.join(dup_grams, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.col("gram")).cast("long").alias("n_grams"),
            F.count(F.col("dup")).cast("long").alias("n_dup_grams"),
        )
        .withColumn(
            "dup_frac",
            F.when(F.col("n_grams") == 0, F.lit(0.0)).otherwise(
                F.round(
                    F.col("n_dup_grams")
                    / F.col("n_grams").cast("double"),
                    6,
                )
            ),
        )
    )
    return per_doc


def flag_dup_docs(
    docs: DataFrame,
    n: int = 8,
    threshold: float = 0.5,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    key: str = "xxhash64",
) -> DataFrame:
    """(doc_id, dup_frac) for docs whose cross-doc duplicated-gram
    fraction reaches ``threshold`` — the pipeline-usable filter form
    (drop or down-weight boilerplate-heavy pages before training)."""
    m = ngram_dup_fraction(
        docs, n=n, doc_id_col=doc_id_col, text_col=text_col, key=key
    )
    return m.filter(F.col("dup_frac") >= threshold).select(
        "doc_id", "dup_frac"
    )
