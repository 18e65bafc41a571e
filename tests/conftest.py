import math

import pytest

N_DOCS = 80
SEED = 42


@pytest.fixture(scope="session")
def spark():
    from wiki_search_engine_spark.session import get_spark

    s = get_spark(
        app_name="wse-tests", master="local[4]", shuffle_partitions=4
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_rows():
    from wiki_search_engine_spark.sources.synth import doc_row

    return [doc_row(i, SEED) for i in range(N_DOCS)]


@pytest.fixture(scope="session")
def corpus_df(spark, corpus_rows):
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(corpus_rows))


@pytest.fixture(scope="session")
def docid_map(spark, corpus_rows):
    """url -> docid exactly as the engine derives it (xxhash64 >> 1)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(r["url"],) for r in corpus_rows], "url string"
    ).withColumn("docid", F.shiftrightunsigned(F.xxhash64("url"), 1))
    return dict(df.collect())


@pytest.fixture(scope="session")
def index_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("index"))


@pytest.fixture(scope="session")
def engine(spark, corpus_df, index_dir):
    from wiki_search_engine_spark.engine import SearchEngine

    return SearchEngine.build(
        spark, corpus_df, index_dir, stem=True,
        n_buckets=16, bucket_groups=2, salt_bits=2,
    )


@pytest.fixture(scope="session")
def oracle(corpus_rows, docid_map):
    from wiki_search_engine_spark.oracle_py import IndexOracle

    o = IndexOracle(stem=True)
    for r in corpus_rows:
        o.add_document(docid_map[r["url"]], r["text"])
    return o


@pytest.fixture(scope="session")
def fixture_queries():
    """The reference-style query set (BASELINE.md: de-facto queries are
    'messi argentina' shapes — 2-term mid-freq, rare, heavy, mixed
    present/absent, dup terms, stemming, punctuation/case noise)."""
    from wiki_search_engine_spark.sources.synth import vocabulary

    words, _ = vocabulary(SEED)
    return [
        words[0],                                # Zipf-head heavy term
        f"{words[3]} {words[50]}",               # 2-term mid frequency
        "rare7x0",                               # rare term
        f"{words[200]} zzznotaterm",             # present + absent (OR)
        "zzznotaterm qqqalsomissing",            # all absent -> empty
        f"{words[1]} {words[1]} {words[1]}",     # duplicate terms dedup
        f"The {words[10].capitalize()}!!",       # punctuation/case noise
        "running",                               # stemming path
        f"{words[2]} {words[700]} {words[1500]}",  # 3-term mixed freq
        "12345678",                              # junk long number -> empty
    ]


def assert_rank_identical(got, exp):
    assert len(got) == len(exp), f"row count {len(got)} != {len(exp)}"
    for (gd, gs), (ed, es) in zip(got, exp):
        assert gd == ed, f"docid {gd} != {ed}"
        assert math.isclose(gs, es, rel_tol=1e-9), f"score {gs} != {es}"


def assert_one_file_per_bucket(index_dir, tables=("postings",)):
    """Every bucket=* directory of each of ``tables`` holds exactly one
    parquet data file, so a term's point read opens one file."""
    import glob
    import os

    for table in tables:
        dirs = glob.glob(f"{index_dir}/{table}/bucket=*")
        assert dirs, f"{index_dir}/{table}"
        for d in dirs:
            files = [n for n in os.listdir(d) if n.endswith(".parquet")]
            assert len(files) == 1, (d, files)
