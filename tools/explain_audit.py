"""Physical-plan audit: assert the plans we designed for are the plans
Catalyst actually picks (SURVEY §4: "verify pruning in explain()").

Checks, per headline path:
- postings term lookup: the In(term, ...) predicate reaches the parquet
  scan (PushedFilters) and the scan reads only the needed columns;
- hydration join: BroadcastHashJoin (never SortMerge for a k-row side);
- exhaustive scorer: partial/final HashAggregate pair + WholeStageCodegen;
  on a source with no overridden doc, one postings scan and one decode;
- exhaustive and BM25F scorers, and the substring-dedup gram df: no
  Window (a per-key window puts a head term's whole relation, or the
  hottest boilerplate gram's rows, in one task);
- build postings write: the (bucket, salt) hash exchange before the
  encode, then exactly one rebalance by bucket after it;
- lineitem demo query: filter + column pruning pushed to the scan.

Usage: python tools/explain_audit.py  (exit 1 on any failed assertion)
"""

from __future__ import annotations

import os
import re
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
WORK = "/tmp/wse_explain_audit"

FAILURES: list[str] = []


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def check(name: str, plan: str, must: list[str], must_not: list[str] = ()):
    ok = True
    for pat in must:
        if not re.search(pat, plan):
            FAILURES.append(f"{name}: missing /{pat}/")
            ok = False
    for pat in must_not:
        if re.search(pat, plan):
            FAILURES.append(f"{name}: unexpected /{pat}/")
            ok = False
    print(("PASS " if ok else "FAIL ") + name)


def main() -> None:
    from pyspark.sql import functions as F

    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.session import get_spark
    from wiki_search_engine_spark.sources.synth import synth_corpus

    spark = get_spark(app_name="wse-explain-audit", master="local[8]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    index_dir = f"{WORK}/index"
    if (
        not os.path.exists(f"{index_dir}/manifest.json")
        or not os.path.isdir(f"{index_dir}/positions")
        or not os.path.isdir(f"{index_dir}/title_tf")
    ):
        shutil.rmtree(index_dir, ignore_errors=True)
        eng = SearchEngine.build(
            spark, synth_corpus(spark, 500, partitions=8), index_dir,
            stem=True, n_buckets=16, bucket_groups=1, salt_bits=2,
            positions=True,
        )
    else:
        eng = SearchEngine.load(spark, index_dir)

    # query with terms that EXIST in the synthetic vocabulary — an empty
    # candidate set collapses the query plan to a LocalRelation and the
    # audit would inspect nothing
    from wiki_search_engine_spark.sources.synth import vocabulary

    words, _ = vocabulary(42)
    query = f"{words[3]} {words[50]} {words[200]}"
    terms = eng.analyze(query)

    # 1. postings lookup: bucket partition-pruned + term predicate pushed
    postings = eng._postings(terms).filter(F.col("term").isin(terms))
    check(
        "postings_term_pushdown",
        plan_of(postings),
        must=[r"PushedFilters: \[In\(term", r"Scan parquet",
              r"PartitionFilters: \[[^\]]*bucket"],
    )

    # 2. WAND path: pushdown intact AND exactly one exchange (the
    # explicit repartition-by-salt; a second exchange would mean the
    # groupBy re-shuffled the kernel input)
    wand = eng.search_ids(query, k=10, mode="bm25", path="wand")
    wplan = plan_of(wand)
    check(
        "wand_path",
        wplan,
        must=[r"PushedFilters: \[In\(term", r"FlatMapGroupsInPandas",
              r"TakeOrderedAndProject",
              r"PartitionFilters: \[[^\]]*bucket"],
    )
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", wplan))
    if n_exchanges != 1:
        FAILURES.append(f"wand_path: {n_exchanges} exchanges, expected 1")
        print("FAIL wand_single_exchange")
    else:
        print("PASS wand_single_exchange")

    # 3. hydration is a POINT LOOKUP, not a docs-table scan: the salt
    # partition filter and the docid In(...) predicate both reach the
    # parquet scan, and the k-row score side joins broadcast — the
    # DataFrame-API analogue of lookup_docs' pruned pyarrow read
    hplan = plan_of(eng.search(query, k=10))
    check(
        "hydration_point_lookup",
        hplan,
        must=[r"BroadcastHashJoin",
              r"PartitionFilters: \[[^\]]*salt",
              r"PushedFilters: \[In\(docid"],
        must_not=[r"SortMergeJoin"],
    )

    # 3b. bm25f distributed: the title sidecar scan prunes to the query
    # terms' bucket directories AND pushes the term predicate; the
    # body/title merge is the full-outer join (title-only matches must
    # survive)
    fplan = plan_of(
        eng.search_ids(query, k=10, mode="bm25f", path="exhaustive")
    )
    check(
        "bm25f_title_pushdown",
        fplan,
        must=[
            r"title_tf[\s\S]{0,800}?PartitionFilters: \[[^\]]*bucket",
            r"title_tf[\s\S]{0,800}?PushedFilters: \[In\(term",
            r"FullOuter",
        ],
    )

    # 4. exhaustive scorer: partial+final hash agg, codegen, top-k pushdown
    exh = eng.search_ids(query, k=10, mode="bm25", path="exhaustive")
    xplan = plan_of(exh)
    check(
        "exhaustive_scorer",
        xplan,
        must=[r"HashAggregate", r"TakeOrderedAndProject",
              r"PartitionFilters: \[[^\]]*bucket"],
        must_not=[r"SortMergeJoin"],
    )

    # 4a. no doc is overridden on a single index, so the exhaustive
    # scorer takes the lexicon df: the candidate postings are scanned and
    # decoded ONCE (a live count joined back to the rows plans a second
    # scan and decode of the same relation)
    n_decodes = len(re.findall(r"\(\d+\) MapInPandas", xplan))
    n_scans = len(re.findall(
        r"Location: InMemoryFileIndex \[[^\]]*/postings\]", xplan
    ))
    if (n_decodes, n_scans) != (1, 1):
        FAILURES.append(
            f"exhaustive_single_decode: {n_decodes} decodes over "
            f"{n_scans} postings scans, expected 1 and 1"
        )
        print("FAIL exhaustive_single_decode")
    else:
        print("PASS exhaustive_single_decode")

    # 4b. live df without a window keyed on term: a head term's whole
    # posting relation must never land in one task — the per-term count
    # is a partial aggregate broadcast back to the rows. The same holds
    # for the substring-dedup gram df (the hottest gram is the most
    # duplicated boilerplate): a partial aggregate joined back
    from wiki_search_engine_spark.operators.substring_dedup import (
        ngram_dup_fraction,
    )

    dplan = plan_of(ngram_dup_fraction(
        spark.createDataFrame(
            [(i, "the same boilerplate span opens every page " + str(i))
             for i in range(8)],
            "doc_id long, text string",
        ),
        n=3,
    ))
    check(
        "no_window_in_scorers",
        xplan + fplan + dplan,
        must=[r"BroadcastHashJoin",
              r"Keys \[1\]: \[gram#\d+\]\nFunctions \[1\]: "
              r"\[partial_count"],
        must_not=[r"Window"],
    )

    # 5. incremental merge postings plan: exactly ONE exchange (the
    # explicit repartition on (bucket, salt) — the union of base+delta
    # must not add a shuffle) and a Python Arrow map, no join operator
    # (the merge is a co-partitioned kernel, not a relational join)
    import numpy as np

    from wiki_search_engine_spark.operators.merge import (
        merge_postings_tables,
    )

    base_p = spark.read.parquet(f"{index_dir}/postings")
    merged = merge_postings_tables(
        base_p, base_p, np.array([1, 2], dtype=np.int64),
        avgdl_merged=eng.avgdl, f_base=1.0, f_delta=1.0,
    )
    mplan = plan_of(merged)
    check(
        "merge_kernel_plan",
        mplan,
        must=[r"MapInArrow", r"Union"],
        must_not=[r"Join"],
    )
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", mplan))
    if n_exchanges != 1:
        FAILURES.append(
            f"merge_kernel_plan: {n_exchanges} exchanges, expected 1"
        )
        print("FAIL merge_single_exchange")
    else:
        print("PASS merge_single_exchange")

    # 5b. build postings write (plans/build.py bucket_layout): the salted
    # encode keeps its hash exchange on (bucket, salt) BEFORE the
    # MapInArrow encode (a head term's bucket splits across salt tasks),
    # and the writer adds exactly ONE rebalance of the encoded rows by
    # bucket after it (one file per bucket). Formatted explain lists the
    # operator details bottom-up, so text order is execution order.
    from wiki_search_engine_spark.operators.postings import build_postings
    from wiki_search_engine_spark.plans.build import bucket_layout

    bplan = plan_of(bucket_layout(build_postings(
        spark.read.parquet(f"{index_dir}/tokens").select(
            "docid", "term", "tf", "doc_len"
        ),
        avgdl=eng.avgdl, salt_bits=eng.salt_bits, n_buckets=eng.n_buckets,
    )))
    encode_at = bplan.find(") MapInArrow\n")
    salted = [m.start() for m in re.finditer(
        r"hashpartitioning\(bucket#\d+, salt#\d+, \d+\)", bplan
    )]
    rebalance = [m.start() for m in re.finditer(
        r"hashpartitioning\(bucket#\d+, \d+\), REBALANCE_PARTITIONS_BY_COL",
        bplan,
    )]
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", bplan))
    if (
        encode_at < 0 or n_exchanges != 2
        or len(salted) != 1 or salted[0] > encode_at
        or len(rebalance) != 1 or rebalance[0] < encode_at
    ):
        FAILURES.append(
            f"postings_write_plan: {n_exchanges} exchanges, (bucket, "
            f"salt) exchange at {salted}, rebalance at {rebalance}, "
            f"encode at {encode_at}"
        )
        print("FAIL postings_write_plan")
    else:
        print("PASS postings_write_plan")

    # 6. merge side-table update: anti-join of the updated-docid set is
    # broadcast (the delta is the small side by construction)
    upd = spark.createDataFrame([(1,), (2,)], "docid long")
    anti = spark.read.parquet(f"{index_dir}/doc_stats").join(
        F.broadcast(upd), "docid", "left_anti"
    )
    check(
        "merge_anti_join_broadcast",
        plan_of(anti),
        must=[r"BroadcastHashJoin.*LeftAnti|BroadcastNestedLoop|BroadcastHashJoin"],
        must_not=[r"SortMergeJoin"],
    )

    # 7. lineitem demo: filter + column pruning pushed to scan
    li = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("sum_qty"))
    )
    plan = plan_of(li)
    check(
        "lineitem_scan_pruning",
        plan,
        must=[r"PushedFilters: .*l_shipdate",
              r"ReadSchema: [^\n]*l_quantity"],
    )
    if "l_orderkey" in plan.split("ReadSchema:")[-1].split("\n")[0]:
        FAILURES.append("lineitem reads unneeded columns")

    # 8. Jaccard verify with candidates: the candidate restriction is
    # BELOW the expensive work — no shingle-keyed join anywhere (pairs
    # are scored via per-pair array_intersect over per-doc arrays)
    from wiki_search_engine_spark.operators.dedup import (
        minhash_lsh_candidates, ngram_jaccard_pairs, simhash_near_dups,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    cands = minhash_lsh_candidates(docs, num_hashes=16, bands=4)
    jplan = plan_of(
        ngram_jaccard_pairs(docs, threshold=0.2, candidates=cands)
    )
    check(
        "jaccard_candidates_pushdown",
        jplan,
        must=[r"array_intersect"],
    )
    bad = [
        ln for ln in jplan.splitlines()
        if "Join" in ln and "shingle#" in ln
    ]
    if bad:
        FAILURES.append(f"jaccard: shingle-keyed join: {bad[0][:120]}")
        print("FAIL jaccard_no_shingle_join")
    else:
        print("PASS jaccard_no_shingle_join")

    # 9. SimHash near-dups: ONE linear pipeline — the hash kernel is
    # planned exactly once and candidate pairing is group-to-array
    # expansion, never a join
    splan = plan_of(simhash_near_dups(docs, max_hamming=12))
    n_kernels = len(re.findall(r"\(\d+\) MapInPandas", splan))
    if n_kernels != 1:
        FAILURES.append(
            f"simhash: kernel planned {n_kernels}x, expected once"
        )
        print("FAIL simhash_single_kernel")
    else:
        print("PASS simhash_single_kernel")
    check("simhash_no_join", splan, must=[], must_not=[r"Join"])

    # 10. Embedding near-dups: hyperplane projection runs once (the only
    # joins are id-keyed vector hydration for the verify — never a
    # bucket-keyed self-join that would double-plan the projection)
    from wiki_search_engine_spark.operators.similarity import (
        embedding_near_dups,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    eplan = plan_of(embedding_near_dups(emb, threshold=0.4, dim=64))
    bad = [
        ln for ln in eplan.splitlines()
        if "Join" in ln and "_bucket" in ln
    ]
    if bad:
        FAILURES.append(f"embedding: bucket-keyed join: {bad[0][:120]}")
        print("FAIL embedding_no_bucket_join")
    else:
        print("PASS embedding_no_bucket_join")

    # 11. materialized IVF: probe queries prune to cell directories
    from wiki_search_engine_spark.operators.similarity import (
        ivf_read_topk, ivf_write,
    )

    ivf_dir = f"{WORK}/ivf"
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 8).collect()
    ]
    if not os.path.exists(f"{ivf_dir}/_SUCCESS"):
        ivf_write(emb, cents, ivf_dir)
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    check(
        "ivf_partition_pruning",
        plan_of(ivf_read_topk(spark, ivf_dir, qv, cents, k=5, nprobe=2)),
        must=[r"PartitionFilters: \[[^\]]*cell"],
    )

    # 12. materialized multi-table LSH: probes prune to (tbl, bucket)
    # directories, never a full scan of the layout
    from wiki_search_engine_spark.operators.similarity import (
        lsh_read_topk, lsh_write,
    )

    lsh_dir = f"{WORK}/lsh"
    if not os.path.exists(f"{lsh_dir}/_lsh_meta.json"):
        lsh_write(emb, lsh_dir, n_planes=6, n_tables=3, seed=42, dim=64)
    check(
        "lsh_partition_pruning",
        plan_of(lsh_read_topk(spark, lsh_dir, qv, k=5, n_probes=2)),
        must=[
            r"PartitionFilters: \[[^\]]*tbl",
            r"PartitionFilters: \[[^\]]*bucket",
        ],
    )

    # 13. positional sidecar phrase read: the scan touches ONLY the
    # phrase terms' positions/bucket=N directories (path-level pruning)
    # with the term In(...) predicate pushed to the parquet footer —
    # never the postings table or the corpus
    from wiki_search_engine_spark.operators.phrase import (
        indexed_phrase_occurrences,
    )

    pplan = plan_of(
        indexed_phrase_occurrences(
            spark, index_dir, f"{words[3]} {words[50]}", stem=True,
            n_buckets=16,
        )
    )
    check(
        "positions_phrase_pushdown",
        pplan,
        must=[r"PushedFilters: \[In\(term", r"positions/bucket="],
        must_not=[r"/postings", r"Scan parquet[^\n]*corpus"],
    )

    # 14. pack_token_budget: NO whole-stratum Window over corpus rows.
    # Every Window in the plan must either partition by >=2 columns
    # (the per-(stratum, bucket) running sum — each partition is one
    # hash bucket, corpus/16^bucket_hex rows) or aggregate sum(__s...)
    # (the prefix sum over the TINY bucket-sum table). A Window that
    # partitions by the stratum alone and sums the raw tokens column
    # would be the single-reducer funnel this operator exists to avoid.
    from wiki_search_engine_spark.operators.sampling import (
        pack_token_budget,
    )

    packed = pack_token_budget(
        docs.select("doc_id", "lang",
                    F.size(F.split(F.trim("text"), r"\s+")).alias("nt")),
        strata_col="lang", key_col="doc_id", tokens_col="nt",
        budget=3000,
    )
    kplan = plan_of(packed)
    bad_windows = []
    for blk in re.split(r"\n\(\d+\) ", kplan):
        if not blk.startswith("Window"):
            continue
        m = re.search(
            r"Arguments: \[.*\], \[([^\]]*)\], \[", blk
        )
        spec = m.group(1) if m else ""
        n_part_cols = len([c for c in spec.split(",") if c.strip()])
        if n_part_cols < 2 and "sum(__s#" not in blk:
            bad_windows.append(blk.splitlines()[0] + " spec=" + spec)
    if bad_windows:
        FAILURES.append(
            f"pack_token_budget: whole-stratum Window over corpus rows: "
            f"{bad_windows}"
        )
        print("FAIL pack_no_stratum_funnel")
    else:
        print("PASS pack_no_stratum_funnel")
    check(
        "pack_two_phase_shape",
        kplan,
        must=[r"BroadcastHashJoin", r"HashAggregate"],
        must_not=[r"SortMergeJoin"],
    )

    # ---- Lucene NOT: the exclusion must be an ANTI join BEFORE the
    # top-k cut (a post-cut filter under-fills k), and the excluded
    # side must stay an aggregate of the token relation — never a
    # second corpus-wide sort
    from wiki_search_engine_spark.operators.scoring import (
        score_exhaustive,
    )
    from wiki_search_engine_spark.operators.tokenize import tokenize

    from wiki_search_engine_spark.operators.tokenize import with_docid

    toks_not = tokenize(
        with_docid(synth_corpus(spark, 200, partitions=4), "url")
        .select("docid", "text"),
        stem=True,
    )
    not_df = score_exhaustive(
        toks_not, ["tabl", "scan"], 1000, 50.0, k=10,
        exclude_terms=["fast"],
    )
    nplan = plan_of(not_df)
    check(
        "not_anti_join_before_topk",
        nplan,
        must=[r"(?i)anti", r"TakeOrderedAndProject"],
    )
    # the anti join must appear ABOVE (earlier plan id than) the top-k
    anti_pos = re.search(r"(?i)anti", nplan)
    topk_pos = re.search(r"TakeOrderedAndProject", nplan)
    if anti_pos and topk_pos and anti_pos.start() > topk_pos.start():
        # formatted plans print root (TakeOrdered) first, so the anti
        # join must appear AFTER it textually == below the cut in the
        # tree == applied before it at runtime
        print("PASS not_filter_below_cut")
    else:
        FAILURES.append(
            "bm25_not: anti join not below the top-k cut in the plan"
        )
        print("FAIL not_filter_below_cut")

    # ---- training-data pipeline shapes: contamination joins must be
    # broadcast (the corpus side stays map-only), repetition metrics
    # must not shuffle at all (per-doc metric == zero Exchange)
    from wiki_search_engine_spark.operators.decontaminate import (
        contaminated_docs,
    )
    from wiki_search_engine_spark.operators.repetition import (
        repetition_metrics,
    )

    docs_tbl = spark.createDataFrame(
        [(1, "a b c d e"), (2, "c d e f g")], ["doc_id", "text"]
    )
    ev_tbl = spark.createDataFrame([("a b c",)], ["text"])
    check(
        "decontaminate_broadcast_join",
        plan_of(contaminated_docs(docs_tbl, ev_tbl, n=3)),
        must=[r"BroadcastHashJoin"],
        must_not=[r"SortMergeJoin"],
    )
    check(
        "repetition_map_only",
        plan_of(repetition_metrics(docs_tbl)),
        must=[r"MapInPandas"],
        must_not=[r"Exchange"],
    )

    # facet counts: the documents-side read must be COLUMN-PRUNED to
    # (doc_id, lang) — a facet pass that deserializes text is a corpus
    # scan in disguise
    import __spark_entry__ as E

    facet_plan = plan_of(E.q_facet_counts(spark, SF_DIR))
    check(
        "facet_no_corpus_scan",
        facet_plan,
        must=[r"ReadSchema:[^\n]*struct<doc_id:bigint,lang:string>"],
    )

    spark.stop()
    if FAILURES:
        print("\n".join("AUDIT FAIL: " + f for f in FAILURES))
        raise SystemExit(1)
    print("all plan audits passed")


if __name__ == "__main__":
    main()
