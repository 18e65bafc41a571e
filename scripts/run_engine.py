#!/usr/bin/env python
"""spark-submit entry point for the index build + search engine.

Cluster usage (north_rule: runs via spark-submit --py-files on a
multi-executor cluster):

    # package the library
    cd /root/repo && zip -qr /tmp/wse.zip wiki_search_engine_spark

    # build an index from a corpus table
    spark-submit --py-files /tmp/wse.zip scripts/run_engine.py build \
        --corpus s3://bucket/corpus_parquet --index s3://bucket/index \
        [--resume] [--buckets 4096] [--bucket-groups 64] [--salt-bits 6]

    # synthesize a test corpus first (local/dev)
    spark-submit --py-files /tmp/wse.zip scripts/run_engine.py synth \
        --docs 20000 --out /tmp/corpus

    # query it
    spark-submit --py-files /tmp/wse.zip scripts/run_engine.py search \
        --index /tmp/index --query "messi argentina" --k 10 --mode bm25

    # fold a new crawl batch's index into an existing one (delta wins
    # per url; only collided posting groups are re-encoded)
    spark-submit --py-files /tmp/wse.zip scripts/run_engine.py merge \
        --base /tmp/index --delta /tmp/index_batch2 --out /tmp/index_v2

    # streaming crawl-to-index maintenance: drain landed parquet pages
    # into the index via atomic snapshot commits (--continuous to keep
    # following; --retain 3 keeps history for `search --snapshot`)
    spark-submit --py-files /tmp/wse.zip scripts/run_engine.py maintain \
        --input /data/landed --index /tmp/index \
        --checkpoint /tmp/ckpt --work /tmp/work [--retain 3]

Scale defaults: on a 1000-executor cluster raise --buckets (file-pruning
granularity), --bucket-groups (resume granularity), and --salt-bits
(docid-range shards per term; bounds the largest encode group and the WAND
shard width).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _open_engine(spark, index: str, cache_terms: int = 0, snapshot=None):
    """The engine behind ``--index``: one index directory, or a
    comma-separated segment list, oldest first, served tiered (deletes
    segments allowed after the first entry)."""
    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.tiered import TieredEngine

    dirs = [d for d in index.split(",") if d]
    if len(dirs) > 1:
        return TieredEngine(spark, dirs, cache_terms=cache_terms)
    return SearchEngine(
        spark, dirs[0], cache_terms=cache_terms, snapshot=snapshot
    )


def main(argv=None):
    p = argparse.ArgumentParser()
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build")
    b.add_argument("--corpus", required=True)
    b.add_argument("--index", required=True)
    b.add_argument("--resume", action="store_true")
    b.add_argument("--no-stem", action="store_true")
    b.add_argument(
        "--analyzer", choices=["base", "porter", "ner"], default=None,
        help="None -> porter (or base with --no-stem); 'ner' enables "
        "entity dual-indexing",
    )
    b.add_argument("--buckets", type=int, default=64)
    b.add_argument("--bucket-groups", type=int, default=4)
    b.add_argument("--salt-bits", type=int, default=3)
    b.add_argument(
        "--pagerank", type=int, default=0, metavar="N",
        help="also write the static_rank sidecar: PageRank over the "
        "corpus link graph, N power iterations (serves boost=static)",
    )
    b.add_argument(
        "--positions", action="store_true",
        help="also write the positional sidecar (exact phrase queries "
        "via search --phrase, no corpus re-scan)",
    )

    m = sub.add_parser("merge")
    m.add_argument("--base", required=True)
    m.add_argument("--delta", required=True)
    m.add_argument("--out", required=True)
    m.add_argument("--resume", action="store_true")
    m.add_argument(
        "--bucket-groups", type=int, default=1,
        help="resumable postings-rewrite units (same scheme as build)",
    )
    m.add_argument(
        "--docid-broadcast-limit", type=int, default=None,
        help="updated-docid count above which the delta set ships as a "
        "per-salt sidecar instead of a broadcast (default ~10^8)",
    )

    d = sub.add_parser("delete")
    d.add_argument("--index", required=True)
    d.add_argument("--out", required=True)
    d.add_argument(
        "--urls", required=True,
        help="comma-separated urls to purge from the index",
    )
    d.add_argument("--resume", action="store_true")

    tb = sub.add_parser("tombstone")
    tb.add_argument(
        "--out", required=True,
        help="deletes-segment dir to write; append it to a serve/compact "
        "segment list for O(batch) takedown without touching the index",
    )
    tb.add_argument(
        "--urls", default=None, help="comma-separated urls to take down"
    )
    tb.add_argument(
        "--docids", default=None, help="comma-separated docids"
    )

    s = sub.add_parser("synth")
    s.add_argument("--docs", type=int, default=2000)
    s.add_argument("--out", required=True)
    s.add_argument("--seed", type=int, default=42)

    c = sub.add_parser("compact")
    c.add_argument(
        "--segments", required=True,
        help="comma-separated segment index dirs, oldest first",
    )
    c.add_argument("--out", required=True)

    v = sub.add_parser("serve")
    v.add_argument(
        "--index", required=True,
        help="index dir, or comma-separated segment dirs (oldest first) "
        "to serve tiered without compaction; entries after the first may "
        "be deletes segments (see the tombstone subcommand)",
    )
    v.add_argument("--host", default="127.0.0.1")
    v.add_argument("--port", type=int, default=8080)
    v.add_argument(
        "--path", choices=["wand", "exhaustive", "local"], default="local"
    )
    v.add_argument(
        "--cache-terms", type=int, default=1024,
        help="LRU bound for the serving caches: posting lists and title "
        "rows per term, hydrated doc rows per docid (0 disables). For docs "
        "it bounds rows: the rows a docs read decodes beside the requested "
        "ones fill free slots at the cold end, never evicting",
    )

    q = sub.add_parser("search")
    q.add_argument("--index", required=True)
    q.add_argument("--query", required=True)
    q.add_argument("--k", type=int, default=50)
    q.add_argument(
        "--mode", choices=["bm25", "tfidf", "bm25f"], default="bm25",
        help="bm25f = title-boosted BM25 (weight-2 title field; needs "
        "the title_tf sidecar — new builds write it, old indexes run "
        "`titleindex`)",
    )
    q.add_argument(
        "--path", choices=["wand", "exhaustive", "local"], default="wand"
    )
    q.add_argument(
        "--phrase", action="store_true",
        help="exact-phrase search over the positional sidecar "
        "(single-index, built with --positions); results carry "
        "phrase_tf",
    )
    q.add_argument(
        "--slop", type=int, default=0,
        help="with --phrase: ordered proximity window (Lucene-style "
        "~N); 0 = exact adjacency. Quoted spans inside a plain query "
        'also accept the inline syntax "a b"~N',
    )
    q.add_argument(
        "--boost", choices=["static"], default=None,
        help="additive PageRank authority boost (local path; index "
        "built with --pagerank N)",
    )
    q.add_argument(
        "--facet-top", type=int, default=100,
        help="max categories returned per facet (count desc, value "
        "asc) — bounds the response for high-cardinality fields",
    )
    q.add_argument(
        "--facets", default=None, metavar="FIELDS",
        help="comma-separated facet fields (e.g. lang,source): adds "
        "per-facet doc counts over the FULL match set to the output; "
        "tiered segment lists count LIVE docs",
    )
    q.add_argument(
        "--synonyms", action="store_true",
        help="expand query terms with the index's synonyms.json groups "
        "(SynonymQuery semantics: summed tf, disjunction df; no-op "
        "without the sidecar)",
    )
    q.add_argument(
        "--negation", action="store_true",
        help='Lucene boolean prefixes: "-term" excludes docs, "+term" '
        "requires them (others stay SHOULD); opt-in — without the flag "
        "prefixes keep the reference's bag-of-words reading",
    )
    q.add_argument(
        "--snapshot", default=None,
        help="time travel: serve a retained named snapshot of a "
        "pointer-root index instead of the current pointer target "
        "(single-index only; see the snapshots subcommand)",
    )

    mt = sub.add_parser("maintain")
    mt.add_argument(
        "--input", required=True,
        help="landed-pages directory (glob ok): new parquet files are "
        "folded into the index as micro-batches, exactly-once via the "
        "checkpoint",
    )
    mt.add_argument("--index", required=True)
    mt.add_argument("--checkpoint", required=True)
    mt.add_argument("--work", required=True)
    mt.add_argument("--no-stem", action="store_true")
    mt.add_argument(
        "--retain", type=int, default=1,
        help="keep the newest N committed snapshots (N>1 enables time "
        "travel via search --snapshot; each snapshot is a full index)",
    )
    mt.add_argument(
        "--continuous", action="store_true",
        help="keep running and folding new files as they land (default "
        "drains what is present, then exits)",
    )

    sp = sub.add_parser("spellindex")
    sp.add_argument("--index", required=True)
    sp.add_argument("--max-dist", type=int, default=2)

    pl = sub.add_parser(
        "pipeline",
        help="training-data cleaning pass over a documents parquet: "
        "repetition filter -> decontamination -> PII scrub -> "
        "per-language token-budget pack, one composed Spark plan",
    )
    pl.add_argument("--input", required=True)
    pl.add_argument("--out", required=True)
    pl.add_argument("--id-col", default="doc_id")
    pl.add_argument("--text-col", default="text")
    pl.add_argument("--lang-col", default="lang")
    pl.add_argument(
        "--eval", default=None,
        help="eval-suite parquet (text column): drop docs sharing any "
        "13-gram with it",
    )
    pl.add_argument(
        "--eval-ngram", type=int, default=13,
        help="decontamination n-gram size (default 13, GPT-3 app. C)",
    )
    pl.add_argument(
        "--no-repetition-filter", action="store_true",
        help="keep Gopher-flagged repetitive docs",
    )
    pl.add_argument(
        "--scrub-pii", action="store_true",
        help="mask emails/IPv4/phones with typed placeholders",
    )
    pl.add_argument(
        "--budget", type=int, default=0,
        help="per-language token budget (0 = keep all surviving docs)",
    )
    pl.add_argument("--seed", type=int, default=42)

    sy = sub.add_parser(
        "synonyms",
        help="write the query-time synonym sidecar (synonyms.json); "
        "groups apply on search --synonyms / &synonyms=true",
    )
    sy.add_argument("--index", required=True)
    sy.add_argument(
        "--groups", required=True,
        help="semicolon-separated groups of comma-separated words, "
        'e.g. "fast,quick;car,auto"; an empty string clears the sidecar',
    )

    rv = sub.add_parser(
        "revindex",
        help="materialize the reversed-term lexicon sidecar "
        "(lexicon_rev) that serves leading/infix wildcards (*ing, "
        "s*ing) as footer-pruned range scans; rebuild after "
        "merge/delete (it derives from term_stats)",
    )
    rv.add_argument("--index", required=True)

    ti = sub.add_parser(
        "titleindex",
        help="materialize the BM25F title-field sidecar (title_tf) on "
        "an existing index; new builds write it as a standard stage",
    )
    ti.add_argument("--index", required=True)

    sn = sub.add_parser("snapshots")
    sn.add_argument("--index", required=True)
    sn.add_argument(
        "--expire-keep-last", type=int, default=None,
        help="also expire snapshots beyond the newest N (plus the "
        "current pointer target, which is never removed). Avoid running "
        "this during an active maintain fold: an in-flight batch's "
        ".building directory would be swept and that batch would fail "
        "and re-run from the checkpoint",
    )
    args = p.parse_args(argv)

    if args.cmd == "snapshots":
        # pure metadata: no SparkSession needed
        import os

        from wiki_search_engine_spark.streaming.ingest import (
            expire_snapshots, list_snapshots, read_index_pointer,
            read_snapshot_log,
        )

        if not os.path.isfile(os.path.join(args.index, "current")):
            print(
                json.dumps(
                    {
                        "success": False,
                        "error": f"{args.index} is not a snapshot root "
                        "(no 'current' pointer file) — maintain/enroll "
                        "it first",
                    }
                )
            )
            return 1
        removed = []
        if args.expire_keep_last is not None:
            removed = expire_snapshots(
                args.index, keep_last=args.expire_keep_last
            )
        cur = read_index_pointer(args.index)
        logged = {r["name"]: r for r in read_snapshot_log(args.index)}
        print(
            json.dumps(
                {
                    "current": cur,
                    "snapshots": [
                        {
                            "name": n,
                            "batch_id": logged.get(n, {}).get("batch_id"),
                            "ts": logged.get(n, {}).get("ts"),
                            "is_current": n == cur,
                        }
                        for n in list_snapshots(args.index)
                    ],
                    "expired": removed,
                }
            )
        )
        return 0

    from wiki_search_engine_spark.session import get_spark

    spark = get_spark(app_name=f"wse-{args.cmd}")

    if args.cmd == "synth":
        from wiki_search_engine_spark.sources.synth import synth_corpus

        synth_corpus(spark, args.docs, seed=args.seed).write.mode(
            "overwrite"
        ).parquet(args.out)
        print(json.dumps({"written": args.out, "docs": args.docs}))
    elif args.cmd == "merge":
        from wiki_search_engine_spark.engine import SearchEngine

        t0 = time.time()
        eng = SearchEngine.merge(
            spark, args.base, args.delta, args.out, resume=args.resume,
            bucket_groups=args.bucket_groups,
            docid_broadcast_limit=args.docid_broadcast_limit,
        )
        print(
            json.dumps(
                {
                    "index": args.out,
                    "N": eng.n,
                    "avgdl": round(eng.avgdl, 3),
                    "merge_sec": round(time.time() - t0, 2),
                }
            )
        )
    elif args.cmd == "delete":
        from wiki_search_engine_spark.engine import SearchEngine

        t0 = time.time()
        eng = SearchEngine.delete(
            spark, args.index, args.out,
            urls=[u for u in args.urls.split(",") if u],
            resume=args.resume,
        )
        print(
            json.dumps(
                {
                    "index": args.out,
                    "N": eng.n,
                    "avgdl": round(eng.avgdl, 3),
                    "delete_sec": round(time.time() - t0, 2),
                }
            )
        )
    elif args.cmd == "tombstone":
        import json as _json

        from wiki_search_engine_spark.tiered import write_deletes_segment

        if args.urls:
            path = write_deletes_segment(
                args.out,
                urls=[u for u in args.urls.split(",") if u],
                spark=spark,
            )
        else:
            path = write_deletes_segment(
                args.out,
                docids=[int(x) for x in (args.docids or "").split(",") if x],
            )
        with open(f"{path}/meta.json") as f:
            meta = _json.load(f)
        print(
            json.dumps(
                {"deletes_segment": path, "n_docids": meta["n_docids"]}
            )
        )
    elif args.cmd == "maintain":
        from wiki_search_engine_spark.engine import SearchEngine
        from wiki_search_engine_spark.streaming.ingest import (
            list_snapshots, maintain_index_incremental,
            read_index_pointer,
        )

        t0 = time.time()
        q = maintain_index_incremental(
            spark, args.input, args.index, args.checkpoint, args.work,
            stem=not args.no_stem,
            available_now=not args.continuous,
            retain_snapshots=args.retain,
        )
        q.awaitTermination()
        eng = SearchEngine.load(spark, args.index)
        print(
            json.dumps(
                {
                    "index": args.index,
                    "current": read_index_pointer(args.index),
                    "snapshots": list_snapshots(args.index),
                    "N": eng.n,
                    "avgdl": round(eng.avgdl, 3),
                    "maintain_sec": round(time.time() - t0, 2),
                }
            )
        )
    elif args.cmd == "pipeline":
        from pyspark.sql import functions as F

        from wiki_search_engine_spark.operators.decontaminate import (
            contaminated_docs,
        )
        from wiki_search_engine_spark.operators.repetition import (
            repetition_metrics,
        )
        from wiki_search_engine_spark.operators.sampling import (
            pack_token_budget,
        )
        from wiki_search_engine_spark.functions.pii import scrub_pii

        t0 = time.time()
        docs = spark.read.parquet(args.input)
        idc, txc, lgc = args.id_col, args.text_col, args.lang_col
        if not args.no_repetition_filter:
            keep = repetition_metrics(
                docs, doc_id_col=idc, text_col=txc
            ).filter(~F.col("flagged")).select(
                F.col("doc_id").alias(idc)
            )
            docs = docs.join(keep, idc)
        if args.eval:
            cont = contaminated_docs(
                docs,
                spark.read.parquet(args.eval),
                n=args.eval_ngram,
                doc_id_col=idc,
                text_col=txc,
            ).select(F.col("doc_id").alias(idc))
            docs = docs.join(cont, idc, "left_anti")
        if args.scrub_pii:
            docs = docs.withColumn(txc, scrub_pii(F.col(txc)))
        docs = docs.withColumn(
            "n_toks",
            F.size(F.split(F.trim(F.col(txc)), r"\s+")),
        )
        if args.budget > 0:
            docs = pack_token_budget(
                docs, strata_col=lgc, key_col=idc,
                tokens_col="n_toks", budget=args.budget,
                seed=args.seed,
            )
        docs.write.mode("overwrite").parquet(args.out)
        # summary from the written footers: zero extra Spark jobs
        import glob as _glob

        import pyarrow.parquet as _pq

        rows = tot = 0
        for fpath in _glob.glob(f"{args.out}/**/*.parquet",
                                recursive=True):
            pf = _pq.ParquetFile(fpath)
            rows += pf.metadata.num_rows
            tbl = _pq.read_table(fpath, columns=["n_toks"])
            tot += int(
                tbl.column("n_toks").to_numpy(
                    zero_copy_only=False
                ).sum()
            ) if len(tbl) else 0
        print(
            json.dumps(
                {
                    "out": args.out,
                    "docs_out": rows,
                    "tokens_out": tot,
                    "pipeline_sec": round(time.time() - t0, 2),
                    "stages": {
                        "repetition_filter": (
                            not args.no_repetition_filter
                        ),
                        "decontaminate": bool(args.eval),
                        "scrub_pii": args.scrub_pii,
                        "budget": args.budget,
                    },
                }
            )
        )
    elif args.cmd == "synonyms":
        from wiki_search_engine_spark.engine import SearchEngine

        groups = [
            [w.strip() for w in grp.split(",") if w.strip()]
            for grp in args.groups.split(";")
            if grp.strip()
        ]
        eng = SearchEngine.load(spark, args.index)
        eng.set_synonyms(groups)
        print(
            json.dumps(
                {
                    "synonyms": f"{eng.index_dir}/synonyms.json",
                    "groups": len(groups),
                }
            )
        )
    elif args.cmd == "spellindex":
        from wiki_search_engine_spark.engine import SearchEngine

        t0 = time.time()
        eng = SearchEngine.load(spark, args.index)
        eng.build_spellindex(max_dist=args.max_dist)
        print(
            json.dumps(
                {
                    "spell": f"{eng.index_dir}/spell",
                    "max_dist": args.max_dist,
                    "spellindex_sec": round(time.time() - t0, 2),
                }
            )
        )
    elif args.cmd == "revindex":
        from wiki_search_engine_spark.engine import SearchEngine

        t0 = time.time()
        eng = SearchEngine.load(spark, args.index)
        eng.build_lexicon_rev()
        print(
            json.dumps(
                {
                    "lexicon_rev": f"{eng.index_dir}/lexicon_rev",
                    "revindex_sec": round(time.time() - t0, 2),
                }
            )
        )
    elif args.cmd == "titleindex":
        from wiki_search_engine_spark.engine import SearchEngine

        t0 = time.time()
        eng = SearchEngine.load(spark, args.index)
        eng.build_title_tf()
        print(
            json.dumps(
                {
                    "title_tf": f"{eng.index_dir}/title_tf",
                    "titleindex_sec": round(time.time() - t0, 2),
                }
            )
        )
    elif args.cmd == "build":
        from wiki_search_engine_spark.engine import SearchEngine

        t0 = time.time()
        eng = SearchEngine.build(
            spark,
            spark.read.parquet(args.corpus),
            args.index,
            stem=not args.no_stem,
            analyzer=args.analyzer,
            resume=args.resume,
            n_buckets=args.buckets,
            bucket_groups=args.bucket_groups,
            salt_bits=args.salt_bits,
            positions=args.positions,
            pagerank_iters=args.pagerank,
        )
        sec = time.time() - t0
        print(
            json.dumps(
                {
                    "index": args.index,
                    "N": eng.n,
                    "avgdl": round(eng.avgdl, 3),
                    "build_sec": round(sec, 2),
                    "docs_per_sec": round(eng.n / sec, 1),
                }
            )
        )
    elif args.cmd == "compact":
        from wiki_search_engine_spark.engine import SearchEngine
        from wiki_search_engine_spark.tiered import compact

        t0 = time.time()
        compact(
            spark, [d for d in args.segments.split(",") if d], args.out
        )
        eng = SearchEngine.load(spark, args.out)
        print(
            json.dumps(
                {
                    "index": args.out,
                    "N": eng.n,
                    "avgdl": round(eng.avgdl, 3),
                    "compact_sec": round(time.time() - t0, 2),
                }
            )
        )
    elif args.cmd == "serve":
        from wiki_search_engine_spark.server import SearchServer

        eng = _open_engine(spark, args.index, cache_terms=args.cache_terms)
        server = SearchServer(
            eng, host=args.host, port=args.port, path_mode=args.path
        )
        print(
            json.dumps(
                {
                    "serving": f"http://{args.host}:"
                    f"{server.server_address[1]}/query-stem",
                    "path": args.path,
                    "N": eng.n,
                }
            ),
            flush=True,
        )
        server.serve_forever()
    else:
        from wiki_search_engine_spark.engine import EmptyQueryError

        if args.snapshot and "," in args.index:
            raise SystemExit(
                "--snapshot is single-index only; time-travel each "
                "segment root separately"
            )
        t0 = time.time()
        try:
            # both engines serve every mode through the same dispatch
            eng = _open_engine(spark, args.index, snapshot=args.snapshot)
            phrase_tf = None
            if args.phrase:
                hits = eng.search_phrase(args.query, k=args.k, slop=args.slop)
                ids = [(d, s) for d, s, _tf in hits]
                phrase_tf = {d: tf for d, _s, tf in hits}
            elif '"' in args.query and eng._has_positions():
                # quoted spans = mixed phrase semantics (driver path;
                # mirrors the HTTP auto-routing)
                ids = eng.search_mixed(
                    args.query, k=args.k, mode=args.mode,
                    negation=args.negation,
                )
            elif args.boost and args.path != "local":
                # a segment list's "single-index" error comes first
                eng._reject_unserved_boost(args.boost)
                raise ValueError("--boost static is served by --path local")
            elif args.path == "local":
                ids = eng.search_local(
                    args.query, k=args.k, mode=args.mode,
                    negation=args.negation, synonyms=args.synonyms,
                    boost=args.boost,
                )
            else:
                ids = [
                    (r["docid"], r["score"])
                    for r in eng.search_ids(
                        args.query, k=args.k, mode=args.mode,
                        path=args.path, negation=args.negation,
                        synonyms=args.synonyms,
                    ).collect()
                ]
            smap = dict(ids)
            rows = sorted(
                eng.lookup_docs([d for d, _ in ids]),
                key=lambda r: (-smap[r["docid"]], r["docid"]),
            )
            sec = time.time() - t0
            facets = {
                f: eng.facet_counts(
                    args.query, field=f, negation=args.negation,
                    top=args.facet_top, mode=args.mode,
                    synonyms=args.synonyms, phrase=args.phrase,
                )
                for f in (s.strip() for s in (args.facets or "").split(","))
                if f
            }
        except EmptyQueryError:
            # mirror the reference's HTTP 400 body
            # (backend/controllers/queryController.js:21-25)
            print(json.dumps({"success": False, "error": "Empty query"}))
            spark.stop()
            return 1
        except (FileNotFoundError, ValueError) as e:
            # a missing sidecar, a bad --snapshot, an option combination
            # no path serves: the HTTP 400 errors, as a JSON body
            print(json.dumps({"success": False, "error": str(e)}))
            spark.stop()
            return 1
        payload = {
            "query": args.query,
            "search_sec": round(sec, 3),
            "results": [
                {
                    "docid": r["docid"],
                    "url": r["url"],
                    "score": round(smap[r["docid"]], 6),
                    "snippet": r["snippet"][:120],
                }
                for r in rows
            ],
        }
        if phrase_tf is not None:
            payload["phrase"] = True
            for r in payload["results"]:
                r["phrase_tf"] = phrase_tf[r["docid"]]
        if facets:
            payload["facets"] = facets
        print(json.dumps(payload))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
