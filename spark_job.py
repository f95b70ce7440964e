#!/usr/bin/env python
"""spark-submit entrypoint for the openmatch_spark engine (north_rule launch
mode: `spark-submit --py-files openmatch_spark.zip spark_job.py <cmd> ...`).

Subcommands
-----------
build-index   pages parquet/Iceberg table -> BM25 index directory
              (resumable: rerun with --resume to skip committed shards)
curate-index  pages -> language/quality gates + url/exact/near dedup ->
              BM25 index over the kept docs, verdict lineage persisted
              under <index>/curation
search        index + queries TSV/parquet -> TREC run file
compact       merge index shards (all, or --shards 2 3 4) into one segment
snapshot      copy a committed index to a backup dir (manifest-last)
restore       restore an index from a snapshot (refuses partial copies)
eval          run + qrels -> MRR@k / Recall@k / nDCG@k JSON on stdout
package       write openmatch_spark.zip next to this file (for --py-files)

On a cluster, master/executor conf comes from spark-submit; this script never
hardcodes parallelism. In the sandbox:
  python spark_job.py package
  spark-submit --py-files openmatch_spark.zip spark_job.py build-index \
      --pages /root/testdata/sf0.01/documents.parquet --pages-format documents \
      --index /tmp/idx --num-shards 8
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _spark(app: str):
    # master=None always: inside spark-submit the session inherits the
    # submit-time master/conf; run bare, get_spark fills in sandbox defaults.
    from openmatch_spark import get_spark

    return get_spark(app, master=None)


def cmd_package(args) -> int:
    """Zip the openmatch_spark package for --py-files distribution."""
    import zipfile

    here = os.path.dirname(os.path.abspath(__file__))
    pkg = os.path.join(here, "openmatch_spark")
    out = args.out or os.path.join(here, "openmatch_spark.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    z.write(p, os.path.relpath(p, here))
    print(out)
    return 0


def _load_pages(spark, args):
    from openmatch_spark.fixtures import documents_as_pages

    if args.pages_format == "documents":
        return documents_as_pages(spark, os.path.dirname(args.pages)) if args.pages.endswith(
            "documents.parquet"
        ) else documents_as_pages(spark, args.pages)
    if args.pages_format == "table":  # Iceberg / catalog table name
        return spark.read.table(args.pages)
    return spark.read.parquet(args.pages)  # pages-schema parquet


def cmd_build_index(args) -> int:
    from openmatch_spark.index import build_index

    spark = _spark("om-build-index")
    pages = _load_pages(spark, args)
    analyzer = args.analyzer
    if getattr(args, "synonyms", None):
        from openmatch_spark.analysis import make_synonym_analyzer

        groups = {}
        for part in args.synonyms.split(";"):
            canon, _, alts = part.partition(":")
            groups[canon] = alts.split(",") if alts else []
        analyzer = make_synonym_analyzer(analyzer, groups)
    stats = build_index(
        spark,
        pages,
        args.index,
        analyzer=analyzer,
        num_shards=args.num_shards,
        num_term_buckets=args.num_term_buckets,
        block_size=args.block_size,
        shard_batch_size=args.shard_batch_size,
        resume=args.resume,
        table_prefix=args.table_prefix,
        index_sort=getattr(args, "index_sort", None),
        index_sort_desc=getattr(args, "index_sort_desc", False),
        store_attrs=(
            args.store_attrs.split(",")
            if getattr(args, "store_attrs", None) else None
        ),
    )
    print(json.dumps({k: v for k, v in stats.items() if not hasattr(v, "toPandas")}))
    return 0


def cmd_curate_index(args) -> int:
    """curate (language/quality gates + url/exact/near dedup) -> build index,
    with the per-doc verdict lineage persisted under <index>/curation."""
    from openmatch_spark.pipeline import curate_and_index

    spark = _spark("om-curate-index")
    pages = _load_pages(spark, args)
    stats = curate_and_index(
        spark,
        pages,
        args.index,
        langs=tuple(args.langs.split(",")),
        min_quality=args.min_quality,
        url_dedup=not args.no_url_dedup,
        jaccard_threshold=args.jaccard_threshold,
        max_bucket=args.max_bucket,
        analyzer=args.analyzer,
        num_shards=args.num_shards,
        num_term_buckets=args.num_term_buckets,
        block_size=args.block_size,
        table_prefix=args.table_prefix,
    )
    print(json.dumps({k: v for k, v in stats.items() if not hasattr(v, "toPandas")}))
    return 0


def cmd_build_positions(args) -> int:
    """Build (or rebuild after compaction) the positional sidecar an
    existing index needs for `search --phrase/--proximity`."""
    from openmatch_spark.index import build_positions

    spark = _spark("om-build-positions")
    pages = _load_pages(spark, args)
    info = build_positions(
        spark, pages, args.index, table_prefix=args.table_prefix
    )
    print(json.dumps(info))
    return 0


def cmd_report(args) -> int:
    """Print the index's segment/size/compression report as one JSON line."""
    from openmatch_spark.index import index_report, load_index

    spark = _spark("om-report")
    idx = load_index(spark, args.index, table_prefix=args.table_prefix)
    print(json.dumps(index_report(idx)))
    return 0


def cmd_search(args) -> int:
    from openmatch_spark.index import load_index
    from openmatch_spark.operators.runio import save_as_trec
    from openmatch_spark.query import (
        search,
        search_filtered,
        search_fuzzy,
        search_phrase,
        search_proximity,
        search_query_string,
        search_regexp,
        search_span_near,
        search_wildcard,
    )

    spark = _spark("om-search")
    fielded = getattr(args, "fielded", False)
    if fielded and not getattr(args, "dsl", False):
        raise SystemExit(
            "--fielded pairs with --dsl (the multi-field DSL surface); "
            "plain fielded search is `search_fielded` via the library API"
        )
    idx = (None if fielded
           else load_index(spark, args.index, table_prefix=args.table_prefix))
    if args.queries.endswith(".parquet"):
        queries = spark.read.parquet(args.queries)
    else:
        queries = (
            spark.read.option("sep", "\t")
            .schema("query_id string, text string")
            .csv(args.queries)
        )
    if getattr(args, "dsl", False):
        # ES-DSL front door: each query's text column holds a JSON query
        # dict (query/dsl.py grammar); --fielded routes multi-field
        # leaves over a build-fielded-index directory
        qmap = {
            str(r["query_id"]): json.loads(r["text"])
            for r in queries.select("query_id", "text").collect()
        }
        if fielded:
            from openmatch_spark.query import (
                load_fielded_index,
                search_dsl_fielded,
            )

            mode = "dsl_fielded"
            run = search_dsl_fielded(
                load_fielded_index(spark, args.index), qmap, k=args.k
            )
        else:
            from openmatch_spark.query import search_dsl

            mode = "dsl"
            run = search_dsl(idx, qmap, k=args.k)
    elif getattr(args, "sorted_by_index", False):
        import pyspark.sql.functions as F

        from openmatch_spark.query import search_sorted_indexed

        mode = "sorted_indexed"
        run = search_sorted_indexed(idx, queries, k=args.k).select(
            "query_id", "doc_id",
            F.col("sort_value").alias("score"), "rank",
        )
    elif args.query_string:
        # Lucene-classic one-string surface (query/querystring.py grammar):
        # +must / -not roles, "..."[~slop] phrases, tok* prefix, wildcards,
        # tok~N fuzzy, ^B boosts; --default-operator sets the bare role
        mode = f"query_string:{args.default_operator}"
        run = search_query_string(
            idx, queries, k=args.k, default_operator=args.default_operator
        )
    elif args.phrase:
        mode = "phrase"
        run = search_phrase(idx, queries, k=args.k).drop("phrase_freq")
    elif args.proximity is not None:
        mode = f"proximity:{args.proximity}"
        run = search_proximity(idx, queries, within=args.proximity, k=args.k).drop(
            "min_cover"
        )
    elif args.span_near is not None:
        mode = f"span_near:{args.span_near}"
        run = search_span_near(idx, queries, within=args.span_near, k=args.k).drop(
            "min_window"
        )
    elif args.wildcard:
        mode = "wildcard"
        run = search_wildcard(idx, queries, k=args.k)
    elif args.regexp:
        mode = "regexp"
        run = search_regexp(idx, queries, k=args.k)
    elif args.fuzzy:
        mode = "fuzzy"
        run = search_fuzzy(idx, queries, k=args.k)
    elif getattr(args, "where", None):
        # doc-values filter: predicate over the index's stored attributes
        # (build-index --store-attrs) — zero corpus access
        mode = "filtered_dv"
        run = search_filtered(idx, queries, where=args.where, k=args.k)
    elif args.allowed_docs:
        # attribute-filtered: any parquet/TSV with a doc_id column restricts
        # the candidate set (statistics stay corpus-wide)
        mode = "filtered"
        if args.allowed_docs.endswith(".parquet"):
            allowed = spark.read.parquet(args.allowed_docs)
        else:
            allowed = (
                spark.read.option("sep", "\t")
                .schema("doc_id string")
                .csv(args.allowed_docs)
            )
        run = search_filtered(idx, queries, allowed, k=args.k)
    else:
        mode = "bm25"
        run = search(idx, queries, k=args.k)
    save_as_trec(run, args.out, run_id=args.run_id)
    print(json.dumps({"out": args.out, "k": args.k, "mode": mode}))
    return 0


def cmd_percolate(args) -> int:
    """Reverse search (query/percolate.py): match a document table against
    a stored-rule table; writes (doc_id, query_id, n_must, n_should)
    parquet. Rules: parquet or 4-col TSV (query_id, must, should,
    must_not — empty string = no role)."""
    import pyspark.sql.functions as F

    from openmatch_spark.query import percolate

    spark = _spark("om-percolate")
    docs = _load_pages(spark, args).select(
        F.col("url").alias("doc_id"), "text"
    )
    if args.rules.endswith(".parquet"):
        rules = spark.read.parquet(args.rules)
    else:
        rules = (
            spark.read.option("sep", "\t")
            .schema("query_id string, must string, should string, must_not string")
            .csv(args.rules)
        )
    matches = percolate(
        docs, rules, analyzer=args.analyzer,
        min_should_match=args.min_should_match,
    )
    matches.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"out": args.out, "matches": n}))
    return 0


def cmd_compact(args) -> int:
    """Merge committed index shards (index/compact.py): search-identical,
    retires the old segment dirs. Default merges ALL shards; --shards picks
    a subset (e.g. the small segments a streaming ingest appended)."""
    from openmatch_spark.index import compact_auto, compact_index

    spark = _spark("om-compact")
    if args.auto:
        if args.rebaseline:
            # A rebaseline is itself a full merge that discards the prior
            # decode/re-pack, so a tiered pass first would be pure waste —
            # matching streaming/incremental.py maintain_index, which skips
            # the tiered pass for the same reason.
            res = compact_index(
                spark, args.index, table_prefix=args.table_prefix,
                rebaseline_stats=True,
                prune_keep_per_term=args.prune_keep,
            )
        else:
            if args.prune_keep is not None:
                raise SystemExit(
                    "--prune-keep requires a full merge: drop --auto or add "
                    "--rebaseline (the tiered policy merges subsets, and a "
                    "per-term cut over a subset is not the global prune)"
                )
            res = compact_auto(spark, args.index, table_prefix=args.table_prefix)
    else:
        res = compact_index(
            spark, args.index, shards=args.shards,
            table_prefix=args.table_prefix, rebaseline_stats=args.rebaseline,
            prune_keep_per_term=args.prune_keep,
        )
    print(json.dumps(res))
    return 0


def cmd_snapshot(args) -> int:
    """Copy a committed index to a backup location (index/snapshot.py:
    manifest-last ordering — a crashed snapshot is visibly incomplete,
    never silently wrong). No Spark session needed."""
    from openmatch_spark.index.snapshot import snapshot_index

    info = snapshot_index(args.index, args.dest, overwrite=args.overwrite)
    print(json.dumps(info))
    return 0


def cmd_restore(args) -> int:
    """Restore an index from a snapshot directory (refuses partial
    snapshots and non-empty destinations unless --overwrite)."""
    from openmatch_spark.index.snapshot import restore_index

    info = restore_index(args.snapshot, args.dest, overwrite=args.overwrite)
    print(json.dumps(info))
    return 0


def cmd_eval(args) -> int:
    from openmatch_spark.operators.metrics import mrr_at_k, ndcg_at_k, recall_at_k
    from openmatch_spark.operators.runio import load_from_trec

    spark = _spark("om-eval")
    run = load_from_trec(spark, args.run)
    qrels = (
        spark.read.option("sep", "\t")
        .schema("query_id string, q0 string, doc_id string, rel int")
        .csv(args.qrels)
        .select("query_id", "doc_id", "rel")
    )
    out = {}
    for k in args.k:
        out[f"mrr@{k}"] = mrr_at_k(run, qrels, k=k).first()["mrr"]
        out[f"recall@{k}"] = recall_at_k(run, qrels, k=k).first()["recall"]
        out[f"ndcg@{k}"] = ndcg_at_k(run, qrels, k=k).first()["ndcg"]
    print(json.dumps(out))
    return 0


def cmd_repl(args) -> int:
    """Interactive search loop (scripts/interactive_search.py parity): one
    query per line on stdin, top-k results per line on stdout. The driver
    dictionary cache + bucket-pruned postings scan keep per-query latency
    sub-second after the first query; optionally hydrates doc text."""
    from openmatch_spark.index import load_index
    from openmatch_spark.operators.transforms import hydrate_run
    from openmatch_spark.query import search

    spark = _spark("om-repl")
    spark.sparkContext.setLogLevel("ERROR")
    idx = load_index(spark, args.index)
    corpus = None
    if args.corpus:
        corpus = spark.read.parquet(args.corpus)
    print(f"index: {args.index}  docs={idx.stats.get('n_docs')}  "
          f"analyzer={idx.stats.get('analyzer')}  (empty line quits)", flush=True)
    qn = 0
    while True:
        try:
            line = input("query> " if sys.stdin.isatty() else "")
        except EOFError:
            break
        line = line.strip()
        if not line:
            break
        qn += 1
        q = spark.createDataFrame([(f"i{qn}", line)], "query_id string, text string")
        run = search(idx, q, k=args.k)
        if corpus is not None:
            run = hydrate_run(run, corpus=corpus)
        for r in run.orderBy("rank").collect():
            snippet = (r["doc_text"][:100] + "...") if corpus is not None else ""
            print(f"{r['rank']:>3}  {r['score']:.4f}  {r['doc_id']}  {snippet}", flush=True)
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="spark_job.py")
    sub = p.add_subparsers(dest="cmd", required=True)

    pk = sub.add_parser("package")
    pk.add_argument("--out", default=None)
    pk.set_defaults(fn=cmd_package)

    bi = sub.add_parser("build-index")
    bi.add_argument("--pages", required=True, help="parquet path or table name")
    bi.add_argument("--pages-format", choices=["pages", "documents", "table"], default="pages")
    bi.add_argument("--index", required=True)
    bi.add_argument("--analyzer",
                    choices=["dpr", "simple", "english", "english_stop"],
                    default="dpr")
    bi.add_argument("--synonyms", default=None, metavar="MAP",
                    help="index-time synonym contraction, "
                         "'canon:alt1,alt2;canon2:alt3' (analysis.py)")
    bi.add_argument("--index-sort", default=None, metavar="FIELD",
                    help="Lucene index sorting: order doc ordinals by this "
                         "pages column (enables early-terminated "
                         "search --sorted-by-index)")
    bi.add_argument("--index-sort-desc", action="store_true")
    bi.add_argument("--store-attrs", default=None, metavar="COLS",
                    help="comma-separated pages columns persisted in the "
                         "docmap as doc values (enables search --where "
                         "without corpus access)")
    bi.add_argument("--num-shards", type=int, default=8)
    bi.add_argument("--num-term-buckets", type=int, default=16)
    bi.add_argument("--block-size", type=int, default=128)
    bi.add_argument("--shard-batch-size", type=int, default=None)
    bi.add_argument("--resume", action="store_true")
    bi.add_argument("--table-prefix", default=None,
                    help="catalog table prefix (e.g. local.db.ccindex) -> "
                         "Iceberg/catalog tables instead of parquet paths")
    bi.set_defaults(fn=cmd_build_index)

    ci = sub.add_parser("curate-index")
    ci.add_argument("--pages", required=True, help="parquet path or table name")
    ci.add_argument("--pages-format", choices=["pages", "documents", "table"], default="pages")
    ci.add_argument("--index", required=True)
    ci.add_argument("--langs", default="en", help="comma-separated language gate")
    ci.add_argument("--min-quality", type=float, default=0.5)
    ci.add_argument("--jaccard-threshold", type=float, default=0.8)
    ci.add_argument("--max-bucket", type=int, default=1000)
    ci.add_argument("--no-url-dedup", action="store_true")
    ci.add_argument("--analyzer", choices=["dpr", "simple"], default="dpr")
    ci.add_argument("--num-shards", type=int, default=8)
    ci.add_argument("--num-term-buckets", type=int, default=16)
    ci.add_argument("--block-size", type=int, default=128)
    ci.add_argument("--table-prefix", default=None)
    ci.set_defaults(fn=cmd_curate_index)

    rp = sub.add_parser("report")
    rp.add_argument("--index", required=True)
    rp.add_argument("--table-prefix", default=None)
    rp.set_defaults(fn=cmd_report)

    bp = sub.add_parser("build-positions")
    bp.add_argument("--pages", required=True, help="parquet path or table name")
    bp.add_argument("--pages-format", choices=["pages", "documents", "table"], default="pages")
    bp.add_argument("--index", required=True)
    bp.add_argument("--table-prefix", default=None)
    bp.set_defaults(fn=cmd_build_positions)

    se = sub.add_parser("search")
    se.add_argument("--index", required=True)
    se.add_argument("--queries", required=True, help="TSV (qid\\ttext) or parquet")
    se.add_argument("--out", required=True)
    se.add_argument("--k", type=int, default=100)
    se.add_argument("--phrase", action="store_true",
                    help="exact-phrase search over the positional sidecar")
    se.add_argument("--proximity", type=int, default=None, metavar="WITHIN",
                    help="unordered proximity search: all terms within N tokens")
    se.add_argument("--span-near", type=int, default=None, metavar="WITHIN",
                    help="ordered proximity: the token sequence in order within N tokens")
    se.add_argument("--wildcard", action="store_true",
                    help="query tokens are wildcard patterns (* any run, ? one char)")
    se.add_argument("--fuzzy", action="store_true",
                    help="fuzzy term match within 1 edit (same first char)")
    se.add_argument("--regexp", action="store_true",
                    help="query tokens are full-term regular expressions "
                         "(Lucene RegexpQuery, Java/RE2 common subset)")
    se.add_argument("--allowed-docs", default=None, metavar="PATH",
                    help="parquet/TSV doc_id list restricting the candidate set")
    se.add_argument("--where", default=None, metavar="SQL",
                    help="doc-values filter: SQL predicate over columns "
                         "stored with build-index --store-attrs "
                         "(e.g. \"lang = 'en'\")")
    se.add_argument("--dsl", action="store_true",
                    help="each query text is an ES-style JSON query dict "
                         "(bool to any nesting depth / match / match_phrase /"
                         " term / prefix / wildcard / fuzzy / regexp /"
                         " constant_score / match_all / dis_max; filter"
                         " context on doc values)")
    se.add_argument("--fielded", action="store_true",
                    help="with --dsl: --index is a build-fielded-index "
                         "directory and leaves may name any sub-index "
                         "field (multi_match supported)")
    se.add_argument("--query-string", action="store_true",
                    help="parse each text as a Lucene-classic query string "
                         "(+must/-not, phrases, prefixes, wildcards, fuzzy, boosts)")
    se.add_argument("--default-operator", choices=["or", "and"], default="or",
                    help="role of bare query_string terms (or=should, and=must)")
    se.add_argument("--sorted-by-index", action="store_true",
                    help="sort-by-field search over an index-sorted index "
                         "(block-pruned early termination; the sort value "
                         "is written as the run score)")
    se.add_argument("--run-id", default="openmatch_spark")
    se.add_argument("--table-prefix", default=None)
    se.set_defaults(fn=cmd_search)

    cp = sub.add_parser("compact")
    cp.add_argument("--index", required=True)
    cp.add_argument("--shards", type=int, nargs="+", default=None)
    cp.add_argument("--auto", action="store_true",
                    help="size-tiered policy: merge like-sized segments until settled")
    cp.add_argument("--rebaseline", action="store_true",
                    help="full merge that also recomputes N/avgdl/df/idf and "
                         "re-weights payloads (incremental index converges to "
                         "fresh-build scores); requires merging ALL shards")
    cp.add_argument("--prune-keep", type=int, default=None, metavar="N",
                    help="static index pruning during the merge: keep only "
                         "each term's N highest-impact postings (approximate "
                         "search, head-term-bounded index)")
    cp.add_argument("--table-prefix", default=None)
    cp.set_defaults(fn=cmd_compact)

    sn = sub.add_parser("snapshot")
    sn.add_argument("--index", required=True)
    sn.add_argument("--dest", required=True)
    sn.add_argument("--overwrite", action="store_true")
    sn.set_defaults(fn=cmd_snapshot)

    rs = sub.add_parser("restore")
    rs.add_argument("--snapshot", required=True)
    rs.add_argument("--dest", required=True)
    rs.add_argument("--overwrite", action="store_true")
    rs.set_defaults(fn=cmd_restore)

    pc = sub.add_parser("percolate")
    pc.add_argument("--pages", required=True, help="parquet path or table name")
    pc.add_argument("--pages-format", choices=["pages", "documents", "table"], default="pages")
    pc.add_argument("--rules", required=True,
                    help="stored rules: parquet or 4-col TSV "
                         "(query_id, must, should, must_not)")
    pc.add_argument("--out", required=True)
    pc.add_argument("--analyzer", choices=["dpr", "simple", "english"], default="simple")
    pc.add_argument("--min-should-match", type=int, default=0)
    pc.set_defaults(fn=cmd_percolate)

    ev = sub.add_parser("eval")
    ev.add_argument("--run", required=True)
    ev.add_argument("--qrels", required=True)
    ev.add_argument("--k", type=int, nargs="+", default=[10])
    ev.set_defaults(fn=cmd_eval)

    rp = sub.add_parser("repl")
    rp.add_argument("--index", required=True)
    rp.add_argument("--corpus", default=None, help="parquet (doc_id, text) for snippets")
    rp.add_argument("--k", type=int, default=10)
    rp.set_defaults(fn=cmd_repl)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
