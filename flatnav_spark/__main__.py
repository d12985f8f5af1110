"""CLI — the spark-submit surface of the engine.

    python -m flatnav_spark build  --corpus <parquet|table:name> --out <index>
                                   [--mode code]
                                   [--resume] [--block-range 4096] [--splits 64]
    python -m flatnav_spark query  --index <index> --queries <parquet|inline..>
                                   [--k 10] [--no-prune] [--out <parquet>]
    python -m flatnav_spark extend --index <index> --corpus <parquet>
    python -m flatnav_spark optimize --index <index>
    python -m flatnav_spark info   --index <index>
    python -m flatnav_spark validate --index <index>
    python -m flatnav_spark positions --index <index> --corpus <parquet>
    python -m flatnav_spark package  [--out flatnav_spark.zip]

On a real cluster: ``spark-submit --py-files flatnav_spark.zip driver.py
build ...`` where ``driver.py`` is a copy of this file and the zip comes
from the ``package`` subcommand (deterministic, see packaging.py); the
session master comes from spark-defaults, locally it falls back to
local[*]. Exercised for real by tests/test_spark_submit.py.
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(app: str):
    from flatnav_spark.session import get_spark

    return get_spark(app)


def cmd_build(args) -> int:
    from flatnav_spark.build import build_index
    from flatnav_spark.scorer import BM25Params

    from flatnav_spark.corpus import resolve_corpus

    spark = _spark("flatnav_build")
    corpus = resolve_corpus(spark, args.corpus)
    index = build_index(
        corpus,
        args.out,
        mode=args.mode,
        params=BM25Params(k1=args.k1, b=args.b),
        block_range=args.block_range,
        chunk_blocks=args.chunk_blocks,
        n_splits=args.splits,
        n_groups=args.groups,
        resume=args.resume,
    )
    print(json.dumps(index.info()))
    return 0


def cmd_query(args) -> int:
    from flatnav_spark.index_io import load_index
    from flatnav_spark.query import batch_query

    spark = _spark("flatnav_query")
    index = load_index(args.index)
    text_col = "phrase_text" if args.phrase else "query_text"
    if args.queries.endswith(".parquet") or "/" in args.queries:
        qdf = spark.read.parquet(args.queries)
    else:
        rows = [(i, q) for i, q in enumerate(args.queries.split("||"))]
        qdf = spark.createDataFrame(rows, f"query_id long, {text_col} string")
    if args.phrase:
        from flatnav_spark.phrase import phrase_query_batch

        result = phrase_query_batch(spark, index, qdf, k=args.k,
                                    slop=args.slop)
    elif "*" in args.queries or "~" in args.queries:
        from flatnav_spark.query import prefix_query_batch

        result = prefix_query_batch(spark, index, qdf, k=args.k,
                                    prune=not args.no_prune,
                                    approx_factor=args.approx_factor)
    else:
        result = batch_query(spark, index, qdf, k=args.k,
                             prune=not args.no_prune,
                             approx_factor=args.approx_factor)
    if args.out:
        result.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"written": args.out}))
    else:
        for r in result.collect():
            print(json.dumps(r.asDict()))
    return 0


def cmd_import(args) -> int:
    from flatnav_spark.build import import_postings
    from flatnav_spark.scorer import BM25Params

    spark = _spark("flatnav_import")
    flat = spark.read.parquet(args.postings)
    docs = spark.read.parquet(args.docs) if args.docs else None
    index = import_postings(
        spark, flat, args.out, mode=args.mode,
        params=BM25Params(k1=args.k1, b=args.b),
        block_range=args.block_range, n_splits=args.splits, docs_df=docs,
    )
    print(json.dumps(index.info()))
    return 0


def cmd_extend(args) -> int:
    from flatnav_spark.build import extend_index
    from flatnav_spark.index_io import load_index

    from flatnav_spark.corpus import resolve_corpus

    spark = _spark("flatnav_extend")
    index = extend_index(spark, load_index(args.index),
                         resolve_corpus(spark, args.corpus))
    print(json.dumps(index.info()))
    return 0


def cmd_optimize(args) -> int:
    from flatnav_spark.index_io import load_index
    from flatnav_spark.maintenance import optimize_index

    spark = _spark("flatnav_optimize")
    index = optimize_index(spark, load_index(args.index), args.partitions,
                           strategy=args.strategy)
    print(json.dumps(index.info()))
    return 0


def cmd_info(args) -> int:
    from flatnav_spark.index_io import load_index

    print(json.dumps(load_index(args.index).info(), indent=2))
    return 0


def cmd_validate(args) -> int:
    from flatnav_spark.index_io import load_index
    from flatnav_spark.maintenance import validate_index

    spark = _spark("flatnav_validate")
    print(json.dumps(validate_index(spark, load_index(args.index))))
    return 0


def cmd_positions(args) -> int:
    from flatnav_spark.corpus import resolve_corpus
    from flatnav_spark.index_io import load_index
    from flatnav_spark.phrase import build_positions

    spark = _spark("flatnav_positions")
    index = load_index(args.index)
    build_positions(spark, resolve_corpus(spark, args.corpus), index)
    print(json.dumps({"positions": index.manifest.positions_dir,
                      "n_docs": index.manifest.positions_n_docs}))
    return 0


def cmd_package(args) -> int:
    from flatnav_spark.packaging import make_pyfiles_zip

    out = make_pyfiles_zip(args.out)
    import hashlib

    with open(out, "rb") as fh:
        digest = hashlib.sha256(fh.read()).hexdigest()
    print(json.dumps({"py_files": out, "sha256": digest}))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="flatnav_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build")
    b.add_argument("--corpus", required=True)
    b.add_argument("--out", required=True)
    b.add_argument("--mode", default="code", choices=["code", "simple"])
    b.add_argument("--k1", type=float, default=1.2)
    b.add_argument("--b", type=float, default=0.75)
    b.add_argument("--block-range", type=int, default=4096)
    b.add_argument("--chunk-blocks", type=int, default=16)
    b.add_argument("--splits", type=int, default=64)
    b.add_argument("--groups", type=int, default=None,
                   help="stage-1 checkpoint groups, the unit of --resume "
                        "(default: one per 16 MiB of corpus, 1 to 8; on "
                        "--resume, the count the checkpoints were written with)")
    b.add_argument("--resume", action="store_true")
    b.set_defaults(fn=cmd_build)

    q = sub.add_parser("query")
    q.add_argument("--index", required=True)
    q.add_argument("--queries", required=True,
                   help="parquet path OR inline 'terms a||terms b' strings")
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--no-prune", action="store_true")
    q.add_argument("--approx-factor", type=float, default=1.0,
                   help="WAND threshold factor theta >= 1.0; > 1.0 trades "
                        "recall for pruning (1.0 = exact)")
    q.add_argument("--phrase", action="store_true",
                   help="treat each query as an exact phrase (requires the "
                        "positions artifact; see the positions subcommand)")
    # NB inline query strings containing '*' or '~' are auto-routed to
    # the pattern path: 'mer*' expands to all index terms with that
    # prefix, 'mergi~1' to all terms within edit distance 1; expansions
    # score as ordinary BM25 terms
    q.add_argument("--slop", type=int, default=0,
                   help="with --phrase: allow consecutive phrase terms up "
                        "to SLOP extra positions apart, in order (0 = exact)")
    q.add_argument("--out")
    q.set_defaults(fn=cmd_query)

    im = sub.add_parser("import", help="adopt a prebuilt (term, doc_id, tf) postings parquet")
    im.add_argument("--postings", required=True)
    im.add_argument("--out", required=True)
    im.add_argument("--docs", help="optional docs metadata parquet")
    im.add_argument("--mode", default="code", choices=["code", "simple"])
    im.add_argument("--k1", type=float, default=1.2)
    im.add_argument("--b", type=float, default=0.75)
    im.add_argument("--block-range", type=int, default=4096)
    im.add_argument("--splits", type=int, default=64)
    im.set_defaults(fn=cmd_import)

    e = sub.add_parser("extend", help="append new documents incrementally (O(new docs))")
    e.add_argument("--index", required=True)
    e.add_argument("--corpus", required=True)
    e.set_defaults(fn=cmd_extend)

    o = sub.add_parser("optimize")
    o.add_argument("--index", required=True)
    o.add_argument("--partitions", type=int, default=None)
    o.add_argument("--strategy", default="term", choices=["term", "doc"])
    o.set_defaults(fn=cmd_optimize)

    i = sub.add_parser("info")
    i.add_argument("--index", required=True)
    i.set_defaults(fn=cmd_info)

    v = sub.add_parser("validate")
    v.add_argument("--index", required=True)
    v.set_defaults(fn=cmd_validate)

    ps = sub.add_parser(
        "positions",
        help="build the positional-postings artifact for phrase queries")
    ps.add_argument("--index", required=True)
    ps.add_argument("--corpus", required=True,
                    help="the corpus the index was built on")
    ps.set_defaults(fn=cmd_positions)

    pk = sub.add_parser(
        "package", help="write the deterministic spark-submit --py-files zip")
    pk.add_argument("--out", default="flatnav_spark.zip")
    pk.set_defaults(fn=cmd_package)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
