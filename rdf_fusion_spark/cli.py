"""Command-line toolkit: `serve` (SPARQL HTTP server), `query` (offline
SPARQL over local files) and `convert` (RDF format conversion).

reference: cli/src/cli.rs:6-90 — serve/convert re-expressed over Spark
(serve hosts a GraphStore, optionally the virtual relational warehouse;
convert streams between any two registered RDF formats — distributed for
file→file on line formats, driver-side for stdin/stdout). `query` adds
the oxigraph-CLI one-shot query shape on top.

    python -m rdf_fusion_spark serve --bind 0.0.0.0:7878 --load data.ttl
    python -m rdf_fusion_spark serve --relational /root/testdata/sf0.01
    python -m rdf_fusion_spark query --data x.ttl -q 'SELECT * WHERE {?s ?p ?o}'
    python -m rdf_fusion_spark convert -f in.ttl -t out.nt
    cat in.ttl | python -m rdf_fusion_spark convert --from-format ttl \
        --to-format nt
"""

from __future__ import annotations

import argparse
import sys


def _spark(app: str):
    from pyspark.sql import SparkSession
    return (SparkSession.builder.master("local[*]")
            .appName(app)
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .getOrCreate())


def cmd_serve(args) -> int:
    from .store import GraphStore
    from .web import SparqlHttpServer

    spark = _spark("rdf-fusion-spark-serve")
    if args.relational:
        from .sources.virtual import VirtualRelationalStore
        store = VirtualRelationalStore(spark, args.relational)
    else:
        store = GraphStore.empty(spark)
    if args.union_default_graph:
        store.union_default_graph = True
    for path in args.load or []:
        loaded = GraphStore.load(spark, path, args.format)
        store = GraphStore(
            spark, store.quads.unionByName(loaded.quads))
        store.union_default_graph = args.union_default_graph
    host, _, port = args.bind.rpartition(":")
    server = SparqlHttpServer(store, host or "0.0.0.0", int(port))
    print(f"serving SPARQL endpoint on http://{server.host}:{server.port}/query",
          file=sys.stderr)
    server.serve_forever()
    return 0


def cmd_convert(args) -> int:
    from .sources.formats import (format_from_name, format_from_path,
                                  parse_rdf, read_rdf, serialize_rdf_lines,
                                  write_rdf)

    ffmt = format_from_name(args.from_format) if args.from_format else None
    tfmt = format_from_name(args.to_format) if args.to_format else None
    if args.from_file and ffmt is None:
        ffmt = format_from_path(args.from_file)
    if args.to_file and tfmt is None:
        tfmt = format_from_path(args.to_file)
    if (args.from_file is None and ffmt is None) or \
            (args.to_file is None and tfmt is None):
        print("cannot determine formats; pass --from-format/--to-format",
              file=sys.stderr)
        return 2

    spark = _spark("rdf-fusion-spark-convert")
    if args.from_file:
        quads = read_rdf(spark, args.from_file, ffmt, args.base)
    else:
        quads = parse_rdf(spark, sys.stdin.read(), ffmt, args.base)
    if args.to_file:
        write_rdf(quads, args.to_file, tfmt)
    else:
        # streamed a partition at a time, not collected at once like the
        # HTTP server's bodies: a dump of any size goes to stdout with
        # bounded driver memory
        for r in serialize_rdf_lines(quads, tfmt).toLocalIterator():
            print(r["line"])
    return 0


def cmd_query(args) -> int:
    """Offline SPARQL over local files (the oxigraph-CLI `query` shape):
    load data, run one query, print results in the chosen format."""
    from pyspark.sql import functions as F

    from .plans.translator import GraphResult
    from .results import serializers as S
    from .sources.formats import format_from_name, serialize_rdf_lines
    from .store import GraphStore
    from .terms import TERM_DDL

    if args.query_file:
        query = open(args.query_file, encoding="utf-8").read()
    elif args.query:
        query = args.query
    else:
        query = sys.stdin.read()

    spark = _spark("rdf-fusion-spark-query")
    if args.relational:
        from .sources.virtual import VirtualRelationalStore
        store = VirtualRelationalStore(spark, args.relational)
    else:
        store = GraphStore.empty(spark)
    for path in args.data or []:
        loaded = GraphStore.load(spark, path, args.format)
        store = GraphStore(spark, store.quads.unionByName(loaded.quads))
    res = store.query(query)

    if args.explain:
        ex = res.explanation()
        print("== optimized logical plan ==")
        print(ex.optimized_logical_plan)
        print("== physical plan ==")
        print(ex.physical_plan)
        if ex.split_union_guard_breaches:
            print("== split-union guard breaches ==")
            for b in ex.split_union_guard_breaches:
                print(b)
        nl = ex.nested_loop_joins()
        print(f"nested-loop operators: {nl or 'none'}")
        return 0

    if isinstance(res, GraphResult):
        rfmt = format_from_name(args.results_format or "nt")
        if rfmt is None:
            print(f"unknown RDF output format {args.results_format!r} "
                  "for CONSTRUCT/DESCRIBE", file=sys.stderr)
            return 2
        quads = res.df.withColumn("graph", F.lit(None).cast(TERM_DDL)) \
            .select("graph", "subject", "predicate", "object")
        # streamed, as in `convert`: bounded driver memory for any size
        for r in serialize_rdf_lines(quads, rfmt).toLocalIterator():
            print(r["line"])
        return 0
    fmt = (args.results_format or "json").lower()
    ser = {"json": S.to_json, "xml": S.to_xml,
           "csv": S.to_csv, "tsv": S.to_tsv}.get(fmt)
    if ser is None:
        print(f"unknown results format {fmt!r} (json/xml/csv/tsv)",
              file=sys.stderr)
        return 2
    print(ser(res))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(
        prog="rdf-fusion-spark",
        description="RDF Fusion on Spark: SPARQL server and RDF toolkit")
    sub = ap.add_subparsers(dest="command", required=True)

    sv = sub.add_parser("serve", help="start the SPARQL HTTP server")
    sv.add_argument("--bind", default="0.0.0.0:7878")
    sv.add_argument("--load", action="append", metavar="FILE",
                    help="RDF file(s) to load at startup (repeatable)")
    sv.add_argument("--format", help="format of --load files (default: guess)")
    sv.add_argument("--relational", metavar="DIR",
                    help="serve the virtual relational store over DIR")
    sv.add_argument("--union-default-graph", action="store_true")
    sv.set_defaults(fn=cmd_serve)

    qp = sub.add_parser("query", help="run a SPARQL query over local files")
    qp.add_argument("-q", "--query", help="query text (default: stdin)")
    qp.add_argument("--query-file", help="file containing the query")
    qp.add_argument("--data", action="append", metavar="FILE",
                    help="RDF file(s) to query (repeatable)")
    qp.add_argument("--format", help="format of --data files (default: guess)")
    qp.add_argument("--relational", metavar="DIR",
                    help="query the virtual relational store over DIR")
    qp.add_argument("--results-format",
                    help="json/xml/csv/tsv for SELECT/ASK; an RDF format "
                         "for CONSTRUCT/DESCRIBE (default nt)")
    qp.add_argument("--explain", action="store_true",
                    help="print the query's plan explanation instead of "
                         "executing it")
    qp.set_defaults(fn=cmd_query)

    cv = sub.add_parser("convert", help="convert between RDF serializations")
    cv.add_argument("-f", "--from-file")
    cv.add_argument("-t", "--to-file")
    cv.add_argument("--from-format")
    cv.add_argument("--to-format")
    cv.add_argument("--base", help="base IRI for parsing")
    cv.set_defaults(fn=cmd_convert)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
