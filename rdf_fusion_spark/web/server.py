"""SPARQL 1.1 Protocol + Graph Store Protocol HTTP server (stdlib only).

Routes (reference: lib/web/src/repositories/mod.rs — `/default/query` and
`/default/data`; both aliases served here):

    GET/POST  /query, /default/query   SPARQL Protocol query operation
    GET       /store, /default/data    dump the store (content-negotiated)
    POST      /store, /default/data    load RDF data into the store
    GET       /                        service description

Query content negotiation: SELECT/ASK → sparql-results JSON (default) /
XML / CSV / TSV; CONSTRUCT/DESCRIBE → N-Triples (default) / Turtle /
N-Quads / TriG / RDF-XML via the format registry.

The server holds ONE GraphStore; POST /store swaps it for a new store whose
quads are the union of old and uploaded data (localCheckpoint keeps lineage
flat across uploads). Queries run on Spark worker threads — the HTTP layer
is a thin driver-side shim, all heavy lifting stays in the cluster.

Requests are served concurrently, one thread each, and each query compiles
independently: the translator's compile scope (typed_ops.Interner) is per
thread. A query the client got wrong (syntax, or an expression that cannot
compile) is answered 400, an unsupported feature 501, and any other failure
500 with the error's type and first line only; its traceback stays in the
server log.
"""

from __future__ import annotations

import json
import logging
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Optional

from pyspark.sql import functions as F

from ..sparql.algebra import Dataset
from ..terms import TERM_TYPE, NamedNode

_log = logging.getLogger(__name__)

_RESULT_TYPES = (
    ("application/sparql-results+json", "json"),
    ("application/json", "json"),
    ("application/sparql-results+xml", "xml"),
    ("application/xml", "xml"),
    ("text/csv", "csv"),
    ("text/tab-separated-values", "tsv"),
)


def _accepted(accept_header: str, table) -> Optional[str]:
    """First supported media type in Accept order (q-values ignored beyond
    ordering — clients listing preferences in order work correctly)."""
    if not accept_header:
        return None
    for part in accept_header.split(","):
        mt = part.split(";")[0].strip().lower()
        for media, key in table:
            if mt == media:
                return key
        if mt == "*/*":
            return None  # caller default
    return None


class SparqlHttpServer:
    """Embeds a GraphStore behind the SPARQL Protocol."""

    def __init__(self, store, host: str = "127.0.0.1", port: int = 7878):
        self.store = store
        self.host = host
        self.port = port
        self._lock = threading.Lock()
        self._httpd: Optional[ThreadingHTTPServer] = None

    # -- store mutation (Graph Store Protocol POST) ------------------------

    def insert_quads(self, new_quads) -> int:
        from ..store import GraphStore
        with self._lock:
            n = new_quads.count()
            merged = self.store.quads.unionByName(new_quads) \
                .localCheckpoint(eager=True)
            store = GraphStore(self.store.spark, merged)
            store.union_default_graph = self.store.union_default_graph
            self.store = store
            return n

    # -- lifecycle ---------------------------------------------------------

    def make_handler(self):
        server = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def log_message(self, fmt, *args):  # quiet by default
                pass

            # ---- helpers
            def _send(self, code: int, body: bytes, ctype: str):
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _bad(self, msg: str, code: int = 400):
                self._send(code, msg.encode(), "text/plain; charset=utf-8")

            def _route(self):
                u = urllib.parse.urlsplit(self.path)
                params = urllib.parse.parse_qs(u.query)
                return u.path.rstrip("/") or "/", params

            def _dataset(self, params) -> Optional[Dataset]:
                dg = params.get("default-graph-uri", [])
                ng = params.get("named-graph-uri", [])
                if not dg and not ng:
                    return None
                return Dataset(default=[NamedNode(i) for i in dg],
                               named=[NamedNode(i) for i in ng])

            # ---- query operation
            def _evaluation_error(self, query: str, e: Exception):
                # the traceback (and a Spark error's plan text) names server
                # internals: log it, send the client the error's first line
                _log.exception("evaluation error for query %r", query)
                first = str(e).split("\n", 1)[0]
                return self._bad(
                    f"evaluation error: {type(e).__name__}: {first}", 500)

            def _run_query(self, query: str, params):
                from ..functions.builtins import SparqlCompileError
                from ..plans.translator import (AskResult, GraphResult,
                                                SelectResult)
                from ..results import serializers as S
                from ..sparql.parser import SparqlSyntaxError
                try:
                    res = server.store.query(query,
                                             dataset=self._dataset(params))
                except (SparqlSyntaxError, SparqlCompileError) as e:
                    return self._bad(f"query error: {e}")
                except NotImplementedError as e:
                    return self._bad(f"unsupported: {e}", 501)
                except Exception as e:
                    return self._evaluation_error(query, e)
                accept = self.headers.get("Accept", "")
                try:
                    if isinstance(res, (SelectResult, AskResult)):
                        key = _accepted(accept, _RESULT_TYPES) or "json"
                        if isinstance(res, AskResult) and key in ("csv", "tsv"):
                            key = "json"
                        body, ctype = {
                            "json": (lambda: (S.to_json(res),
                                     "application/sparql-results+json")),
                            "xml": (lambda: (S.to_xml(res),
                                    "application/sparql-results+xml")),
                            "csv": (lambda: (S.to_csv(res), "text/csv")),
                            "tsv": (lambda: (S.to_tsv(res),
                                    "text/tab-separated-values")),
                        }[key]()
                        return self._send(200, body.encode(),
                                          ctype + "; charset=utf-8")
                    assert isinstance(res, GraphResult)
                    body, ctype = server.serialize_graph(res.df, accept)
                    return self._send(200, body.encode(),
                                      ctype + "; charset=utf-8")
                except BrokenPipeError:
                    raise
                except Exception as e:
                    return self._evaluation_error(query, e)

            # ---- HTTP verbs
            def do_GET(self):
                path, params = self._route()
                if path in ("/query", "/default/query"):
                    q = params.get("query", [None])[0]
                    if q is None:
                        # SPARQL SD: dereferencing the endpoint IRI yields
                        # its service description (reference:
                        # lib/web/src/repositories/service_description.rs)
                        body, ctype = server.service_description(
                            self.headers.get("Accept", ""))
                        return self._send(200, body.encode(),
                                          ctype + "; charset=utf-8")
                    return self._run_query(q, params)
                if path in ("/store", "/default/data"):
                    accept = self.headers.get("Accept", "")
                    quads = server.store.quads
                    g = params.get("graph", [None])[0]
                    if g is not None:
                        quads = quads.where(F.col("graph")["v"] == g)
                    elif "default" in params:
                        quads = quads.where(F.col("graph").isNull())
                    body, ctype = server.serialize_graph(quads, accept,
                                                         graphs=True)
                    return self._send(200, body.encode(),
                                      ctype + "; charset=utf-8")
                if path == "/":
                    # no store scan per index hit: report the quad count
                    # only when it is already known (cached by a prior
                    # len()); a cold store reports null rather than
                    # triggering a full count job on every GET /
                    body = json.dumps({
                        "service": "rdf_fusion_spark SPARQL endpoint",
                        "endpoints": {"query": "/query", "data": "/store"},
                        "quads": getattr(server.store, "_cached_len", None),
                    })
                    return self._send(200, body.encode(), "application/json")
                return self._bad("not found", 404)

            def do_POST(self):
                path, params = self._route()
                length = int(self.headers.get("Content-Length", "0"))
                body = self.rfile.read(length).decode("utf-8")
                ctype = (self.headers.get("Content-Type") or "") \
                    .split(";")[0].strip().lower()
                if path in ("/query", "/default/query"):
                    if ctype == "application/x-www-form-urlencoded":
                        form = urllib.parse.parse_qs(body)
                        form.update(params)
                        q = form.get("query", [None])[0]
                        if q is None:
                            return self._bad("missing 'query' parameter")
                        return self._run_query(q, form)
                    if ctype in ("application/sparql-query", ""):
                        return self._run_query(body, params)
                    return self._bad(f"unsupported content type {ctype}", 415)
                if path in ("/update", "/default/update"):
                    if ctype == "application/x-www-form-urlencoded":
                        form = urllib.parse.parse_qs(body)
                        upd = form.get("update", [None])[0]
                    elif ctype in ("application/sparql-update", ""):
                        upd = body
                    else:
                        return self._bad(
                            f"unsupported content type {ctype}", 415)
                    if not upd:
                        return self._bad("missing 'update' parameter")
                    try:
                        with server._lock:
                            server.store.update(upd)
                    except Exception as e:
                        return self._bad(f"update error: {e}")
                    return self._send(204, b"", "text/plain")
                if path in ("/store", "/default/data"):
                    from ..sources.formats import format_from_name, parse_rdf
                    fmt = format_from_name(ctype or "application/n-quads")
                    if fmt is None:
                        return self._bad(
                            f"unsupported RDF content type {ctype}", 415)
                    try:
                        quads = parse_rdf(server.store.spark, body, fmt)
                    except Exception as e:
                        return self._bad(f"parse error: {e}")
                    g = params.get("graph", [None])[0]
                    if g is not None:
                        from ..terms import term_lit
                        quads = quads.withColumn("graph",
                                                 term_lit(NamedNode(g)).col)
                    n = server.insert_quads(quads)
                    return self._send(201, json.dumps({"loaded": n}).encode(),
                                      "application/json")
                return self._bad("not found", 404)

        return Handler

    def service_description(self, accept: str):
        """SPARQL 1.1 Service Description document (sd: vocabulary),
        content-negotiated through the RDF format registry."""
        from ..results.serializers import collect_lines
        from ..sources.formats import serialize_rdf_lines, FORMATS, NTRIPLES, format_from_name
        from ..store import GraphStore
        from ..terms import NamedNode, BlankNode

        SD = "http://www.w3.org/ns/sparql-service-description#"
        FMT = "http://www.w3.org/ns/formats/"
        svc = BlankNode("service")
        endpoint = NamedNode(f"http://{self.host}:{self.port}/query")
        t = [
            (svc, NamedNode("http://www.w3.org/1999/02/22-rdf-syntax-ns#type"),
             NamedNode(SD + "Service")),
            (svc, NamedNode(SD + "endpoint"), endpoint),
            (svc, NamedNode(SD + "supportedLanguage"),
             NamedNode(SD + "SPARQL11Query")),
            (svc, NamedNode(SD + "resultFormat"),
             NamedNode(FMT + "SPARQL_Results_JSON")),
            (svc, NamedNode(SD + "resultFormat"),
             NamedNode(FMT + "SPARQL_Results_XML")),
            (svc, NamedNode(SD + "resultFormat"),
             NamedNode(FMT + "SPARQL_Results_CSV")),
            (svc, NamedNode(SD + "resultFormat"),
             NamedNode(FMT + "SPARQL_Results_TSV")),
            (svc, NamedNode(SD + "resultFormat"), NamedNode(FMT + "N-Triples")),
            (svc, NamedNode(SD + "resultFormat"), NamedNode(FMT + "Turtle")),
            # N3 parity: lib/web/src/repositories/service_description.rs:114
            (svc, NamedNode(SD + "resultFormat"), NamedNode(FMT + "N3")),
        ]
        if getattr(self.store, "union_default_graph", False):
            t.append((svc, NamedNode(SD + "feature"),
                      NamedNode(SD + "UnionDefaultGraph")))
        quads = GraphStore.from_python_quads(
            self.store.spark, [(None, s, p, o) for s, p, o in t]).quads
        table = [(m, f.name) for f in FORMATS for m in f.media_types]
        key = _accepted(accept, table) or "turtle"
        fmt = format_from_name(key)
        text = "\n".join(collect_lines(serialize_rdf_lines(quads, fmt)))
        return text + "\n", fmt.media_type

    def serialize_graph(self, df, accept: str, graphs: bool = False):
        """Triples/quads DataFrame → (document text, media type)."""
        from ..results.serializers import collect_lines
        from ..sources.formats import (FORMATS, NQUADS, NTRIPLES,
                                       format_from_name, serialize_rdf_lines)
        table = [(m, f.name) for f in FORMATS for m in f.media_types]
        key = _accepted(accept, table) or (NQUADS.name if graphs
                                           else NTRIPLES.name)
        fmt = format_from_name(key)
        if "graph" not in df.columns:
            df = df.withColumn("graph", F.lit(None).cast(TERM_TYPE))
        text = "\n".join(collect_lines(serialize_rdf_lines(df, fmt)))
        return (text + "\n" if text else ""), fmt.media_type

    def start(self) -> ThreadingHTTPServer:
        self._httpd = ThreadingHTTPServer((self.host, self.port),
                                          self.make_handler())
        self.port = self._httpd.server_address[1]  # resolve port 0
        return self._httpd

    def serve_forever(self):
        httpd = self.start()
        try:
            httpd.serve_forever()
        except KeyboardInterrupt:
            pass
        finally:
            httpd.server_close()

    def start_background(self) -> threading.Thread:
        httpd = self.start()
        t = threading.Thread(target=httpd.serve_forever, daemon=True)
        t.start()
        return t

    def stop(self):
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None
