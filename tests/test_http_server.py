"""SPARQL Protocol endpoint smoke tests (VERDICT r2 #7): query over HTTP
with content negotiation, data upload, and protocol dataset parameters."""

import json
import urllib.parse
import urllib.request

import pytest


@pytest.fixture(scope="module")
def endpoint(spark, spiderman):
    from rdf_fusion_spark.web import SparqlHttpServer
    server = SparqlHttpServer(spiderman, "127.0.0.1", 0)
    server.start_background()
    yield server
    server.stop()


def _get(server, path, accept=None):
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}{path}",
        headers={"Accept": accept} if accept else {})
    with urllib.request.urlopen(req) as r:
        return r.status, r.headers.get_content_type(), r.read().decode()


def _post(server, path, body, ctype):
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}{path}", data=body.encode(),
        headers={"Content-Type": ctype}, method="POST")
    with urllib.request.urlopen(req) as r:
        return r.status, r.headers.get_content_type(), r.read().decode()


Q_NAMES = "SELECT ?name WHERE { ?s <http://xmlns.com/foaf/0.1/name> ?name }"


def test_select_get_json(endpoint):
    status, ctype, body = _get(
        endpoint, "/query?query=" + urllib.parse.quote(Q_NAMES))
    assert status == 200 and ctype == "application/sparql-results+json"
    doc = json.loads(body)
    assert doc["head"]["vars"] == ["name"]
    names = {b["name"]["value"] for b in doc["results"]["bindings"]}
    assert names == {"Spiderman", "Green Goblin", "Человек-паук"}


def test_select_content_negotiation(endpoint):
    q = "/query?query=" + urllib.parse.quote(Q_NAMES)
    for accept, want in [("application/sparql-results+xml",
                          "application/sparql-results+xml"),
                         ("text/csv", "text/csv"),
                         ("text/tab-separated-values",
                          "text/tab-separated-values")]:
        status, ctype, body = _get(endpoint, q, accept)
        assert status == 200 and ctype == want and body


def test_ask_post_raw(endpoint):
    status, _, body = _post(
        endpoint, "/query",
        "ASK { <http://example.org/spiderman> ?p ?o }",
        "application/sparql-query")
    assert status == 200 and json.loads(body)["boolean"] is True


def test_select_post_form(endpoint):
    status, _, body = _post(
        endpoint, "/query",
        urllib.parse.urlencode({"query": Q_NAMES}),
        "application/x-www-form-urlencoded")
    assert status == 200
    assert len(json.loads(body)["results"]["bindings"]) == 3


def test_construct_negotiated_turtle(endpoint):
    q = ("CONSTRUCT { ?s ?p ?o } WHERE { ?s ?p ?o . "
         "FILTER(isIRI(?o)) }")
    status, ctype, body = _get(
        endpoint, "/query?query=" + urllib.parse.quote(q), "text/turtle")
    assert status == 200 and ctype == "text/turtle"
    # the Turtle writer prefix-compresses IRIs — parse, don't grep
    from rdf_fusion_spark.sources.turtle import parse_turtle
    subjects = {str(s) for s, _, _ in parse_turtle(body)}
    assert "<http://example.org/spiderman>" in subjects


def test_query_error_is_400(endpoint):
    try:
        _get(endpoint, "/query?query=" + urllib.parse.quote("SELECT ?x WHERE"))
        assert False, "expected HTTPError"
    except urllib.error.HTTPError as e:
        assert e.code == 400


def test_evaluation_error_is_500_without_traceback(endpoint):
    """A query that fails while its result is produced gets a 500 naming
    the error; the Python traceback stays in the server log."""
    from pyspark.sql import functions as F

    from rdf_fusion_spark.functions import registry
    from rdf_fusion_spark.functions import typed_ops as tv
    iri = "http://example.org/fn/fail"
    registry.register(iri, lambda args: tv.string_term(
        F.raise_error(F.concat(F.lit("boom "), args[0]["v"])).cast("string")))
    q = ("SELECT (<%s>(?name) AS ?v) WHERE "
         "{ ?s <http://xmlns.com/foaf/0.1/name> ?name }" % iri)
    try:
        _get(endpoint, "/query?query=" + urllib.parse.quote(q))
        assert False, "expected HTTPError"
    except urllib.error.HTTPError as e:
        body = e.read().decode()
        assert e.code == 500
        assert body.startswith("evaluation error: "), body
        assert "boom" in body
        assert "Traceback" not in body and 'File "' not in body, body
    finally:
        registry.unregister(iri)


def test_internal_failure_is_500_not_query_error(endpoint):
    """A failure inside the engine while a well-formed query is compiled
    is not the client's fault: 500 with the error's type and first line,
    no traceback and no plan text."""
    from rdf_fusion_spark.functions import registry
    iri = "http://example.org/fn/divzero"
    registry.register(iri, lambda args: 1 / 0)
    q = ("SELECT (<%s>(?name) AS ?v) WHERE "
         "{ ?s <http://xmlns.com/foaf/0.1/name> ?name }" % iri)
    try:
        _get(endpoint, "/query?query=" + urllib.parse.quote(q))
        assert False, "expected HTTPError"
    except urllib.error.HTTPError as e:
        body = e.read().decode()
        assert e.code == 500
        assert body == "evaluation error: ZeroDivisionError: division by zero"
    finally:
        registry.unregister(iri)


def test_concurrent_requests_match_sequential(spark):
    """Requests compile on their own server threads at the same time:
    every body equals the one the same query gets when sent alone."""
    import threading

    from rdf_fusion_spark import GraphStore, Literal, NamedNode
    from rdf_fusion_spark.web import SparqlHttpServer

    ex, xsd = "http://example.org/", "http://www.w3.org/2001/XMLSchema#"
    quads = []
    for i in range(20):
        s = NamedNode(f"{ex}s{i}")
        quads += [
            (None, s, NamedNode(ex + "n"), Literal(str(i), xsd + "integer")),
            (None, s, NamedNode(ex + "g"), Literal(f"g{i % 3}")),
        ]
    pre = "PREFIX ex: <http://example.org/> "
    queries = [pre + q for q in (
        "SELECT ?s ?m WHERE { ?s ex:n ?n BIND(?n * 2 + 1 AS ?m) }",
        "SELECT ?s WHERE { ?s ex:n ?n FILTER(?n * 2 > 10) }",
        "SELECT ?g (SUM(?n * 2) AS ?t) WHERE { ?s ex:g ?g ; ex:n ?n } "
        "GROUP BY ?g ORDER BY ?g",
        "SELECT ?s ?n WHERE { ?s ex:n ?n } ORDER BY DESC(?n * 3 + 1) LIMIT 7",
    )]
    server = SparqlHttpServer(GraphStore.from_python_quads(spark, quads)
                              .cached(), "127.0.0.1", 0)
    server.start_background()

    def fetch(q):
        try:
            return _get(server, "/query?query=" + urllib.parse.quote(q))[2]
        except urllib.error.HTTPError as e:
            return f"{e.code} {e.read().decode()[:200]}"

    try:
        alone = [fetch(q) for q in queries]
        assert all(b.startswith("{") for b in alone), alone
        got = [[] for _ in range(4)]
        start = threading.Barrier(4)

        def client(k):
            start.wait()
            for j in range(4):  # client k starts at query k: all overlap
                i = (k + j) % 4
                got[k].append((i, fetch(queries[i])))

        threads = [threading.Thread(target=client, args=(k,))
                   for k in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(300)
        wrong = [(i, body) for per in got for i, body in per
                 if body != alone[i]]
        assert sum(map(len, got)) == 16
        assert not wrong, f"{len(wrong)} of 16 differ, first: {wrong[0]}"
    finally:
        server.stop()


def test_data_upload_and_dataset_params(endpoint):
    # upload into a named graph, then query it via named-graph-uri
    status, _, body = _post(
        endpoint, "/store?graph=http://example.org/up",
        "<http://example.org/new> <http://example.org/p> \"42\" .",
        "application/n-triples")
    assert status == 201 and json.loads(body)["loaded"] == 1

    q = "SELECT ?o WHERE { GRAPH ?g { <http://example.org/new> ?p ?o } }"
    status, _, body = _get(
        endpoint, "/query?query=" + urllib.parse.quote(q))
    assert json.loads(body)["results"]["bindings"][0]["o"]["value"] == "42"

    # protocol dataset: FROM override via default-graph-uri
    q2 = "SELECT ?o WHERE { <http://example.org/new> ?p ?o }"
    url = ("/query?query=" + urllib.parse.quote(q2)
           + "&default-graph-uri=" + urllib.parse.quote("http://example.org/up"))
    status, _, body = _get(endpoint, url)
    assert len(json.loads(body)["results"]["bindings"]) == 1


def test_store_dump(endpoint):
    status, ctype, body = _get(endpoint, "/store",
                               "application/n-quads")
    assert status == 200 and ctype == "application/n-quads"
    assert "<http://xmlns.com/foaf/0.1/name>" in body


def test_service_root(endpoint):
    status, _, body = _get(endpoint, "/")
    assert status == 200 and json.loads(body)["endpoints"]["query"] == "/query"


def test_cli_convert_file_roundtrip(spark, tmp_path):
    """`convert` subcommand: ttl file → nq tree → parse back."""
    from rdf_fusion_spark.cli import main

    src = tmp_path / "in.ttl"
    src.write_text('@prefix ex: <http://x/> .\nex:a ex:p "v"@en, 4 .')
    out = str(tmp_path / "out_nq")
    rc = main(["convert", "-f", str(src), "-t", out, "--to-format", "nq"])
    assert rc == 0
    from rdf_fusion_spark.sources.ntriples import read_ntriples
    assert read_ntriples(spark, out).count() == 2


def test_service_description(endpoint):
    status, ctype, body = _get(endpoint, "/query", "text/turtle")
    assert status == 200 and ctype == "text/turtle"
    # prefix-compressed Turtle: the sd: namespace appears in @prefix
    assert "sparql-service-description#" in body
    # the endpoint IRI may be prefix-compressed too — parse, don't grep
    from rdf_fusion_spark.sources.turtle import parse_turtle
    triples = parse_turtle(body)
    assert len(triples) >= 9
    terms = {str(t) for tr in triples for t in tr}
    assert f"<http://127.0.0.1:{endpoint.port}/query>" in terms


def test_update_endpoint(spark):
    """SPARQL Protocol update operation on a dedicated store."""
    from rdf_fusion_spark import GraphStore
    from rdf_fusion_spark.web import SparqlHttpServer

    server = SparqlHttpServer(GraphStore.empty(spark), "127.0.0.1", 0)
    server.start_background()
    try:
        status, _, _ = _post(
            server, "/update",
            "INSERT DATA { <http://e/a> <http://e/p> 1 }",
            "application/sparql-update")
        assert status == 204
        status, _, _ = _post(
            server, "/update",
            urllib.parse.urlencode(
                {"update": "INSERT DATA { <http://e/a> <http://e/p> 2 }"}),
            "application/x-www-form-urlencoded")
        assert status == 204
        q = "SELECT ?o WHERE { <http://e/a> <http://e/p> ?o }"
        _, _, body = _get(server, "/query?query=" + urllib.parse.quote(q))
        vals = sorted(b["o"]["value"]
                      for b in json.loads(body)["results"]["bindings"])
        assert vals == ["1", "2"]
    finally:
        server.stop()


def test_cli_query_select_and_construct(spark, tmp_path):
    import io, json
    from contextlib import redirect_stdout
    from rdf_fusion_spark.cli import main
    data = tmp_path / "d.ttl"
    data.write_text(
        "@prefix : <http://example.org/> .\n"
        ':a :name "Alpha" . :b :name "Beta" .\n', encoding="utf-8")

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(["query", "--data", str(data),
                   "-q", "SELECT ?n WHERE { ?s <http://example.org/name> ?n } ORDER BY ?n"])
    assert rc == 0
    doc = json.loads(buf.getvalue())
    assert [b["n"]["value"] for b in doc["results"]["bindings"]] == \
        ["Alpha", "Beta"]

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(["query", "--data", str(data),
                   "-q", "ASK { <http://example.org/a> ?p ?o }"])
    assert rc == 0 and json.loads(buf.getvalue())["boolean"] is True

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(["query", "--data", str(data),
                   "-q", "CONSTRUCT { ?s <http://example.org/tag> \"x\" } "
                         "WHERE { ?s <http://example.org/name> ?n }"])
    assert rc == 0
    lines = [ln for ln in buf.getvalue().splitlines() if ln.strip()]
    assert len(lines) == 2 and all("<http://example.org/tag>" in ln
                                   for ln in lines)


def test_cli_query_explain(spark, tmp_path):
    import io
    from contextlib import redirect_stdout
    from rdf_fusion_spark.cli import main
    data = tmp_path / "e.ttl"
    data.write_text("@prefix : <http://example.org/> .\n:a :p :b .\n",
                    encoding="utf-8")
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(["query", "--data", str(data), "--explain",
                   "-q", "SELECT * WHERE { ?s ?p ?o }"])
    out = buf.getvalue()
    assert rc == 0
    assert "physical plan" in out and "nested-loop operators: none" in out
