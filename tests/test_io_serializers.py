"""N-Triples I/O round-trip + SPARQL result serializers."""

import json

import pytest

from rdf_fusion_spark import GraphStore
from rdf_fusion_spark.results import serializers as S
from rdf_fusion_spark.sources.ntriples import quads_to_lines, read_ntriples

NT = """\
<http://e.org/s> <http://e.org/p> <http://e.org/o> .
# a comment line

<http://e.org/s> <http://e.org/name> "Spider\\"man\\nhero" .
<http://e.org/s> <http://e.org/name> "Человек-паук"@ru .
<http://e.org/s> <http://e.org/age> "42"^^<http://www.w3.org/2001/XMLSchema#integer> .
_:b0 <http://e.org/p> "" .
<http://e.org/s> <http://e.org/p> <http://e.org/o2> <http://e.org/g1> .
"""


@pytest.fixture(scope="module")
def nt_file(tmp_path_factory):
    p = tmp_path_factory.mktemp("nt") / "data.nt"
    p.write_text(NT, encoding="utf-8")
    return str(p)


def test_read_ntriples(spark, nt_file):
    df = read_ntriples(spark, nt_file)
    rows = df.collect()
    assert len(rows) == 6
    by_pred = {}
    for r in rows:
        by_pred.setdefault(r["predicate"]["v"], []).append(r)
    names = sorted(r["object"]["v"] for r in by_pred["http://e.org/name"])
    assert names == ['Spider"man\nhero', "Человек-паук"]
    lang = [r["object"]["lang"] for r in by_pred["http://e.org/name"]]
    assert "ru" in lang
    age = by_pred["http://e.org/age"][0]["object"]
    assert age["dt"].endswith("integer") and age["v"] == "42"
    graphs = [r["graph"]["v"] for r in rows if r["graph"] is not None]
    assert graphs == ["http://e.org/g1"]
    bn = [r for r in rows if r["subject"]["t"] == 1]
    assert bn and bn[0]["object"]["v"] == ""


def test_ntriples_roundtrip(spark, nt_file):
    df = read_ntriples(spark, nt_file)
    lines = quads_to_lines(df)
    reparsed = read_ntriples(
        spark, nt_file)  # baseline
    df2 = lines.select(lines["line"].alias("value"))
    # write/read through text: reuse the parser on the serialized lines
    tmp = spark.createDataFrame([(r["line"],) for r in lines.collect()],
                                "value string")
    import rdf_fusion_spark.sources.ntriples as N
    from pyspark.sql import functions as F
    parsed = tmp.where(F.regexp_like("value", F.lit(N.LINE_RE)))
    assert parsed.count() == reparsed.count() == 6


def test_query_and_serialize(spark, nt_file):
    store = GraphStore.from_ntriples(spark, nt_file)
    res = store.query("""
        SELECT ?p ?o WHERE { <http://e.org/s> ?p ?o } ORDER BY ?p ?o
    """)
    doc = json.loads(S.to_json(res))
    assert doc["head"]["vars"] == ["p", "o"]
    assert len(doc["results"]["bindings"]) == 4  # g1 quad not in default graph
    kinds = {b["o"]["type"] for b in doc["results"]["bindings"]}
    assert kinds == {"uri", "literal"}
    lit = [b["o"] for b in doc["results"]["bindings"]
           if b["o"].get("datatype", "").endswith("integer")]
    assert lit and lit[0]["value"] == "42"

    xml = S.to_xml(res)
    assert xml.count("<result>") == 4 and 'xml:lang="ru"' in xml

    csv = S.to_csv(res)
    assert csv.splitlines()[0] == "p,o"
    tsv = S.to_tsv(res)
    assert tsv.splitlines()[0] == "?p\t?o"
    assert '"42"^^<http://www.w3.org/2001/XMLSchema#integer>' in tsv

    ask = store.query("ASK { <http://e.org/s> <http://e.org/age> ?a }")
    assert json.loads(S.to_json(ask))["boolean"] is True

    jdf = S.bindings_json_df(res)
    lines = [json.loads(r["line"]) for r in jdf.collect()]
    assert len(lines) == 4 and all("p" in l for l in lines)


def test_predicate_partitioned_parquet(spark, spiderman, tmp_path):
    """save_parquet(partition_by_predicate=True) round-trips and constant-
    predicate scans prune partitions (PartitionFilters in the plan)."""
    from rdf_fusion_spark import GraphStore

    path = str(tmp_path / "pred_part")
    spiderman.save_parquet(path, partition_by_predicate=True)
    store = GraphStore.from_parquet(spark, path)
    assert store._pred_partitioned

    res = store.query(
        "SELECT ?n WHERE { ?s <http://xmlns.com/foaf/0.1/name> ?n }")
    vals = sorted(r["n"]["v"] for r in res.df.collect())
    assert vals == ["Green Goblin", "Spiderman", "Человек-паук"]

    plan = res.df._jdf.queryExecution().executedPlan().toString()
    import re
    assert re.search(
        r"PartitionFilters: \[[^\]]*pk#\d+ = http://xmlns.com/foaf/0.1/name",
        plan), plan


def test_union_default_graph_survives_parquet_roundtrip(spark, tmp_path):
    """A store built from the relational mapping keeps union-default-graph
    semantics across save_parquet/from_parquet (ADVICE r2)."""
    import os
    from rdf_fusion_spark import GraphStore

    sf_dir = os.environ.get("SPARK_GRAFT_SF_TEST",
                            "/root/testdata/sf0.001")
    store = GraphStore.from_relational(spark, sf_dir, tables=["region"])
    assert store.union_default_graph
    # default-graph pattern sees the per-table named-graph quads
    n = store.scan_pattern(None, None, None).count()
    assert n > 0

    path = str(tmp_path / "roundtrip_udg")
    store.save_parquet(path)
    back = GraphStore.from_parquet(spark, path)
    assert back.union_default_graph
    assert back.scan_pattern(None, None, None).count() == n


# ---------------------------------------------------------------------------
# TriG / RDF-XML readers + format registry (VERDICT r2 #8)
# ---------------------------------------------------------------------------

TRIG_DOC = """
@prefix ex: <http://example.org/> .
ex:a ex:p ex:b .
GRAPH ex:g1 { ex:c ex:p "v"@en ; ex:q 4 . }
ex:g2 { ex:d ex:p "x" }
"""


def _qset(df):
    out = set()
    for r in df.collect():
        out.add(tuple(None if t is None else (t["t"], t["v"], t["dt"], t["lang"])
                      for t in (r["graph"], r["subject"], r["predicate"],
                                r["object"])))
    return out


def test_trig_roundtrip(spark, tmp_path):
    from rdf_fusion_spark import GraphStore
    from rdf_fusion_spark.sources.trig import parse_trig

    quads = parse_trig(TRIG_DOC)
    assert len(quads) == 4
    graphs = {getattr(g, "iri", None) for g, *_ in quads}
    assert graphs == {None, "http://example.org/g1", "http://example.org/g2"}

    store = GraphStore.from_python_quads(spark, quads)
    # dump as line-parallel TriG, reload, compare quad sets
    p = str(tmp_path / "out_trig")
    store.dump(p, "trig")
    import glob
    text = "".join(open(f).read() for f in sorted(glob.glob(p + "/part-*")))
    back = GraphStore.from_python_quads(spark, parse_trig(text))
    assert _qset(back.quads) == _qset(store.quads)


def test_rdfxml_reader_and_writer(spark, tmp_path):
    from rdf_fusion_spark import GraphStore
    from rdf_fusion_spark.sources.rdfxml import parse_rdfxml

    xml_doc = """<?xml version="1.0"?>
    <rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
             xmlns:ex="http://example.org/">
      <ex:Person rdf:about="http://example.org/a">
        <ex:name xml:lang="en">Alice</ex:name>
        <ex:age rdf:datatype="http://www.w3.org/2001/XMLSchema#integer">3</ex:age>
        <ex:knows rdf:resource="http://example.org/b"/>
      </ex:Person>
    </rdf:RDF>"""
    triples = parse_rdfxml(xml_doc)
    assert len(triples) == 4  # type + 3 properties

    store = GraphStore.from_python_quads(
        spark, [(None, s, p, o) for s, p, o in triples])
    p = str(tmp_path / "out.rdf")
    store.dump(p, "rdfxml")
    import glob
    text = "".join(open(f).read() for f in sorted(glob.glob(p + "/part-*")))
    back = parse_rdfxml(text)
    assert sorted(map(repr, back)) == sorted(map(repr, triples))


def test_load_guesses_format(spark, tmp_path):
    from rdf_fusion_spark import GraphStore

    f = tmp_path / "g.trig"
    f.write_text(TRIG_DOC)
    store = GraphStore.load(spark, str(f))
    assert store.quads.count() == 4

    f2 = tmp_path / "g.ttl"
    f2.write_text("<http://e/a> <http://e/p> 1, 2 .")
    assert GraphStore.load(spark, str(f2)).quads.count() == 2


def test_bulk_directory_load(spark, tmp_path):
    """Distributed multi-file load: mixed formats, per-file bnode scoping."""
    from rdf_fusion_spark import GraphStore
    (tmp_path / "a.ttl").write_text(
        "@prefix : <http://example/> .\n"
        ":s1 :p _:b0 .\n_:b0 :q 1 .\n")
    (tmp_path / "b.ttl").write_text(
        "@prefix : <http://example/> .\n"
        ":s2 :p _:b0 .\n_:b0 :q 2 .\n")
    (tmp_path / "c.nt").write_text(
        "<http://example/s3> <http://example/p> \"lit\" .\n")
    st = GraphStore.load_dir(spark, str(tmp_path))
    assert len(st) == 5
    res = st.query("""
        PREFIX : <http://example/>
        SELECT ?s ?v WHERE { ?s :p ?b . ?b :q ?v }
    """)
    got = sorted((r["s"]["v"], r["v"]["v"]) for r in res.df.collect())
    # _:b0 in a.ttl and _:b0 in b.ttl are DIFFERENT nodes: s1 only
    # reaches 1, s2 only reaches 2
    assert got == [("http://example/s1", "1"), ("http://example/s2", "2")]


# escape-heavy content, expressed in both N-Triples and Turtle syntax —
# the PRODUCTION spark reader (read_ntriples) must produce terms
# byte-identical to the driver-side Turtle parser so sameTerm/joins work
# across load paths (round-4 ADVICE item: UCHAR + left-to-right ECHAR)
ESC_NT = (
    '<http://ex/\\u00e9> <http://ex/p> "caf\\u00e9 \\U0001F600" .\n'
    '<http://ex/s> <http://ex/p> "a\\\\nb" .\n'          # \\ then literal n
    '<http://ex/s> <http://ex/p> "tab\\there\\b\\f" .\n'
    '<http://ex/s> <http://ex/p> "x"^^<http://ex/\\u0064t> .\n'
)
ESC_TTL = (
    '<http://ex/\\u00e9> <http://ex/p> "caf\\u00e9 \\U0001F600" .\n'
    '<http://ex/s> <http://ex/p> "a\\\\nb" .\n'
    '<http://ex/s> <http://ex/p> "tab\\there\\b\\f" .\n'
    '<http://ex/s> <http://ex/p> "x"^^<http://ex/\\u0064t> .\n'
)


def test_ntriples_escapes_match_turtle_parser(spark, tmp_path):
    from rdf_fusion_spark.sources.turtle import parse_turtle
    from rdf_fusion_spark.terms import Literal, NamedNode

    p = tmp_path / "esc.nt"
    p.write_text(ESC_NT, encoding="utf-8")
    got = sorted(
        (r["subject"]["v"], r["object"]["v"], r["object"]["dt"])
        for r in read_ntriples(spark, str(p)).collect())
    exp = sorted(
        (s.iri, o.lexical, o.datatype)
        for s, _, o in parse_turtle(ESC_TTL)
        if isinstance(s, NamedNode) and isinstance(o, Literal))
    assert got == exp
    # spot-check actual decoded values (not just cross-parser agreement)
    values = [v for _, v, _ in got]
    assert "café \U0001F600" in values
    assert "a\\nb" in values          # escaped backslash + literal 'n'
    assert "tab\there\b\f" in values
    assert ("http://ex/s", "x", "http://ex/dt") in got
    assert any(s == "http://ex/é" for s, _, _ in got)


def test_ntriples_strict_rejects_bad_escape(spark, tmp_path):
    p = tmp_path / "bad.nt"
    p.write_text('<http://ex/s> <http://ex/p> "bad\\z" .\n', encoding="utf-8")
    with pytest.raises(Exception, match="malformed"):
        read_ntriples(spark, str(p)).collect()


def test_turtle_writer_roundtrip(spark, tmp_path):
    """dump('x.ttl') emits prefix-compressed subject-grouped Turtle that
    the repo's own conformance-tested reader parses back to the same
    graph (round-4 verdict #5)."""
    import glob

    from rdf_fusion_spark import GraphStore
    from rdf_fusion_spark.sources.turtle import parse_turtle

    nt = (
        '<http://ex.org/s1> '
        '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type> '
        '<http://ex.org/Widget> .\n'
        '<http://ex.org/s1> <http://ex.org/name> "First \\"one\\"\\n" .\n'
        '<http://ex.org/s1> <http://ex.org/val> '
        '"42"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
        '<http://ex.org/s1> <http://ex.org/rel> <http://ex.org/s2> .\n'
        '<http://ex.org/s1> <http://ex.org/rel> <http://ex.org/s3> .\n'
        '<http://ex.org/s2> <http://ex.org/name> "Zweite"@de .\n'
        '_:b0 <http://ex.org/name> "anon" .\n'
        '<http://odd.example/a/b.c> <http://ex.org/name> "odd local" .\n'
    )
    src = tmp_path / "in.nt"
    src.write_text(nt, encoding="utf-8")
    st = GraphStore.load(spark, str(src))
    out = str(tmp_path / "out.ttl")
    st.dump(out, "turtle")

    text = "".join(open(f, encoding="utf-8").read()
                   for f in sorted(glob.glob(out + "/part-*")))
    assert "@prefix ns" in text          # prefix compression happened
    assert " a " in text                 # rdf:type shorthand
    assert " ; " in text                 # predicate grouping
    assert ", " in text                  # object-list grouping
    assert "<http://odd.example/a/b.c>" in text  # non-PN_LOCAL stays <>

    back = parse_turtle(text)
    def key(t):
        s, p, o = t
        return (str(s).replace(str(s), "B") if s.__class__.__name__ ==
                "BlankNode" else str(s), str(p), str(o))
    orig = parse_turtle("".join(
        line + "\n" for line in nt.splitlines()))
    assert sorted(map(key, back)) == sorted(map(key, orig))


def test_cli_convert_ttl_and_rdf(spark, tmp_path):
    """CLI convert accepts .ttl and .rdf targets end to end."""
    from rdf_fusion_spark.sources.formats import (format_from_path, read_rdf,
                                                  write_rdf)
    nt = ('<http://ex.org/s> <http://ex.org/p> "v" .\n'
          '<http://ex.org/s> '
          '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type> '
          '<http://ex.org/T> .\n')
    src = tmp_path / "in.nt"
    src.write_text(nt, encoding="utf-8")
    quads = read_rdf(spark, str(src))
    for ext in ("ttl", "rdf"):
        out = str(tmp_path / f"out.{ext}")
        assert format_from_path(out) is not None
        write_rdf(quads, out)
        back = read_rdf(spark, out)
        got = sorted((r.subject.v, r.predicate.v, r.object.v)
                     for r in back.collect())
        exp = sorted((r.subject.v, r.predicate.v, r.object.v)
                     for r in quads.collect())
        assert got == exp, ext


def test_turtle_writer_fuzz_roundtrip(spark, tmp_path):
    """Seeded random terms — quotes, newlines, tabs, backslashes,
    astral-plane unicode, language tags, numeric datatypes — survive a
    full dump('x.ttl') → reader round trip."""
    import random

    from rdf_fusion_spark import GraphStore, Literal, NamedNode
    from rdf_fusion_spark.sources.turtle import parse_turtle
    from rdf_fusion_spark.sources.docio import read_doc

    rng = random.Random(20260814)
    payloads = ['plain', 'quo"te', "line\nbreak", "tab\there",
                "back\\slash", "astral \U0001F600 plane", "ünïcode",
                "  leading spaces", 'both "q" and \\n mix\n']
    XSD = "http://www.w3.org/2001/XMLSchema#"
    quads = []
    for i in range(60):
        s = NamedNode(f"http://fuzz.example/s{rng.randrange(10)}")
        p = NamedNode(f"http://fuzz.example/p{rng.randrange(5)}")
        kind = rng.randrange(4)
        if kind == 0:
            o = NamedNode(f"http://fuzz.example/o{i}")
        elif kind == 1:
            o = Literal(rng.choice(payloads))
        elif kind == 2:
            o = Literal(rng.choice(payloads), language=rng.choice(["en", "de-AT"]))
        else:
            o = Literal(str(rng.randrange(-50, 50)), datatype=XSD + "integer")
        quads.append((None, s, p, o))
    st = GraphStore.from_python_quads(spark, quads)
    out = str(tmp_path / "fuzz.ttl")
    st.dump(out, "turtle")
    back = set(parse_turtle(read_doc(out)))
    orig = {(s, p, o) for _, s, p, o in quads}
    assert back == orig


def test_n3_reader_roundtrip_and_rejection(spark, tmp_path):
    """N3 protocol parity (content_negotiation.rs:28): the
    Turtle-expressible subset round-trips; N3-only constructs raise a
    clear NotImplementedError instead of a parse failure."""
    from rdf_fusion_spark.sources.formats import (
        N3, format_from_name, parse_rdf, serialize_rdf_lines)

    assert format_from_name("text/n3") is N3
    assert format_from_name("n3") is N3

    doc = """
    @prefix ex: <http://example.org/> .
    ex:a ex:knows ex:b ;
         a ex:Person ;
         ex:label "says \\"{ not a formula }\\" and a => in a string" .
    """
    quads = parse_rdf(spark, doc, N3)
    assert quads.count() == 3

    # writer: Turtle serialization IS valid N3 — re-parse what we emit
    text = "\n".join(
        r["line"] for r in serialize_rdf_lines(quads, N3).collect())
    again = parse_rdf(spark, text, N3)
    assert again.count() == 3

    # file path dispatch by .n3 extension
    p = tmp_path / "data.n3"
    p.write_text(doc, encoding="utf-8")
    store = GraphStore.load(spark, str(p))
    assert store.quads.count() == 3

    for bad, what in [
        ("{ <s> <p> <o> } => { <s> <q> <o> } .", "implication"),
        ("@forAll <x> .", "forAll"),
        ("<a> = <b> .", "equality"),
    ]:
        with pytest.raises(NotImplementedError):
            parse_rdf(spark, bad, N3)


def test_document_serializers_render_lazy_virtual_literals(spark):
    """Raw double/dateTime columns of a virtual-store scan reach the
    result with a lazy lexical (v=NULL): every document serializer must
    rebuild it, agreeing with term_to_python, and the distributed line
    serializer must render a value too."""
    import csv
    import io
    import xml.etree.ElementTree as ET

    from rdf_fusion_spark.entry_queries import PROLOGUE
    from rdf_fusion_spark.sources.virtual import VirtualRelationalStore
    from rdf_fusion_spark.terms import Literal, term_to_python

    st = VirtualRelationalStore(spark, "/root/testdata/sf0.001")
    res = st.query(PROLOGUE + """
        SELECT ?li ?qty ?price ?sd WHERE {
          ?li l:l_quantity ?qty ; l:l_extendedprice ?price ;
              l:l_shipdate ?sd .
        } ORDER BY ?li LIMIT 5""")
    vs = ["qty", "price", "sd"]
    rows = res.df.collect()
    assert len(rows) == 5
    assert any(r[v]["v"] is None for r in rows for v in vs)  # really lazy
    want = [{v: term_to_python(r[v]) for v in vs} for r in rows]
    assert all(isinstance(w[v], Literal) and w[v].lexical is not None
               for w in want for v in vs)

    js = json.loads(S.to_json(res))["results"]["bindings"]
    assert [{v: b[v]["value"] for v in vs} for b in js] == \
        [{v: w[v].lexical for v in vs} for w in want]
    assert [{v: b[v]["datatype"] for v in vs} for b in js] == \
        [{v: w[v].datatype for v in vs} for w in want]

    ns = "{http://www.w3.org/2005/sparql-results#}"
    xml_rows = ET.fromstring(S.to_xml(res)).iter(ns + "result")
    got_xml = [{b.get("name"): b.find(ns + "literal").text
                for b in r.iter(ns + "binding") if b.get("name") in vs}
               for r in xml_rows]
    assert got_xml == [{v: w[v].lexical for v in vs} for w in want]

    got_csv = list(csv.DictReader(io.StringIO(S.to_csv(res))))
    assert [{v: r[v] for v in vs} for r in got_csv] == \
        [{v: w[v].lexical for v in vs} for w in want]

    tsv = S.to_tsv(res).splitlines()
    head = [h.lstrip("?") for h in tsv[0].split("\t")]
    got_tsv = [dict(zip(head, line.split("\t"))) for line in tsv[1:]]
    assert [{v: r[v] for v in vs} for r in got_tsv] == \
        [{v: str(w[v]) for v in vs} for w in want]

    lines = [json.loads(r["line"])
             for r in S.bindings_json_df(res).collect()]
    assert all(isinstance(b[v]["value"], str) for b in lines for v in vs)

    for fmt, (new, oracle) in sorted(_ORACLES.items()):
        assert new(res) == oracle(res), fmt  # byte parity, lazy lexicals


def test_graph_serializers_render_lazy_virtual_literals(spark):
    """CONSTRUCT over raw virtual-store decimal/double/dateTime columns:
    the objects reach the graph with a lazy lexical (v=NULL), and every
    RDF line format must still render each object as STR() does."""
    from pyspark.sql import functions as F

    from rdf_fusion_spark.entry_queries import PROLOGUE
    from rdf_fusion_spark.sources.formats import (
        NQUADS, NTRIPLES, RDFXML, TRIG, TURTLE, serialize_rdf_lines)
    from rdf_fusion_spark.sources.rdfxml import parse_rdfxml
    from rdf_fusion_spark.sources.trig import parse_trig
    from rdf_fusion_spark.sources.turtle import parse_turtle
    from rdf_fusion_spark.sources.virtual import VirtualRelationalStore
    from rdf_fusion_spark.terms import TERM_TYPE

    st = VirtualRelationalStore(spark, "/root/testdata/sf0.001")
    where = """WHERE { { SELECT * WHERE {
        ?li l:l_quantity ?q ; l:l_extendedprice ?p ; l:l_shipdate ?d
    } ORDER BY ?li LIMIT 40 } }"""
    want = {}
    for r in st.query(PROLOGUE + """
            SELECT ?li (STR(?q) AS ?qs) (STR(?p) AS ?ps) (STR(?d) AS ?ds)
                   (DATATYPE(?q) AS ?qt) (DATATYPE(?p) AS ?pt)
                   (DATATYPE(?d) AS ?dt) """ + where).df.collect():
        for v in "qpd":
            want[(r["li"]["v"], "urn:" + v)] = (r[v + "s"]["v"],
                                                r[v + "t"]["v"])
    assert len(want) == 120
    graph = st.query(PROLOGUE + "CONSTRUCT { ?li <urn:q> ?q ; <urn:p> ?p ;"
                     " <urn:d> ?d } " + where).df
    graph = graph.withColumn("graph", F.lit(None).cast(TERM_TYPE))
    assert any(r["object"]["v"] is None
               for r in graph.collect())  # really lazy

    parsers = {
        NTRIPLES: parse_turtle,  # N-Triples is a subset of Turtle
        NQUADS: parse_turtle,  # default-graph N-Quads lines are N-Triples
        TURTLE: parse_turtle,
        TRIG: lambda text: [q[1:] for q in parse_trig(text)],
        RDFXML: parse_rdfxml,
    }
    for fmt, parse in parsers.items():
        lines = S.collect_lines(serialize_rdf_lines(graph, fmt))
        assert None not in lines, fmt.name
        got = {(s.iri, p.iri): (o.lexical, o.datatype)
               for s, p, o in parse("\n".join(lines))}
        assert got == want, fmt.name


# ---------------------------------------------------------------------------
# Arrow-collected document serializers: byte parity with the Row renderers
# ---------------------------------------------------------------------------

def _oracle_binding_obj(val):
    from rdf_fusion_spark.terms import (TT_BNODE, TT_IRI, XSD_STRING,
                                        rebuild_lexical)
    if val is None:
        return None
    t, v, dt, lang = val["t"], val["v"], val["dt"], val["lang"]
    if v is None:
        v = rebuild_lexical(val)
    if t == TT_IRI:
        return {"type": "uri", "value": v}
    if t == TT_BNODE:
        return {"type": "bnode", "value": v}
    out = {"type": "literal", "value": v}
    if lang:
        out["xml:lang"] = lang
    elif dt and dt != XSD_STRING:
        out["datatype"] = dt
    return out


def _oracle_json(res):
    bindings = []
    for row in res.df.toLocalIterator():
        b = {}
        for v in res.variables:
            obj = _oracle_binding_obj(row[v])
            if obj is not None:
                b[v] = obj
        bindings.append(b)
    return json.dumps({"head": {"vars": list(res.variables)},
                       "results": {"bindings": bindings}})


def _oracle_xml(res):
    from xml.sax.saxutils import escape as xml_escape

    from rdf_fusion_spark.terms import (TT_BNODE, TT_IRI, XSD_STRING,
                                        rebuild_lexical)
    parts = ['<?xml version="1.0"?>\n<sparql xmlns="http://www.w3.org/'
             '2005/sparql-results#">', "<head>"]
    for v in res.variables:
        parts.append(f'<variable name="{xml_escape(v)}"/>')
    parts.append("</head><results>")
    for row in res.df.toLocalIterator():
        parts.append("<result>")
        for v in res.variables:
            val = row[v]
            if val is None:
                continue
            parts.append(f'<binding name="{xml_escape(v)}">')
            t, lex = val["t"], val["v"]
            if lex is None:
                lex = rebuild_lexical(val)
            lex = xml_escape(lex)
            if t == TT_IRI:
                parts.append(f"<uri>{lex}</uri>")
            elif t == TT_BNODE:
                parts.append(f"<bnode>{lex}</bnode>")
            elif val["lang"]:
                parts.append(f'<literal xml:lang="{xml_escape(val["lang"])}">'
                             f"{lex}</literal>")
            elif val["dt"] and val["dt"] != XSD_STRING:
                parts.append(f'<literal datatype="{xml_escape(val["dt"])}">'
                             f"{lex}</literal>")
            else:
                parts.append(f"<literal>{lex}</literal>")
            parts.append("</binding>")
        parts.append("</result>")
    parts.append("</results></sparql>")
    return "".join(parts)


def _oracle_csv(res):
    from rdf_fusion_spark.terms import TT_BNODE, rebuild_lexical

    def value(val):
        if val is None:
            return ""
        v = val["v"]
        if v is None:
            v = rebuild_lexical(val)
        if val["t"] == TT_BNODE:
            v = f"_:{v}"
        if any(ch in v for ch in ',"\n\r'):
            return '"' + v.replace('"', '""') + '"'
        return v

    rows = [",".join(res.variables)]
    for row in res.df.toLocalIterator():
        rows.append(",".join(value(row[v]) for v in res.variables))
    return "\r\n".join(rows) + "\r\n"


def _oracle_tsv(res):
    from rdf_fusion_spark.terms import (TT_BNODE, TT_IRI, XSD_STRING,
                                        BlankNode, Literal, NamedNode,
                                        rebuild_lexical)

    def term(val):
        if val is None:
            return ""
        t = val["t"]
        if t == TT_IRI:
            return str(NamedNode(val["v"]))
        if t == TT_BNODE:
            return str(BlankNode(val["v"]))
        v = val["v"]
        if v is None:
            v = rebuild_lexical(val)
        if val["lang"]:
            return str(Literal(v, language=val["lang"]))
        return str(Literal(v, val["dt"] or XSD_STRING))

    rows = ["\t".join("?" + v for v in res.variables)]
    for row in res.df.toLocalIterator():
        rows.append("\t".join(term(row[v]) for v in res.variables))
    return "\n".join(rows) + "\n"


_ORACLES = {"json": (S.to_json, _oracle_json), "xml": (S.to_xml, _oracle_xml),
            "csv": (S.to_csv, _oracle_csv), "tsv": (S.to_tsv, _oracle_tsv)}


@pytest.fixture(scope="module")
def mixed_store(spark):
    from rdf_fusion_spark.terms import BlankNode, Literal, NamedNode
    E = "http://e.org/"
    XSD = "http://www.w3.org/2001/XMLSchema#"
    s, p, q = NamedNode(E + "s"), NamedNode(E + "p"), NamedNode(E + "q")
    objs = [
        NamedNode(E + "o?a=1&b=<2>"), BlankNode("b1"),
        Literal("chat", language="fr"), Literal("42", XSD + "integer"),
        Literal("2.50", XSD + "decimal"), Literal("1.0E3", XSD + "double"),
        Literal("plain, \"quoted\""), Literal("x", XSD + "string"),
        Literal('q"b\\s\nn é \x01 <&>'), Literal("", language="en"),
        Literal("tab\there\r", "http://e.org/dt#custom"),
    ]
    quads = [(None, s, p, o) for o in objs]
    quads += [(None, BlankNode("b1"), q, Literal("é\x01"))]
    return GraphStore.from_python_quads(spark, quads)


@pytest.mark.parametrize("fmt", sorted(_ORACLES))
def test_serializers_byte_parity_with_row_renderers(spark, mixed_store, fmt):
    """Every document serializer writes exactly the bytes of the per-Row
    renderers it replaced: IRIs, blank nodes, language-tagged, typed and
    xsd:string literals, escapes, an unbound OPTIONAL variable (the NULL
    struct that `toArrow()` rejects), zero variables and zero rows."""
    new, oracle = _ORACLES[fmt]
    queries = [
        """SELECT ?s ?p ?o ?u WHERE { ?s ?p ?o
             OPTIONAL { ?o <http://e.org/none> ?u } } ORDER BY ?s ?p ?o""",
        "SELECT * WHERE {}",
        "SELECT ?s WHERE { ?s <http://e.org/nothing> ?o }",
    ]
    for q in queries:
        res = mixed_store.query(q)
        assert new(res) == oracle(res), q
    res = mixed_store.query(queries[0])
    assert res.df.where(res.df["u"].isNull()).count() == 12


def test_document_serializer_collects_in_one_job(spark):
    """A multi-partition result is collected by exactly one Spark job (a
    per-partition iterator would start one job per partition)."""
    from rdf_fusion_spark.terms import Literal, NamedNode
    quads = [(None, NamedNode(f"http://e.org/s{i}"), NamedNode("http://e.org/p"),
              Literal(str(i))) for i in range(200)]
    store = GraphStore(spark, GraphStore.from_python_quads(spark, quads)
                       .quads.repartition(4))
    res = store.query("SELECT ?s ?o WHERE { ?s <http://e.org/p> ?o }")
    assert res.df.rdd.getNumPartitions() >= 2
    sc = spark.sparkContext
    group = "rfs-test-serializer-one-job"
    for fmt, (ser, _) in sorted(_ORACLES.items()):
        sc.setJobGroup(group + fmt, "serializer job count")
        try:
            body = ser(res)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert len(sc.statusTracker().getJobIdsForGroup(group + fmt)) == 1, fmt
        assert body.count("http://e.org/s") == 200


def test_rebuild_lexical_matches_spark_lexical_of(spark):
    """A lazy literal rebuilt on the driver, from a Row or from Arrow, reads
    exactly as typed_ops.lexical_of (STR()) renders it in Spark."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from rdf_fusion_spark.functions.typed_ops import lexical_of
    from rdf_fusion_spark.terms import (K_DATETIME, K_DECIMAL, K_DOUBLE,
                                        K_FLOAT, K_INTEGER, TT_LITERAL,
                                        rebuild_lexical, term_struct)
    inf = float("inf")
    cases = [  # (k, x, d, ts, Spark's lexical)
        (K_DOUBLE, 1e-05, None, None, "1.0E-5"),
        (K_DOUBLE, 1e20, None, None, "1.0E20"),
        (K_DOUBLE, 123456789.0, None, None, "1.23456789E8"),
        (K_DOUBLE, inf, None, None, "INF"),
        (K_DOUBLE, -inf, None, None, "-INF"),
        (K_DOUBLE, float("nan"), None, None, "NaN"),
        (K_DOUBLE, 0.0, None, None, "0.0"),
        (K_DOUBLE, -0.0, None, None, "-0.0"),
        (K_DOUBLE, 1e7, None, None, "1.0E7"),
        (K_DOUBLE, 0.001, None, None, "0.001"),
        (K_DOUBLE, -1.5, None, None, "-1.5"),
        (K_FLOAT, 0.1, None, None, "0.10000000149011612"),
        (K_FLOAT, 3.0, None, None, "3"),
        (K_DECIMAL, None, Decimal("0.0000001"), None, "0.0000001"),
        (K_DECIMAL, None, Decimal("-12.50"), None, "-12.5"),
        (K_INTEGER, None, Decimal("5"), None, "5"),
        (K_DATETIME, None, None, "2020-01-01 00:00:00.5",
         "2020-01-01T00:00:00.5"),
        (K_DATETIME, None, None, "1999-12-31 23:59:59",
         "1999-12-31T23:59:59"),
    ]
    df = spark.createDataFrame(
        [c[:4] for c in cases],
        "k tinyint, x double, d decimal(38,18), ts string")
    term = term_struct(F.lit(TT_LITERAL), F.lit(None).cast("string"),
                       F.lit(None).cast("string"), F.lit(None).cast("string"),
                       k=F.col("k"), x=F.col("x"), d=F.col("d"),
                       ts=F.col("ts").cast("timestamp"))
    out = df.select(term.alias("term"), lexical_of(term).alias("lex"))
    rows = out.collect()
    arrow = S.arrow_table(out).column("term").to_pylist()
    for case, row, arr in zip(cases, rows, arrow):
        assert row["lex"] == case[-1], case
        assert rebuild_lexical(row["term"]) == case[-1], case
        assert rebuild_lexical(arr) == case[-1], case
