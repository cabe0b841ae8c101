"""Parser unit tests — SPARQL text → algebra (no Spark needed)."""

import pytest

from rdf_fusion_spark.sparql import algebra as A
from rdf_fusion_spark.sparql.parser import parse_query, SparqlSyntaxError
from rdf_fusion_spark.terms import Literal, NamedNode, Variable, XSD_INTEGER


def test_simple_select():
    q = parse_query("""
        PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        SELECT ?s WHERE { ?s a foaf:Person . ?s foaf:name "Alice" }
    """)
    assert isinstance(q, A.SelectQuery)
    assert isinstance(q.pattern, A.Project)
    bgp = q.pattern.inner
    assert isinstance(bgp, A.BGP) and len(bgp.triples) == 2
    assert bgp.triples[0].predicate == NamedNode(
        "http://www.w3.org/1999/02/22-rdf-syntax-ns#type")


def test_filter_and_optional():
    q = parse_query("""
        SELECT ?s ?v WHERE {
          ?s <x:p> ?v .
          OPTIONAL { ?s <x:q> ?w . FILTER(?w > 5) }
          FILTER(?v >= 10 && ?v < 20)
        }
    """)
    p = q.pattern.inner
    assert isinstance(p, A.Filter)
    lj = p.inner
    assert isinstance(lj, A.LeftJoin)
    assert lj.expr is not None  # filter hoisted into the left join


def test_union_minus_bind_values():
    q = parse_query("""
        SELECT * WHERE {
          { ?s <x:p> ?o } UNION { ?s <x:q> ?o }
          MINUS { ?s <x:r> ?o }
          BIND(?o AS ?o2)
          VALUES ?z { 1 2 UNDEF }
        }
    """)
    assert isinstance(q, A.SelectQuery)


def test_group_by_having():
    q = parse_query("""
        SELECT ?k (SUM(?v) AS ?total) (COUNT(*) AS ?n) WHERE {
          ?s <x:k> ?k . ?s <x:v> ?v .
        } GROUP BY ?k HAVING (SUM(?v) > 100) ORDER BY DESC(?total) LIMIT 5
    """)
    assert isinstance(q.pattern, A.Slice)
    proj = q.pattern.inner
    assert isinstance(proj, A.Project)
    assert [v.name for v in proj.variables] == ["k", "total", "n"]


def test_expressions_precedence():
    q = parse_query("SELECT ?x WHERE { ?s <x:p> ?x FILTER(1 + 2 * 3 = 7) }")
    f = q.pattern.inner
    assert isinstance(f, A.Filter)
    eq = f.expr
    assert eq.name == "="
    assert eq.args[0].name == "+"
    assert eq.args[0].args[1].name == "*"


def test_property_paths():
    q = parse_query("""
        PREFIX : <http://ex/>
        SELECT ?a ?b WHERE { ?a :p/:q+ ?b . ?a ^:r ?c . ?a !(:s|^:t) ?d }
    """)
    pats = []

    def walk(p):
        if isinstance(p, A.Join):
            walk(p.left)
            walk(p.right)
        elif isinstance(p, (A.PathPattern, A.BGP)):
            pats.append(p)
        elif isinstance(p, A.Project):
            walk(p.inner)

    walk(q.pattern.inner)
    kinds = {type(x).__name__ for x in pats}
    assert "PathPattern" in kinds


def test_construct_ask_describe():
    q = parse_query("CONSTRUCT { ?s <x:new> ?o } WHERE { ?s <x:old> ?o }")
    assert isinstance(q, A.ConstructQuery) and len(q.template) == 1
    q = parse_query("ASK { ?s ?p ?o }")
    assert isinstance(q, A.AskQuery)
    q = parse_query("DESCRIBE <x:thing>")
    assert isinstance(q, A.DescribeQuery)


def test_construct_describe_solution_modifiers():
    """CONSTRUCT and DESCRIBE take the same solution modifiers as SELECT
    (SPARQL grammar [10]/[11]): ORDER BY, LIMIT and OFFSET fold into one
    Slice over the ordered pattern."""
    where = "WHERE { ?s <x:p> ?o }"
    q = parse_query(f"CONSTRUCT {{ ?s <x:q> ?o }} {where} ORDER BY ?s LIMIT 3")
    assert isinstance(q.pattern, A.Slice)
    assert (q.pattern.start, q.pattern.length) == (0, 3)
    assert isinstance(q.pattern.inner.inner, A.OrderBy)
    q = parse_query(f"CONSTRUCT {{ ?s <x:q> ?o }} {where} LIMIT 3 OFFSET 2")
    assert (q.pattern.start, q.pattern.length) == (2, 3)
    assert not isinstance(q.pattern.inner, A.Slice)
    select = parse_query(f"SELECT * {where} LIMIT 3 OFFSET 2")
    assert q.pattern == select.pattern
    q = parse_query(f"DESCRIBE ?s {where} LIMIT 3")
    assert isinstance(q, A.DescribeQuery)
    assert (q.pattern.start, q.pattern.length) == (0, 3)


def test_subselect():
    q = parse_query("""
        SELECT ?s ?mx WHERE {
          ?s <x:p> ?o .
          { SELECT ?s (MAX(?v) AS ?mx) WHERE { ?s <x:v> ?v } GROUP BY ?s }
        }
    """)
    assert isinstance(q, A.SelectQuery)


def test_exists():
    q = parse_query("""
        SELECT ?s WHERE { ?s <x:p> ?o FILTER NOT EXISTS { ?s <x:bad> ?x } }
    """)
    f = q.pattern.inner
    assert isinstance(f, A.Filter) and isinstance(f.expr, A.EExists)
    assert f.expr.negated


def test_blank_node_property_list():
    q = parse_query("SELECT ?name WHERE { [ <x:name> ?name ; <x:age> 30 ] }")
    bgp = q.pattern.inner
    assert isinstance(bgp, A.BGP) and len(bgp.triples) == 2
    assert bgp.triples[0].subject == bgp.triples[1].subject


def test_numeric_literals_and_lang():
    q = parse_query("""
        SELECT * WHERE { ?s <x:p> "hi"@en . ?s <x:n> -4.5 . ?s <x:m> 1e6 }
    """)
    bgp = q.pattern.inner
    o0 = bgp.triples[0].object
    assert o0.language == "en"


def test_syntax_error():
    with pytest.raises(SparqlSyntaxError):
        parse_query("SELECT WHERE {")
    with pytest.raises(SparqlSyntaxError):
        parse_query("SELECT ?s WHERE { ?s } trailing")


def test_distinct_order_offset():
    q = parse_query("""
        SELECT DISTINCT ?s WHERE { ?s ?p ?o } ORDER BY ?s LIMIT 10 OFFSET 20
    """)
    assert isinstance(q.pattern, A.Slice)
    assert q.pattern.start == 20 and q.pattern.length == 10
    assert isinstance(q.pattern.inner, A.Distinct)


def test_aggregates_no_group():
    q = parse_query("SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }")
    found = []

    def walk(p):
        if isinstance(p, A.Group):
            found.append(p)
        for attr in ("inner",):
            if hasattr(p, attr):
                walk(getattr(p, attr))

    walk(q.pattern)
    assert found and found[0].keys == []


def test_group_concat_separator():
    q = parse_query("""
        SELECT (GROUP_CONCAT(DISTINCT ?x; SEPARATOR=", ") AS ?xs)
        WHERE { ?s <x:p> ?x }
    """)
    found = []

    def walk(p):
        if isinstance(p, A.Group):
            found.append(p)
        if hasattr(p, "inner"):
            walk(p.inner)

    walk(q.pattern)
    (var, agg), = found[0].aggregates
    assert agg.separator == ", " and agg.distinct
