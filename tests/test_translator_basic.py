"""End-to-end translator tests with programmatically-built algebra
(mirrors the reference's worked example, lib/rdf-fusion/src/lib.rs:240-266)."""

from rdf_fusion_spark import NamedNode, Literal, Variable
from rdf_fusion_spark.sparql import algebra as A
from rdf_fusion_spark.plans.translator import evaluate_query
from rdf_fusion_spark.terms import RDF_TYPE, term_to_python

EX = "http://example.org/"
FOAF = "http://xmlns.com/foaf/0.1/"
REL = "http://www.perceive.net/schemas/relationship/"


def rows(result):
    return [tuple(term_to_python(r[v]) for v in result.variables)
            for r in result.df.collect()]


def test_bgp_self_join(spiderman):
    # SELECT ?s WHERE { ?s a foaf:Person . ?s rel:enemyOf <green-goblin> }
    q = A.SelectQuery(A.Project(
        A.BGP([
            A.TriplePattern(Variable("s"), NamedNode(RDF_TYPE), NamedNode(FOAF + "Person")),
            A.TriplePattern(Variable("s"), NamedNode(REL + "enemyOf"),
                            NamedNode(EX + "green-goblin")),
        ]),
        [Variable("s")],
    ))
    res = evaluate_query(spiderman, q)
    assert rows(res) == [(NamedNode(EX + "spiderman"),)]


def test_filter_lang(spiderman):
    # SELECT ?name WHERE { ?s foaf:name ?name FILTER(LANG(?name) = "ru") }
    q = A.SelectQuery(A.Project(
        A.Filter(
            A.ECall("=", [A.ECall("LANG", [A.EVar("name")]),
                          A.ETerm(Literal("ru"))]),
            A.BGP([A.TriplePattern(Variable("s"), NamedNode(FOAF + "name"),
                                   Variable("name"))]),
        ),
        [Variable("name")],
    ))
    res = evaluate_query(spiderman, q)
    assert rows(res) == [(Literal("Человек-паук", language="ru"),)]


def test_optional_unbound(spiderman):
    # names + optional enemy-of-enemy; everyone has an enemy here, so check
    # OPTIONAL against a pattern that fails for green goblin
    q = A.SelectQuery(A.Project(
        A.LeftJoin(
            A.BGP([A.TriplePattern(Variable("s"), NamedNode(FOAF + "name"),
                                   Variable("name"))]),
            A.BGP([A.TriplePattern(Variable("s"), NamedNode(FOAF + "name"),
                                   Variable("ru_name")),
                   ]),
            A.ECall("LANGMATCHES", [A.ECall("LANG", [A.EVar("ru_name")]),
                                    A.ETerm(Literal("ru"))]),
        ),
        [Variable("s"), Variable("name"), Variable("ru_name")],
    ))
    res = evaluate_query(spiderman, q)
    got = rows(res)
    # green goblin rows have unbound ru_name
    gg_rows = [r for r in got if r[0] == NamedNode(EX + "green-goblin")]
    assert gg_rows and all(r[2] is None for r in gg_rows)
    sm_rows = [r for r in got if r[0] == NamedNode(EX + "spiderman")]
    assert sm_rows and all(r[2] == Literal("Человек-паук", language="ru")
                           for r in sm_rows)


def test_union_distinct_order(spiderman):
    q = A.SelectQuery(A.Project(
        A.Distinct(A.OrderBy(
            A.Union(
                A.BGP([A.TriplePattern(Variable("s"), NamedNode(REL + "enemyOf"),
                                       Variable("o"))]),
                A.BGP([A.TriplePattern(Variable("o"), NamedNode(REL + "enemyOf"),
                                       Variable("s"))]),
            ),
            [A.OrderCondition(A.EVar("s"), ascending=True)],
        )),
        [Variable("s")],
    ))
    res = evaluate_query(spiderman, q)
    names = [r[0].iri for r in rows(res)]
    assert sorted(set(names)) == [EX + "green-goblin", EX + "spiderman"]


def test_minus(spiderman):
    # all persons MINUS those with a russian name
    q = A.SelectQuery(A.Project(
        A.Minus(
            A.BGP([A.TriplePattern(Variable("s"), NamedNode(RDF_TYPE),
                                   NamedNode(FOAF + "Person"))]),
            A.BGP([A.TriplePattern(Variable("s"), NamedNode(FOAF + "name"),
                                   Variable("n")),
                   A.TriplePattern(Variable("s"), NamedNode(REL + "enemyOf"),
                                   NamedNode(EX + "spiderman"))]),
        ),
        [Variable("s")],
    ))
    res = evaluate_query(spiderman, q)
    assert rows(res) == [(NamedNode(EX + "spiderman"),)]


def test_group_count(spiderman):
    # count names per subject
    q = A.SelectQuery(
        A.Group(
            A.BGP([A.TriplePattern(Variable("s"), NamedNode(FOAF + "name"),
                                   Variable("name"))]),
            [Variable("s")],
            [(Variable("n"), A.AggCall("COUNT", A.EVar("name")))],
        )
    )
    res = evaluate_query(spiderman, q)
    by_name = [dict(zip(res.variables, r)) for r in rows(res)]
    got = {r["s"].iri: r["n"] for r in by_name}
    assert got[EX + "spiderman"] == Literal("2", "http://www.w3.org/2001/XMLSchema#integer")
    assert got[EX + "green-goblin"] == Literal("1", "http://www.w3.org/2001/XMLSchema#integer")


def test_compile_scope_is_per_thread(spark, spiderman):
    """A compile scope held open on one thread does not reach what
    another thread compiles: there, terms built outside any scope stay
    eager and un-interned, and a query's rows are right."""
    import threading

    from pyspark.sql import functions as F

    from rdf_fusion_spark.functions import typed_ops as tv
    from rdf_fusion_spark.functions.typed_ops import Interner

    held = Interner(spiderman.quads, ctx=None)  # no names to hand out
    entered, release = threading.Event(), threading.Event()

    def hold():
        with held:
            entered.set()
            release.wait(120)

    t = threading.Thread(target=hold)
    t.start()
    try:
        assert entered.wait(60)
        five = tv.int_term(F.lit(5))
        assert tv.intern(five) is five
        assert spark.range(1).select(five.col["v"]).first()[0] == "5"
        res = spiderman.query(
            "SELECT ?name ?len WHERE { ?s <%sname> ?name "
            "BIND(STRLEN(?name) + 1 AS ?len) }" % FOAF)
        got = sorted((n.lexical, ln.lexical) for n, ln in rows(res))
    finally:
        release.set()
        t.join(60)
    assert not t.is_alive()
    assert got == [("Green Goblin", "13"), ("Spiderman", "10"),
                   ("Человек-паук", "13")]
    assert held.names == []
