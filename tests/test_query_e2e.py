"""Full pipeline: SPARQL text → parse → translate → execute."""

from rdf_fusion_spark.plans.translator import AskResult, GraphResult, SelectResult
from rdf_fusion_spark.terms import Literal, NamedNode, term_to_python

EX = "http://example.org/"


def d(result):
    """rows as list of dicts var→python term"""
    out = []
    for r in result.df.collect():
        out.append({v: term_to_python(r[v]) for v in result.variables})
    return out


def test_select_query_text(spiderman):
    res = spiderman.query("""
        PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        PREFIX rel: <http://www.perceive.net/schemas/relationship/>
        SELECT ?name WHERE {
          ?s rel:enemyOf <http://example.org/green-goblin> .
          ?s foaf:name ?name .
          FILTER(LANG(?name) = "")
        }
    """)
    assert isinstance(res, SelectResult)
    assert d(res) == [{"name": Literal("Spiderman")}]


def test_ask(spiderman):
    assert spiderman.query(
        "ASK { <http://example.org/spiderman> ?p ?o }").value is True
    assert spiderman.query(
        "ASK { <http://example.org/nobody> ?p ?o }").value is False


def test_order_limit(spiderman):
    res = spiderman.query("""
        PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        SELECT ?name WHERE { ?s foaf:name ?name } ORDER BY ?name LIMIT 2
    """)
    names = [r["name"].lexical for r in d(res)]
    assert names == sorted(names)
    assert len(names) == 2


def test_aggregate_query(spiderman):
    res = spiderman.query("""
        PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        SELECT ?s (COUNT(?name) AS ?n) WHERE { ?s foaf:name ?name }
        GROUP BY ?s ORDER BY DESC(?n)
    """)
    rows = d(res)
    assert rows[0]["n"].lexical == "2"


def test_construct(spiderman):
    res = spiderman.query("""
        PREFIX rel: <http://www.perceive.net/schemas/relationship/>
        CONSTRUCT { ?b <http://example.org/foe> ?a }
        WHERE { ?a rel:enemyOf ?b }
    """)
    assert isinstance(res, GraphResult)
    triples = res.df.collect()
    assert len(triples) == 2


def test_property_path_query(spiderman):
    # enemyOf+ from spiderman reaches both (cycle)
    res = spiderman.query("""
        PREFIX rel: <http://www.perceive.net/schemas/relationship/>
        SELECT ?x WHERE { <http://example.org/spiderman> rel:enemyOf+ ?x }
    """)
    xs = {r["x"].iri for r in d(res)}
    assert xs == {EX + "spiderman", EX + "green-goblin"}


def test_values_join(spiderman):
    res = spiderman.query("""
        PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        SELECT ?s ?name WHERE {
          VALUES ?s { <http://example.org/spiderman> }
          ?s foaf:name ?name .
          FILTER(LANG(?name) = "")
        }
    """)
    rows = d(res)
    assert len(rows) == 1 and rows[0]["name"].lexical == "Spiderman"


def test_exists_filter(spiderman):
    res = spiderman.query("""
        PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        PREFIX rel: <http://www.perceive.net/schemas/relationship/>
        SELECT ?s WHERE {
          ?s a foaf:Person .
          FILTER EXISTS { ?s foaf:name ?n FILTER(LANGMATCHES(LANG(?n), "ru")) }
        }
    """)
    assert [r["s"].iri for r in d(res)] == [EX + "spiderman"]


def test_bind_arithmetic(spiderman):
    res = spiderman.query("""
        SELECT ?y WHERE { BIND(2 + 3 * 4 AS ?y) }
    """)
    assert d(res)[0]["y"].lexical == "14"


def test_describe(spiderman):
    res = spiderman.query("DESCRIBE <http://example.org/spiderman>")
    assert isinstance(res, GraphResult)
    assert res.df.count() == 4  # type, enemyOf, two names


def test_from_named_restricts_graph(spark):
    """FROM NAMED narrows GRAPH ?g / GRAPH <iri> to the dataset's list."""
    from rdf_fusion_spark import GraphStore, NamedNode, Literal

    E = "http://e.org/"
    quads = [
        (NamedNode(E + "g1"), NamedNode(E + "s1"), NamedNode(E + "p"),
         Literal("a")),
        (NamedNode(E + "g2"), NamedNode(E + "s2"), NamedNode(E + "p"),
         Literal("b")),
    ]
    store = GraphStore.from_python_quads(spark, quads)

    q = ("SELECT ?g ?o FROM NAMED <http://e.org/g1> "
         "WHERE { GRAPH ?g { ?s <http://e.org/p> ?o } }")
    rows = store.query(q).df.collect()
    assert len(rows) == 1 and rows[0]["o"]["v"] == "a"
    assert rows[0]["g"]["v"] == "http://e.org/g1"

    q2 = ("SELECT ?o FROM NAMED <http://e.org/g1> "
          "WHERE { GRAPH <http://e.org/g2> { ?s <http://e.org/p> ?o } }")
    assert store.query(q2).df.count() == 0

    # without FROM NAMED both graphs are visible
    q3 = "SELECT ?g WHERE { GRAPH ?g { ?s <http://e.org/p> ?o } }"
    assert store.query(q3).df.count() == 2


def test_construct_template_bnodes_fresh_per_row(spark):
    """CONSTRUCT template bnodes mint one fresh node per solution row
    (SPARQL 16.2.1), shared across the row's triples."""
    from rdf_fusion_spark import GraphStore, NamedNode, Literal

    E = "http://e.org/"
    store = GraphStore.from_python_quads(spark, [
        (None, NamedNode(E + "a"), NamedNode(E + "name"), Literal("A")),
        (None, NamedNode(E + "b"), NamedNode(E + "name"), Literal("B")),
    ])
    q = ("CONSTRUCT { ?s <http://e.org/tag> _:t . _:t <http://e.org/v> ?n } "
         "WHERE { ?s <http://e.org/name> ?n }")
    rows = store.query(q).df.collect()
    assert len(rows) == 4
    tagged = {r["object"]["v"]: r["subject"]["v"] for r in rows
              if r["predicate"]["v"].endswith("tag")}
    valued = {r["subject"]["v"]: r["object"]["v"] for r in rows
              if r["predicate"]["v"].endswith("/v")}
    # two DISTINCT bnodes, and each links its row's subject to its value
    assert len(tagged) == 2 and len(valued) == 2
    for bid, subj in tagged.items():
        expect = "A" if subj.endswith("/a") else "B"
        assert valued[bid] == expect


def _chain_store(spark, n=6):
    from rdf_fusion_spark import GraphStore, NamedNode, Literal
    return GraphStore.from_python_quads(spark, [
        (None, NamedNode(f"http://e.org/s{i}"), NamedNode("http://e.org/p"),
         Literal(str(i))) for i in range(n)])


def test_construct_order_by_limit(spark):
    """ORDER BY + LIMIT pick the first 3 solutions in order, so the graph
    holds exactly their triples."""
    res = _chain_store(spark).query(
        "CONSTRUCT { ?s <http://e.org/q> ?o } "
        "WHERE { ?s <http://e.org/p> ?o } ORDER BY DESC(?s) LIMIT 3")
    subjects = sorted(r["subject"]["v"] for r in res.df.collect())
    assert subjects == [f"http://e.org/s{i}" for i in (3, 4, 5)]


def test_construct_limit_offset(spark):
    """LIMIT 3 OFFSET 2 keeps 3 solutions, not the at most 1 of a LIMIT
    applied before the OFFSET."""
    res = _chain_store(spark).query(
        "CONSTRUCT { ?s <http://e.org/q> ?o } "
        "WHERE { ?s <http://e.org/p> ?o } LIMIT 3 OFFSET 2")
    assert len({r["subject"]["v"] for r in res.df.collect()}) == 3


def test_describe_limit(spark):
    res = _chain_store(spark).query(
        "DESCRIBE ?s WHERE { ?s <http://e.org/p> ?o } ORDER BY ?s LIMIT 2")
    subjects = sorted(r["subject"]["v"] for r in res.df.collect())
    assert subjects == ["http://e.org/s0", "http://e.org/s1"]


def test_from_named_only_empties_default_graph(spark):
    """SPARQL 1.1 sec 13.2: a dataset with only FROM NAMED has an EMPTY
    default graph — default-graph BGPs must return nothing (ADVICE r2)."""
    from rdf_fusion_spark import GraphStore, Literal, NamedNode

    E = "http://e.org/"
    quads = [
        (None, NamedNode(E + "s0"), NamedNode(E + "p"), Literal("dflt")),
        (NamedNode(E + "g1"), NamedNode(E + "s1"), NamedNode(E + "p"),
         Literal("a")),
    ]
    store = GraphStore.from_python_quads(spark, quads)

    q = ("SELECT ?o FROM NAMED <http://e.org/g1> "
         "WHERE { ?s <http://e.org/p> ?o }")
    assert store.query(q).df.count() == 0

    # the named graph is still addressable
    q2 = ("SELECT ?o FROM NAMED <http://e.org/g1> "
          "WHERE { GRAPH ?g { ?s <http://e.org/p> ?o } }")
    rows = store.query(q2).df.collect()
    assert len(rows) == 1 and rows[0]["o"]["v"] == "a"


def test_time_cast_preserves_fractional_seconds(spark):
    """xsd:time(xsd:dateTime) keeps fractional seconds (ADVICE r2)."""
    from rdf_fusion_spark import GraphStore

    store = GraphStore.empty(spark)
    q = ('SELECT ?t WHERE { BIND(xsd:time('
         '"2024-05-01T10:20:30.25"^^xsd:dateTime) AS ?t) }')
    rows = store.query(
        "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> " + q).df.collect()
    assert rows[0]["t"]["v"] == "10:20:30.25"


def test_large_daytime_duration_literal(spark):
    """P2000000D needs >28 significant digits at scale 18 (ADVICE r2)."""
    from rdf_fusion_spark import GraphStore

    store = GraphStore.empty(spark)
    q = ('PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> '
         'SELECT ?d WHERE { BIND("P2000000D"^^xsd:duration AS ?d) }')
    rows = store.query(q).df.collect()
    assert rows[0]["d"]["v"] == "P2000000D"
    assert rows[0]["d"]["d"] == 2000000 * 86400


_BIG_NUMERICS = ["9999999999", "10000000000", "-12345678901",
                 "99999999999999999999", "100000000000000000000",
                 "12345678901.5", "NaN"]


def test_term_py_row_numeric_parity_with_spark(spark):
    """The Python-side term row (constants, Python-parsed loaders) derives
    k/x/d like the Spark-side term_struct: |v| >= 1e10 used to lose x and
    d, a NaN d failed the literal's build, and d is NULL only where
    decimal(38,18) cannot hold the value."""
    import pyspark.sql.functions as F

    from rdf_fusion_spark.terms import (TT_LITERAL, XSD_DECIMAL,
                                        XSD_INTEGER, term_py_row,
                                        term_struct)
    cases = [(lex, dt) for lex in _BIG_NUMERICS
             for dt in (XSD_INTEGER, XSD_DECIMAL)]
    t = term_struct(F.lit(TT_LITERAL), F.col("lex"), F.col("dt"))
    rows = spark.createDataFrame(cases, "lex string, dt string").select(
        "lex", "dt", t["k"].alias("k"), t["x"].alias("x"),
        t["d"].alias("d")).collect()
    spark_side = {(r["lex"], r["dt"]): (r["k"], r["x"], r["d"]) for r in rows}
    for lex, dt in cases:  # repr: NaN == NaN
        assert repr(term_py_row(Literal(lex, dt))[4:7]) \
            == repr(spark_side[(lex, dt)]), (lex, dt)


def test_big_integers_same_answers_from_both_loaders(spark, tmp_path):
    """The N-Triples loader parses terms in Spark, the Turtle loader in
    Python (term_py_row); query constants go through term_py_row too."""
    from rdf_fusion_spark import GraphStore

    xsd_int = "<http://www.w3.org/2001/XMLSchema#integer>"
    data = "".join(f'<{EX}s{i}> <{EX}p> "{n}"^^{xsd_int} .\n' for i, n in
                   enumerate(["10000000000", "20000000000", "5",
                              "100000000000000000000"]))
    path = tmp_path / "big.nt"
    path.write_text(data)
    for load in (GraphStore.from_ntriples, GraphStore.from_turtle):
        store = load(spark, str(path))
        total = store.query(
            f"SELECT (SUM(?o) AS ?t) WHERE {{ ?s <{EX}p> ?o "
            f"FILTER(?s != <{EX}s3>) }}").df.collect()[0]["t"]
        assert total["v"] == "30000000005", (load.__name__, total)
        hits = store.query(
            f"SELECT ?s WHERE {{ ?s <{EX}p> ?o "
            f"FILTER(?o = 10000000000) }}").df.collect()
        assert [term_to_python(r["s"]) for r in hits] \
            == [NamedNode(EX + "s0")], load.__name__


def test_distinct_preserves_order_before_limit(spark):
    """SELECT DISTINCT ... ORDER BY ... LIMIT must cut the ORDERED distinct
    rows — Spark's dropDuplicates after an orderBy destroys row order, so
    the engine defers the sort past the dedupe (round-4 regression: BSBM
    Explore Q5 mirror returned arbitrary rows)."""
    from rdf_fusion_spark import GraphStore
    nt = "".join(
        f'<http://ex/s{i}> <http://ex/p> "{chr(122 - i)}" .\n'
        f'<http://ex/t{i}> <http://ex/p> "{chr(122 - i)}" .\n'
        for i in range(10))
    import os, tempfile
    d = tempfile.mkdtemp()
    open(os.path.join(d, "g.nt"), "w").write(nt)
    st = GraphStore.load(spark, os.path.join(d, "g.nt"))
    res = st.query("""
        SELECT DISTINCT ?v WHERE { ?s <http://ex/p> ?v } ORDER BY ?v LIMIT 3
    """)
    got = [r["v"]["v"] for r in res.df.collect()]
    assert got == ["q", "r", "s"]  # the 3 smallest, in order

    # DESC variant, and ORDER BY an expression over a projected var
    res = st.query("""
        SELECT DISTINCT ?v WHERE { ?s <http://ex/p> ?v }
        ORDER BY DESC(STR(?v)) LIMIT 2
    """)
    got = [r["v"]["v"] for r in res.df.collect()]
    assert got == ["z", "y"]


def test_order_by_dropped_var_still_applies(spark):
    """ORDER BY over a variable the projection drops must still sort."""
    from rdf_fusion_spark import GraphStore
    nt = "".join(
        f'<http://ex/s{i}> <http://ex/name> "n{i}" .\n'
        f'<http://ex/s{i}> <http://ex/rank> '
        f'"{9 - i}"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
        for i in range(5))
    import os, tempfile
    d = tempfile.mkdtemp()
    open(os.path.join(d, "g.nt"), "w").write(nt)
    st = GraphStore.load(spark, os.path.join(d, "g.nt"))
    res = st.query("""
        SELECT ?name WHERE {
          ?s <http://ex/name> ?name . ?s <http://ex/rank> ?rank .
        } ORDER BY ?rank LIMIT 2
    """)
    got = [r["name"]["v"] for r in res.df.collect()]
    assert got == ["n4", "n3"]  # rank 5,6 are the smallest


def test_cse_identical_subqueries_in_different_graphs(spark):
    """Two α-equivalent sub-SELECTs under different GRAPH scopes must NOT
    share a translation (the subquery-cache key includes the context)."""
    from rdf_fusion_spark import GraphStore, Literal, NamedNode
    EX = "http://example.org/"
    g1, g2 = NamedNode(EX + "g1"), NamedNode(EX + "g2")
    st = GraphStore.from_python_quads(spark, [
        (g1, NamedNode(EX + "a"), NamedNode(EX + "p"), Literal("in-g1")),
        (g2, NamedNode(EX + "b"), NamedNode(EX + "p"), Literal("in-g2")),
    ])
    res = st.query("""
        PREFIX ex: <http://example.org/>
        SELECT ?x ?y WHERE {
          GRAPH ex:g1 { { SELECT ?x WHERE { ?s ex:p ?x } } }
          GRAPH ex:g2 { { SELECT ?y WHERE { ?t ex:p ?y } } }
        }
    """)
    rows = [{v: term_to_python(r[v]) for v in res.variables}
            for r in res.df.collect()]
    assert rows == [{"x": Literal("in-g1"), "y": Literal("in-g2")}]


def test_sip_does_not_leak_into_subquery_local_vars(spark):
    """A non-projected subquery variable sharing a NAME with a constrained
    outer subject is a fresh variable — ambient constraints must not
    restrict it (SPARQL sub-SELECT scoping)."""
    from rdf_fusion_spark.sources.virtual import VirtualRelationalStore
    st = VirtualRelationalStore(spark, "/root/testdata/sf0.001")
    # inner ?s is NOT projected → unrelated to outer ?s; the OPTIONAL is
    # an uncorrelated cross join of region names onto every nation
    res = st.query("""
        PREFIX n: <x:n#>
        PREFIX r: <x:r#>
        SELECT ?s ?rn WHERE {
          ?s n:n_name "NATION_0" .
          OPTIONAL { { SELECT ?rn WHERE { ?s r:r_name ?rn } } }
        }
    """)
    rows = res.df.collect()
    # 1 nation × 5 regions — a leaked constraint (?s n:n_name ...) into
    # the subquery would zero out the region scan instead
    assert len(rows) == 5


def test_prepare_reexecutes_fresh_data(spiderman, spark):
    """A prepared query's DataFrame is lazy: repeated actions re-read the
    sources, so results are never stale."""
    prepared = spiderman.query(
        "SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }")
    a = prepared.df.collect()
    b = prepared.df.collect()
    assert a == b and term_to_python(a[0]["n"]).lexical == "7"


def test_illformed_datetime_values_not_certainly_bound(spiderman):
    """Round-8 ADVICE (medium): an ill-formed "x"^^xsd:dateTime in VALUES
    must NOT grant the column a static K_DATETIME kind. BIND(YEAR(?v))
    over it errors (?y unbound), and the unbound row is compatible with
    ANY ?y in the downstream join — marking ?y certainly-bound sent the
    join down the plain-equality path and dropped those rows."""
    res = spiderman.query("""
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?v ?y WHERE {
          {
            VALUES ?v { "nope"^^xsd:dateTime
                        "2020-05-05T00:00:00"^^xsd:dateTime }
            BIND(YEAR(?v) AS ?y)
          }
          VALUES ?y { 2019 2020 }
        }
    """)
    rows = d(res)
    got = {(r["v"].lexical, r["y"].lexical) for r in rows}
    # ill-formed row: ?y unbound -> joins BOTH 2019 and 2020;
    # well-formed row: YEAR = 2020 -> joins 2020 only
    assert got == {("nope", "2019"), ("nope", "2020"),
                   ("2020-05-05T00:00:00", "2020")}


def test_distinct_hidden_order_keys_first_occurrence(spark):
    """SELECT DISTINCT with ORDER BY on a projected-away variable: the
    spec sequence is OrderBy -> Project -> Distinct(keep FIRST
    occurrence) -> Slice, so each distinct visible row sorts at its
    best (min for ASC / max for DESC) hidden key — previously the hash
    distinct destroyed the order entirely and LIMIT sliced arbitrary
    rows (translator._translate_distinct_ordered, round 9)."""
    from rdf_fusion_spark import GraphStore, Literal, NamedNode
    from rdf_fusion_spark.terms import XSD_INTEGER
    EX = "http://example.org/"

    def I(x):
        return NamedNode(EX + x)

    quads = [
        (None, I("a1"), I("name"), Literal("n1")),
        (None, I("a1"), I("score"), Literal("5", XSD_INTEGER)),
        (None, I("a2"), I("name"), Literal("n2")),
        (None, I("a2"), I("score"), Literal("3", XSD_INTEGER)),
        (None, I("a3"), I("name"), Literal("n1")),
        (None, I("a3"), I("score"), Literal("10", XSD_INTEGER)),
    ]
    store = GraphStore.from_python_quads(spark, quads).cached()
    tpl = ("SELECT DISTINCT ?name WHERE { ?x <%sname> ?name . "
           "?x <%sscore> ?score } ORDER BY %%s LIMIT %%d" % (EX, EX))
    for order, limit, want in [
        ("?score", 2, ["n2", "n1"]),        # n2 first: min key 3 < 5
        ("DESC(?score)", 2, ["n1", "n2"]),  # n1 first: max key 10 > 3
        ("?score", 1, ["n2"]),
        ("DESC(?score)", 1, ["n1"]),
    ]:
        rows = [r["name"].v
                for r in store.query(tpl % (order, limit)).df.collect()]
        assert rows == want, (order, limit, rows)


def test_graph_var_unifies_with_pattern_var(spark):
    """GRAPH ?a { ?a ?p ?o } — the graph variable ALSO occurring inside
    the pattern must UNIFY (same-var equality against the graph column),
    not emit a duplicate ?a column (pre-r10: AMBIGUOUS_REFERENCE from
    any downstream select; found by the r10 GRAPH fuzz layer)."""
    from rdf_fusion_spark import GraphStore, Literal, NamedNode
    EX = "http://example.org/"
    g1, g2 = NamedNode(EX + "g1"), NamedNode(EX + "g2")
    p = NamedNode(EX + "p")
    quads = [
        (g1, g1, p, Literal("x")),                  # subject == graph name
        (g1, NamedNode(EX + "s"), p, Literal("y")),
        (g2, g1, p, Literal("z")),                  # same subject, other g
    ]
    store = GraphStore.from_python_quads(spark, quads).cached()
    res = store.query(
        "SELECT * WHERE { GRAPH ?a { ?a <" + EX + "p> ?o } }")
    rows = {(r["a"]["v"], r["o"]["v"]) for r in res.df.collect()}
    assert rows == {(EX + "g1", "x")}, rows
    # and in a UNION (the shape that crashed: duplicate column under
    # the union's column-alignment select)
    res2 = store.query(
        "SELECT * WHERE { { GRAPH ?a { ?a <" + EX + "p> ?o } } UNION "
        "{ GRAPH ?a { ?a <" + EX + "p> ?o } } }")
    assert res2.df.count() == 2


def test_graph_var_collision_on_virtual_store(spark):
    """Same unification rule over the relational mapping's virtual
    graphs: a colliding graph var must CONSTRAIN the pattern binding to
    the table-graph IRI (pre-r10 the dict write silently overwrote the
    binding), so entity subjects never equal a graph IRI -> empty, and
    the non-colliding rewrite of the same query is non-empty."""
    from rdf_fusion_spark.entry_queries import get_graph
    g = get_graph(spark, "/root/testdata/sf0.001")
    empty = g.query("SELECT * WHERE { GRAPH ?a { ?a ?p ?o } } LIMIT 5")
    assert empty.df.count() == 0
    ok = g.query("SELECT * WHERE { GRAPH ?g { ?s ?p ?o } } LIMIT 5")
    assert ok.df.count() == 5
