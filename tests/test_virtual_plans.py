"""Physical-plan assertions for the virtual-quads scan path: the star
collapse and native filter pushdown must actually reach the parquet scan
(this is the 100 TB story — see sources/virtual.py)."""

import contextlib
import io
import re

import pytest

from rdf_fusion_spark import entry_queries as EQ

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def store(spark):
    from rdf_fusion_spark.sources.virtual import VirtualRelationalStore
    return VirtualRelationalStore(spark, SF_DIR)


def test_q1_star_collapses_to_single_scan(store):
    res = store.query(EQ.PROLOGUE + EQ.SPECS["q1_pricing_summary"].sparql)
    plan = plan_of(res.df)
    body = plan.split("(1) Scan parquet", 1)[-1]
    assert plan.count("Location: InMemoryFileIndex") == 1, plan
    assert "lineitem.parquet" in body
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert j not in plan, f"unexpected {j} in q1 plan"
    # column pruning reached the scan: only the 6 referenced columns
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = [c.split(":")[0] for c in m.group(1).split(",")]
    assert sorted(cols) == ["l_discount", "l_extendedprice", "l_linestatus",
                            "l_quantity", "l_returnflag", "l_shipdate"]


def test_q2_constant_object_pushed_to_parquet(store):
    res = store.query(EQ.PROLOGUE + EQ.SPECS["q2_join_region_filter"].sparql)
    plan = plan_of(res.df)
    assert "EqualTo(r_name,ASIA)" in plan, plan


def test_fk_constant_pushes_key_filter(store, spark):
    res = store.query(EQ.PROLOGUE + """
      SELECT ?okey WHERE { ?ord o:o_custkey <x:c:7> ; o:o_orderkey ?okey }
    """)
    plan = plan_of(res.df)
    assert "EqualTo(o_custkey,7)" in plan, plan
    rows = res.df.collect()
    # correctness against the raw table
    from rdf_fusion_spark.sources.relational import read_table
    expected = {r[0] for r in read_table(spark, SF_DIR, "orders")
                .where("o_custkey = 7").select("o_orderkey").collect()}
    got = {r["okey"]["v"] for r in rows}
    assert got == {str(x) for x in expected}


def test_mixed_table_star_is_empty(store):
    # same subject with predicates of two different tables: provably empty
    res = store.query(EQ.PROLOGUE + """
      SELECT ?x WHERE { ?x c:c_name ?n ; o:o_orderkey ?k }
    """)
    assert res.df.count() == 0


def test_rdf_type_binds_constant_class(store):
    res = store.query(EQ.PROLOGUE + """
      SELECT ?t WHERE { ?r <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> ?t ;
                        r:r_name "ASIA" . }
    """)
    rows = res.df.collect()
    assert len(rows) == 1 and rows[0]["t"]["v"] == "x:class:region"


def test_describe_const_resolves_to_single_table(store):
    """DESCRIBE <const> must key-filter ONE table, not scan the quads union
    (VERDICT r2 #5)."""
    res = store.query("DESCRIBE <x:n:7>")
    plan = plan_of(res.df)
    assert plan.count("Location: InMemoryFileIndex") == 1, plan
    assert "nation.parquet" in plan
    assert "EqualTo(n_nationkey,7)" in plan, plan
    rows = res.df.collect()
    assert len(rows) == 4  # rdf:type + 3 non-null columns


def test_zero_length_path_avoids_quads_union(store):
    """`p?` node enumeration must come from per-table projections: the
    exploded quads union would show a Generate (explode) over every table."""
    res = store.query(EQ.PROLOGUE + """
      SELECT ?s ?o WHERE { ?s (n:n_regionkey?) ?o . ?s n:n_name ?nm }
    """)
    plan = plan_of(res.df)
    assert "Generate" not in plan, plan
    assert res.df.count() > 0


def test_filter_conjunct_pushed_below_bgp_join(store):
    """A FILTER whose vars are bound by one star unit must be applied to
    that unit BEFORE the join (translator._translate_bgp pushdown) — with
    Catalyst's through-project predicate pushdown excluded, the translator
    is what keeps selective filters below joins at scale (q2's acctbal
    filter over the customer star unit)."""
    res = store.query(EQ.PROLOGUE + EQ.SPECS["q2_join_region_filter"].sparql)
    plan = res.df._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.split("\n")
    join_lines = [i for i, l in enumerate(lines) if "Join" in l]
    filter_lines = [i for i, l in enumerate(lines)
                    if "Filter" in l and "acctbal" in l]
    assert join_lines, plan[:2000]
    assert filter_lines, "acctbal filter missing from the plan"
    # the filter appears below (later line than) the topmost join
    assert min(filter_lines) > min(join_lines), (
        "acctbal filter was not pushed below the join:\n" + plan[:3000])


def test_sip_constraint_reaches_optional_scan(store):
    """Sideways information passing: the required pattern's constant
    (l_partkey = 42) must appear as a pushed parquet filter in the
    OPTIONAL side's scan too — without it each OPTIONAL reads the whole
    lineitem table."""
    res = store.query(EQ.PROLOGUE + """
      SELECT ?sd ?q WHERE {
        ?li l:l_partkey <x:p:42> .
        ?li l:l_shipdate ?sd .
        OPTIONAL { ?li l:l_quantity ?q . FILTER(?q >= 25.0) }
      }
    """)
    plan = plan_of(res.df)
    assert plan.count("EqualTo(l_partkey,42)") >= 2, plan


def test_filter_pinned_const_reaches_optional_scan(store):
    """SIP from FILTER equalities (round-6): `FILTER(?nk = <x:n:5>)`
    plus the mandatory triple `?c c_nationkey ?nk` pins (c_nationkey, 5)
    on ?c — the OPTIONAL side's scan must carry it as a pushed parquet
    filter, exactly like a ground-triple pin would."""
    q = EQ.PROLOGUE + """
      SELECT ?name ?ab WHERE {
        ?c c:c_nationkey ?nk .
        ?c c:c_name ?name .
        FILTER(?nk = <x:n:5>)
        OPTIONAL { ?c c:c_acctbal ?ab }
      }
    """
    res = store.query(q)
    plan = plan_of(res.df)
    assert plan.count("EqualTo(c_nationkey,5)") >= 2, plan
    # soundness: identical rows with the rewrite disabled
    fast = sorted(map(str, res.df.collect()))
    slow = sorted(map(str, store.query(q, optimize=False).df.collect()))
    assert fast == slow and fast


def test_sameterm_pinned_const_reaches_optional_scan(store):
    """`FILTER(sameTerm(?nk, <x:n:5>))` is term identity by definition,
    so it pins the constant exactly like `=` does (round-6 verdict nit:
    the harvest only accepted `=`) — the OPTIONAL-side scan must carry
    the pushed parquet filter, and results must match the unoptimized
    evaluation."""
    q = EQ.PROLOGUE + """
      SELECT ?name ?ab WHERE {
        ?c c:c_nationkey ?nk .
        ?c c:c_name ?name .
        FILTER(sameTerm(?nk, <x:n:5>))
        OPTIONAL { ?c c:c_acctbal ?ab }
      }
    """
    res = store.query(q)
    plan = plan_of(res.df)
    assert plan.count("EqualTo(c_nationkey,5)") >= 2, plan
    fast = sorted(map(str, res.df.collect()))
    slow = sorted(map(str, store.query(q, optimize=False).df.collect()))
    assert fast == slow and fast


def test_filter_pinned_const_numeric_not_injected(store):
    """Numeric equality must NOT be enforced by term-match injection:
    "042"^^integer value-equals 42 but is a different term. Only the
    plan is inspected (the virtual mapping stores canonical lexicals, so
    results match either way — the guard is about the general rule)."""
    from rdf_fusion_spark.plans.translator import _filter_const_eqs
    from rdf_fusion_spark.sparql import algebra as A
    from rdf_fusion_spark.terms import Literal, NamedNode
    xsd_int = "http://www.w3.org/2001/XMLSchema#integer"
    eq = A.ECall("=", [A.EVar("v"), A.ETerm(Literal("42", xsd_int))])
    assert _filter_const_eqs(eq) == {}
    eq_iri = A.ECall("=", [A.EVar("v"), A.ETerm(NamedNode("x:n:5"))])
    assert list(_filter_const_eqs(eq_iri)) == ["v"]
    # || must not contribute
    disj = A.ECall("||", [eq_iri, eq_iri])
    assert _filter_const_eqs(disj) == {}
    # sameTerm is term identity by definition — harvested like `=`,
    # under the same identity-comparable constant restriction
    st = A.ECall("SAMETERM", [A.ETerm(NamedNode("x:n:7")), A.EVar("w")])
    assert list(_filter_const_eqs(st)) == ["w"]
    st_num = A.ECall("SAMETERM",
                     [A.EVar("w"), A.ETerm(Literal("42", xsd_int))])
    assert _filter_const_eqs(st_num) == {}
    # && descends and merges both conjuncts
    conj = A.ECall("&&", [eq_iri, st])
    assert sorted(_filter_const_eqs(conj)) == ["v", "w"]


def test_virtual_store_mutations_rejected(store):
    """A virtual store is a read-only view: scans compile to the source
    tables, so a quads mutation would be silently invisible — every
    mutator must refuse instead."""
    from rdf_fusion_spark import NamedNode
    with pytest.raises(NotImplementedError, match="read-only virtual"):
        store.update('INSERT DATA { <x:r:99> <x:r#r_name> "X" }')
    with pytest.raises(NotImplementedError, match="read-only virtual"):
        store.insert((None, NamedNode("x:a"), NamedNode("x:p"),
                      NamedNode("x:b")))
    with pytest.raises(NotImplementedError, match="read-only virtual"):
        store.clear()


def test_bind_year_key_join_is_not_split(spark):
    """A BIND(YEAR(?t)) group key joins as a certainly-bound column: the
    totality whitelist (_extend_certainly_bound) must keep the two-chain
    MultiGrouped3 shape on the plain equi-join path. Before the fix the
    possibly-NULL key forced the null-pattern split-union, DUPLICATING
    both aggregation subqueries' plans (36 parquet scans for a 2-chain
    query); the fixed plan scans each source table once per chain."""
    from rdf_fusion_spark import entry_queries as EQ
    df = EQ.queries()["q_windfarm_multi3"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_scans = plan.count("FileScan parquet")
    assert n_scans <= 9, f"split-union regression: {n_scans} scans"


def test_extend_certainly_bound_whitelist():
    from rdf_fusion_spark.plans.translator import (
        BOUND, UNBOUND, Solution, VarInfo, _extend_certainly_bound)
    from rdf_fusion_spark.sparql import algebra as A
    from rdf_fusion_spark.terms import K_DATETIME, Literal
    sol = Solution(df=None, vars={"t": VarInfo(bound=True, kind=K_DATETIME),
                                  "x": BOUND, "opt": UNBOUND})
    yr = A.ECall("YEAR", [A.EVar("t")])
    assert _extend_certainly_bound(yr, sol)
    # var without the static dateTime kind → could error → not bound
    assert not _extend_certainly_bound(A.ECall("YEAR", [A.EVar("x")]), sol)
    # optional (possibly-null) input → not bound
    assert not _extend_certainly_bound(
        A.ECall("YEAR", [A.EVar("opt")]), sol)
    assert _extend_certainly_bound(A.EVar("x"), sol)
    assert not _extend_certainly_bound(A.EVar("opt"), sol)
    assert _extend_certainly_bound(
        A.ETerm(Literal("1", "http://www.w3.org/2001/XMLSchema#integer")),
        sol)
    assert _extend_certainly_bound(
        A.ECall("COALESCE", [A.EVar("opt"), A.EVar("x")]), sol)
    # division can error → never whitelisted
    assert not _extend_certainly_bound(
        A.ECall("/", [A.EVar("x"), A.EVar("x")]), sol)
