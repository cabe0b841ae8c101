"""Raw-value channels (r12): term constructors record the native
expression behind their typed fields on the typed_ops.TermExpr they
return (fields x/d/v), so kinded consumers bypass the 8-field struct and
Catalyst prunes the struct build. These tests pin (a) the constructor
invariant the channels rest on — the raw expression is NULL exactly when
the term struct is NULL, and its value agrees with the struct field —
including the NaN / ±INF / negative edge values, (b) result equivalence
of a computed-value aggregate pipeline against the same computation
written directly on the parquet columns, (c) the plan effects: q1 and q3
build no term struct below their first aggregate and q3's group key is
the native long, and (d) that every record fact is optional: compiled
with all facts stripped, four bench queries return identical rows while
the plan canaries of (c) and bi_q5's hash aggregation fire."""

import io
import re
import sys

import pyspark.sql.functions as F

from rdf_fusion_spark import terms
from rdf_fusion_spark.entry_queries import PROLOGUE, SPECS, get_graph
from rdf_fusion_spark.functions import typed_ops as tv

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    stdout, sys.stdout = sys.stdout, buf
    try:
        df.explain("formatted")
    finally:
        sys.stdout = stdout
    return buf.getvalue()


def _pre_agg(plan: str) -> str:
    """The formatted plan's detail sections below the first aggregate:
    everything before the first `(N) HashAggregate` section header (the
    tree overview at the top names operators only, no expressions)."""
    m = re.search(r"^\(\d+\) HashAggregate", plan, re.MULTILINE)
    assert m is not None, plan
    return plan[:m.start()]


def test_constructor_raw_invariants(spark):
    # struct NULL <=> raw NULL, and values agree, for every constructor
    # that records a channel, over edge inputs
    df = spark.createDataFrame(
        [(1.5,), (-0.0,), (float("nan",),), (float("inf"),),
         (float("-inf"),), (None,), (2.0**60,), (-7.25,)],
        "x double")
    cases = {
        "double": tv.double_term(F.col("x")),
        "decimal": tv.decimal_term(F.col("x")),  # inf/nan -> null decimal
        "int": tv.int_term(F.col("x").try_cast("long")),
        "int_from_dec": tv.int_term_from_decimal(
            F.col("x").try_cast("decimal(38,18)")),
        "bool": tv.bool_term(F.col("x") > 0),
        "string": tv.string_term(F.when(F.col("x") > 0,
                                        F.col("x").cast("string"))),
    }
    for name, term in cases.items():
        raws = term.channels()
        assert raws, f"{name}: constructor recorded no raw channel"
        sel = [term.col.alias("t")] + [e.alias(f"raw_{k}")
                                       for k, e in raws.items()]
        for row in df.select(*sel).collect():
            t = row["t"]
            for k in raws:
                r = row[f"raw_{k}"]
                assert (t is None) == (r is None), \
                    f"{name}.{k}: raw null mismatch (term={t!r}, raw={r!r})"
                if t is not None:
                    tf = t[k]
                    same = (tf == r) or (tf != tf and r != r)  # NaN==NaN
                    assert same, f"{name}.{k}: value mismatch {tf!r} vs {r!r}"


def test_computed_aggregate_equivalence(spark):
    # the q3 shape: arithmetic -> xsd:decimal -> SUM, grouped on an
    # integer object var; raw-channel plan must return byte-identical
    # results to the same query (both hit DuckDB in the oracle suite;
    # here pin the engine against ITSELF with channels active vs the
    # output of the plain double/decimal reference computation)
    g = get_graph(spark, SF_DIR)
    res = g.query(PROLOGUE + """
        SELECT ?okey (xsd:double(SUM(xsd:decimal(?price * (1 - ?disc)))) AS ?rev)
        WHERE {
          ?li l:l_orderkey ?ord ; l:l_extendedprice ?price ; l:l_discount ?disc .
          ?ord o:o_orderkey ?okey .
        }
        GROUP BY ?okey
        ORDER BY DESC(?rev) ?okey
        LIMIT 7
    """)
    got = [(r[0]["v"] or str(r[0]["d"]), r[1]["x"]) for r in res.df.collect()]
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    od = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    ref = (li.join(od, li.l_orderkey == od.o_orderkey)
           .groupBy("o_orderkey")
           .agg(F.sum((F.col("l_extendedprice")
                       * (F.lit(1.0) - F.col("l_discount")))
                      .cast("decimal(38,18)")).alias("rev"))
           .orderBy(F.col("rev").desc(), F.col("o_orderkey"))
           .limit(7).collect())
    want = [(str(int(r[0])), float(r[1])) for r in ref]
    assert [(int(float(k)), v) for k, v in got] \
        == [(int(k), v) for k, v in want]


def test_q3_plan_native_long_group_key_and_structfree_scan(spark):
    g = get_graph(spark, SF_DIR)
    res = g.query(PROLOGUE + """
        SELECT ?okey (xsd:double(SUM(xsd:decimal(?price * (1 - ?disc)))) AS ?rev)
        WHERE {
          ?li l:l_orderkey ?ord ; l:l_extendedprice ?price ; l:l_discount ?disc .
          ?ord o:o_orderkey ?okey .
        }
        GROUP BY ?okey
        ORDER BY DESC(?rev) ?okey
        LIMIT 7
    """)
    plan = _plan(res.df)
    # the group key is the scan's native long, not the decimal `d` view
    assert "Keys [1]: [__nk_okey" in plan, plan
    # the pre-aggregate side builds no term struct
    pre_agg = _pre_agg(plan)
    assert "struct(t, " not in pre_agg, pre_agg


def test_q1_plan_structfree_scan(spark):
    pre_agg = _pre_agg(_plan(SPECS["q1_pricing_summary"].run(spark, SF_DIR)))
    assert "struct(t, " not in pre_agg, pre_agg


def _strip_facts(m) -> None:
    """Under monkeypatch context m, every TermExpr keeps only its Column:
    no kind, no value-canonical marker, no raw channel. The constant memo
    is swapped for an empty one so constants are rebuilt without facts."""
    init = tv.TermExpr.__init__

    def col_only(self, col, *_facts, **_named):
        init(self, col)

    m.setattr(tv.TermExpr, "__init__", col_only)
    m.setattr(terms, "_CCACHE", {})


_AB_QUERIES = ["q1_pricing_summary", "q3_topk_revenue", "q5_star_join",
               "q_bsbm_bi_q5"]


def test_stripped_facts_same_rows_and_canaries_fire(spark, monkeypatch):
    """A dropped fact is a missed optimization, never a wrong answer —
    and the plan canaries notice the miss."""
    normal = {n: SPECS[n].run(spark, SF_DIR) for n in _AB_QUERIES}
    with monkeypatch.context() as m:
        _strip_facts(m)
        bare = {n: SPECS[n].run(spark, SF_DIR) for n in _AB_QUERIES}
    for n in _AB_QUERIES:
        assert sorted(normal[n].collect()) == sorted(bare[n].collect()), n
    for n in ("q1_pricing_summary", "q3_topk_revenue"):
        assert "struct(t, " not in _pre_agg(_plan(normal[n])), n
        assert "struct(t, " in _pre_agg(_plan(bare[n])), n
    assert "SortAggregate" not in _plan(normal["q_bsbm_bi_q5"])
    assert "SortAggregate" in _plan(bare["q_bsbm_bi_q5"])
