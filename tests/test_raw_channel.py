"""Raw-value side-channel (r12): term constructors attach the native
expression behind their typed fields (_rf_x/_rf_d/_rf_v) so static-kind
consumers bypass the 8-field struct and Catalyst prunes the struct
build. These tests pin (a) the constructor invariant the whole channel
rests on — the raw expression is NULL exactly when the term struct is
NULL, and its value agrees with the struct field — including the NaN /
±INF / negative edge values, (b) result equivalence of a computed-value
aggregate pipeline against the same computation written directly on the
parquet columns, and (c) the plan effects: q3's group key is the native
long and its pre-aggregate pipeline builds no term struct."""

import io
import sys

import pyspark.sql.functions as F

from rdf_fusion_spark.entry_queries import PROLOGUE, get_graph
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


def test_constructor_raw_invariants(spark):
    # struct NULL <=> raw NULL, and values agree, for every constructor
    # that attaches a channel, over edge inputs
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
        raws = tv.raw_channels(term)
        assert raws, f"{name}: constructor attached no raw channel"
        sel = [term.alias("t")] + [e.alias(k.lstrip("_"))
                                   for k, e in raws.items()]
        for row in df.select(*sel).collect():
            t = row["t"]
            for k in raws:
                r = row[k.lstrip("_")]
                assert (t is None) == (r is None), \
                    f"{name}.{k}: raw null mismatch (term={t!r}, raw={r!r})"
                if t is not None:
                    field = {"_rf_x": "x", "_rf_d": "d", "_rf_v": "v"}[k]
                    tf = t[field]
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
    # the pre-aggregate side builds no term struct: every struct(...)
    # occurrence in the plan sits ABOVE the first HashAggregate
    pre_agg = plan[:plan.index("HashAggregate")]
    assert "struct(t, " not in pre_agg, pre_agg
