"""Optimization-level knob: `optimize=False` disables the translator
rewrites (CSE, SIP, BIND waves, aggregate subsumption) but must return
IDENTICAL results — the analogue of the reference's
OptimizationLevel::{None,Default,Full} (lib/execution/src/sparql/
optimizer.rs:18)."""

import pytest

from rdf_fusion_spark.entry_queries import PROLOGUE, get_graph

SF_DIR = "/root/testdata/sf0.001"

# exercises every gated rewrite: two subsumable GROUP BY cores (CSE +
# subsumption), an OPTIONAL whose left side carries constant constraints
# (SIP), and a BIND run (wave merge)
QUERY = PROLOGUE + """
SELECT ?nname ?maxCnt ?n_li ?flag ?double WHERE {
  {
    SELECT ?nname (MAX(?cnt) AS ?maxCnt) WHERE {
      { SELECT ?nname ?part (COUNT(?li) AS ?cnt) WHERE {
          ?li l:l_partkey ?part . ?li l:l_orderkey ?ord .
          ?ord o:o_custkey ?cust . ?cust c:c_nationkey ?nat .
          ?nat n:n_name ?nname . } GROUP BY ?nname ?part }
    } GROUP BY ?nname
  }
  {
    SELECT ?nname (SUM(?cnt2) AS ?n_li) WHERE {
      { SELECT ?nname ?part (COUNT(?li2) AS ?cnt2) WHERE {
          ?li2 l:l_partkey ?part . ?li2 l:l_extendedprice ?price .
          ?li2 l:l_orderkey ?ord2 . ?ord2 o:o_custkey ?cust2 .
          ?cust2 c:c_nationkey ?nat2 . ?nat2 n:n_name ?nname . }
        GROUP BY ?nname ?part }
    } GROUP BY ?nname
  }
  OPTIONAL {
    ?nat3 n:n_name ?nname .
    ?nat3 n:n_regionkey ?reg .
  }
  BIND(?maxCnt > 5 AS ?flag)
  BIND(?maxCnt * 2 AS ?double)
}
ORDER BY ?nname
"""


def _rows(res):
    from rdf_fusion_spark.functions.typed_ops import lexical_of
    import pyspark.sql.functions as F
    df = res.df.select(*[lexical_of(F.col(c)).alias(c)
                         for c in sorted(res.df.columns)])
    return sorted(tuple(r) for r in df.collect())


def test_optimize_off_same_results(spark):  # noqa: F811
    store = get_graph(spark, SF_DIR)
    fast = store.query(QUERY)
    slow = store.query(QUERY, optimize=False)
    assert _rows(fast) == _rows(slow)
    assert len(_rows(fast)) > 0


def test_subsumption_rewrite_fires(spark):  # noqa: F811
    """The two COUNT cores differ by one functional-total triple
    (l_extendedprice): the subsumption pass must merge them into ONE
    shared Group (observable as a single Aggregate pair over the
    6-triple input in the optimized plan's subquery cache)."""
    from rdf_fusion_spark.sparql.parser import parse_query
    from rdf_fusion_spark.plans.subsumption import subsume_group_aggregates
    import rdf_fusion_spark.sparql.algebra as A

    store = get_graph(spark, SF_DIR)
    q = parse_query(QUERY)
    new = subsume_group_aggregates(q.pattern, store)

    groups = []

    def collect(p):
        if isinstance(p, A.Group):
            groups.append(p)
        for attr in ("left", "right", "inner"):
            c = getattr(p, attr, None)
            if c is not None:
                collect(c)

    collect(new)
    inner = [g for g in groups if isinstance(g.inner, A.BGP)]
    assert len(inner) == 2
    # both inner Groups now aggregate over the SAME (6-triple) input with
    # the SAME merged aggregate list — α-equivalent, so CSE shares them
    assert all(len(g.inner.triples) == 6 for g in inner)
    a, b = inner
    assert [c.name for _, c in a.aggregates] == \
        [c.name for _, c in b.aggregates]

