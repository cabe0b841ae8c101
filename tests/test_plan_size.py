"""Plan-size regression guards for BIND chains and filters over computed
variables.

Two historical blow-up modes, both fixed and pinned here:

* Constant Extend chains rooted at the unit table: every level's column is
  foldable, which Catalyst's project collapsing treats as cheap and inlines
  into each of the next level's references before constant folding runs —
  exponential optimizer work (4 chained arithmetic BINDs exhausted a 1 GiB
  driver). Fixed by eager per-level evaluation
  (translator._translate_unit_extend_chain).

* FILTER over a BIND-computed variable: PushPredicateThroughNonJoin
  substitutes the producing projection's aliases into every of the
  predicate's ~25 operand references, multiplying per projection layer.
  Fixed locally (round 5): computed variables are tracked in
  VarInfo.expensive, and a filter referencing one is applied above a
  nondeterministic no-op projection the rule cannot push through
  (translator._apply_plain_filters) — the session-global rule exclusion
  this test originally pinned is gone (it leaked into user sessions and
  blocked the var=var Filter-into-Join equi fusion).
"""

import pytest

from rdf_fusion_spark.store import GraphStore
from rdf_fusion_spark.terms import Literal, NamedNode

EX = "http://example.org/"
XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"


@pytest.fixture(scope="module")
def scores(spark):
    return GraphStore.from_python_quads(spark, [
        (None, NamedNode(EX + s), NamedNode(EX + "score"),
         Literal(str(v), datatype=XSD_INT))
        for s, v in [("a", 5), ("b", 15), ("c", 25)]
    ])


def _opt_plan_len(res) -> int:
    return len(res.df._jdf.queryExecution().optimizedPlan().toString())


def test_constant_bind_chain_is_evaluated_eagerly(scores):
    binds = ["BIND(1+1 AS ?v0)"] + [
        f"BIND(?v{i-1}+1 AS ?v{i})" for i in range(1, 8)
    ]
    res = scores.query("SELECT ?v7 WHERE { %s }" % " ".join(binds))
    rows = res.df.collect()
    assert [r["v7"]["v"] for r in rows] == ["9"]
    # eager evaluation leaves a literal one-row plan, not a fold pyramid
    assert _opt_plan_len(res) < 4_000


def test_filter_over_bind_chain_plan_stays_linear(scores):
    q = """PREFIX ex: <http://example.org/>
    SELECT ?s WHERE {
      ?s ex:score ?v .
      BIND(?v * 2 AS ?a) BIND(?a + 1 AS ?b) BIND(?b * 2 AS ?c)
      FILTER(?c > 23)
    }"""
    res = scores.query(q)
    got = sorted(r["s"]["v"] for r in res.df.collect())
    # (5*2+1)*2=22; (15*2+1)*2=62; (25*2+1)*2=102
    assert got == [EX + "b", EX + "c"]
    # pre-fix this plan exceeded 200 KB for a single BIND and OOMed for
    # two; three BINDs + filter must stay ~linear in the expression size
    assert _opt_plan_len(res) < 40_000


def test_error_in_constant_chain_leaves_var_unbound(scores):
    res = scores.query(
        'SELECT ?a ?b WHERE { BIND(1/0 AS ?a) BIND(COALESCE(?a, 9) AS ?b) }')
    [row] = res.df.collect()
    assert row["a"] is None
    assert row["b"]["v"] == "9"
