"""VarInfo merge rules (plans/join.py): one rule per operator shape —
inner join, left join, union, project — each stating its policy for
every field once. Table-driven: one case per (shape, field), plus the
two cases earlier per-site copies handled inconsistently: the
`expensive` marker surviving union + project (the filter pushdown
barrier of tests/test_plan_size.py relies on it) and `vcanon` through a
union (the MIN/MAX hash-aggregate decomposition relies on it)."""

import pytest

from rdf_fusion_spark.functions.typed_ops import K_DECIMAL, SK_IRI
from rdf_fusion_spark.plans.join import (
    BOUND, UNBOUND, Solution, VarInfo, inner_join_vars, left_join_vars,
    project_solution, project_vars, union_solutions, union_vars)

NK_L = ("orders", "__nk_o")
NK_R = ("orders", "__nk_o_r")


def _sol(**vars_) -> Solution:
    return Solution(None, vars_)


def _inner(cols=()):
    return lambda l, r: inner_join_vars(l, r, frozenset(cols))


def _left(cols=()):
    return lambda l, r: left_join_vars(l, r, frozenset(cols))


IRI = VarInfo(bound=True, kind=SK_IRI)
DEC_VC = VarInfo(bound=True, kind=K_DECIMAL, vcanon=True)
EXP = VarInfo(bound=True, expensive=True)

# (case id, rule, left vars, right vars, var, expected VarInfo)
BINARY = [
    # bound
    ("inner-bound-either", _inner(), {"x": BOUND}, {"x": UNBOUND}, "x",
     BOUND),
    ("inner-bound-right-only", _inner(), {}, {"x": BOUND}, "x", BOUND),
    ("left-bound-left", _left(), {"x": BOUND}, {"x": UNBOUND}, "x", BOUND),
    ("left-right-only-unbound", _left(), {}, {"x": BOUND}, "x", UNBOUND),
    ("union-bound-both", union_vars, {"x": BOUND}, {"x": BOUND}, "x",
     BOUND),
    ("union-bound-one-branch", union_vars, {"x": BOUND}, {"x": UNBOUND},
     "x", UNBOUND),
    ("union-var-in-one-branch", union_vars, {"x": BOUND}, {}, "x",
     UNBOUND),
    # kind
    ("inner-kind-agree", _inner(), {"x": IRI}, {"x": IRI}, "x", IRI),
    ("inner-kind-disagree", _inner(), {"x": IRI},
     {"x": VarInfo(bound=True, kind=K_DECIMAL)}, "x", BOUND),
    ("inner-kind-one-side-unknown", _inner(), {"x": IRI}, {"x": BOUND},
     "x", BOUND),
    ("left-kind-right-only", _left(), {}, {"x": IRI}, "x",
     VarInfo(kind=SK_IRI)),
    ("union-kind-one-branch", union_vars, {"x": IRI}, {}, "x",
     VarInfo(kind=SK_IRI)),
    ("union-kind-disagree", union_vars, {"x": IRI},
     {"x": VarInfo(bound=True, kind=K_DECIMAL)}, "x", BOUND),
    # vcanon
    ("inner-vcanon-both", _inner(), {"x": DEC_VC}, {"x": DEC_VC}, "x",
     DEC_VC),
    ("inner-vcanon-one-side-only", _inner(), {"x": DEC_VC},
     {"x": VarInfo(bound=True, kind=K_DECIMAL)}, "x",
     VarInfo(bound=True, kind=K_DECIMAL)),
    ("union-vcanon-both", union_vars, {"x": DEC_VC}, {"x": DEC_VC}, "x",
     DEC_VC),
    ("union-vcanon-one-branch-var", union_vars, {"x": DEC_VC}, {}, "x",
     VarInfo(kind=K_DECIMAL, vcanon=True)),
    # expensive
    ("inner-expensive-either", _inner(), {"x": BOUND}, {"x": EXP}, "x",
     EXP),
    ("left-expensive-right-only", _left(), {}, {"x": EXP}, "x",
     VarInfo(expensive=True)),
    ("union-expensive-either", union_vars, {"x": EXP}, {"x": BOUND}, "x",
     EXP),
    # nkey
    ("inner-nkey-column-kept", _inner({"__nk_o"}),
     {"x": VarInfo(bound=True, nkey=NK_L)}, {"y": BOUND}, "x",
     VarInfo(bound=True, nkey=NK_L)),
    ("inner-nkey-column-gone", _inner(),
     {"x": VarInfo(bound=True, nkey=NK_L)}, {"y": BOUND}, "x", BOUND),
    ("inner-nkey-left-wins", _inner({"__nk_o", "__nk_o_r"}),
     {"x": VarInfo(bound=True, nkey=NK_L)},
     {"x": VarInfo(bound=True, nkey=NK_R)}, "x",
     VarInfo(bound=True, nkey=NK_L)),
    ("inner-nkey-right-when-left-column-gone", _inner({"__nk_o_r"}),
     {"x": VarInfo(bound=True, nkey=NK_L)},
     {"x": VarInfo(bound=True, nkey=NK_R)}, "x",
     VarInfo(bound=True, nkey=NK_R)),
    ("left-nkey-column-kept", _left({"__nk_o"}),
     {"x": VarInfo(bound=True, nkey=NK_L)}, {"y": BOUND}, "x",
     VarInfo(bound=True, nkey=NK_L)),
    ("union-nkey-dropped", union_vars,
     {"x": VarInfo(bound=True, nkey=NK_L)},
     {"x": VarInfo(bound=True, nkey=NK_L)}, "x", BOUND),
]


@pytest.mark.parametrize("rule,left,right,var,want",
                         [c[1:] for c in BINARY], ids=[c[0] for c in BINARY])
def test_binary_rule(rule, left, right, var, want):
    out = rule(_sol(**left), _sol(**right))
    assert set(out) == set(left) | set(right)
    assert out[var] == want


FULL = VarInfo(bound=True, kind=K_DECIMAL, vcanon=True, expensive=True,
               nkey=NK_L)

PROJECT = [
    ("project-keeps-bound-kind-vcanon-expensive", {"x": FULL}, ["x"], "x",
     VarInfo(bound=True, kind=K_DECIMAL, vcanon=True, expensive=True)),
    ("project-drops-nkey", {"x": VarInfo(bound=True, nkey=NK_L)}, ["x"],
     "x", BOUND),
    ("project-missing-name-unbound", {"x": FULL}, ["x", "y"], "y",
     UNBOUND),
]


@pytest.mark.parametrize("vars_,names,var,want", [c[1:] for c in PROJECT],
                         ids=[c[0] for c in PROJECT])
def test_project_rule(vars_, names, var, want):
    out = project_vars(_sol(**vars_), names)
    assert list(out) == names
    assert out[var] == want


def test_expensive_survives_union_then_project():
    u = _sol(**union_vars(_sol(agg=EXP, k=IRI), _sol(agg=BOUND, k=IRI)))
    assert project_vars(u, ["agg"])["agg"].expensive


def test_helpers_apply_the_rules(spark):
    """union_solutions / project_solution (the one NULL-padding union and
    the one projection every caller uses) carry the rules' output, with
    the union padding each side's missing column."""
    from rdf_fusion_spark.functions.builtins import NULL_TERM
    df = spark.range(1).select(NULL_TERM().alias("x"),
                               NULL_TERM().alias("agg"))
    a = Solution(df, {"x": DEC_VC, "agg": EXP})
    b = Solution(df.select("x"), {"x": DEC_VC})
    u = union_solutions(a, b)
    assert sorted(u.df.columns) == ["agg", "x"]
    assert u.vars == {"x": DEC_VC, "agg": VarInfo(expensive=True)}
    p = project_solution(u, ["agg", "x", "gone"])
    assert p.df.columns == ["agg", "x", "gone"]
    assert p.vars["agg"].expensive and p.vars["x"].vcanon
    assert p.vars["gone"] == UNBOUND
    assert p.df.count() == 2
