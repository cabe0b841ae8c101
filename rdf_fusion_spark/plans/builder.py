"""Programmatic SPARQL plan builder.

Mirrors the reference's `RdfFusionLogicalPlanBuilder` doc example
(lib/logical/src/logical_plan_builder.rs:19-66):

    builder_context
        .create_pattern(ActiveGraph::DefaultGraph, None, pattern)
        .project(&[subject])
        .build()

Spark port — the built artifact is a plain DataFrame, so a builder plan
composes with arbitrary Spark SQL / DataFrame code (the reference's
selling point of composing custom DataFusion plans, for free):

    from rdf_fusion_spark import PlanBuilder, Variable
    df = (PlanBuilder(store)
          .pattern("?s", "<http://xmlns.com/foaf/0.1/name>", "?name")
          .filter('STRLEN(STR(?name)) > 3')
          .project("s", "name")
          .df())
    df.join(other_spark_df, df["name"]["v"] == other_spark_df.key)

Every operator delegates to the same translator/join machinery the
SPARQL front end uses, so bound-variable tracking (join strategy
selection) and expression compilation behave identically.
"""

from __future__ import annotations

from dataclasses import replace
from typing import Optional, Union

from pyspark.sql import DataFrame

from ..sparql import algebra as A
from ..store import ActiveGraph, GraphStore
from ..terms import BlankNode, Literal, NamedNode, Variable

TermLike = Union[str, Variable, NamedNode, BlankNode, Literal, None]


def _as_pattern_term(x: TermLike):
    """'?v' / '<iri>' / '"lit"' strings or term objects → pattern term."""
    if x is None or isinstance(x, (Variable, NamedNode, BlankNode, Literal)):
        return x
    if not isinstance(x, str):
        raise TypeError(f"unsupported pattern term {x!r}")
    s = x.strip()
    if s.startswith("?") or s.startswith("$"):
        return Variable(s[1:])
    if s.startswith("<") and s.endswith(">"):
        return NamedNode(s[1:-1])
    if s.startswith("_:"):
        return BlankNode(s[2:])
    if s == "a":
        from ..terms import RDF_TYPE
        return NamedNode(RDF_TYPE)
    if s.startswith('"'):
        from ..sparql.parser import Parser
        e = Parser(s).parse_expression()
        if isinstance(e, A.ETerm):
            return e.term
    raise ValueError(f"cannot interpret pattern term {x!r} "
                     "(use '?var', '<iri>', '_:b', 'a' or a term object)")


def _parse_expr(expr: Union[str, object]):
    """A SPARQL expression string → algebra expression (term objects and
    pre-built algebra expressions pass through)."""
    if isinstance(expr, str):
        from ..sparql.parser import Parser
        return Parser(expr).parse_expression()
    return expr


class PlanBuilder:
    """Composable SPARQL operator builder over a GraphStore.

    Immutable-style: every method returns a new PlanBuilder; `.df()`
    yields the DataFrame (variables are term-struct columns).
    """

    def __init__(self, store: GraphStore, _sol=None, _ctx=None):
        from .translator import Ctx, _now_literal
        self.store = store
        self._ctx = _ctx or Ctx(store=store,
                                active_graph=ActiveGraph.default(),
                                now=_now_literal())
        self._sol = _sol  # None = empty solution (join unit)

    # -- construction ------------------------------------------------------

    def _with(self, sol) -> "PlanBuilder":
        return PlanBuilder(self.store, sol, self._ctx)

    def _require(self):
        if self._sol is None:
            raise ValueError("no pattern yet — start with .pattern(...) "
                             "or .values(...)")
        return self._sol

    def pattern(self, subject: TermLike, predicate: TermLike,
                obj: TermLike, graph: TermLike = "default") -> "PlanBuilder":
        """Match one triple pattern (joined with the current plan —
        reference create_pattern/pattern, logical_plan_builder.rs:296)."""
        from .join import join_solutions
        from .translator import Ctx, translate
        tp = A.TriplePattern(_as_pattern_term(subject),
                             _as_pattern_term(predicate),
                             _as_pattern_term(obj))
        ctx = self._ctx
        if graph != "default":
            g = _as_pattern_term(graph)
            if isinstance(g, Variable):
                ctx = replace(ctx, active_graph=ActiveGraph.any_named(),
                              graph_var=g)
            elif g is not None:
                ctx = replace(ctx, active_graph=ActiveGraph.union([g]),
                              graph_var=None)
        sol = translate(A.BGP([tp]), ctx)
        if self._sol is None:
            return self._with(sol)
        return self._with(join_solutions(self._sol, sol, "inner"))

    def values(self, rows: list, variables: list) -> "PlanBuilder":
        """Inline solution sequence (VALUES)."""
        from .translator import translate
        vs = [v if isinstance(v, Variable) else Variable(str(v).lstrip("?"))
              for v in variables]
        node = A.ValuesNode(vs, [[_as_pattern_term(x) if x is not None
                                  else None for x in r] for r in rows])
        from .join import join_solutions
        sol = translate(node, self._ctx)
        if self._sol is None:
            return self._with(sol)
        return self._with(join_solutions(self._sol, sol, "inner"))

    # -- operators ---------------------------------------------------------

    def filter(self, expr: Union[str, object]) -> "PlanBuilder":
        from .translator import compile_bool_expr
        sol = self._require()
        cond = compile_bool_expr(_parse_expr(expr), sol, self._ctx)
        return self._with(replace(sol, df=sol.df.filter(cond)))

    def extend(self, var: Union[str, Variable],
               expr: Union[str, object]) -> "PlanBuilder":
        """BIND(expr AS ?var) — rejects rebinding, like the reference
        (extend/logical.rs:18-62)."""
        from .translator import _apply_extend
        sol = self._require()
        name = var.name if isinstance(var, Variable) else str(var).lstrip("?")
        if name in sol.maybe:
            raise ValueError(
                f"extend would rebind in-scope variable ?{name} "
                "(reference rejects this, extend/logical.rs:18-62)")
        node = A.Extend(None, Variable(name), _parse_expr(expr))
        return self._with(_apply_extend(node, sol, self._ctx))

    def join(self, other: "PlanBuilder", how: str = "inner") -> "PlanBuilder":
        from .join import join_solutions
        return self._with(join_solutions(self._require(), other._require(),
                                         how))

    def optional(self, other: "PlanBuilder") -> "PlanBuilder":
        return self.join(other, "left")

    def union(self, other: "PlanBuilder") -> "PlanBuilder":
        """Bag-semantics union, disjoint columns NULL-padded."""
        from .join import union_solutions
        return self._with(union_solutions(self._require(), other._require()))

    def minus(self, other: "PlanBuilder") -> "PlanBuilder":
        from .join import minus_solutions
        return self._with(minus_solutions(self._require(),
                                          other._require()))

    def project(self, *variables) -> "PlanBuilder":
        from .join import project_solution
        names = [v.name if isinstance(v, Variable) else str(v).lstrip("?")
                 for v in variables]
        return self._with(project_solution(self._require(), names))

    def distinct(self) -> "PlanBuilder":
        from .translator import _dedupe_normalized
        sol = self._require()
        return self._with(replace(sol, df=_dedupe_normalized(sol)))

    def order_by(self, *conds) -> "PlanBuilder":
        """conds: '?v' / ('?v', 'desc') / expression strings."""
        out = []
        for c in conds:
            asc = True
            if isinstance(c, tuple):
                c, direction = c
                asc = str(direction).lower() != "desc"
            out.append(A.OrderCondition(_parse_expr(
                c if not (isinstance(c, str) and c.startswith("?"))
                else A.EVar(c[1:])), asc))
        sol = self._require()
        return self._with(replace(sol, pending_order=out))

    def slice(self, offset: int = 0,
              limit: Optional[int] = None) -> "PlanBuilder":
        from .translator import _apply_order
        sol = _apply_order(self._require(), self._ctx)
        df = sol.df
        if offset:
            df = df.offset(offset)
        if limit is not None:
            df = df.limit(limit)
        return self._with(replace(sol, df=df))

    # -- terminal ----------------------------------------------------------

    def df(self) -> DataFrame:
        """Build: the solution as a DataFrame of term-struct columns
        (reference build(), logical_plan_builder.rs:347)."""
        from .translator import _apply_order
        return _apply_order(self._require(), self._ctx).df

    @property
    def variables(self) -> list:
        return sorted(self._require().maybe)

    def explanation(self):
        from .translator import _explain
        return _explain(self.df())
