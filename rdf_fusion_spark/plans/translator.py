"""SPARQL algebra → DataFrame translator.

The Spark analogue of the reference's GraphPatternRewriter
(lib/execution/src/sparql/rewriting/graph_pattern_rewriter.rs:63-236) —
but it lowers *eagerly*: every algebra node becomes DataFrame operations
immediately (no custom logical nodes, no optimizer rules; SURVEY.md §7.2).
Catalyst then applies predicate pushdown / column pruning / join selection.
"""

from __future__ import annotations

import datetime as _dt
import threading
from dataclasses import dataclass, field, replace
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import builtins as B
from ..functions.sortkeys import sort_key
from ..functions import typed_ops as tv
from ..functions.typed_ops import Interner
from ..sparql import algebra as A
from ..store import ActiveGraph, GraphStore
from ..terms import (
    RDF_TYPE,
    TERM_TYPE,
    TT_LITERAL,
    XSD_BOOLEAN,
    XSD_DATETIME,
    Literal,
    NamedNode,
    Variable,
    term_lit,
)
from . import join as _join
from .join import (BOUND, UNBOUND, Solution, VarInfo, exists_join,
                   join_solutions, minus_solutions, project_solution,
                   project_vars, union_solutions)

TERM_DDL = B.TERM_DDL


def NULL_TERM():
    return B.NULL_TERM()


def _dedupe_normalized(sol: "Solution") -> DataFrame:
    """dropDuplicates over value-normalized term columns.

    A lazy term (v=NULL, virtual scan) and an eager copy of the same value
    (quads fallback) are distinct structs; materialize the lexical of every
    possibly-lazy column first so DISTINCT dedupes by term identity, not by
    representation. Columns whose static kind cannot be lazy pass through
    untouched (materialize_lexical no-ops on them)."""
    cols = sorted(sol.maybe)
    if not cols:
        return sol.df.limit(1)
    df = sol.df
    repl = {c: tv.materialize_lexical(_var_term(df[c], sol.vars[c]))
            for c in cols}
    return df.withColumns(repl).dropDuplicates(cols)


@dataclass
class Ctx:
    """Carries GRAPH scoping + query-constant state through translation
    (reference: RewritingState{active_graph, graph_name_var},
    graph_pattern_rewriter.rs:407-451)."""
    store: GraphStore
    active_graph: ActiveGraph
    graph_var: Optional[Variable] = None
    now: Optional[Literal] = None
    # FROM NAMED restriction: None = all named graphs are in scope,
    # else GRAPH may only address/enumerate these
    named_graphs: Optional[list] = None
    counter: list = field(default_factory=lambda: [0])
    # sideways information passing: {subject var → {(pred, const obj)}}
    # implied by an enclosing pattern; BGPs on virtual stores inject
    # these as extra scan constraints (sound: rows whose subjects violate
    # them can never survive the enclosing join)
    ambient_consts: Optional[dict] = None
    # common-subquery elimination: canonical α-equivalence key of a
    # sub-SELECT → (translated Solution, its vars in canonical order).
    # BSBM-BI-style generated queries repeat identical GROUP BY
    # subqueries verbatim (modulo variable names); translating the
    # repeat into the SAME DataFrame subtree makes the physical planner
    # reuse the aggregation exchange instead of recomputing the chain.
    subquery_cache: dict = field(default_factory=dict)
    # α-keys of shared subqueries already persist()-ed (see
    # _persist_shared_subquery); None disables the persist (tests that
    # assert raw plan shapes)
    shared_persisted: Optional[set] = field(default_factory=set)
    # constant endpoint terms of the path PATTERN currently being
    # lowered (paths.translate_path_pattern): a zero-length path must
    # self-relate a bound endpoint even when that term appears nowhere
    # in the graph (W3C pp: `<fresh> p? ?y` yields y=<fresh>) — found by
    # tests/test_algebra_fuzz.py seeds 6044/6144
    path_endpoints: tuple = ()
    # optimization knob (reference OptimizationLevel::{None,Default,Full},
    # lib/execution/src/sparql/optimizer.rs:18): False disables the
    # translator-level rewrites (CSE, sideways information passing,
    # BIND-wave merging, aggregate subsumption) for debugging — results
    # must be identical, plans need not be
    optimize: bool = True

    def fresh(self, tag: str) -> str:
        self.counter[0] += 1
        return f"__{tag}_{self.counter[0]}"


# ---------------------------------------------------------------------------
# expression plumbing
# ---------------------------------------------------------------------------

# The two conversions between a variable's VarInfo and a compiled term
# record: variables enter expressions through _var_term, and BIND and
# aggregate outputs leave them through _var_info.
def _var_term(col: Column, info: VarInfo) -> tv.TermExpr:
    return tv.TermExpr(col, info.kind, info.vcanon)


def _var_info(te: tv.TermExpr, bound: bool, expensive: bool) -> VarInfo:
    return VarInfo(bound=bound, kind=te.kind, vcanon=te.vcanon,
                   expensive=expensive)


def _resolver(sol: Solution) -> Callable[[str], tv.TermExpr]:
    def resolve(name: str) -> tv.TermExpr:
        info = sol.vars.get(name)
        if info is not None:
            return _var_term(F.col(name), info)
        # provably unbound: the NULL constant of kind SK_NULL, so
        # arithmetic / comparison folds statically instead of handing the
        # optimizer an exponentially-inlinable literal tree
        return tv.TermExpr(NULL_TERM(), tv.SK_NULL)
    return resolve


def _inject_now(expr, ctx: Ctx):
    """Replace NOW() with the query-constant timestamp
    (reference: expression_rewriter.rs:233-240)."""
    if isinstance(expr, A.ECall):
        if expr.name == "NOW":
            return A.ETerm(ctx.now)
        return A.ECall(expr.name, [_inject_now(a, ctx) for a in expr.args])
    return expr


def compile_term_expr(expr, sol: Solution, ctx: Ctx) -> tv.TermExpr:
    return B.compile_expr(_inject_now(expr, ctx), _resolver(sol))


def compile_bool_expr(expr, sol: Solution, ctx: Ctx) -> Column:
    # positive filter context: NULL (error) and false both drop the row,
    # so the where-variant's flat equality is safe and lets Catalyst
    # extract equi-join keys from var=var filters
    return B.compile_bool_where(_inject_now(expr, ctx), _resolver(sol))


# ---------------------------------------------------------------------------
# EXISTS as a general expression (inside IF / BIND / || / ...)
#
# reference: expression_rewriter.rs:325-340 — EXISTS anywhere in an
# expression is pre-computed into a boolean marker column. The marker
# depends only on the shared variables, so it is evaluated once per
# DISTINCT shared-variable tuple (semi-join on the deduplicated keys), then
# joined back null-safely — no row duplication, no per-row subquery.
# ---------------------------------------------------------------------------

def _expr_has_vars(expr) -> bool:
    if isinstance(expr, A.EVar):
        return True
    if isinstance(expr, A.ECall):
        return any(_expr_has_vars(a) for a in expr.args)
    if isinstance(expr, A.EExists):
        return True  # correlated by construction — never hoist
    return False


def _expr_vars(e) -> Optional[set]:
    """Variables an ORDER BY expression references, or None when the
    node is opaque (EXISTS / aggregates / unknown) and not analyzable."""
    if isinstance(e, A.EVar):
        return {e.name}
    if isinstance(e, A.ETerm):
        return set()
    if isinstance(e, A.ECall):
        out: set = set()
        for a in e.args:
            sub = _expr_vars(a)
            if sub is None:
                return None
            out |= sub
        return out
    return None


def _order_deferrable(conds: list, names: set) -> bool:
    """True iff every ORDER BY expression provably references only
    projected variables — then the sort may be deferred past the
    projection (and past an enclosing DISTINCT). Opaque expression nodes
    (EXISTS, aggregates) are conservatively non-deferrable."""
    for c in conds:
        vs = _expr_vars(c.expr)
        if vs is None or vs - names:
            return False
    return True


def _sk_of_term(t) -> Optional[int]:
    from ..terms import BlankNode, static_kind_for_datatype
    if isinstance(t, NamedNode):
        return tv.SK_IRI
    if isinstance(t, BlankNode):
        return tv.SK_BNODE
    if isinstance(t, Literal):
        if t.language is not None:
            return tv.K_STRING
        k = static_kind_for_datatype(t.datatype)
        return tv.SK_PLAIN if k == tv.K_STRING else k
    return None


def _translate_unit_extend_chain(p, ctx: Ctx) -> Optional[Solution]:
    """Extend chains rooted at the empty BGP (parameter blocks like
    BIND(2 AS ?a) BIND(?a*3 AS ?b) ...): evaluate each level EAGERLY on a
    one-row frame and rebind the result as a literal term column.

    Without this, every level's column is a foldable expression tree;
    Catalyst's project-collapsing treats foldable as cheap and inlines it
    into each of the next level's ~10 references before constant-folding
    runs, so optimization work grows exponentially with chain depth (4
    chained arithmetic BINDs exhausted a 1 GiB driver). Evaluating a unit
    chain level-by-level is semantically exact — the chain has exactly one
    solution row, so even RAND()/BNODE() evaluate once per the spec."""
    from ..terms import term_to_python

    chain = []
    x = p
    while isinstance(x, A.Extend):
        chain.append(x)
        x = x.inner
    if len(chain) < 2 or not (isinstance(x, A.BGP) and not x.triples):
        return None
    chain.reverse()  # innermost (first-bound) first
    defined: set = set()
    for e in chain:
        if _has_exists(e.expr) or not _expr_vars(e.expr) <= defined:
            return None
        defined.add(e.var.name)

    spark = ctx.store.spark
    unit = spark.range(1)
    consts: dict = {}   # var -> Term | None (error → unbound)

    def resolve(name: str) -> tv.TermExpr:
        t = consts.get(name)
        return tv.TermExpr(NULL_TERM()) if t is None else term_lit(t)

    for e in chain:
        try:
            te = B.compile_expr(_inject_now(e.expr, ctx), resolve)
            row = unit.select(te.col.alias("_r")).first()["_r"]
            consts[e.var.name] = term_to_python(row)
        except Exception:
            consts[e.var.name] = None  # expression error → var unbound

    cols = [(NULL_TERM() if t is None else term_lit(t).col).alias(v)
            for v, t in consts.items()]
    return Solution(unit.select(*cols), {
        v: VarInfo(bound=t is not None, kind=_sk_of_term(t))
        for v, t in consts.items()})


def _peel_unit_extends(p):
    """If `p` is Extend(...Extend(empty BGP)...) with variable-free
    expressions, return the Extend nodes outermost-first; else None."""
    chain = []
    x = p
    while isinstance(x, A.Extend):
        if _expr_has_vars(x.expr):
            return None
        chain.append(x)
        x = x.inner
    if chain and isinstance(x, A.BGP) and not x.triples:
        return chain
    return None


def _pattern_scope(p) -> tuple:
    """(bound, free): vars a pattern binds vs vars its EXPRESSIONS use
    without the pattern binding them. Free vars that the enclosing solution
    binds make an EXISTS correlated — the W3C substitution semantics
    (SPARQL 1.1 sec 8.1.1 + errata) — and force the lateral evaluation
    path. Sub-selects are opaque scopes (substitution does not descend)."""
    def evars(e) -> set:
        if isinstance(e, A.EVar):
            return {e.name}
        if isinstance(e, A.ECall):
            out = set()
            for a in e.args:
                out |= evars(a)
            return out
        if isinstance(e, A.EExists):
            return _pattern_scope(e.pattern)[1]
        return set()

    if isinstance(p, A.BGP):
        bound = set()
        for t in p.triples:
            for x in (t.subject, t.predicate, t.object):
                if isinstance(x, Variable):
                    bound.add(x.name)
        return bound, set()
    if isinstance(p, A.PathPattern):
        bound = {x.name for x in (p.subject, p.object)
                 if isinstance(x, Variable)}
        return bound, set()
    if isinstance(p, A.Filter):
        b, f = _pattern_scope(p.inner)
        return b, f | (evars(p.expr) - b)
    if isinstance(p, A.Extend):
        b, f = _pattern_scope(p.inner)
        return b | {p.var.name}, f | (evars(p.expr) - b)
    if isinstance(p, (A.Join, A.Lateral)):
        bl, fl = _pattern_scope(p.left)
        br, fr = _pattern_scope(p.right)
        return bl | br, fl | fr
    if isinstance(p, A.LeftJoin):
        bl, fl = _pattern_scope(p.left)
        br, fr = _pattern_scope(p.right)
        f = fl | fr
        if p.expr is not None:
            f |= evars(p.expr) - (bl | br)
        return bl | br, f
    if isinstance(p, A.Union):
        bl, fl = _pattern_scope(p.left)
        br, fr = _pattern_scope(p.right)
        return bl & br, fl | fr
    if isinstance(p, A.Minus):
        bl, fl = _pattern_scope(p.left)
        _, fr = _pattern_scope(p.right)
        return bl, fl | fr
    if isinstance(p, A.GraphNode):
        b, f = _pattern_scope(p.inner)
        if isinstance(p.name, Variable):
            b = b | {p.name.name}
        return b, f
    if isinstance(p, A.ValuesNode):
        return {v.name for v in p.variables}, set()
    if isinstance(p, A.ServiceNode):
        # remote evaluation: opaque scope like a sub-select
        return A.pattern_variables(p.inner), set()
    if isinstance(p, A.Project):
        # sub-select: opaque scope, exposes only its projection
        return {v.name for v in p.variables}, set()
    if isinstance(p, (A.Distinct, A.Reduced, A.Slice, A.OrderBy, A.Group)):
        return _pattern_scope(p.inner)
    return set(), set()


def _minus_graph_var(p: A.Minus, ctx: Ctx) -> Optional[str]:
    """The GRAPH-scoping variable to EXCLUDE from MINUS's dom-overlap
    test, or None. Per §18.5 Graph(?g, P) joins ?g ABOVE P, so inside
    MINUS the solutions normally do not contain ?g — unless ?g also
    occurs in the operand's own scope (pattern position, BIND, VALUES,
    nested GRAPH), in which case it IS a domain variable there. ?g can
    satisfy dom-overlap only when both operands bind it themselves
    (overlap needs the var in BOTH rows' domains); with it pattern-bound
    on both sides the engine's bind-below evaluation (scans restrict
    ?g = g) is equivalent to the spec's join-above, so no exclusion is
    needed. (round-11 ADVICE: GRAPH ?g { {?s ?p ?g} MINUS {?a ?b ?g} }
    must be able to exclude rows on ?g.)"""
    if ctx.graph_var is None:
        return None
    gv = ctx.graph_var.name
    if (gv in A.pattern_variables(p.left)
            and gv in A.pattern_variables(p.right)):
        return None
    return gv


def _exists_correlated(outer: Solution, pattern) -> bool:
    _, free = _pattern_scope(pattern)
    return bool(free & outer.maybe)


def _keyed_seed(sol: Solution, ctx: Ctx, tag: str = "ex_id"):
    """Materialize `sol` with a unique integer-term row key (lateral
    EXISTS / LATERAL / EXISTS-in-OPTIONAL evaluation). The key is an
    ordinary bound variable to the join machinery; monotonically_
    increasing_id is only stable if the plan is not recomputed, hence the
    checkpoint."""
    key = ctx.fresh(tag)
    df = sol.df.withColumn(key,
                           tv.int_term(F.monotonically_increasing_id()).col)
    df = df.localCheckpoint(eager=True)
    return key, replace(sol, df=df, vars={
        **sol.vars, key: VarInfo(bound=True, kind=tv.K_INTEGER)})


def _correlated_exists_join(sol: Solution, pattern, negated: bool,
                            ctx: Ctx) -> Solution:
    """FILTER (NOT) EXISTS with outer-var references inside the pattern:
    evaluate the pattern laterally against the outer solution (outer
    bindings substituted), then semi/anti join the outer rows on the seed
    key. Every join is a hash join on the integer key."""
    key, seed = _keyed_seed(sol, ctx)
    matched = _lat(pattern, seed, key, _no_consts(ctx))
    keys = matched.df.select(key).dropDuplicates()
    how = "left_anti" if negated else "left_semi"
    return replace(sol, df=seed.df.join(keys, on=key, how=how).drop(key))


def _left_join_with_exists(l: Solution, r: Solution, expr, ctx: Ctx
                           ) -> Solution:
    """LeftJoin whose condition contains (NOT) EXISTS — e.g.
    `OPTIONAL { P FILTER NOT EXISTS {...} }`. compile_bool can't express
    EXISTS as a Column, so decompose per the spec definition
    LeftJoin(L,R,E) = Filter(E, Join(L,R)) ∪ (L \\ survivors):
    key L uniquely, inner-join, run the full filter machinery (which
    handles EXISTS incl. correlated) on the joined solution, then pad the
    left rows with no surviving match. All joins hash on the integer key."""
    key, lsol = _keyed_seed(l, ctx, "lj_id")
    joined = join_solutions(lsol, r, "inner")
    survivors = _translate_filter(A.Filter(expr, A.BGP([])), ctx, sol=joined)
    matched = survivors.df.select(key).dropDuplicates()
    pad = lsol.with_df(lsol.df.join(matched, on=key, how="left_anti"))
    out = union_solutions(survivors, pad)
    return Solution(out.df.drop(key),
                    {v: i for v, i in out.vars.items() if v != key},
                    l.pending_order)


def _has_exists(expr) -> bool:
    if isinstance(expr, A.EExists):
        return True
    if isinstance(expr, A.ECall):
        return any(_has_exists(a) for a in expr.args)
    return False


def _correlated_exists_marker(sol: Solution, pattern, ctx: Ctx):
    """Marker-column variant of the correlated EXISTS (for EXISTS nested
    inside larger expressions): lateral evaluation, then a left join of
    the seed against the distinct matched keys yields the boolean."""
    name = ctx.fresh("exists")
    key, seed = _keyed_seed(sol, ctx)
    matched = _lat(pattern, seed, key, _no_consts(ctx))
    keys = matched.df.select(key).dropDuplicates() \
        .withColumn(f"__m_{name}", F.lit(True))
    marker = tv.bool_term(F.col(f"__m_{name}").isNotNull()).col
    df = seed.df.join(keys, on=key, how="left") \
        .withColumn(name, marker).drop(f"__m_{name}", key)
    return name, replace(sol, df=df, vars={**sol.vars, name: BOUND})


def _bind_exists_markers(expr, sol: Solution, ctx: Ctx):
    """Replace every EExists in `expr` with a variable bound to an
    xsd:boolean marker column on `sol`; returns (expr', sol')."""
    if isinstance(expr, A.EExists):
        if _exists_correlated(sol, expr.pattern):
            marker, sol = _correlated_exists_marker(sol, expr.pattern, ctx)
        else:
            right = translate(expr.pattern, _no_consts(ctx))
            marker, sol = _exists_marker(sol, right, ctx)
        var_expr = A.EVar(marker)
        if expr.negated:
            return A.ECall("!", [var_expr]), sol
        return var_expr, sol
    if isinstance(expr, A.ECall):
        new_args = []
        for a in expr.args:
            a2, sol = _bind_exists_markers(a, sol, ctx)
            new_args.append(a2)
        return A.ECall(expr.name, new_args), sol
    return expr, sol


def _exists_marker(left: Solution, right: Solution, ctx: Ctx):
    """Add a boolean-term marker column to `left`: does a compatible
    solution of `right` exist?"""
    from .join import _compat
    name = ctx.fresh("exists")
    shared = sorted(left.maybe & right.maybe)
    if not shared:
        m = right.df.limit(1).select(F.lit(True).alias(f"__m_{name}"))
        df = left.df.join(F.broadcast(m), F.lit(True), "left")
    else:
        keys = left.df.select(*shared).dropDuplicates()
        K, R = keys.alias("k"), right.df.alias("r")
        cond = F.lit(True)
        for v in shared:
            if v in left.bound and v in right.bound:
                cond = cond & (K[v] == R[v])
            else:
                cond = cond & _compat(K[v], R[v])
        matched = (K.join(R, cond, "left_semi")
                   .withColumn(f"__m_{name}", F.lit(True)))
        # null-safe equi join back: each left row meets ≤1 matched row
        back = F.lit(True)
        L, M = left.df.alias("l"), matched.alias("m")
        for v in shared:
            back = back & L[v].eqNullSafe(M[v])
        df = L.join(M, back, "left").select(
            *[L[c] for c in left.df.columns], M[f"__m_{name}"])
    df = df.withColumn(name,
                       tv.bool_term(F.col(f"__m_{name}").isNotNull()).col) \
        .drop(f"__m_{name}")
    return name, replace(left, df=df, vars={**left.vars, name: BOUND})


# ---------------------------------------------------------------------------
# pattern translation
# ---------------------------------------------------------------------------

def translate(p, ctx: Ctx) -> Solution:
    if isinstance(p, A.BGP):
        return _translate_bgp(p, ctx)
    if isinstance(p, A.PathPattern):
        from .paths import translate_path_pattern
        return translate_path_pattern(p, ctx)
    if isinstance(p, A.Join):
        # constant-BIND hoist: Join(Extend*(unit, v, const-expr), P) is a
        # 1-row cross join (→ BroadcastNestedLoopJoin); fuse it into
        # withColumn on P instead. Legal when the exprs are variable-free
        # and the bound vars don't occur in P (else it's a real join on v).
        for first, second in ((p.left, p.right), (p.right, p.left)):
            chain = _peel_unit_extends(first)
            if chain is not None:
                sol = translate(second, ctx)
                if all(e.var.name not in sol.maybe for e in chain):
                    for e in reversed(chain):
                        sol = _apply_extend(e, sol, ctx)
                    return sol
                break
        # symmetric sideways information passing: an INNER join keeps a
        # row of one side only when its shared vars match the other side,
        # so each side's constant (pred, obj) subject constraints are
        # implied for the other side's surviving rows — push both ways.
        # The BI Q6 shape (a suppkey-pinned triple joined with a 4-branch
        # rating UNION) otherwise full-scans the fact table once per
        # branch; with the injection each branch scan carries the pinned
        # key as a parquet filter.
        lctx = rctx = ctx
        if ctx.optimize:
            lc = _collect_subject_consts(p.left)
            rc = _collect_subject_consts(p.right)
            if rc:
                lctx = replace_ctx_consts(ctx, rc)
            if lc:
                rctx = replace_ctx_consts(ctx, lc)
        l = translate(p.left, lctx)
        r = translate(p.right, rctx)
        return join_solutions(l, r, "inner")
    if isinstance(p, A.LeftJoin):
        fused = _try_fuse_optional_chain(p, ctx)
        if fused is not None:
            return fused
        l = translate(p.left, ctx)
        # sideways information passing: constant (pred, obj) constraints
        # the LEFT pattern imposes on its subject vars are implied for
        # every right row that can survive the join — push them into the
        # OPTIONAL side so its scans prune (virtual stores only; see
        # _translate_bgp).
        #
        # SOUNDNESS (round-5 ADVICE, high): a constraint on ?s may enter
        # the OPTIONAL side only if ?s is CERTAINLY bound by this
        # LeftJoin's left side. Otherwise pruning the optional's scans
        # flips matched rows into NULL-padded rows, and NULL is
        # join-compatible with anything (join.py IsCompatible), so an
        # enclosing join that supplied the constraint would keep spurious
        # rows. With ?s certainly bound on the left, a pruned right row
        # can only have carried an ?s value the outer constraint-bearing
        # join would reject anyway — the left row survives NULL-padded
        # and dies at that outer join exactly as its matched form would.
        # Applied at every LeftJoin, so constraints flowing from ANY
        # enclosing Join/Lateral push are restricted recursively.
        rctx = _restrict_consts_to(ctx, _certainly_bound(p.left))
        consts = _collect_subject_consts(p.left) if ctx.optimize else None
        if consts:
            rctx = replace_ctx_consts(rctx, consts)
        r = translate(p.right, rctx)
        if p.expr is not None and _has_exists(p.expr):
            return _left_join_with_exists(l, r, p.expr, ctx)
        cb = None
        if p.expr is not None:
            def cb(e, resolve):  # noqa: E306
                # join-condition context: NULL and false both reject the
                # pairing — the flat where-variant applies
                return B.compile_bool_where(_inject_now(e, ctx), resolve)
        return join_solutions(l, r, "left", p.expr, cb)
    if isinstance(p, A.Filter):
        return _translate_filter(p, ctx)
    if isinstance(p, A.Union):
        return _translate_union(p, ctx)
    if isinstance(p, A.GraphNode):
        return _translate_graph(p, ctx)
    if isinstance(p, A.Extend):
        unit_chain = _translate_unit_extend_chain(p, ctx)
        if unit_chain is not None:
            return unit_chain
        return _apply_extend_chain(p, ctx)
    if isinstance(p, A.Minus):
        l = translate(p.left, ctx)
        r = translate(p.right, _no_consts(ctx))
        return minus_solutions(l, r, graph_var=_minus_graph_var(p, ctx))
    if isinstance(p, A.ValuesNode):
        return _translate_values(p, ctx)
    if isinstance(p, A.ServiceNode):
        return _translate_service(p, ctx)
    if isinstance(p, A.OrderBy):
        sol = translate(p.inner, ctx)
        return replace(sol, pending_order=list(p.conditions))
    if isinstance(p, A.Project):
        return _translate_project_cse(p, ctx)
    if isinstance(p, A.Distinct):
        res = _translate_distinct_ordered(p, ctx)
        if res is not None:
            return res
        sol = translate(p.inner, ctx)
        return replace(sol, df=_dedupe_normalized(sol))
    if isinstance(p, A.Reduced):
        # REDUCED treated as DISTINCT (legal per spec; reference leaves it
        # unimplemented — graph_pattern_rewriter.rs:234)
        return translate(A.Distinct(p.inner), ctx)
    if isinstance(p, A.Slice):
        return _translate_slice(p, ctx)
    if isinstance(p, A.Group):
        if ctx.optimize:
            res = _translate_complement_agg(p, ctx)
            if res is not None:
                return res
        return _translate_group(p, ctx)
    if isinstance(p, A.Lateral):
        return _translate_lateral(p, ctx)
    raise NotImplementedError(f"pattern not supported: {type(p).__name__}")


# ---------------------------------------------------------------------------
# LATERAL (SEP-0006 dependent join; oxigraph extension)
#
# `A LATERAL B` evaluates B once per solution of A with A's bindings
# substituted. Distributed implementation: materialize A once with a
# unique per-row key (LAT_ID, itself an integer term so the whole join
# machinery treats it as an ordinary bound variable), then thread that
# SEEDED solution through B's translation — every leaf joins against the
# seed, so outer bindings are visible to FILTER/BOUND/OPTIONAL, and
# subselect ORDER/LIMIT/GROUP become per-seed-row window operations.
# ---------------------------------------------------------------------------

def _translate_lateral(p: A.Lateral, ctx: Ctx) -> Solution:
    return _lateral_of(translate(p.left, ctx), p.right, ctx)


def _lateral_of(l: Solution, right, ctx: Ctx) -> Solution:
    # unique row key + one materialization: the dependent join references
    # the outer relation from several subplans
    key, seed = _keyed_seed(l, ctx, "lat_id")
    out = _lat(right, seed, key, ctx)
    return replace(out, df=out.df.drop(key),
                   vars={v: i for v, i in out.vars.items() if v != key})


def _lat(p, seed: Solution, key: str, ctx: Ctx) -> Solution:
    if isinstance(p, A.Filter):
        return _translate_filter(p, ctx, sol=_lat(p.inner, seed, key, ctx))
    if isinstance(p, A.Join):
        return join_solutions(_lat(p.left, seed, key, ctx),
                              _fresh_ids(_lat(p.right, seed, key, ctx)),
                              "inner")
    if isinstance(p, A.LeftJoin):
        cb = None
        if p.expr is not None:
            def cb(e, resolve):  # noqa: E306
                return B.compile_bool_where(_inject_now(e, ctx), resolve)
        return join_solutions(_lat(p.left, seed, key, ctx),
                              _fresh_ids(_lat(p.right, seed, key, ctx)),
                              "left", p.expr, cb)
    if isinstance(p, A.Union):
        return union_solutions(_lat(p.left, seed, key, ctx),
                               _lat(p.right, seed, key, ctx))
    if isinstance(p, A.Extend):
        return _apply_extend(p, _lat(p.inner, seed, key, ctx), ctx)
    if isinstance(p, A.Minus):
        return minus_solutions(
            _lat(p.left, seed, key, ctx),
            translate(p.right, _no_consts(ctx)),
            graph_var=_minus_graph_var(p, ctx))
    if isinstance(p, A.GraphNode) and isinstance(p.name, NamedNode):
        inner_ctx = replace(ctx, active_graph=ActiveGraph.union([p.name]),
                            graph_var=None)
        return _lat(p.inner, seed, key, inner_ctx)
    if isinstance(p, A.Group):
        return _translate_group(
            p, ctx, sol=_lat(p.inner, seed, key, ctx),
            extra_keys=(key, *sorted(seed.maybe - {key})))
    if isinstance(p, A.OrderBy):
        sol = _lat(p.inner, seed, key, ctx)
        return replace(sol, pending_order=list(p.conditions))
    if isinstance(p, A.Project):
        # subselect projection: the outer scope still sees the seed vars
        sol = _lat(p.inner, seed, key, ctx)
        names = [v.name for v in p.variables]
        keep = sorted({key, *(seed.maybe & sol.maybe),
                       *(n for n in names if n in sol.maybe)})
        return project_solution(
            sol, keep + [n for n in names if n not in sol.maybe])
    if isinstance(p, (A.Distinct, A.Reduced)):
        sol = _lat(p.inner, seed, key, ctx)
        return replace(sol, df=_dedupe_normalized(sol))
    if isinstance(p, A.Slice):
        return _lat_slice(p, seed, key, ctx)
    if isinstance(p, A.Lateral):
        return _lateral_of(_lat(p.left, seed, key, ctx), p.right, ctx)
    # leaves (BGP, paths, VALUES, ...): independent evaluation, then a
    # plain join with the seed — equivalent to substitution for patterns
    # (shared variables unify), which is exactly the SEP-0006 rewrite
    return join_solutions(seed, translate(p, ctx), "inner")


def _fresh_ids(sol: Solution) -> Solution:
    """Re-alias every column (new expression ids) so joining two subplans
    that share the seed's checkpointed lineage is not flagged as an
    ambiguous self-join."""
    return replace(sol, df=sol.df.toDF(*sol.df.columns))


def _lat_slice(p: A.Slice, seed: Solution, key: str, ctx: Ctx) -> Solution:
    """LIMIT/OFFSET inside a LATERAL subselect: a per-seed-row window
    (row_number over the seed key) instead of a global limit."""
    from pyspark.sql import Window

    sol = _lat(p.inner, seed, key, ctx)
    keep = [c for c in sol.df.columns]
    df, keys = _sort_keys(sol, sol.pending_order, ctx)
    keys = _directed(sol.pending_order, keys) or [F.lit(1)]
    rn = F.row_number().over(Window.partitionBy(F.col(key)).orderBy(*keys))
    lo = p.start or 0
    cond = F.col("__lat_rn") > lo
    if p.length is not None:
        cond = cond & (F.col("__lat_rn") <= lo + p.length)
    df = df.withColumn("__lat_rn", rn).where(cond).select(*keep)
    return replace(sol, df=df, pending_order=[])


def _extend_expensive(expr, sol: Solution) -> bool:
    """Expensive marker for an Extend output: any computed expression is
    expensive (its backing column is a materialize_lexical struct built
    over interned withColumn Projects — alias-substituting a filter
    through that stack re-inlines the whole tree, see
    _apply_plain_filters); a bare rename inherits the source's marker and
    a constant stays cheap."""
    if isinstance(expr, A.ETerm):
        return False
    if isinstance(expr, A.EVar):
        return sol.vars.get(expr.name, UNBOUND).expensive
    return True


# BIND expressions that provably cannot error (given certainly-bound,
# statically-typed inputs) produce a certainly-bound variable. This
# matters far beyond bookkeeping: a possibly-NULL shared variable forces
# every downstream compatibility join onto the null-pattern split-union
# path, which DUPLICATES both join inputs' plans once per null pattern —
# the WindFarm MultiGrouped3 shape (two aggregation subqueries joined on
# a BIND(YEAR(?t)) key) quadrupled its scans this way (36 parquet scans,
# 16 exchanges for a 2-chain query).
_TOTAL_DT_ACCESSORS = {"YEAR", "MONTH", "DAY", "HOURS", "MINUTES",
                       "SECONDS"}


def _extend_certainly_bound(expr, sol: Solution) -> bool:
    """Conservative totality whitelist: True only when the expression
    yields a non-error, non-NULL term on EVERY row of `sol`."""
    from ..terms import K_DATETIME
    if isinstance(expr, A.ETerm):
        return True
    if isinstance(expr, A.EVar):
        return expr.name in sol.bound
    if isinstance(expr, A.ECall):
        if expr.name in _TOTAL_DT_ACCESSORS and len(expr.args) == 1:
            a = expr.args[0]
            # accessor over a certainly-bound, statically-dateTime term:
            # the ts field is populated by construction, no error branch
            return (isinstance(a, A.EVar) and a.name in sol.bound
                    and sol.kinds.get(a.name) == K_DATETIME)
        if expr.name == "COALESCE":
            return any(_extend_certainly_bound(a, sol) for a in expr.args)
    return False


def _apply_extend(p: A.Extend, sol: Solution, ctx: Ctx) -> Solution:
    orig = sol.vars
    expr = p.expr
    if _has_exists(expr):
        expr, sol = _bind_exists_markers(expr, sol, ctx)
    with Interner(sol.df, ctx) as it:
        te = compile_term_expr(expr, sol, ctx)
    info = _var_info(te, _extend_certainly_bound(p.expr, sol),
                     _extend_expensive(expr, sol))
    keep = [c for c in sol.df.columns if c in orig]
    # materialize the lazy lexical through a NAMED column: applying it
    # to the expression tree directly re-expands the tree ~12x (struct
    # fields + condition), which blows up codegen compile time
    df = (it.df.withColumn(p.var.name, te.col)
          .withColumn(p.var.name, tv.materialize_lexical(
              _var_term(F.col(p.var.name), info)))
          .select(*keep, p.var.name))
    return replace(sol, df=df, vars={**orig, p.var.name: info})


def _apply_extend_chain(p: A.Extend, ctx: Ctx) -> Solution:
    """Translate a nested Extend chain, merging INDEPENDENT consecutive
    BINDs into one projection wave.

    A run of BINDs over the same inputs (five dateTime accessors of one
    ?ts, say) is semantically one projection, but applied one level at a
    time it stacks that many Project nodes — all fused into a single
    WholeStageCodegen whose doConsume then exceeds Janino's 64 KB method
    limit (observed: a 13-BIND query compiled 2,300+ expression slots and
    fell back to interpreted execution). Waves keep the generated method
    linear in the number of DEPENDENT levels only."""
    chain: list[A.Extend] = []
    x = p
    while isinstance(x, A.Extend):
        chain.append(x)
        x = x.inner
    chain.reverse()  # innermost (first-bound) first
    sol = translate(x, ctx)
    i = 0
    while i < len(chain):
        wave: list[A.Extend] = []
        wave_vars: set[str] = set()
        while i < len(chain):
            e = chain[i]
            if _has_exists(e.expr) or (_expr_vars(e.expr) & wave_vars):
                break
            wave.append(e)
            wave_vars.add(e.var.name)
            i += 1
        if not wave:  # EXISTS marker binding mutates sol — keep sequential
            sol = _apply_extend(chain[i], sol, ctx)
            i += 1
        elif len(wave) == 1 or not ctx.optimize:
            for e in wave:
                sol = _apply_extend(e, sol, ctx)
        else:
            sol = _apply_extend_wave(wave, sol, ctx)
    return sol


def _apply_extend_wave(wave: list, sol: Solution, ctx: Ctx) -> Solution:
    """One projection binding several independent BIND expressions (the
    multi-var generalization of _apply_extend; same lazy-lexical and
    named-column materialization discipline)."""
    terms: dict[str, tv.TermExpr] = {}
    with Interner(sol.df, ctx) as it:
        for e in wave:
            terms[e.var.name] = compile_term_expr(e.expr, sol, ctx)
    new = {e.var.name: _var_info(terms[e.var.name],
                                 _extend_certainly_bound(e.expr, sol),
                                 _extend_expensive(e.expr, sol))
           for e in wave}
    keep = [c for c in sol.df.columns if c in sol.vars]
    df = it.df
    for v, te in terms.items():
        df = df.withColumn(v, te.col)
    df = df.select(*keep, *[
        tv.materialize_lexical(_var_term(F.col(v), new[v])).alias(v)
        for v in terms])
    return replace(sol, df=df, vars={**sol.vars, **new})


def _scan(tp: A.TriplePattern, ctx: Ctx) -> Solution:
    df, known = ctx.store.scan_solution(
        tp.subject, tp.predicate, tp.object,
        active_graph=ctx.active_graph, graph_var=ctx.graph_var,
    )
    vars_ = set()
    for x in (tp.subject, tp.predicate, tp.object):
        if isinstance(x, Variable):
            vars_.add(x.name)
    if ctx.graph_var is not None and ctx.active_graph.kind != ActiveGraph.DEFAULT:
        vars_.add(ctx.graph_var.name)
    if not vars_:
        # ground pattern: 1 or 0 solutions (empty mapping)
        return Solution(df.limit(1).select())
    return Solution(df, {v: known.get(v, BOUND) for v in sorted(vars_)})


def _collect_subject_consts(p) -> dict:
    """{subject var → {(pred NamedNode, obj const Term)}} guaranteed by a
    pattern: constant-predicate/constant-object triples in its
    conjunctive core. Union branches contribute the intersection;
    OPTIONAL/MINUS right sides contribute nothing."""
    if isinstance(p, A.BGP):
        out: dict = {}
        for t in p.triples:
            if isinstance(t.subject, Variable) and \
                    isinstance(t.predicate, NamedNode) and \
                    not isinstance(t.object, Variable):
                out.setdefault(t.subject.name, set()).add(
                    (t.predicate, t.object))
        return out
    if isinstance(p, A.Join):
        a, b = _collect_subject_consts(p.left), _collect_subject_consts(p.right)
        for k, v in b.items():
            a[k] = a.get(k, set()) | v
        return a
    if isinstance(p, A.Filter):
        out = _collect_subject_consts(p.inner)
        # FILTER-pinned objects (round-5 verdict #4): a top-level
        # conjunct `?v = <const>` combined with a mandatory inner triple
        # `?s <pred> ?v` implies the constant constraint (pred, const)
        # on ?s — the BSBM Explore-Q1 / BI-Q1 shape, where the pinned
        # key arrives via FILTER instead of a ground triple. Only
        # identity-comparable constants qualify (IRIs, plain strings):
        # for numerics/dates value-equality admits other lexical forms
        # ("042"^^integer = 42) and a term-match injection would prune
        # rows the filter keeps.
        eqs = _filter_const_eqs(p.expr)
        if eqs:
            for t in _conjunctive_triples(p.inner):
                if (isinstance(t.subject, Variable)
                        and isinstance(t.predicate, NamedNode)
                        and isinstance(t.object, Variable)
                        and t.object.name in eqs):
                    out.setdefault(t.subject.name, set()).add(
                        (t.predicate, eqs[t.object.name]))
        return out
    if isinstance(p, (A.Extend, A.Distinct, A.Reduced, A.Slice,
                      A.OrderBy)):
        return _collect_subject_consts(p.inner)
    if isinstance(p, (A.LeftJoin, A.Minus, A.Lateral)):
        return _collect_subject_consts(p.left)
    if isinstance(p, A.Union):
        a, b = _collect_subject_consts(p.left), _collect_subject_consts(p.right)
        return {k: a[k] & b[k] for k in a.keys() & b.keys()
                if a[k] & b[k]}
    return {}


def _identity_comparable(t) -> bool:
    """True when SPARQL value equality to this constant implies TERM
    identity — safe to enforce with a scan-level term match. IRIs and
    simple/xsd:string literals qualify; numeric, boolean, and temporal
    literals admit distinct lexical forms of the same value."""
    from ..terms import XSD_STRING
    if isinstance(t, NamedNode):
        return True
    return (isinstance(t, Literal) and t.language is None
            and t.datatype == XSD_STRING)


def _filter_const_eqs(expr) -> dict:
    """{var name → constant Term} for top-level `?v = const` and
    `sameTerm(?v, const)` conjuncts of a filter expression (either
    operand order; only `&&` is descended — equalities under
    `||`/`!`/IF are not implied). sameTerm is term identity by
    definition, so it qualifies for every constant the `=` harvest
    accepts (and _identity_comparable further restricts both to
    constants whose value equality implies term identity)."""
    out: dict = {}
    if isinstance(expr, A.ECall) and expr.name == "&&":
        for arg in expr.args:
            out.update(_filter_const_eqs(arg))
        return out
    if isinstance(expr, A.ECall) and expr.name in ("=", "SAMETERM") \
            and len(expr.args) == 2:
        a, b = expr.args
        for x, y in ((a, b), (b, a)):
            if isinstance(x, A.EVar) and isinstance(y, A.ETerm) \
                    and _identity_comparable(y.term):
                out[x.name] = y.term
    return out


def _conjunctive_triples(p):
    """Triple patterns certainly evaluated in the conjunctive core of a
    pattern (every solution binds their variables from a matching
    triple)."""
    if isinstance(p, A.BGP):
        yield from p.triples
    elif isinstance(p, A.Join):
        yield from _conjunctive_triples(p.left)
        yield from _conjunctive_triples(p.right)
    elif isinstance(p, (A.Filter, A.Extend, A.Distinct, A.Reduced,
                        A.Slice, A.OrderBy)):
        yield from _conjunctive_triples(p.inner)
    elif isinstance(p, (A.LeftJoin, A.Minus, A.Lateral)):
        yield from _conjunctive_triples(p.left)


def replace_ctx_consts(ctx: Ctx, consts: dict) -> Ctx:
    merged = dict(ctx.ambient_consts or {})
    for k, v in consts.items():
        merged[k] = merged.get(k, set()) | v
    return replace(ctx, ambient_consts=merged)


def _certainly_bound(p) -> set:
    """Variable names CERTAINLY bound (non-NULL in every solution) by a
    pattern — the syntactic analysis SIP soundness rests on (see the
    LeftJoin case in `translate`). Conservative: returning fewer names is
    always safe, so anything unanalyzed contributes nothing."""
    if isinstance(p, A.BGP):
        out = set()
        for t in p.triples:
            for x in (t.subject, t.predicate, t.object):
                if isinstance(x, Variable):
                    out.add(x.name)
        return out
    if isinstance(p, A.PathPattern):
        return {x.name for x in (p.subject, p.object)
                if isinstance(x, Variable)}
    if isinstance(p, (A.Join, A.Lateral)):
        return _certainly_bound(p.left) | _certainly_bound(p.right)
    if isinstance(p, (A.LeftJoin, A.Minus)):
        return _certainly_bound(p.left)
    if isinstance(p, A.Union):
        return _certainly_bound(p.left) & _certainly_bound(p.right)
    if isinstance(p, (A.Filter, A.Distinct, A.Reduced, A.Slice, A.OrderBy)):
        return _certainly_bound(p.inner)
    if isinstance(p, A.Extend):
        # BIND can leave its var unbound (expression error) — inner only
        return _certainly_bound(p.inner)
    if isinstance(p, A.GraphNode):
        inner = _certainly_bound(p.inner)
        if isinstance(p.name, Variable):
            inner = inner | {p.name.name}
        return inner
    if isinstance(p, A.Project):
        return _certainly_bound(p.inner) & {v.name for v in p.variables}
    if isinstance(p, A.Group):
        # aggregate outputs can be unbound (e.g. SUM over an errored
        # group); keys are bound iff bound in the inner pattern
        return _certainly_bound(p.inner) & {k.name for k in p.keys}
    if isinstance(p, A.ValuesNode):
        out = set()
        for i, v in enumerate(p.variables):
            if p.rows and all(row[i] is not None for row in p.rows):
                out.add(v.name)
        return out
    return set()


def _restrict_consts_to(ctx: Ctx, names: set) -> Ctx:
    """Drop ambient constant constraints for variables outside `names`
    (used when descending into an OPTIONAL scope — only constraints on
    variables its mandatory side certainly binds may prune it)."""
    if not ctx.ambient_consts:
        return ctx
    kept = {k: v for k, v in ctx.ambient_consts.items() if k in names}
    if len(kept) == len(ctx.ambient_consts):
        return ctx
    return replace(ctx, ambient_consts=kept or None)


def _no_consts(ctx: Ctx) -> Ctx:
    """Drop ambient constant constraints when entering a NEGATION scope
    (MINUS right side, (NOT) EXISTS pattern). Rows there never join the
    outer pattern — they only *cancel* other rows — and MINUS/EXISTS
    compatibility is decided by the scope's own shared variables, not the
    outer conjunctive context, so pruning them with outer constraints is
    unsound (it under-cancels). Round-5 ADVICE finding (high)."""
    if ctx.ambient_consts is None:
        return ctx
    return replace(ctx, ambient_consts=None)


# ---------------------------------------------------------------------------
# OPTIONAL-star fusion (r11 opt)
#
# A chain of OPTIONALs whose right sides are same-subject stars of constant
# MAPPED predicates with fresh variable objects — the dominant OPTIONAL
# shape in the inventory (BSBM Explore Q8's four per-lineitem optionals,
# q_optional_highqty) — costs one full scan + one outer join PER OPTIONAL
# under the generic translation. But every mapped predicate is functional
# (one column per row), so against a certainly-bound subject each such
# OPTIONAL is exactly a conditional column; the whole chain collapses into
# ONE projection scan per (subject, table), left-joined ONCE (guide §2.4).
# Every side condition below is checked syntactically; any miss returns
# None and the generic per-OPTIONAL join runs instead.
# ---------------------------------------------------------------------------

def _all_pattern_vars(p) -> Optional[set]:
    """Every variable name appearing anywhere in a pattern, or None when
    the pattern contains a node this analysis does not model (the caller
    must then bail). Over-approximation is safe (more collisions → less
    fusion); missing a var is not."""
    if isinstance(p, A.BGP):
        out = set()
        for t in p.triples:
            for x in (t.subject, t.predicate, t.object):
                if isinstance(x, Variable):
                    out.add(x.name)
        return out
    if isinstance(p, A.PathPattern):
        return {x.name for x in (p.subject, p.object)
                if isinstance(x, Variable)}
    if isinstance(p, (A.Join, A.Union, A.Minus, A.Lateral)):
        a = _all_pattern_vars(p.left)
        b = _all_pattern_vars(p.right)
        return None if a is None or b is None else a | b
    if isinstance(p, A.LeftJoin):
        a = _all_pattern_vars(p.left)
        b = _all_pattern_vars(p.right)
        if a is None or b is None:
            return None
        if p.expr is not None:
            e = _expr_vars(p.expr)
            if e is None:
                return None
            a = a | e
        return a | b
    if isinstance(p, A.Filter):
        i = _all_pattern_vars(p.inner)
        e = _expr_vars(p.expr)
        return None if i is None or e is None else i | e
    if isinstance(p, A.Extend):
        i = _all_pattern_vars(p.inner)
        e = _expr_vars(p.expr)
        if i is None or e is None:
            return None
        return i | e | {p.var.name}
    if isinstance(p, (A.Distinct, A.Reduced, A.Slice)):
        return _all_pattern_vars(p.inner)
    if isinstance(p, A.OrderBy):
        i = _all_pattern_vars(p.inner)
        if i is None:
            return None
        for c in p.conditions:
            e = _expr_vars(c.expr)
            if e is None:
                return None
            i = i | e
        return i
    if isinstance(p, A.Project):
        i = _all_pattern_vars(p.inner)
        return None if i is None else i | {v.name for v in p.variables}
    if isinstance(p, A.GraphNode):
        i = _all_pattern_vars(p.inner)
        if i is None:
            return None
        return i | ({p.name.name} if isinstance(p.name, Variable) else set())
    if isinstance(p, A.ValuesNode):
        return {v.name for v in p.variables}
    return None  # Group / Service / unknown: bail


def _eligible_optional_star(right, expr, store):
    """(subject_name, items, filter_exprs, object_var_names) when `right`
    (an OPTIONAL's pattern, `expr` the LeftJoin condition) is a
    same-subject star of constant mapped non-rdf:type predicates with
    distinct variable objects whose filters reference only those objects;
    else None."""
    filters = []
    node = right
    while isinstance(node, A.Filter):
        filters.append(node.expr)
        node = node.inner
    if not isinstance(node, A.BGP) or not node.triples:
        return None
    if expr is not None:
        filters.append(expr)
    subj = None
    items: list = []
    ovars: set = set()
    for t in node.triples:
        if not isinstance(t.subject, Variable):
            return None
        if subj is None:
            subj = t.subject.name
        elif t.subject.name != subj:
            return None
        if not isinstance(t.predicate, NamedNode) \
                or t.predicate.iri == RDF_TYPE:
            return None
        if not store.resolves(t.predicate):
            return None
        if not isinstance(t.object, Variable) or t.object.name == subj \
                or t.object.name in ovars:
            return None
        ovars.add(t.object.name)
        items.append((t.predicate, t.object))
    for fe in filters:
        if _has_exists(fe):
            return None
        vs = _expr_vars(fe)
        if vs is None or not vs <= ovars:
            return None  # opaque, or correlated with the left side
    return subj, items, filters, ovars


def _optional_filter_builder(expr, ctx: Ctx):
    """Compile an OPTIONAL-internal filter against this group's object
    columns. Join-condition context: NULL (error) and false both reject
    the pairing, so the flat where-variant applies — same rule as the
    generic LeftJoin condition compilation."""
    def build(cols: dict) -> Optional[Column]:
        def resolve(name: str) -> tv.TermExpr:
            c, k = cols[name]
            return tv.TermExpr(c, k)
        try:
            return B.compile_bool_where(_inject_now(expr, ctx), resolve)
        except B.SparqlCompileError:
            return None
    return build


def _try_fuse_optional_chain(p: A.LeftJoin, ctx: Ctx) -> Optional[Solution]:
    """See the section comment above. None = not fusable, run generic."""
    if not ctx.optimize or ctx.graph_var is not None:
        return None
    oss = getattr(ctx.store, "optional_star_scan", None)
    if oss is None:
        return None
    opts = []  # outermost-first
    node = p
    while isinstance(node, A.LeftJoin):
        e = _eligible_optional_star(node.right, node.expr, ctx.store)
        if e is None:
            break
        opts.append(e)
        node = node.left
    if not opts:
        return None
    base = node
    base_vars = _all_pattern_vars(base)
    if base_vars is None:
        return None
    cb = _certainly_bound(base)
    used = set(base_vars)
    for subj, _items, _filters, ovars in opts:
        # subject certainly bound on the left (otherwise SPARQL compat
        # semantics apply and the all-rows conditional scan is wrong);
        # object vars fresh w.r.t. the whole base subtree and every
        # other fused optional (otherwise the optionals do not commute)
        if subj not in cb or (ovars & used):
            return None
        used |= ovars
    # build every fused scan BEFORE translating anything: any None →
    # bail with no work lost
    consts_all = dict(ctx.ambient_consts or {})
    for k, v in _collect_subject_consts(base).items():
        consts_all[k] = consts_all.get(k, set()) | v
    by_subj: dict[str, list] = {}
    for subj, items, filters, ovars in opts:
        fb = None
        if filters:
            fe = filters[0]
            for x in filters[1:]:
                fe = A.ECall("&&", [fe, x])
            fb = _optional_filter_builder(fe, ctx)
        by_subj.setdefault(subj, []).append((items, fb))
    rsols: list[Solution] = []
    for subj, groups in by_subj.items():
        scan = oss(Variable(subj), groups,
                   consts=consts_all.get(subj),
                   active_graph=ctx.active_graph)
        if scan is None:
            return None
        rsols.append(Solution(*scan))
    l = translate(base, ctx)
    for rsol in rsols:
        l = join_solutions(l, rsol, "left")
    return l


def _translate_bgp(p: A.BGP, ctx: Ctx, pushable: Optional[list] = None,
                   consumed: Optional[list] = None) -> Solution:
    """Star-collapsed, selectivity-ordered BGP join.

    Same-subject groups of constant-predicate patterns collapse into ONE
    source scan when the store supports virtual scans (sources/virtual.py)
    — the dominant BGP shape then compiles to the plan the equivalent SQL
    would get (no self-joins). Remaining patterns join greedily along
    shared variables (the reference joins in syntactic order with no
    reordering — SURVEY.md §4.1; we do better to keep intermediates small).

    `pushable` carries FILTER conjuncts from an enclosing Filter node:
    a conjunct whose variables are all bound by ONE scan unit is applied
    to that unit before the joins (consumed entries are appended to
    `consumed`). Sound because every BGP unit binds its variables
    non-NULL and the joins are inner equi joins — filtering a side early
    yields the same rows with smaller join inputs, which matters at scale
    now that Catalyst's through-project predicate pushdown is excluded
    (store._exclude_predicate_pushdown)."""
    if not p.triples:
        return _unit_solution(ctx)

    # sideways information passing (see Ctx.ambient_consts): inject the
    # enclosing pattern's constant constraints for subject vars this BGP
    # touches, as extra same-subject patterns — the star collapse then
    # pushes them into the source scan as filters. Virtual stores only:
    # their subjects are unique by construction, so a redundant pattern
    # can never duplicate rows (a raw quad bag could carry duplicates).
    if ctx.ambient_consts and getattr(ctx.store, "star_scan", None):
        have = {(t.subject.name, t.predicate, t.object)
                for t in p.triples if isinstance(t.subject, Variable)}
        extra = []
        subj_here = {t.subject.name for t in p.triples
                     if isinstance(t.subject, Variable)}
        for sname, consts in ctx.ambient_consts.items():
            if sname in subj_here:
                for pred, obj in consts:
                    if (sname, pred, obj) not in have:
                        extra.append(A.TriplePattern(
                            Variable(sname), pred, obj))
        if extra:
            p = A.BGP(list(p.triples) + extra)

    units: list[Solution] = []
    remaining: list[A.TriplePattern] = []

    star_scan = getattr(ctx.store, "star_scan", None)
    resolves = getattr(ctx.store, "resolves", None)
    if star_scan is not None:
        # group same-subject constant-predicate patterns — variable AND
        # constant subjects (a constant-subject star like BSBM Explore
        # Q2's 5-attribute probe otherwise costs one scan per attribute)
        groups: dict[object, list[A.TriplePattern]] = {}
        for tp in p.triples:
            if isinstance(tp.subject, Variable):
                key: object = tp.subject.name
                self_ref = (isinstance(tp.object, Variable)
                            and tp.object.name == tp.subject.name)
            else:
                key = ("const", repr(tp.subject))
                self_ref = False
            if resolves(tp.predicate) and not self_ref:
                groups.setdefault(key, []).append(tp)
            else:
                remaining.append(tp)
        for key, tps in groups.items():
            if len(tps) < 2:
                remaining.extend(tps)  # single patterns: virtual scan_pattern
                continue
            subj = Variable(key) if isinstance(key, str) else tps[0].subject
            items = [(tp.predicate, tp.object) for tp in tps]
            scan = star_scan(subj, items,
                             active_graph=ctx.active_graph,
                             graph_var=ctx.graph_var)
            if scan is None:
                remaining.extend(tps)
                continue
            df, known = scan
            vars_ = {v: known.get(v, BOUND) for v in sorted(
                c for c in df.columns
                if c != "__match__" and not c.startswith("__nk_"))}
            keep = [*vars_, *sorted(i.nkey[1] for i in vars_.values()
                                    if i.nkey)]
            units.append(Solution(df.select(*keep) if vars_ else df, vars_))
    else:
        remaining = list(p.triples)

    def selectivity(tp: A.TriplePattern) -> int:
        score = 0
        # constants weighted: predicate constants are common, subject/object
        # constants are more selective
        if not isinstance(tp.subject, Variable):
            score += 4
        if not isinstance(tp.object, Variable):
            score += 2
        if not isinstance(tp.predicate, Variable):
            score += 1
        return -score

    units.extend(_scan(tp, ctx) for tp in sorted(remaining, key=selectivity))

    if pushable:
        for c in pushable:
            vs = _expr_vars(c)
            tgt = next((i for i, u in enumerate(units) if vs and vs <= u.bound),
                       None)
            if tgt is not None:
                units[tgt] = _apply_plain_filters(units[tgt], [c], ctx)
                if consumed is not None:
                    consumed.append(c)

    acc = units[0]
    rest = units[1:]
    while rest:
        idx = None
        for i, u in enumerate(rest):
            if u.maybe & acc.maybe:
                idx = i
                break
        if idx is None:
            idx = 0  # disconnected component → cross join
        acc = join_solutions(acc, rest.pop(idx), "inner")
    return acc


def _unit_solution(ctx: Ctx) -> Solution:
    return Solution(ctx.store.spark.range(1).select())


def _expression_only(pattern) -> Optional[list]:
    """If a pattern binds nothing (FILTERs over the unit table), return its
    filter expressions; else None. EXISTS over such a pattern is just the
    conjunction of those expressions evaluated in the enclosing scope —
    the substitution-semantics case a join-based EXISTS gets wrong."""
    if isinstance(pattern, A.BGP) and not pattern.triples:
        return []
    if isinstance(pattern, A.Filter):
        inner = _expression_only(pattern.inner)
        if inner is not None:
            return inner + [pattern.expr]
    if isinstance(pattern, A.Join):
        l = _expression_only(pattern.left)
        r = _expression_only(pattern.right)
        if l is not None and r is not None:
            return l + r
    return None


def _rewrite_trivial_exists(expr):
    """Replace EXISTS{FILTER(e)} (expression-only patterns) with e itself."""
    if isinstance(expr, A.EExists):
        exprs = _expression_only(expr.pattern)
        if exprs is not None:
            out = None
            for e in exprs:
                out = e if out is None else A.ECall("&&", [out, e])
            if out is None:
                out = A.ETerm(Literal("true", XSD_BOOLEAN))
            return A.ECall("!", [out]) if expr.negated else out
        return expr
    if isinstance(expr, A.ECall):
        return A.ECall(expr.name,
                       [_rewrite_trivial_exists(a) for a in expr.args])
    return expr


def _translate_filter(p: A.Filter, ctx: Ctx,
                      sol: Optional[Solution] = None) -> Solution:
    # FILTER-pinned constants flow into the inner translation as ambient
    # constraints: `?v = <const>` plus a mandatory triple `?s <p> ?v`
    # implies (p, const) on ?s for every filter-surviving row, and
    # pruning inner scans early ≡ applying the filter late (mandatory
    # vars are always bound, so the filter drops exactly the pruned
    # rows). Optional-scope soundness is enforced downstream by the
    # LeftJoin certainly-bound restriction.
    if ctx.optimize and sol is None:
        eqs = _filter_const_eqs(p.expr)
        if eqs:
            fcon: dict = {}
            for t in _conjunctive_triples(p.inner):
                if (isinstance(t.subject, Variable)
                        and isinstance(t.predicate, NamedNode)
                        and isinstance(t.object, Variable)
                        and t.object.name in eqs):
                    fcon.setdefault(t.subject.name, set()).add(
                        (t.predicate, eqs[t.object.name]))
            if fcon:
                ctx = replace_ctx_consts(ctx, fcon)
    # decompose conjunction; EXISTS conjuncts become semi/anti joins
    conjuncts = [_rewrite_trivial_exists(c) for c in _split_and(p.expr)]
    if sol is None:
        if isinstance(p.inner, A.BGP) and p.inner.triples:
            pushable = [c for c in conjuncts
                        if not isinstance(c, A.EExists) and not _has_exists(c)]
            consumed: list = []
            sol = _translate_bgp(p.inner, ctx, pushable, consumed)
            done = {id(c) for c in consumed}
            conjuncts = [c for c in conjuncts if id(c) not in done]
        else:
            sol = translate(p.inner, ctx)
    plain = []
    for c in conjuncts:
        if isinstance(c, A.EExists):
            if _exists_correlated(sol, c.pattern):
                sol = _correlated_exists_join(sol, c.pattern, c.negated, ctx)
            else:
                r = translate(c.pattern, _no_consts(ctx))
                sol = exists_join(sol, r, c.negated)
        elif (isinstance(c, A.ECall) and c.name == "!"
              and isinstance(c.args[0], A.EExists)):
            ex = c.args[0]
            if _exists_correlated(sol, ex.pattern):
                sol = _correlated_exists_join(sol, ex.pattern,
                                              not ex.negated, ctx)
            else:
                r = translate(ex.pattern, _no_consts(ctx))
                sol = exists_join(sol, r, not ex.negated)
        else:
            plain.append(c)
    if plain:
        sol = _apply_plain_filters(sol, plain, ctx)
    return sol


def _apply_plain_filters(sol: Solution, plain: list, ctx: Ctx) -> Solution:
    """Apply non-join filter conjuncts to a solution (EBV, error→dropped)."""
    keep = [c for c in sol.df.columns]
    orig = sol.vars
    rewritten = []
    for c in plain:
        if _has_exists(c):  # EXISTS nested below the top-level AND
            c, sol = _bind_exists_markers(c, sol, ctx)
        rewritten.append(c)
    with Interner(sol.df, ctx) as it:
        conds = [compile_bool_expr(c, sol, ctx) for c in rewritten]
    df = it.df
    # Pushdown barrier for filters over EXPENSIVE computed vars (aggregate
    # outputs). Catalyst's PushPredicateThroughNonJoin substitutes alias
    # definitions into the pushed condition with no cheapness guard; through
    # the stacked post-agg Projects (raw agg → promotion ladder →
    # materialize_lexical, ~12x expansion per level) the inlined condition
    # grows multiplicatively and the optimizer hangs (observed: 445 MB plan
    # string on FILTER over a SUM/COUNT division). Such a predicate can
    # never cross the Aggregate that defines the var anyway, so blocking
    # its pushdown costs nothing. The rule's guard is
    # `fields.forall(_.deterministic)` on the PROJECT, so the barrier is a
    # re-projection that wraps the expensive columns in a nondeterministic
    # no-op (WHEN over spark_partition_id) — the filter then cannot be
    # pushed through, and no substitution ever happens.
    needs = set()
    expensive = {v for v, i in sol.vars.items() if i.expensive}
    for c in rewritten:
        vs = _expr_vars(c)
        # None = opaque node (EXISTS — already rewritten above, so this
        # is defensive): assume it may reference any expensive var
        needs |= expensive if vs is None else (vs & expensive)
    import os as _os
    if needs and not _os.environ.get("RFS_NO_AGG_FILTER_BARRIER"):
        nd = F.spark_partition_id() >= F.lit(-1)  # always true, nondet
        df = df.select(*[
            F.when(nd, F.col(name)).alias(name) if name in needs
            else F.col(name)
            for name in df.columns
        ])
    for cond in conds:
        df = df.where(cond)
    return replace(sol, df=df.select(*keep), vars=orig)


def _split_and(expr) -> list:
    if isinstance(expr, A.ECall) and expr.name == "&&":
        return _split_and(expr.args[0]) + _split_and(expr.args[1])
    return [expr]


def _translate_union(p: A.Union, ctx: Ctx) -> Solution:
    return union_solutions(translate(p.left, ctx), translate(p.right, ctx))


def _translate_graph(p: A.GraphNode, ctx: Ctx) -> Solution:
    if isinstance(p.name, NamedNode):
        if ctx.named_graphs is not None and p.name not in ctx.named_graphs:
            # FROM NAMED dataset excludes this graph → statically empty
            return Solution(ctx.store.spark.range(1).select(
                F.lit(True).alias("__match__")).limit(0))
        inner_ctx = replace(ctx, active_graph=ActiveGraph.union([p.name]),
                            graph_var=None)
        return translate(p.inner, inner_ctx)
    # GRAPH ?g — every scan binds the graph column to ?g; BGP joins then
    # naturally require same-graph (shared var). FROM NAMED narrows the
    # graphs ?g ranges over.
    if ctx.named_graphs is not None:
        ag = ActiveGraph.union(list(ctx.named_graphs))
    else:
        ag = ActiveGraph.any_named()
    inner_ctx = replace(ctx, active_graph=ag, graph_var=p.name)
    sol = translate(p.inner, inner_ctx)
    if p.name.name not in sol.maybe:
        # pattern had no scans (e.g. VALUES only) — bind ?g from graph list
        graphs = ctx.store.quads.where(F.col("graph").isNotNull())
        if ctx.named_graphs is not None:
            from ..terms import term_matches
            cond = F.lit(False)
            for gname in ctx.named_graphs:
                cond = cond | term_matches(F.col("graph"), gname)
            graphs = graphs.where(cond)
        graphs = graphs.select(F.col("graph").alias(p.name.name)).distinct()
        g = Solution(graphs, {p.name.name: BOUND})
        sol = join_solutions(sol, g, "inner")
    return sol


def _translate_service(p: A.ServiceNode, ctx: Ctx) -> Solution:
    """SERVICE [SILENT] <iri> { P } (SPARQL 1.1 Federated Query §18.2.5;
    beyond the reference, which #[ignore]s its service tests): evaluate
    P on the remote endpoint, then hand the bindings to the local join
    machinery exactly like an inline VALUES table. SILENT failure is the
    unit solution per §18.2.5.2."""
    from ..sparql.service import (ServiceError, fetch_service_bindings,
                                  service_query_text)
    from ..store import _term_row

    if isinstance(p.endpoint, Variable):
        # unbound variable endpoint: a per-solution evaluation error —
        # the solution is dropped, so the branch is EMPTY and the query
        # continues (oxigraph-tests ask_{union,join}_error_* pin this;
        # endpoint variables bound by the outer pattern are not seeded
        # into SERVICE, so every variable endpoint lands here)
        names = sorted(A.pattern_variables(p.inner))
        schema_t = ", ".join(f"`{n}` {TERM_DDL}" for n in names) or \
            f"`__svc_unit` {TERM_DDL}"
        df = ctx.store.spark.createDataFrame([], schema_t)
        if not names:
            df = df.select()
        return Solution(df, dict.fromkeys(names, UNBOUND))

    query = service_query_text(p.prologue, p.raw_text)
    try:
        variables, rows = fetch_service_bindings(p.endpoint, query)
    except ServiceError:
        if p.silent:
            return _unit_solution(ctx)
        raise
    if not variables:
        # var-free remote pattern: N unit rows (bag semantics preserved)
        return Solution(ctx.store.spark.range(len(rows)).select())
    tuples = [tuple(_term_row(r[v]) if r.get(v) is not None else None
                    for v in variables) for r in rows]
    schema_t = ", ".join(f"`{n}` {TERM_DDL}" for n in variables)
    df = ctx.store.spark.createDataFrame(tuples, schema_t)
    return Solution(df, _inline_vars(variables, tuples))


def _translate_values(p: A.ValuesNode, ctx: Ctx) -> Solution:
    from ..store import _term_row
    names = [v.name for v in p.variables]
    rows = [tuple(_term_row(t) for t in row) for row in p.rows]
    schema_t = ", ".join(f"`{n}` {TERM_DDL}" for n in names)
    df = ctx.store.spark.createDataFrame(rows, schema_t)
    return Solution(df, _inline_vars(names, rows))


def _inline_vars(names: list, rows: list) -> dict:
    """VarInfo of inline term rows (VALUES, SERVICE bindings): bound when
    no row leaves the var unbound; a static kind when every bound row
    agrees on one."""
    out = {}
    for j, v in enumerate(names):
        col = [row[j] for row in rows]
        ks = {_static_kind_of_row(x) for x in col if x is not None}
        out[v] = VarInfo(bound=None not in col,
                         kind=ks.pop() if len(ks) == 1 else None)
    return out


def _static_kind_of_row(row) -> Optional[int]:
    """typed_ops static kind of a term_py_row tuple.

    A static kind promises every row holds a WELL-FORMED value of that
    kind — downstream consumers rely on it (e.g. _extend_certainly_bound
    marks YEAR(?v) over a static K_DATETIME as total because the ts view
    is populated by construction). An ill-formed literal like
    "x"^^xsd:dateTime is still a bound TERM but its parsed view is NULL,
    so trusting the datatype IRI alone let a BIND output be marked
    certainly-bound while actually NULL — downstream compatibility joins
    then took the plain-equality path and dropped rows SPARQL would join
    (round-8 ADVICE). Withhold the static kind whenever the kind's value
    view (x/d/ts) is unparsed; the dynamic path handles those rows."""
    from ..terms import (TT_BNODE, TT_IRI, TT_LITERAL, K_INTEGER, K_DECIMAL,
                         K_FLOAT, K_DOUBLE, K_BOOLEAN, K_DATETIME,
                         K_DURATION, K_STRING)
    t, _v, _dt, lang, k, x, d, ts = row
    if t == TT_IRI:
        return tv.SK_IRI
    if t == TT_BNODE:
        return tv.SK_BNODE
    if t == TT_LITERAL and k is not None:
        if k in (K_INTEGER, K_DECIMAL) and d is None:
            return None
        if k in (K_FLOAT, K_DOUBLE, K_BOOLEAN) and x is None:
            return None
        if k == K_DATETIME and ts is None:
            return None
        if k == K_DURATION and (x is None or d is None):
            return None
        if k == K_STRING and lang is None:
            return tv.SK_PLAIN
        return k
    return None


_NONDET_CALLS = {"RAND", "UUID", "STRUUID", "BNODE"}


def _alpha_key(p, idx: dict):
    """Canonical serialization of an algebra subtree with variables
    replaced by first-occurrence indices (α-equivalence key). Returns a
    hashable tuple, or raises _NotCacheable for subtrees that must
    evaluate independently per instance (nondeterministic calls,
    SERVICE)."""
    def var(v) -> str:
        if v.name not in idx:
            idx[v.name] = len(idx)
        return f"?{idx[v.name]}"

    def term(x):
        if isinstance(x, Variable):
            return var(x)
        return repr(x)

    def expr(e):
        if isinstance(e, A.EVar):
            return ("v", var(Variable(e.name)))
        if isinstance(e, A.ETerm):
            return ("t", repr(e.term))
        if isinstance(e, A.ECall):
            if e.name.upper() in _NONDET_CALLS:
                raise _NotCacheable
            return ("c", e.name, tuple(expr(a) for a in e.args))
        if isinstance(e, A.EExists):
            return ("x", e.negated, _alpha_key(e.pattern, idx))
        if isinstance(e, A.AggCall):
            return ("g", e.name, e.distinct, e.separator,
                    expr(e.expr) if e.expr is not None else None)
        raise _NotCacheable

    t = type(p).__name__
    if isinstance(p, A.BGP):
        return (t, tuple((term(x.subject), term(x.predicate), term(x.object))
                         for x in p.triples))
    if isinstance(p, A.PathPattern):
        return (t, term(p.subject), repr(p.path), term(p.object))
    if isinstance(p, (A.Join, A.LeftJoin, A.Union, A.Minus, A.Lateral)):
        parts = [_alpha_key(p.left, idx)]
        if isinstance(p, A.LeftJoin) and p.expr is not None:
            parts.append(expr(p.expr))
        parts.append(_alpha_key(p.right, idx))
        return (t, *parts)
    if isinstance(p, A.Filter):
        return (t, expr(p.expr), _alpha_key(p.inner, idx))
    if isinstance(p, A.Extend):
        return (t, _alpha_key(p.inner, idx), var(p.var), expr(p.expr))
    if isinstance(p, A.GraphNode):
        return (t, term(p.name), _alpha_key(p.inner, idx))
    if isinstance(p, A.ValuesNode):
        return (t, tuple(var(v) for v in p.variables),
                tuple(tuple(repr(x) for x in row) for row in p.rows))
    if isinstance(p, A.Project):
        return (t, _alpha_key(p.inner, idx),
                tuple(var(v) for v in p.variables))
    if isinstance(p, (A.Distinct, A.Reduced)):
        return (t, _alpha_key(p.inner, idx))
    if isinstance(p, A.Slice):
        return (t, p.start, p.length, _alpha_key(p.inner, idx))
    if isinstance(p, A.OrderBy):
        return (t, tuple((c.ascending, expr(c.expr)) for c in p.conditions),
                _alpha_key(p.inner, idx))
    if isinstance(p, A.Group):
        return (t, tuple(var(v) for v in p.keys),
                tuple((var(v), expr(call)) for v, call in p.aggregates),
                _alpha_key(p.inner, idx))
    raise _NotCacheable


class _NotCacheable(Exception):
    pass


def _scope_restrict_consts(p: A.Project, ctx: Ctx) -> Ctx:
    """SPARQL sub-SELECT scoping: inner variables are fresh unless
    PROJECTED, so ambient constraints for non-projected names must not
    leak into the subquery (a name-only match would wrongly constrain an
    unrelated local variable)."""
    if not ctx.ambient_consts:
        return ctx
    keep = {v.name for v in p.variables}
    kept = {k: v for k, v in ctx.ambient_consts.items() if k in keep}
    return replace(ctx, ambient_consts=kept or None)


def _ctx_fingerprint(ctx: Ctx):
    """The context components that change what a pattern translates to —
    MUST be part of the subquery-cache key (the same α-equivalent
    subquery under GRAPH <g2> or different ambient constraints is a
    different relation)."""
    ag = ctx.active_graph
    consts = ctx.ambient_consts or {}
    return (
        ag.kind, tuple(sorted(repr(g) for g in ag.graphs)),
        ctx.graph_var.name if ctx.graph_var is not None else None,
        tuple(sorted(repr(g) for g in ctx.named_graphs))
        if ctx.named_graphs is not None else None,
        tuple(sorted((v, tuple(sorted(map(repr, cs))))
                     for v, cs in consts.items())),
    )


def _translate_project_cse(p: A.Project, ctx: Ctx) -> Solution:
    """Sub-SELECT translation with common-subquery elimination."""
    ctx = _scope_restrict_consts(p, ctx)
    if not ctx.optimize:
        return _translate_project(p, ctx)
    try:
        idx: dict = {}
        key = (_alpha_key(p, idx), _ctx_fingerprint(ctx))
    except _NotCacheable:
        return _translate_project(p, ctx)
    hit = ctx.subquery_cache.get(key)
    names = [v.name for v in p.variables]
    if hit is not None:
        sol, cached_proj = hit
        if not sol.pending_order:
            _persist_shared_subquery(key, p, sol, ctx)
            # positional rename: projection order is part of the α-key
            df = sol.df.toDF(*names)
            ren = dict(zip(cached_proj, names))
            return Solution(df, {ren[v]: i for v, i in sol.vars.items()
                                 if v in ren})
    sol = _translate_project(p, ctx)
    ctx.subquery_cache[key] = (sol, names)
    return sol


def _contains_group(p) -> bool:
    """True if the algebra subtree has an aggregation anywhere."""
    import dataclasses as _dc
    if isinstance(p, A.Group):
        return True
    if not _dc.is_dataclass(p):
        return False
    for f in _dc.fields(p):
        v = getattr(p, f.name)
        for item in (v if isinstance(v, (list, tuple)) else (v,)):
            if _dc.is_dataclass(item) and not isinstance(item, type) \
                    and _contains_group(item):
                return True
    return False


# Shared-subquery persists are registered in the session CacheManager,
# which holds them STRONGLY (Dataset.persist is not ContextCleaner-
# collected like raw RDD blocks) — a long-lived session translating many
# subsumption-shaped queries would pin every shared aggregate forever.
#
# Lifetime policy (round-6; replaces the round-5 process-global FIFO,
# which pinned up to 12 grouped relations into EVERY later query's
# memory budget across a long bench session — the q3/q5 like-for-like
# regression): persists are scoped to the QUERY that created them, keyed
# per SparkSession. The next evaluate_query() on the same session
# releases the previous query's persists — by then its result has
# normally been consumed; if a caller still holds an uncollected result
# DataFrame, unpersist merely forces a recompute (cache is a pure
# optimization, never a correctness dependency). A per-query cap bounds
# pathological single queries. All mutation is lock-guarded (sessions
# may run queries from multiple threads; eviction must not race).
_PERSIST_REGISTRY: dict = {}   # id(session) -> (session, [DataFrame])
_PERSIST_LOCK = threading.Lock()
_SHARED_PERSIST_CAP = 12              # per query, backstop only


def _session_key(session) -> int:
    # id() is safe as the key ONLY because each entry also holds a
    # strong reference to its session (the tuple below): the object
    # cannot be garbage-collected — and its id cannot be reused by a
    # brand-new session — while its entry exists. Entries of STOPPED
    # sessions are swept by _prune_stopped_sessions on every registry
    # touch, so a stopped-and-abandoned session's last query no longer
    # pins its DataFrames forever (round-6 ADVICE).
    return id(session)


def _session_stopped(session) -> bool:
    try:
        return session.sparkContext._jsc is None
    except Exception:
        return True


def _prune_stopped_sessions() -> list:
    """Pop every entry whose session has been stopped; caller unpersists
    outside the lock. Must be called with _PERSIST_LOCK held."""
    dead = [k for k, (sess, _) in _PERSIST_REGISTRY.items()
            if _session_stopped(sess)]
    out: list = []
    for k in dead:
        out.extend(_PERSIST_REGISTRY.pop(k)[1])
    return out


def _release_prior_persists(session) -> None:
    """Unpersist every shared-subquery cache the PREVIOUS query on this
    session created. Called at the top of evaluate_query."""
    with _PERSIST_LOCK:
        _, old = _PERSIST_REGISTRY.pop(_session_key(session), (None, []))
        old = list(old) + _prune_stopped_sessions()
    for df in old:
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass


def query_shared_persists(session) -> list:
    """Snapshot of the shared-subquery DataFrames registered by the most
    recently evaluated query on this session (for prepared-plan caches —
    see reregister_persists)."""
    with _PERSIST_LOCK:
        _, lst = _PERSIST_REGISTRY.get(_session_key(session), (None, []))
        return list(lst)


def reregister_persists(session, dfs: list) -> None:
    """Restore a cached prepared plan's shared-subquery persists before
    it is re-executed (entry_queries._prepared cache hits).

    Without this, the next query's _release_prior_persists drops the
    plan's caches and every later re-execution recomputes each shared
    subtree once per consumer — the within-plan CSE cost the persist was
    added to avoid (round-6 ADVICE #3). The lifetime POLICY is unchanged
    and deliberately NOT the round-5 process-global FIFO: the registry
    still holds at most one query's persists per session — re-registering
    releases whatever other query held the slot (minus any DataFrames
    shared with the new set), and the next evaluate_query releases these
    again. persist() after unpersist() re-marks the same Dataset for
    caching; on a still-cached one it is a no-op."""
    if not dfs:
        return
    from pyspark import StorageLevel
    installed = list(dfs)
    with _PERSIST_LOCK:
        _, old = _PERSIST_REGISTRY.pop(_session_key(session), (None, []))
        stale = [d for d in old if all(d is not n for n in dfs)]
        stale += _prune_stopped_sessions()
        _PERSIST_REGISTRY[_session_key(session)] = (session, installed)
    for d in stale:
        try:
            d.unpersist(blocking=False)
        except Exception:
            pass
    for d in dfs:
        try:
            d.persist(StorageLevel.MEMORY_AND_DISK)
        except Exception:
            pass
    # Re-check under the lock that OUR entry still holds the slot: a
    # concurrent _release_prior_persists on the same session can pop and
    # unpersist the set between the install above and the persist() loop,
    # after which the loop re-marks the DataFrames for caching with no
    # registry entry tracking them — cached blocks would leak until
    # session stop (multi-threaded sessions only). If the slot moved,
    # undo the untracked persists (round-8 ADVICE).
    with _PERSIST_LOCK:
        cur = _PERSIST_REGISTRY.get(_session_key(session))
        still_ours = cur is not None and cur[1] is installed
    if not still_ours:
        for d in dfs:
            try:
                d.unpersist(blocking=False)
            except Exception:
                pass


def _persist_shared_subquery(key, p: A.Project, sol: Solution,
                             ctx: Ctx) -> None:
    """On the FIRST cache reuse of an aggregate-bearing subquery, persist
    the shared DataFrame (MEMORY_AND_DISK).

    DataFrame-level sharing alone does not stop Spark from executing the
    common subtree once per consumer: Catalyst column-prunes each
    consumer's copy differently (a MAX-consumer keeps fewer aggregate
    expressions than an AVG-consumer), so the canonicalized exchanges
    differ and ReuseExchange never fires — BI Q5's shared 4-table
    aggregation ran twice end-to-end. persist() registers the analyzed
    plan with the CacheManager, which substitutes the InMemoryRelation
    into EVERY consumer plan at action time (lookup is by canonicalized
    subtree, so the first consumer built before this call benefits too).
    The cached relation is the GROUPED output — at warehouse scale it is
    orders of magnitude smaller than the join input. Lifetime is bounded
    by _PERSIST_REGISTRY above: query-scoped, released by the next
    evaluate_query on the session (CacheManager holds persisted Datasets
    strongly, so explicit unpersist is required)."""
    if ctx.shared_persisted is None or key in ctx.shared_persisted:
        return
    if not _contains_group(p):
        return  # cheap subtree: recomputation beats a cache round-trip
    try:
        if sol.df.isStreaming:
            return
        from pyspark import StorageLevel
        sol.df.persist(StorageLevel.MEMORY_AND_DISK)
        ctx.shared_persisted.add(key)
        sess = sol.df.sparkSession
        evict = None
        with _PERSIST_LOCK:
            _, lst = _PERSIST_REGISTRY.setdefault(_session_key(sess),
                                                  (sess, []))
            lst.append(sol.df)
            if len(lst) > _SHARED_PERSIST_CAP:
                evict = lst.pop(0)
        if evict is not None:
            try:
                evict.unpersist(blocking=False)
            except Exception:
                pass
    except Exception:  # pragma: no cover - persist is best-effort
        pass


def _translate_distinct_ordered(p: A.Distinct, ctx: Ctx) -> Optional[Solution]:
    """SELECT DISTINCT whose ORDER BY references projected-away (hidden)
    variables — the one shape where "sort pre-projection, then
    dropDuplicates" is wrong: Spark's hash distinct destroys the row
    order entirely (and Catalyst eliminates the Sort below it), so an
    OFFSET/LIMIT above sliced arbitrary rows.

    The spec's modifier sequence is OrderBy -> Project -> Distinct ->
    Slice, with Distinct keeping the FIRST occurrence of each projected
    row in the ordered sequence. First occurrence of a visible row =
    the minimal (ascending; maximal for descending) hidden sort key
    among its originating solutions — so: materialize the ORDER BY keys
    into one struct pre-projection, aggregate min/max(struct) per
    distinct visible row (hash agg, no window, scale-shaped), and
    re-sort on the representative key. Spark's struct comparator puts
    NULL fields first, matching asc_nulls_first per key (and reversed
    under desc, matching desc_nulls_last).

    Returns None — caller uses the plain dedupe path — unless the shape
    is Distinct(Project(OrderBy(...))). Inside the shape, a deferrable
    ORDER BY falls back to the normal project+dedupe WITHOUT
    re-translating the inner pattern (a second translate would re-run
    build-time work like the Kleene fixpoint).

    Mixed ASC/DESC key directions (r10; previously a documented
    correct-rows-arbitrary-order fallback): no single struct min/max
    exists for a mixed comparator, so first occurrence is recovered
    positionally instead — repartitionByRange on the directed keys +
    sortWithinPartitions gives a global sort across ordered partitions,
    monotonically_increasing_id is then globally monotone with that
    order (partition id occupies the high bits and range partition ids
    ascend with the ranges), and min(id) per distinct visible row is
    the first occurrence; the final sort is on that id. Two shuffles
    (range exchange + hash agg), linear, no single-partition window —
    the reference reaches the same semantics via distinct_on-with-sort
    (lib/logical/src/graph_pattern_rewriter.rs:155-168, 483-494). Key
    ties leave the representative unspecified, exactly like the spec's
    unspecified order among tied solutions."""
    prj = p.inner
    if not isinstance(prj, A.Project) or not isinstance(prj.inner, A.OrderBy):
        return None
    names = [v.name for v in prj.variables]
    sol = translate(prj.inner, ctx)
    pending = sol.pending_order

    def fallback() -> Solution:
        psol = _translate_project(prj, ctx, sol=sol)
        return replace(psol, df=_dedupe_normalized(psol))

    if not pending:
        return fallback()
    phantom = set()
    for c in pending:
        vs = _expr_vars(c.expr)
        if vs is not None:
            phantom |= {v for v in vs if v not in sol.maybe}
    if _order_deferrable(pending, set(names) | phantom):
        return fallback()
    dirs = {c.ascending for c in pending}
    df, keys = _sort_keys(sol, pending, ctx)
    ord_name = ctx.fresh("ord")
    if len(dirs) == 1:
        # uniform direction: one struct aggregates under min/max directly
        asc = dirs.pop()
        df = df.withColumn(
            ord_name,
            F.struct(*[k.alias(f"k{i}") for i, k in enumerate(keys)]))
        extra = [F.col(ord_name)]
    else:
        # mixed directions: positional first-occurrence (see docstring).
        # The directed sort columns must exist as named columns for the
        # range exchange; the global row id becomes the ord column.
        asc = True
        knames = [ctx.fresh("sk") for _ in keys]
        df = df.withColumns(dict(zip(knames, keys)))
        extra = [F.col(n) for n in knames]
    out_sol = project_solution(sol.with_df(df), names, extra)
    vis = out_sol.df
    if ord_name not in vis.columns:
        sort_cols = _directed(pending, [F.col(n) for n in knames])
        vis = (vis.repartitionByRange(*sort_cols)
               .sortWithinPartitions(*sort_cols)
               .withColumn(ord_name, F.monotonically_increasing_id())
               .drop(*knames))
        out_sol = replace(out_sol, df=vis)
    dd_keys = sorted(out_sol.maybe)
    if dd_keys:
        repl = {c: tv.materialize_lexical(_var_term(vis[c], out_sol.vars[c]))
                for c in dd_keys}
        dd = vis.withColumns(repl)
        rep = (F.min if asc else F.max)(F.col(ord_name)).alias(ord_name)
        dd = dd.groupBy(*[F.col(c) for c in dd_keys]).agg(rep)
    else:
        dd = vis.limit(1)
    key = F.col(ord_name).asc_nulls_first() if asc \
        else F.col(ord_name).desc_nulls_last()
    return replace(out_sol, df=dd.orderBy(key).drop(ord_name),
                   pending_order=[])


def _translate_project(p: A.Project, ctx: Ctx,
                       sol: Optional[Solution] = None) -> Solution:
    if sol is None:
        sol = translate(p.inner, ctx)
    names = [v.name for v in p.variables]
    # ORDER BY whose expressions reference variables the projection DROPS
    # must sort pre-projection (the narrow select preserves row order).
    # Otherwise keep it pending: an enclosing DISTINCT dedupes unordered
    # rows first and the sort is applied after (the spec's order-preserving
    # DISTINCT — a Spark dropDuplicates after an orderBy destroys the
    # order, which mis-cut a LIMIT under SELECT DISTINCT ... ORDER BY).
    # A sort variable bound NOWHERE in the solution is different from a
    # dropped one: it compiles to a constant NULL key at ANY stage, so it
    # cannot affect order and must not force the pre-projection sort —
    # under DISTINCT that put the whole Sort below the Deduplicate, where
    # Catalyst eliminates it, destroying the REAL keys' order too (fuzz
    # r9 seeds 60/78: SELECT DISTINCT * ... ORDER BY ?never_bound ?b).
    pending = sol.pending_order
    if pending:
        phantom = set()
        for c in pending:
            vs = _expr_vars(c.expr)
            if vs is not None:
                phantom |= {v for v in vs if v not in sol.maybe}
        if not _order_deferrable(pending, set(names) | phantom):
            sol = _apply_order(sol, ctx)
    return project_solution(sol, names)


def _sort_keys(sol: Solution, conds: list, ctx: Ctx
               ) -> tuple[DataFrame, list[Column]]:
    """ORDER BY conditions compiled against sol: sol.df plus one interned
    sort-key column per condition, and those key columns in order."""
    with Interner(sol.df, ctx) as it:
        keys = [it.column(sort_key(compile_term_expr(c.expr, sol, ctx)))
                for c in conds]
    return it.df, keys


def _directed(conds: list, keys: list[Column]) -> list[Column]:
    """Each condition's key in its direction (SPARQL: unbound sorts
    lowest, so NULLs first ascending and last descending)."""
    return [k.asc_nulls_first() if c.ascending else k.desc_nulls_last()
            for c, k in zip(conds, keys)]


def _apply_order(sol: Solution, ctx: Ctx) -> Solution:
    if not sol.pending_order:
        return sol
    keep = [c for c in sol.df.columns]
    df, keys = _sort_keys(sol, sol.pending_order, ctx)
    df = df.orderBy(*_directed(sol.pending_order, keys)).select(*keep)
    return replace(sol, df=df, pending_order=[])


def _translate_slice(p: A.Slice, ctx: Ctx) -> Solution:
    sol = translate(p.inner, ctx)
    sol = _apply_order(sol, ctx)
    df = sol.df
    if p.start:
        df = df.offset(p.start)
    if p.length is not None:
        df = df.limit(p.length)
    return replace(sol, df=df)


# ---------------------------------------------------------------------------
# aggregation (reference: graph_pattern_rewriter.rs:299-404 +
# lib/functions/src/aggregates/)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Complement-aggregation rewrite (BSBM BI Q4 shape)
#
#   SELECT f, AGG(expr-over-R) WHERE {
#     { SELECT DISTINCT ?f WHERE ... }   # D: the value dimension
#     <pattern R>                        # disjoint from ?f
#     FILTER NOT EXISTS { P(?f, R-vars) }
#   } GROUP BY ?f
#
# The naive plan is CrossJoin(D, R) → anti-join → group: |D|·|R| rows
# BEFORE aggregation — the scale-killer in the reference's bi-q4.sparql
# ("products of the same type WITHOUT the feature" pairs every feature
# with every offer). For subtractable aggregates the complement identity
# computes the same groups from TWO linear passes:
#
#   agg_without(f) = agg_total − agg_with(f)
#
# where agg_with groups R semi-joined to the DISTINCT correlated pairs
# of P (distinctness makes each (r, f) contribute once, preserving
# NOT-EXISTS set semantics under multi-matching P). Soundness guards:
#
# - aggregates: non-DISTINCT COUNT(*)/COUNT(e), and SUM/AVG(e) whose
#   compiled input has a STATIC integer/decimal kind — exact arithmetic,
#   so subtraction is bit-identical to direct evaluation. Float/double
#   sums are order-dependent (total − with ≠ without in low bits) and
#   dynamic-kind sums ride a per-group promotion ladder (max-rank /
#   any-bad are not subtractable) — both bail to the direct plan.
#   A static numeric kind also rules out the bound-non-numeric →
#   error(NULL) collapse, which is likewise not subtractable.
# - empty/all-NULL groups: the per-kind rules of _sum_avg_static are
#   reproduced exactly — a group exists iff it keeps ≥1 row
#   (n_total − n_with > 0), SUM/AVG of a group whose inputs are all
#   NULL → integer 0 (c_wo = 0 detects it: F.sum over the unmatched
#   slice is NULL iff it counts no non-NULL input).
# - correlation: P references outer vars in PATTERN positions only
#   (expression correlation would need the lateral path), certainly
#   bound, including ?f and ≥1 R-var; all correlated vars have static
#   IRI / plain-string kinds on both sides so the semi-join and the
#   per-f grouping run on the narrow identity string exactly like
#   exists_join's equality would.
# - D is syntactically Distinct (row multiplicity 1 per f — a dup f in
#   D would scale direct-eval aggregates by its multiplicity).
# - multi-key grouping (round 8): GROUP BY ?g ... ?f generalizes the
#   identity per extra key g: without(g, f) = total(g) − with(g, f).
#   The totals side becomes ONE grouped aggregate over the g-keys (a
#   broadcast bounded by |distinct g| — itself a lower bound on the
#   output's candidate space V × g), the with-side groups by (f, g).
#   Extra keys must be R-variables, certainly bound, with narrow
#   IRI/plain kinds (both groupings key on the identity string).
# ---------------------------------------------------------------------------

def _complement_agg_shape(p: A.Group):
    """Syntactic match for the (NOT) EXISTS grouped-dimension rewrites;
    returns (f_name, extra_keys, D, R, P, negated) or None. R absorbs
    non-EXISTS filter conjuncts.

    Multi-key grouping (round 8): exactly ONE group key is the
    D-dimension ?f; any other keys must be R variables (e.g. per
    type × feature). The identity is per (extra-keys, f):
    without(g, f) = total(g) − with(g, f), so the totals side becomes a
    grouped aggregate over the extra keys instead of one global row."""
    if not p.keys or not p.aggregates or not isinstance(p.inner, A.Filter):
        return None
    key_names = [v.name for v in p.keys]

    def exists_of(c):
        # [NOT] EXISTS {..} parses as EExists; the equivalent
        # !(EXISTS {..}) spelling as ECall("!", [EExists]) — normalize
        # to (EExists node, effective negation)
        if isinstance(c, A.EExists):
            return c, c.negated
        if (isinstance(c, A.ECall) and c.name == "!" and len(c.args) == 1
                and isinstance(c.args[0], A.EExists)):
            return c.args[0], not c.args[0].negated
        return None

    conjuncts = _split_and(p.inner.expr)
    exs = [e for c in conjuncts if (e := exists_of(c)) is not None]
    rest = [c for c in conjuncts if exists_of(c) is None]
    if len(exs) != 1 or any(_has_exists(c) for c in rest):
        return None
    (ex_node, negated), = exs
    if not isinstance(p.inner.inner, A.Join):
        return None
    f = None
    for D, R in ((p.inner.inner.left, p.inner.inner.right),
                 (p.inner.inner.right, p.inner.inner.left)):
        if isinstance(D, A.Distinct):
            dv = A.pattern_variables(D)
            if (len(dv) == 1 and (fv := next(iter(dv))) in key_names
                    and fv not in A.pattern_variables(R)):
                f = fv
                break
    if f is None:
        return None
    if f not in _certainly_bound(D):
        return None
    rv = A.pattern_variables(R)
    extra = [k for k in key_names if k != f]
    if not set(extra) <= rv:
        return None
    for c in rest:
        vs = _expr_vars(c)
        if vs is None or not vs <= rv:
            return None
    if rest:
        expr = rest[0]
        for c in rest[1:]:
            expr = A.ECall("&&", [expr, c])
        R = A.Filter(expr, R)
    P = ex_node.pattern
    pb, pfree = _pattern_scope(P)
    if pfree & (rv | {f}):          # expression-level correlation: lateral
        return None
    corr = pb & (rv | {f})
    if f not in corr or corr == {f} or not corr <= _certainly_bound(P):
        return None
    if negated:
        # subtraction restricts the aggregate set; the positive-EXISTS
        # rewrite aggregates the semi-joined relation directly, so any
        # aggregate the engine supports qualifies there
        for _, call in p.aggregates:
            if call.distinct:
                return None
            if call.name == "COUNT" and call.expr is None:
                continue
            if call.name not in ("COUNT", "SUM", "AVG") or call.expr is None:
                return None
            vs = _expr_vars(call.expr)
            if vs is None or not vs <= rv or _has_exists(call.expr):
                return None
    else:
        # the semi-joined relation binds f too, so aggregates may use it
        for _, call in p.aggregates:
            if call.expr is not None:
                vs = _expr_vars(call.expr)
                if vs is None or not vs <= (rv | {f}) \
                        or _has_exists(call.expr):
                    return None
    return f, extra, D, R, P, negated


def _translate_complement_agg(p: A.Group, ctx: Ctx) -> Optional[Solution]:
    """Evaluate a matched grouped-dimension (NOT) EXISTS Group without
    the D×R cross join, or None when a (post-translation) guard fails.

    negated=True: complement identity (agg_total − agg_with, exact-kind
    aggregates only). negated=False: the with-side IS the answer — group
    R ⋈ distinct-pairs(P) ⋈ V with the engine's own _translate_group, so
    every aggregate type qualifies."""
    shape = _complement_agg_shape(p)
    if shape is None:
        return None
    f, extra, D, R, P, negated = shape
    solR = translate(R, ctx)

    specs = []  # (out_name, mode, static_kind, input Column)
    if negated:
        # compile aggregate inputs; SUM/AVG must land on an exact static
        # kind for the subtraction to be bit-identical
        for out_var, call in p.aggregates:
            if call.name == "COUNT" and call.expr is None:
                specs.append((out_var.name, "count_star", None, None))
                continue
            in_te = compile_term_expr(call.expr, solR, ctx)
            if call.name == "COUNT":
                specs.append((out_var.name, "count", None, in_te.col))
                continue
            if in_te.kind not in (tv.RANK_INTEGER, tv.RANK_DECIMAL):
                return None
            specs.append((out_var.name, call.name, in_te.kind, in_te["d"]))

    solV = translate(D, ctx)
    solP = translate(P, _no_consts(ctx))
    corr = sorted(solP.maybe & (solR.maybe | {f}))
    corr_r = [v for v in corr if v != f]
    if f not in solP.bound or f not in solV.bound or not corr_r \
            or not set(corr_r) <= (solR.bound & solP.bound):
        return None
    narrow = (tv.SK_IRI, tv.SK_PLAIN)
    if solV.kinds.get(f) not in narrow \
            or solP.kinds.get(f) != solV.kinds.get(f):
        return None
    for v in corr_r:
        if solR.kinds.get(v) not in narrow \
                or solP.kinds.get(v) != solR.kinds.get(v):
            return None
    if negated and extra:
        # the per-(g, f) subtraction groups both sides by the extra
        # keys' VALUE strings, so they must be certainly bound with
        # narrow identity kinds (the positive path needs neither: its
        # keys go through _translate_group's full normalization)
        if not set(extra) <= solR.bound:
            return None
        for v in extra:
            if solR.kinds.get(v) not in narrow:
                return None

    pair_sol = Solution(solP.df.select(*corr), project_vars(solP, corr))
    solM = replace(pair_sol, df=_dedupe_normalized(pair_sol))
    if not negated:
        # positive EXISTS: each R row joins each V feature it matches
        # exactly once (distinct pairs ⇒ multiplicity 1), then the
        # ordinary Group translation aggregates — identical semantics to
        # cross-then-semi, minus the |V|·|R| blow-up
        solMV = join_solutions(solM, solV, "inner")
        solJ = join_solutions(solR, solMV, "inner")
        return _translate_group(p, ctx, sol=solJ)

    # shared raw-aggregate list, applied to the full R (totals, 1 row)
    # and to R ⋈ distinct-pairs(P) grouped per f (the with-side)
    rdf = solR.df
    tmp = {}
    for i, (_, mode, _, col) in enumerate(specs):
        if mode == "count_star":
            continue
        tn = ctx.fresh("ca_in")
        rdf = rdf.withColumn(tn, col)
        tmp[i] = tn

    def raw_aggs(prefix: str) -> list:
        out = [F.count(F.lit(1)).alias(f"{prefix}n")]
        for i, (_, mode, _, _c) in enumerate(specs):
            if mode == "count_star":
                continue
            out.append(F.count(tmp[i]).alias(f"{prefix}c{i}"))
            if mode in ("SUM", "AVG"):
                out.append(F.sum(tmp[i]).alias(f"{prefix}s{i}"))
        return out

    # the totals attach via an EQUI join on an always-1 key built from
    # non-foldable expressions on BOTH sides — a literal key would
    # constant-fold to `ON true` and plan as a BroadcastNestedLoopJoin
    # cross, tripping the no-BNLJ scale invariant; with real keys Spark
    # plans a BroadcastHashJoin over the broadcast totals. The aggregate
    # side is MIN(1) (NULL iff its group is empty — only possible for the
    # global no-extra-keys aggregate over an empty R, in which case
    # joining nothing is exactly right: no row survives NOT EXISTS).
    # With extra group keys the totals are PER-EXTRA-KEY groups (one row
    # per distinct g in R — the candidate output space is V × g by
    # definition, so the broadcast is bounded by the output, not by R);
    # their term structs ride along via FIRST (narrow kinds make the
    # struct a pure function of the grouped value).
    gcols = {v: ctx.fresh("ca_gk") for v in extra}
    tot_aggs = raw_aggs("__cat_") + [
        F.min(F.lit(1).cast("long")).alias("__ca_one")] + [
        F.first(F.col(v)).alias(v) for v in extra]
    tot = (rdf.groupBy(*[F.col(v)["v"].alias(gcols[v]) for v in extra])
           .agg(*tot_aggs) if extra else rdf.agg(*tot_aggs))
    solW = join_solutions(replace(solR, df=rdf), solM, "inner")
    wdf = solW.df.groupBy(
        F.col(f)["v"].alias("__ca_fk"),
        *[F.col(v)["v"].alias(gcols[v]) for v in extra]) \
        .agg(*raw_aggs("__caw_"))

    # per-(f, g) combine: V broadcast-hash-joins the totals on the
    # always-1 non-foldable key (candidate space V × g), then left-joins
    # the with-side on (f, g) values
    joined = (solV.df.withColumn("__ca_fk", F.col(f)["v"])
              .withColumn(
                  "__ca_one",
                  F.pmod(F.xxhash64(F.col("__ca_fk")), F.lit(1)) + F.lit(1))
              .join(F.broadcast(tot), "__ca_one")
              .join(wdf, ["__ca_fk", *gcols.values()], "left"))
    n_wo = F.col("__cat_n") - F.coalesce(F.col("__caw_n"), F.lit(0))
    out_cols = [F.col(f)] + [F.col(v) for v in extra]
    for i, (name, mode, sk, _c) in enumerate(specs):
        if mode == "count_star":
            out_cols.append(tv.int_term(n_wo).col.alias(name))
            continue
        c_wo = F.col(f"__cat_c{i}") - F.coalesce(F.col(f"__caw_c{i}"),
                                                 F.lit(0))
        if mode == "count":
            out_cols.append(tv.int_term(c_wo).col.alias(name))
            continue
        s_wo = (F.col(f"__cat_s{i}")
                - F.coalesce(F.col(f"__caw_s{i}"),
                             F.lit(0).cast(tv.DECIMAL_T))).cast(tv.DECIMAL_T)
        if mode == "SUM":
            inner = tv.int_term(s_wo.cast("decimal(38,0)")) \
                if sk == tv.RANK_INTEGER else tv.decimal_term(s_wo)
        else:  # AVG — integer and decimal kinds both divide as decimal
            inner = tv.decimal_term(s_wo / c_wo)
        out_cols.append(
            F.when(c_wo == 0, tv.int_term(F.lit(0)).col)
            .otherwise(inner.col).alias(name))
    out = joined.where(n_wo > 0).select(*out_cols)

    vars_ = {f: VarInfo(bound=True, kind=solV.vars[f].kind)}
    vars_.update((v, VarInfo(bound=True, kind=solR.vars[v].kind))
                 for v in extra)
    vars_.update((v.name, VarInfo(bound=call.name == "COUNT", expensive=True))
                 for v, call in p.aggregates)
    return Solution(out, vars_)


def _translate_group(p: A.Group, ctx: Ctx, sol: Optional[Solution] = None,
                     extra_keys: tuple = ()) -> Solution:
    if sol is None:
        sol = translate(p.inner, ctx)
    keys = [v.name for v in p.keys]
    keys += [k for k in extra_keys if k not in keys and k in sol.df.columns]

    # Raw aggregate functions (sum/count/max/min_by/collect_list over scalar
    # or struct inputs) run inside the hash-agg; the term-struct wrapping
    # (promotion ladder, lexical canonicalization) happens in a separate
    # post-agg Project. Keeping the agg output projection tiny is what lets
    # whole-stage codegen compile it (one giant method blows janino's 64 KB
    # limit and drops the stage to interpreted mode).
    raw_aggs: list[Column] = []
    post_exprs: list[Column] = []
    tmp_cols: dict[str, Column] = {}

    def tmp(col: Column) -> str:
        name = ctx.fresh("agg_in")
        tmp_cols[name] = col
        return name

    def raw(col: Column) -> Column:
        name = ctx.fresh("agg_raw")
        raw_aggs.append(col.alias(name))
        return F.col(name)

    out_vars: dict = {}
    # Identical aggregate calls compile ONCE (r12, guide §2.3): HAVING
    # repeats its SELECT aggregate verbatim (the algebra lowers it to a
    # second AggCall), and without dedup each copy registered its own
    # raw partial/final aggregate functions — bi_q8's vendor group ran 9
    # aggregate functions where 5 suffice, and every per-row aggregate
    # INPUT ladder (e.g. SUM's kind-dispatch over an IF) was evaluated
    # twice per row. AggCall/Expression are pure parser dataclasses, so
    # repr() is a sound structural key; the shared compiled Column
    # references the same raw agg columns, and only the cheap per-GROUP
    # post-projection is duplicated per alias.
    seen_calls: dict[str, tv.TermExpr] = {}

    def _nondet(e) -> bool:
        # two textually identical RAND()/UUID()/... calls are distinct
        # draws — never dedupe an aggregate whose input contains one
        if isinstance(e, A.ECall):
            return e.name in ("RAND", "UUID", "STRUUID", "BNODE") \
                or any(_nondet(a) for a in e.args)
        return False

    with Interner(sol.df, ctx) as it:
        for out_var, call in p.aggregates:
            key = repr(call)
            agg_te = None if _nondet(call.expr) else seen_calls.get(key)
            if agg_te is None:
                agg_te = _compile_aggregate(call, sol, ctx, tmp, raw)
                seen_calls[key] = agg_te
            out_vars[out_var.name] = _var_info(
                agg_te, call.name == "COUNT", expensive=True)
            post_exprs.append(agg_te.col.alias(out_var.name))
    df = it.df

    for name, col in tmp_cols.items():
        df = df.withColumn(name, col)

    # Narrow group keys: for a bound key whose static kind makes term
    # identity == lexical identity (IRIs, plain xsd:string literals — the
    # other 7 struct fields are all derivable constants/NULLs), group on
    # the one `v` string instead of the 8-field struct. Catalyst then
    # prunes the struct construction + per-row float-normalize + struct
    # hash out of the scan→partial-agg pipeline (measured ~25% off the
    # TPC-H Q1 shape); the struct is rebuilt once per GROUP, not per row.
    from ..terms import iri_col
    info = {k: sol.vars.get(k, UNBOUND) for k in keys}
    narrow = {k for k, i in info.items()
              if i.bound and i.kind in (tv.SK_IRI, tv.SK_PLAIN)}
    # Numeric narrow keys (r12, same soundness base as the MIN/MAX
    # decomposition): a bound VALUE-CANONICAL numeric key's term is a
    # pure function of its typed value, so grouping on the primitive
    # field (16-byte decimal / 8-byte double instead of the 8-field
    # struct) partitions solutions identically — value↔term is a
    # bijection under vcanon — and the term is rebuilt once per GROUP.
    # q3's 600k-row groupBy(?okey) hashed/shuffled full structs for a
    # key that is one long (guide §2.3 "narrower types"; measured:
    # engine q3 2.76 s vs 1.52 s for the raw-SQL decimal equivalent,
    # most of the gap this struct grouping).
    narrow_num = {k for k, i in info.items()
                  if i.bound and i.vcanon
                  and i.kind in (tv.K_INTEGER, tv.K_DECIMAL, tv.K_DOUBLE)}
    # Native-LONG group keys (r12, guide §2.3): an integer-literal key
    # whose scan minted a companion long column (VarInfo.nkey template
    # "xsd:integer": term ≡ int_term(long), injective) groups on the
    # 8-byte long instead of the 16-byte decimal(38,18) `d` view — the
    # decimal's unscaled value exceeds a compact long (v·10¹⁸), so every
    # per-row key hash/compare boxed a BigDecimal; the long is a native
    # hash. Rebuild: int_term(long), cheaper than the decimal rtrim.
    from ..sources.relational import NKEY_INT
    narrow_long = {k: i.nkey[1] for k, i in info.items()
                   if i.bound and i.nkey and i.nkey[0] == NKEY_INT
                   and i.nkey[1] in sol.df.columns
                   and i.kind == tv.K_INTEGER}

    def key_expr(k: str) -> Column:
        if k in narrow:
            return df[k]["v"].alias(k)
        if k in narrow_long:
            return F.col(narrow_long[k]).alias(k)
        if k in narrow_num:
            field = "x" if info[k].kind == tv.K_DOUBLE else "d"
            return df[k][field].alias(k)
        return (F.col(k) if k in sol.maybe else NULL_TERM()).alias(k)

    def key_rebuild(k: str) -> Column:
        if k in narrow_long:
            return tv.int_term(F.col(k)).col.alias(k)
        if k in narrow_num:
            kind = info[k].kind
            if kind == tv.K_DOUBLE:
                return tv.double_term(F.col(k)).col.alias(k)
            if kind == tv.K_DECIMAL:
                return tv.decimal_term(F.col(k)).col.alias(k)
            return tv.int_term_from_decimal(F.col(k)).col.alias(k)
        if k not in narrow:
            return F.col(k)
        if info[k].kind == tv.SK_IRI:
            return iri_col(F.col(k)).alias(k)
        return tv.string_term(F.col(k)).col.alias(k)

    if keys:
        gdf = df.groupBy(*[key_expr(k) for k in keys])
    else:
        gdf = df.groupBy()
    if raw_aggs:
        out = gdf.agg(*raw_aggs)
        out = out.select(*[F.col(k) for k in keys], *post_exprs)
        # materialize lazy lexicals through NAMED columns in a second
        # projection — inlining materialize_lexical into the agg expression
        # tree re-expands it ~12x and blows up codegen compile time
        fix = [
            tv.materialize_lexical(
                _var_term(F.col(v.name), out_vars[v.name])).alias(v.name)
            for v, _ in p.aggregates
        ]
        out = out.select(*[key_rebuild(k) for k in keys], *fix)
    else:
        out = gdf.agg(F.count(F.lit(1)).alias("__n")).drop("__n")
        if narrow or narrow_num or narrow_long:
            out = out.select(*[key_rebuild(k) for k in keys])

    keys_info = {k: replace(i, expensive=False, nkey=None)
                 for k, i in info.items()}
    return Solution(out, {**keys_info, **out_vars})


def _minmax_decomposed(name: str, c: tv.TermExpr,
                       raw: Callable[[Column], Column]
                       ) -> Optional[tv.TermExpr]:
    """MIN/MAX as a primitive-buffer aggregate + canonical term rebuild.

    min_by/max_by over the 8-field term struct puts the struct in the
    aggregation buffer, which HashAggregateExec cannot hold (UnsafeRow
    mutable fields are fixed-width only) — every term-typed MIN/MAX
    therefore ran as a SortAggregate: a full sort of the input instead
    of a hash table (guide §5 "hash aggregate vs sort aggregate";
    r11 verdict #1). When the winning TERM is a pure function of the
    winning VALUE, aggregate the value instead and rebuild the term once
    per group:

    * SK_IRI / SK_BNODE / SK_PLAIN — the term IS its `v` string (all
      other fields are kind constants/NULLs), and the sort key is `v`
      itself, so min(v) picks exactly min_by's winner, tie-free. The
      buffer is still a string (SortAggregate), but it sorts ONE string
      instead of key + 8-field struct, and Catalyst prunes the struct
      build below the aggregate (§2.3 narrower types).
    * K_INTEGER / K_DECIMAL / K_DOUBLE, value-canonical input ONLY
      (VarInfo.vcanon: lexical NULL-or-canonical, datatype canonical) —
      aggregate the exact typed field (`d` decimal / `x` double): a
      fixed-width buffer, so the whole aggregate becomes a
      HashAggregate with map-side partial aggregation (§2.3). Without
      the vcanon proof a non-canonical winner ("05"^^xsd:integer,
      "5"^^xsd:int) could not be rebuilt — those fall back to min_by.

    Ties between DISTINCT terms with equal sort keys cannot occur in any
    decomposed case (string kinds: key = identity; numeric vcanon: value
    determines the term), so the rebuild equals min_by's pick exactly.
    NaN keeps Spark's native greatest-ordering in both forms. Returns
    None when no case applies (generic min_by runs)."""
    sk = c.kind
    agg = F.min if name == "MIN" else F.max
    if sk in (tv.SK_IRI, tv.SK_BNODE, tv.SK_PLAIN):
        from ..terms import bnode_col, iri_col
        v = raw(agg(c.view("v")))
        if sk == tv.SK_IRI:
            return tv.TermExpr(iri_col(v), tv.SK_IRI)
        if sk == tv.SK_BNODE:
            return tv.TermExpr(bnode_col(v), tv.SK_BNODE)
        return tv.string_term(v)
    if not c.vcanon:
        return None
    if sk == tv.K_DOUBLE:
        return tv.double_term(raw(agg(c.view("x"))))
    if sk == tv.K_DECIMAL:
        return tv.decimal_term(raw(agg(c.view("d"))))
    if sk == tv.K_INTEGER:
        return tv.int_term_from_decimal(raw(agg(c.view("d"))))
    return None


def _compile_aggregate(call: A.AggCall, sol: Solution, ctx: Ctx,
                       tmp: Callable[[Column], str],
                       raw: Callable[[Column], Column]) -> tv.TermExpr:
    name = call.name
    if name == "COUNT" and call.expr is None:
        if call.distinct:
            all_cols = [sol.df[c] for c in sorted(sol.maybe)]
            if not all_cols:
                return tv.int_term(raw(F.count(F.lit(1))))
            t = tmp(F.struct(*all_cols))
            return tv.int_term(raw(F.count_distinct(F.col(t))))
        return tv.int_term(raw(F.count(F.lit(1))))

    # the input and its raw channels on tmp() columns (same move as
    # Interner.__call__): SUM/MIN/... then aggregate the named raw column
    # and the struct build below the aggregate is pruned when unused
    c = compile_term_expr(call.expr, sol, ctx).rehome(lambda e, _f: tmp(e))

    if name == "COUNT":
        # plain COUNT needs only the input's NULLity — count its null
        # witness so the struct build is pruned; DISTINCT must stay on
        # the term itself
        n = F.count_distinct(c.col) if call.distinct else F.count(c.witness())
        return tv.int_term(raw(n))

    if name in ("SUM", "AVG"):
        return _sum_avg(name, c, tmp, call.distinct, raw)

    if name in ("MIN", "MAX"):
        dec = _minmax_decomposed(name, c, raw)
        if dec is not None:
            return dec
        k = tmp(sort_key(c))
        fn = F.min_by if name == "MIN" else F.max_by
        # min_by returns an ORIGINAL term — canonical iff the input is
        return tv.TermExpr(raw(fn(c.col, F.col(k))), c.kind, c.vcanon)

    if name == "SAMPLE":
        return tv.TermExpr(raw(F.first(c.col, ignorenulls=True)), c.kind,
                           c.vcanon)

    if name == "GROUP_CONCAT":
        sep = call.separator if call.separator is not None else " "
        # Reference semantics (lib/functions/src/aggregates/
        # group_concat.rs:96-240, r10 — previously STR-coerced): any
        # BOUND non-string-literal input (IRI, bnode, typed literal) is
        # an aggregate error -> unbound result; the result carries a
        # language tag iff every bound input is a lang literal with the
        # SAME tag, and is plain xsd:string otherwise. The reference's
        # accumulator fold is arrival-order-dependent for the
        # plain-then-lang sequence — an order a distributed engine
        # cannot reproduce; this is the order-free rule, which agrees
        # with it on every order-independent multiset. DISTINCT dedupes
        # TERMS ("a"@en and "a"@fr both survive), so the collected
        # element is the (lexical, lang) pair. Concatenation order is
        # implementation-defined per spec; sorted for determinism
        # (collect_list order depends on partitioning).
        strish = tv.is_string_like(c)
        bad_t = F.col(tmp((c.col.isNotNull() & ~strish).cast("int")))
        pair = tmp(F.when(strish,
                          F.struct(tv.lexical_of(c).alias("v"),
                                   c["lang"].alias("g"))))
        vals = F.collect_set(F.col(pair)) if call.distinct \
            else F.collect_list(F.col(pair))
        arr = F.array_sort(raw(vals))
        any_bad = raw(F.max(bad_t))
        joined = F.array_join(F.transform(arr, lambda x: x["v"]), sep)
        lang0 = arr[0]["g"]
        common = (F.size(arr) > 0) & lang0.isNotNull() & F.forall(
            arr, lambda x: x["g"].isNotNull() & (x["g"] == lang0))
        from ..terms import RDF_LANG_STRING, TT_LITERAL, term_struct
        return tv.TermExpr(
            F.when(any_bad == 1, NULL_TERM())
            .when(common, term_struct(F.lit(TT_LITERAL), joined,
                                      F.lit(RDF_LANG_STRING), lang0))
            .otherwise(tv.string_term(joined).col), tv.K_STRING)

    raise NotImplementedError(f"aggregate {name}")


def _sum_avg(name: str, c: tv.TermExpr, tmp: Callable[[Column], str],
             distinct: bool, raw: Callable[[Column], Column]) -> tv.TermExpr:
    """SUM/AVG with the numeric promotion ladder, single hash-agg pass
    (reference: lib/functions/src/aggregates/sum.rs:14-100, avg.rs).
    integer→integer(sum)/decimal(avg); any decimal→decimal; any float/double
    →double; any non-numeric bound value → error (NULL result)."""
    sk = c.kind
    if sk == tv.SK_NULL:
        # always-unbound input: no bound values in any group — SUM and
        # AVG are 0 per the empty-aggregate rule (must not reach
        # _sum_avg_static, whose non-numeric-kind path means "bound
        # non-numeric value" = error)
        return tv.int_term(raw(F.min(F.lit(0))))
    if sk is not None and sk != tv.SK_NUM:
        return _sum_avg_static(name, c, sk, tmp, distinct, raw)
    rank_t = F.col(tmp(tv.numeric_rank(c)))
    dec_t = F.col(tmp(tv.as_decimal(c)))
    dbl_t = F.col(tmp(tv.as_double(c)))
    bad_t = F.col(tmp((c.col.isNotNull() & ~tv.is_numeric(c)).cast("int")))

    if distinct:
        # distinct over the term value; approximate with distinct lexical+dt
        agg_dec = raw(F.sum_distinct(dec_t))
        agg_dbl = raw(F.sum_distinct(dbl_t))
        if name == "AVG":
            n = raw(F.count_distinct(dec_t))
            n_dbl = raw(F.count_distinct(dbl_t))
    else:
        agg_dec = raw(F.sum(dec_t))
        agg_dbl = raw(F.sum(dbl_t))
        if name == "AVG":
            n = raw(F.count(dec_t))
            n_dbl = raw(F.count(dbl_t))

    max_rank = raw(F.max(rank_t))
    any_bad = raw(F.max(bad_t))

    if name == "SUM":
        # SK_NUM: every non-NULL output is numeric (int/decimal/double) —
        # consumers (xsd:double of the HAVING/SELECT wrapper, arithmetic)
        # then use the 2-branch runtime ladder instead of the full
        # kind-dispatch CASE over the output struct
        return tv.TermExpr(
            F.when(any_bad == 1, NULL_TERM())
            .when(max_rank.isNull(), tv.int_term(F.lit(0)).col)  # empty group
            .when(max_rank >= tv.RANK_FLOAT, tv.double_term(agg_dbl).col)
            .when(max_rank == tv.RANK_DECIMAL, tv.decimal_term(agg_dec).col)
            .otherwise(tv.int_term(agg_dec.cast("decimal(38,0)")).col),
            tv.SK_NUM)
    # AVG
    return tv.TermExpr(
        F.when(any_bad == 1, NULL_TERM())
        .when(max_rank.isNull(), tv.int_term(F.lit(0)).col)
        .when(max_rank >= tv.RANK_FLOAT, tv.double_term(agg_dbl / n_dbl).col)
        .otherwise(tv.decimal_term(agg_dec / n).col), tv.SK_NUM
    )


def _sum_avg_static(name: str, c: tv.TermExpr, sk: int,
                    tmp: Callable[[Column], str], distinct: bool,
                    raw: Callable[[Column], Column]) -> tv.TermExpr:
    """SUM/AVG when the input's kind is statically known: the promotion
    ladder collapses at compile time — one raw aggregate (plus a count for
    AVG), no per-row rank/badness bookkeeping."""
    from ..terms import K_DURATION
    if sk == K_DURATION and name == "SUM" and not distinct:
        # XPath fn:sum over durations: sum months and seconds (the natural
        # "total session time" aggregate)
        m_t = F.col(tmp(c["x"]))
        s_t = F.col(tmp(c["d"]))
        return tv.duration_term(raw(F.sum(m_t)), raw(F.sum(s_t)))
    if not tv._sk_numeric(sk):
        # every bound value is a type error; empty/all-unbound group → 0
        bad_t = F.col(tmp(c.col.isNotNull().cast("int")))
        any_bad = raw(F.max(bad_t))
        return tv.TermExpr(F.when(any_bad == 1, NULL_TERM())
                           .otherwise(tv.int_term(F.lit(0)).col))

    # outputs below are kinded: every non-NULL value is numeric, and the
    # single-constructor branches pin the exact kind (the empty-group
    # integer-0 branch, taken on a NULL sum, makes two-kind outputs
    # SK_NUM, not the input kind)
    dbl = sk >= tv.RANK_FLOAT
    val = F.col(tmp(c.view("x" if dbl else "d")))
    total = raw(F.sum_distinct(val) if distinct else F.sum(val))
    agg = total if name == "SUM" else \
        total / raw(F.count_distinct(val) if distinct else F.count(val))
    kind = tv.SK_NUM
    if dbl:
        out = tv.double_term(agg)
    elif name == "SUM" and sk == tv.RANK_INTEGER:
        out, kind = tv.int_term(agg.cast("decimal(38,0)")), tv.K_INTEGER
    else:
        out = tv.decimal_term(agg)
    return tv.TermExpr(F.when(total.isNull(), tv.int_term(F.lit(0)).col)
                       .otherwise(out.col), kind,
                       vcanon=kind == tv.K_INTEGER)


# ---------------------------------------------------------------------------
# query forms (reference: lib/execution/src/sparql/eval.rs:24-133)
# ---------------------------------------------------------------------------

@dataclass
class QueryExplanation:
    """Per-query plan capture (reference:
    lib/execution/src/sparql/explanation.rs — initial/optimized logical +
    execution plan; here the Catalyst analogues).

    `assert_scale_safe()` turns the plan audit into an enforced invariant:
    it raises if the executed plan contains a nested-loop join shape
    (BroadcastNestedLoopJoin / CartesianProduct) — the scale-killers at
    100 TB — unless the query semantically requires a cross product."""
    parsed_logical_plan: str
    optimized_logical_plan: str
    physical_plan: str
    # joins that fell past the split-union k≤3 guard to the IS_COMPATIBLE
    # theta fallback: [{"op": ..., "shared_vars": [...],
    # "nullable_shared": [...]}, ...] — the vars responsible for any
    # nested-loop operator below
    split_union_guard_breaches: list = field(default_factory=list)

    _NESTED_LOOP = ("BroadcastNestedLoopJoin", "CartesianProduct")

    def nested_loop_joins(self) -> list:
        return [m for m in self._NESTED_LOOP if m in self.physical_plan]

    def assert_scale_safe(self) -> None:
        found = self.nested_loop_joins()
        if found:
            detail = ""
            if self.split_union_guard_breaches:
                vars_ = sorted({v for b in self.split_union_guard_breaches
                                for v in b["nullable_shared"]})
                ops = sorted({b["op"]
                              for b in self.split_union_guard_breaches})
                detail = (
                    f" (split-union guard breached by {ops} on nullable "
                    f"shared vars {vars_}: more than "
                    f"{_join._SPLIT_UNION_MAX_NULLABLE} statically-nullable "
                    "shared vars forces the compatibility theta join)")
            raise AssertionError(
                f"plan contains nested-loop operators {found}{detail}:\n"
                + self.physical_plan)


def _explain(df: DataFrame, breaches: Optional[list] = None
             ) -> QueryExplanation:
    qe = df._jdf.queryExecution()
    return QueryExplanation(
        parsed_logical_plan=qe.logical().toString(),
        optimized_logical_plan=qe.optimizedPlan().toString(),
        physical_plan=qe.executedPlan().toString(),
        split_union_guard_breaches=list(breaches or []),
    )


@dataclass
class SelectResult:
    df: DataFrame
    variables: list
    guard_breaches: list = field(default_factory=list)

    def explanation(self) -> QueryExplanation:
        return _explain(self.df, self.guard_breaches)


@dataclass
class AskResult:
    """ASK result. `value` evaluates LAZILY per access (head(1) on the
    underlying solution), so a prepared ASK re-executes against current
    data like the other result kinds; `df` exposes the solution relation
    for explanation/reuse."""
    df: DataFrame
    guard_breaches: list = field(default_factory=list)

    @property
    def value(self) -> bool:
        return bool(self.df.head(1))

    def explanation(self) -> QueryExplanation:
        return _explain(self.df, self.guard_breaches)


@dataclass
class GraphResult:
    df: DataFrame  # columns subject, predicate, object (term structs)
    guard_breaches: list = field(default_factory=list)

    def explanation(self) -> QueryExplanation:
        return _explain(self.df, self.guard_breaches)


def _now_literal() -> Literal:
    now = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
    return Literal(now.isoformat(), XSD_DATETIME)


def _dataset_ctx(store: GraphStore, dataset, optimize: bool = True) -> Ctx:
    ag = ActiveGraph.default()
    named = None
    if dataset is not None:
        if dataset.default:
            ag = ActiveGraph.union(list(dataset.default))
        if dataset.named:
            named = list(dataset.named)
        if dataset.default and not dataset.named:
            named = []  # FROM without FROM NAMED: no named graphs in scope
        if dataset.named and not dataset.default:
            # SPARQL 1.1 §13.2: FROM NAMED without FROM means the default
            # graph is EMPTY (reference dataset semantics) — an empty
            # union matches no quads
            ag = ActiveGraph.union([])
    return Ctx(store=store, active_graph=ag, now=_now_literal(),
               named_graphs=named, optimize=optimize)


def _check_service_endpoints(p) -> None:
    """A SERVICE endpoint variable that is bound elsewhere in the query
    (VALUES, a triple pattern, BIND) would need per-binding remote calls —
    unsupported; raise rather than silently evaluating the branch as
    empty. Genuinely unbindable endpoint vars (the oxigraph
    ask_{union,join}_error_* shape) stay per-solution errors → empty."""
    services: list = []

    def bindable(node) -> set:
        """Vars any subtree could bind (syntactic over-approximation)."""
        out: set = set()
        if isinstance(node, A.ServiceNode):
            services.append(node)
        if isinstance(node, A.BGP):
            for t in node.triples:
                for x in (t.subject, t.predicate, t.object):
                    if isinstance(x, Variable):
                        out.add(x.name)
        if isinstance(node, A.PathPattern):
            for x in (node.subject, node.object):
                if isinstance(x, Variable):
                    out.add(x.name)
        if isinstance(node, A.ValuesNode):
            out |= {v.name for v in node.variables}
        if isinstance(node, A.Extend):
            out.add(node.var.name)
        if isinstance(node, A.GraphNode) and isinstance(node.name, Variable):
            out.add(node.name.name)
        for attr in ("left", "right", "inner"):
            child = getattr(node, attr, None)
            if child is not None:
                out |= bindable(child)
        return out

    all_vars = bindable(p)
    # snapshot: bindable() below appends nested services while we iterate
    for svc in list(services):
        if isinstance(svc.endpoint, Variable) and \
                svc.endpoint.name in (all_vars - bindable(svc.inner)):
            raise NotImplementedError(
                f"SERVICE with a bound variable endpoint "
                f"?{svc.endpoint.name} is not supported")


def evaluate_query(store: GraphStore, q, optimize: bool = True):
    # release the PREVIOUS query's shared-subquery persists on this
    # session (see _PERSIST_REGISTRY): caches are query-scoped so a long
    # bench run never accumulates pinned grouped relations
    _release_prior_persists(store.spark)
    ctx = _dataset_ctx(store, getattr(q, "dataset", None), optimize=optimize)
    _join.reset_guard_breaches()
    if getattr(q, "pattern", None) is not None:
        _check_service_endpoints(q.pattern)
        # aggregate subsumption (plans/subsumption.py): repeated GROUP BY
        # cores collapse to one shared aggregation the subquery cache then
        # evaluates once. Returns a NEW tree; q itself is never mutated
        # (parsed queries may be cached upstream).
        if optimize and isinstance(q, (A.SelectQuery, A.AskQuery,
                                       A.ConstructQuery)):
            from .subsumption import subsume_group_aggregates
            q = replace(q,
                        pattern=subsume_group_aggregates(q.pattern, store))

    if isinstance(q, A.SelectQuery):
        sol = translate(q.pattern, ctx)
        sol = _apply_order(sol, ctx)
        vars_ = sorted(sol.maybe)
        if isinstance(q.pattern, (A.Project, A.Distinct, A.Reduced, A.Slice, A.OrderBy)):
            vars_ = _projected_vars(q.pattern) or vars_
        return SelectResult(df=sol.df, variables=vars_,
                            guard_breaches=_join.guard_breaches())

    if isinstance(q, A.AskQuery):
        sol = translate(q.pattern, ctx)
        return AskResult(df=sol.df, guard_breaches=_join.guard_breaches())

    if isinstance(q, A.ConstructQuery):
        sol = translate(q.pattern, ctx)
        # template blank nodes (parsed as fresh __bn_* variables) mint a
        # FRESH bnode per solution row (SPARQL 16.2.1): label = template
        # label + per-row unique suffix, shared by every occurrence of the
        # same label within one row

        def _is_tpl_bnode(x) -> bool:
            return (isinstance(x, Variable) and x.name.startswith("__bn_")
                    and x.name not in sol.maybe)

        bnode_rows = any(
            _is_tpl_bnode(x) for tpl in q.template
            for x in (tpl.subject, tpl.predicate, tpl.object))
        sdf = sol.df
        if bnode_rows:
            sdf = sdf.withColumn("__row_id",
                                 F.monotonically_increasing_id().cast("string"))
        # ONE pass over the solution: each template triple becomes one
        # struct in a per-row array, exploded to a triple per (row,
        # template). The old shape unioned one `sdf.select(...)` per
        # template triple, and Spark re-evaluated the whole WHERE for
        # every branch — q_bsbm_explore_q12's 6-triple template re-ran
        # its 3-table join 6 times (18 scans; guide §2.4 "do fewer
        # passes"). Same multiset of triples, so dropDuplicates yields
        # an identical graph.
        triples = []
        for tpl in q.template:
            cols = []
            for pos, x in (("subject", tpl.subject), ("predicate", tpl.predicate),
                           ("object", tpl.object)):
                if _is_tpl_bnode(x):
                    from ..terms import term_struct
                    col = term_struct(
                        F.lit(1),
                        F.concat(F.lit(x.name[len("__bn_"):] + "_r"),
                                 F.col("__row_id")))
                elif isinstance(x, Variable):
                    col = sdf[x.name] if x.name in sol.maybe else NULL_TERM()
                else:
                    col = term_lit(x).col
                cols.append(col.alias(pos))
            triples.append(F.struct(*cols))
        out = None
        if triples:
            out = (sdf.select(F.explode(F.array(*triples)).alias("__t"))
                   .select("__t.subject", "__t.predicate", "__t.object")
                   .where(F.col("subject").isNotNull()
                          & F.col("predicate").isNotNull()
                          & F.col("object").isNotNull()
                          & (F.col("subject")["t"] != TT_LITERAL)
                          & (F.col("predicate")["t"] == 0)))
        if out is None:
            from ..terms import TERM_TYPE as _TT
            import pyspark.sql.types as T
            schema = T.StructType([
                T.StructField("subject", _TT), T.StructField("predicate", _TT),
                T.StructField("object", _TT)])
            out = store.spark.createDataFrame([], schema)
        return GraphResult(df=out.dropDuplicates(),
                           guard_breaches=_join.guard_breaches())

    if isinstance(q, A.DescribeQuery):
        # reference approximation: return all triples whose subject is a
        # described resource (eval.rs:87-131)
        if q.pattern is not None:
            sol = translate(q.pattern, ctx)
            subjects = None
            for t in q.terms:
                if isinstance(t, Variable) and t.name in sol.maybe:
                    s = sol.df.select(sol.df[t.name].alias("subject")).distinct()
                    subjects = s if subjects is None else subjects.unionByName(s).distinct()
        else:
            subjects = None
        consts = [t for t in q.terms if isinstance(t, NamedNode)]

        # build the exploded-quads triple relation only if actually needed:
        # virtual stores resolve described subjects to single-table scans
        # (VERDICT r2 #5); the union fallback stays for plain stores
        _triples_cache = []

        def triples():
            if not _triples_cache:
                quads = store.quads
                if not getattr(store, "union_default_graph", False):
                    quads = quads.where(F.col("graph").isNull())
                _triples_cache.append(
                    quads.select("subject", "predicate", "object"))
            return _triples_cache[0]

        desc_dyn = getattr(store, "describe_for_subjects", None)
        desc_const = getattr(store, "describe_triples", None)
        out = None
        if subjects is not None:
            if desc_dyn is not None:
                out = desc_dyn(subjects)
            else:
                out = triples().join(subjects, on="subject", how="left_semi")
        if consts:
            if desc_const is not None:
                t2 = desc_const(consts)
            else:
                cond = F.col("subject.v").isin([c.iri for c in consts]) \
                    & (F.col("subject.t") == 0)
                t2 = triples().where(cond)
            out = t2 if out is None else out.unionByName(t2)
        if out is None:
            import pyspark.sql.types as T
            from ..terms import TERM_TYPE as _TT
            schema = T.StructType([
                T.StructField("subject", _TT), T.StructField("predicate", _TT),
                T.StructField("object", _TT)])
            out = store.spark.createDataFrame([], schema)
        out = out.dropDuplicates()
        # Concise Bounded Description: pull in the triples of blank nodes
        # reachable as objects, transitively (semi-naive frontier loop —
        # bnode chains are shallow, so few iterations; each round is two
        # hash joins, no driver-side data transfer beyond the empty check)
        described = out.select("subject").distinct()
        for _ in range(50):
            frontier = (out.where(F.col("object.t") == 1)  # TT_BNODE
                        .select(F.col("object").alias("subject")).distinct()
                        .join(described, "subject", "left_anti"))
            if not frontier.head(1):
                break  # no new bnodes → never build the quads fallback
            new = triples().join(frontier, "subject", "left_semi")
            if not new.head(1):
                break
            out = out.unionByName(new).dropDuplicates()
            described = out.select("subject").distinct()
        return GraphResult(df=out,
                           guard_breaches=_join.guard_breaches())

    raise NotImplementedError(f"query form {type(q).__name__}")


def _projected_vars(p) -> Optional[list]:
    if isinstance(p, A.Project):
        return [v.name for v in p.variables]
    if isinstance(p, (A.Distinct, A.Reduced, A.Slice, A.OrderBy)):
        return _projected_vars(p.inner)
    return None
