"""SPARQL join strategy selection (compatible-mapping semantics).

Port of the *decision logic* of SparqlJoinLoweringRule
(reference: lib/logical/src/join/rewrite.rs:23-260) — not its rule
machinery: we decide the join shape eagerly at translate time using our own
definitely-bound variable tracking (Spark schema nullability is unreliable
after unions), then let Catalyst pick broadcast/sort-merge/shuffle-hash.

Strategy order (extends the reference's three cases with a scale-safe
split-union decomposition, SURVEY §7.3#3):
 1. disjoint vars, no filter      → cross join
 2. all shared vars definitely bound on both sides
                                  → equi hash join on the term structs
 3. few statically-nullable shared vars (≤3 across both sides)
                                  → null-pattern split-union: slice each side
                                    by which nullable shared vars are bound,
                                    join every slice pair on its effective
                                    equality keys (pure equi → hash join),
                                    union the parts; OPTIONAL additionally
                                    appends the anti-chain remainder padded
                                    with NULLs
 4. else                          → theta join on IS_COMPATIBLE conjunction
                                    + coalesce projection per shared var
                                    (BroadcastNestedLoop — last resort)
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from functools import reduce
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.typed_ops import TermExpr

# Split-union guard: total nullable shared vars across both sides; 2^k slice
# pairs are materialized, so keep k small (k=3 → at most 8 equi joins).
_SPLIT_UNION_MAX_NULLABLE = 3

# Guard-breach journal: each time a join falls past the k≤3 guard to the
# IS_COMPATIBLE theta fallback (the one remaining nested-loop-prone path),
# the offending vars are recorded here; the translator snapshots the list
# into QueryExplanation so assert_scale_safe can NAME the vars instead of
# dumping an anonymous BroadcastNestedLoopJoin. Thread-local: a SERVICE
# query evaluated by the in-process HTTP server (or any concurrent
# evaluate_query) must not clobber the outer query's journal.
import threading

_GUARD_TLS = threading.local()


def _breaches() -> list:
    lst = getattr(_GUARD_TLS, "breaches", None)
    if lst is None:
        lst = _GUARD_TLS.breaches = []
    return lst


def reset_guard_breaches() -> None:
    _breaches().clear()


def guard_breaches() -> list:
    return list(_breaches())


def _record_breach(op: str, left: "Solution", right: "Solution",
                   shared: list) -> None:
    _breaches().append({
        "op": op,
        "shared_vars": list(shared),
        "nullable_shared": sorted(
            v for v in shared
            if v not in left.bound or v not in right.bound),
    })

@dataclass(frozen=True)
class VarInfo:
    """What a solution statically knows about one of its variables.

    Every field defaults to the safe direction: a dropped fact only misses
    an optimization, so an operator that cannot prove a fact for its
    output leaves it at the default (the merge rules below).

    `bound` — guaranteed non-NULL in every row
    `kind`  — static kind where known (typed_ops.TermExpr.kind): a promise
              that every non-NULL value has that kind, letting expression
              compilation emit single-branch code
    """
    bound: bool = False
    kind: Optional[int] = None
    # PROVEN value-canonical: every non-NULL term is a numeric whose
    # lexical (`v`) is NULL-or-canonical for its exact value and whose
    # datatype is the kind's canonical type (xsd:integer, not xsd:int).
    # Producers: virtual scans (lazy lexicals), numeric term
    # constructors, canonically-written constants. Consumed by the
    # MIN/MAX hash-aggregate decomposition (r12): for such a column the
    # winning TERM is a pure function of the winning VALUE, so min/max of
    # the primitive field + canonical rebuild ≡ min_by of the term struct.
    vcanon: bool = False
    # The backing column is an EXPENSIVE computed expression (aggregate
    # outputs: promotion ladder + materialize_lexical structs). A later
    # FILTER referencing it must not be alias-substituted by Catalyst's
    # PushDownPredicates — transitive inlining through the stacked
    # post-agg Projects grows the condition multiplicatively (~12x per
    # level) and hangs the optimizer. See _apply_plain_filters.
    expensive: bool = False
    # Native join key (r12, guide §2.3 narrower types): (template, native
    # column name). The var's term is an entity IRI minted as
    # `x:<code>:str(native_long)` from `template`'s id space, and the df
    # carries the LONG in the named `__nk_<var>` column. str(long) is
    # injective, so within one template long-equality ⟺ IRI-equality — an
    # equi join on two vars with the SAME template may key on the longs,
    # skipping the per-row string build + string hashing (measured ~20% of
    # the whole q3 pipeline). Producers: virtual star scans (subject +
    # FK-object vars). Consumers MUST check the column still exists in df
    # (filters and BINDs re-select the variable columns only).
    nkey: Optional[tuple] = None


BOUND = VarInfo(bound=True)
UNBOUND = VarInfo()


@dataclass
class Solution:
    """A solution relation: DataFrame + one VarInfo per variable.

    The keys of `vars` are the variables present in the schema (possibly
    NULL = unbound); `maybe`, `bound` and `kinds` are read-only views.
    """
    df: DataFrame
    vars: dict = field(default_factory=dict)  # var name → VarInfo
    pending_order: list = field(default_factory=list)  # OrderCondition list

    @property
    def maybe(self) -> frozenset:
        return frozenset(self.vars)

    @property
    def bound(self) -> frozenset:
        return frozenset(v for v, i in self.vars.items() if i.bound)

    @property
    def kinds(self) -> dict:
        return {v: i.kind for v, i in self.vars.items() if i.kind is not None}

    def with_df(self, df: DataFrame) -> "Solution":
        return replace(self, df=df)


# ---------------------------------------------------------------------------
# VarInfo merge rules, one per operator shape
# ---------------------------------------------------------------------------

def _merge_vars(left: Solution, right: Solution, bound: Callable,
                nkey_cols=frozenset()) -> dict:
    """Per-variable merge for a binary operator; `bound(l, r)` decides
    boundness from the two sides' VarInfo (None = the side lacks it).
    Shared policy for the other fields:
      kind, vcanon — a var on both sides keeps the fact only when BOTH
        sides prove it (the same kind); a var on one side keeps that
        side's fact (the other side contributes only NULLs, for which
        every promise holds vacuously);
      expensive — either side's marker survives;
      nkey — kept only when its column is in `nkey_cols`. For a shared
        var the left entry wins (the name-join keeps the left/merged
        copy); a right entry for a var the left doesn't track is valid
        too — the join matched on term equality, so the right long still
        corresponds to the var's term on every (matched) row."""
    out = {}
    for v in [*left.vars, *(v for v in right.vars if v not in left.vars)]:
        l, r = left.vars.get(v), right.vars.get(v)
        if l is not None and r is not None:
            kind = l.kind if l.kind == r.kind else None
            vcanon = l.vcanon and r.vcanon
        else:
            kind, vcanon = (l or r).kind, (l or r).vcanon
        sides = [i for i in (l, r) if i is not None]
        out[v] = VarInfo(
            bound=bound(l, r), kind=kind, vcanon=vcanon,
            expensive=any(i.expensive for i in sides),
            nkey=next((i.nkey for i in sides
                       if i.nkey and i.nkey[1] in nkey_cols), None))
    return out


def inner_join_vars(left: Solution, right: Solution,
                    nkey_cols=frozenset()) -> dict:
    """Inner join: bound when either side binds it (a joined row carries
    both sides' bindings)."""
    return _merge_vars(left, right,
                       lambda l, r: bool(l and l.bound or r and r.bound),
                       nkey_cols)


def left_join_vars(left: Solution, right: Solution,
                   nkey_cols=frozenset()) -> dict:
    """Left join: bound only when the left side binds it (unmatched left
    rows carry NULL for every right-only var)."""
    return _merge_vars(left, right, lambda l, r: bool(l and l.bound),
                       nkey_cols)


def union_vars(left: Solution, right: Solution) -> dict:
    """Union: bound only when both branches bind it; nkey dropped (the
    union selects the variable columns only)."""
    return _merge_vars(left, right,
                       lambda l, r: bool(l and r and l.bound and r.bound))


def project_vars(sol: Solution, names: list) -> dict:
    """Projection: every fact of a kept var survives except nkey (its
    column is not selected); a name the solution lacks is unbound."""
    return {n: replace(sol.vars[n], nkey=None) if n in sol.vars else UNBOUND
            for n in names}


def union_solutions(left: Solution, right: Solution) -> Solution:
    """Bag union; each side's missing variables are padded with NULL."""
    from ..functions.builtins import NULL_TERM
    ldf, rdf = left.df, right.df
    for v in sorted(right.maybe - left.maybe):
        ldf = ldf.withColumn(v, NULL_TERM())
    for v in sorted(left.maybe - right.maybe):
        rdf = rdf.withColumn(v, NULL_TERM())
    cols = sorted(left.maybe | right.maybe)
    df = (ldf.select(*cols).unionByName(rdf.select(*cols))
          if cols else ldf.unionByName(rdf))
    return Solution(df, union_vars(left, right))


def project_solution(sol: Solution, names: list, extra=()) -> Solution:
    """Project onto `names` in order (a name the solution lacks becomes a
    NULL column); `extra` columns ride along untracked."""
    from ..functions.builtins import NULL_TERM
    cols = [sol.df[n].alias(n) if n in sol.vars else NULL_TERM().alias(n)
            for n in names]
    return Solution(sol.df.select(*cols, *extra), project_vars(sol, names),
                    sol.pending_order)


# (filter expression, resolver of variable names to term records) -> bool
BoolCompiler = Callable[[object, Callable[[str], TermExpr]], Column]


def _compat(lc: Column, rc: Column) -> Column:
    """IS_COMPATIBLE: either side unbound, or terms identical
    (reference: lib/functions/src/builtin/query/is_compatible.rs:18-180)."""
    return lc.isNull() | rc.isNull() | (lc == rc)


def _null_patterns(df: DataFrame, nullable: list):
    """Slice `df` by which of `nullable` columns are non-NULL.

    Yields (bound_subset: frozenset, slice_df). The slices partition the rows
    of `df`: each row lands in exactly one slice, so a union of per-slice-pair
    joins neither duplicates nor drops (l, r) pairs. With `nullable` empty the
    single slice is `df` itself (no filter → no extra scan)."""
    if not nullable:
        yield frozenset(), df
        return
    for bits in range(1 << len(nullable)):
        subset = frozenset(v for i, v in enumerate(nullable) if (bits >> i) & 1)
        cond = F.lit(True)
        for v in nullable:
            c = F.col(v).isNotNull() if v in subset else F.col(v).isNull()
            cond = cond & c
        yield subset, df.filter(cond)


def _split_union_applicable(left: "Solution", right: "Solution",
                            shared: list) -> bool:
    nl = [v for v in shared if v not in left.bound]
    nr = [v for v in shared if v not in right.bound]
    return 0 < len(nl) + len(nr) <= _SPLIT_UNION_MAX_NULLABLE


def _split_union_join(
    left: "Solution",
    right: "Solution",
    shared: list,
    how: str,
    filter_expr,
    compile_bool: Optional[BoolCompiler],
) -> "Solution":
    """Null-pattern split-union compatibility join (SURVEY §7.3#3).

    For every (left-slice, right-slice) pair the compat conjunction collapses:
    a shared var non-NULL on both sides must be EQUAL (equi key), a var NULL
    on either side is trivially compatible. So each pair joins on pure
    equality keys — Catalyst plans hash/sort-merge joins instead of the
    BroadcastNestedLoop the IS_COMPATIBLE theta forces. The one remaining
    nested-loop case is a slice pair with an empty key set (every shared var
    NULL on one side) — a genuine cross product the semantics demand, now
    confined to the all-null slices instead of the whole input.

    Left outer (OPTIONAL): the matched parts are the inner unions; the
    unmatched remainder is computed per left slice by CHAINED hash anti joins
    against each right slice (a row survives iff it matched nowhere), then
    padded with NULLs for right-only vars.

    Cost note: each side's subtree is re-evaluated once per slice (2^k scans
    for k nullable vars on that side). With the k≤3 guard that is at most 8
    re-reads of a scan subtree — linear work, vs the O(n·m) nested loop this
    replaces.
    """
    nl = [v for v in shared if v not in left.bound]
    nr = [v for v in shared if v not in right.bound]
    out_vars = sorted(left.maybe | right.maybe)

    def project(L, R, joined):
        cols = []
        for v in out_vars:
            if v in shared:
                cols.append(F.coalesce(L[v], R[v]).alias(v))
            elif v in left.maybe:
                cols.append(L[v].alias(v))
            else:
                cols.append(R[v].alias(v))
        return joined.select(*cols)

    from ..terms import TERM_DDL

    def pad_left(Ldf):
        cols = []
        for v in out_vars:
            if v in left.maybe:
                cols.append(F.col(v).alias(v))
            else:
                cols.append(F.lit(None).cast(TERM_DDL).alias(v))
        return Ldf.select(*cols)

    def mk_cond(L, R, keys):
        cond = F.lit(True)
        for v in keys:
            cond = cond & (L[v] == R[v])
        if filter_expr is not None:
            assert compile_bool is not None

            def resolve(name, L=L, R=R):
                if name in shared:
                    return F.coalesce(L[name], R[name])
                if name in left.maybe:
                    return L[name]
                if name in right.maybe:
                    return R[name]
                return F.lit(None).cast(TERM_DDL)

            cond = cond & compile_bool(filter_expr,
                                       lambda n: TermExpr(resolve(n)))
        return cond

    right_slices = list(_null_patterns(right.df, nr))
    parts = []
    for sl, ldf in _null_patterns(left.df, nl):
        rest = ldf  # anti-chain remainder (left outer only)
        for sr, rdf in right_slices:
            keys = sorted(((set(left.bound) & set(shared)) | sl)
                              & ((set(right.bound) & set(shared)) | sr))
            L, R = ldf.alias("l"), rdf.alias("r")
            parts.append(project(L, R, L.join(R, mk_cond(L, R, keys), "inner")))
            if how != "inner":
                La, Ra = rest.alias("l"), rdf.alias("r")
                rest = La.join(Ra, mk_cond(La, Ra, keys), "left_anti")
        if how != "inner":
            parts.append(pad_left(rest))

    df = reduce(lambda a, b: a.unionByName(b), parts)
    df = df.select(*[F.col(v) for v in out_vars])
    return _joined(left, right, how, df)


def _joined(left: Solution, right: Solution, how: str, df: DataFrame,
            nkey_cols=frozenset()) -> Solution:
    rule = inner_join_vars if how == "inner" else left_join_vars
    return Solution(df, rule(left, right, nkey_cols), left.pending_order)


def join_solutions(
    left: Solution,
    right: Solution,
    how: str = "inner",
    filter_expr=None,
    compile_bool: Optional[BoolCompiler] = None,
) -> Solution:
    """SPARQL join/left-join of two solutions."""
    shared = sorted(left.maybe & right.maybe)
    all_bound = all(v in left.bound and v in right.bound for v in shared)

    # fast path: plain equi join, no extra filter → join on names
    if shared and all_bound and filter_expr is None:
        from ..functions.typed_ops import SK_IRI, SK_PLAIN

        def _native_key(v: str) -> Optional[str]:
            # native LONG key usable when BOTH sides mint the var's IRI
            # from the SAME template and still carry the long column
            lk, rk = left.vars[v].nkey, right.vars[v].nkey
            if lk and rk and lk[0] == rk[0] \
                    and lk[1] == rk[1] \
                    and lk[1] in left.df.columns \
                    and rk[1] in right.df.columns:
                return lk[1]
            return None

        nat = {v: nk for v in shared if (nk := _native_key(v))}
        if all(v in nat or (left.vars[v].kind == right.vars[v].kind
                            and left.vars[v].kind in (SK_IRI, SK_PLAIN))
               for v in shared):
            # Native-long keys where proven (r12: same-template entity
            # IRIs join on the minted long — no per-row string build, an
            # 8-byte shuffle/hash key); narrow-identity `v` keys for the
            # rest: sameTerm for IRIs and plain xsd:string literals is
            # identity on `v` (both sides must be the SAME kind — an IRI
            # never equals a literal), so shuffle/hash/compare ONE
            # string field instead of the 8-field struct (~25% cheaper
            # on join-heavy plans). In both forms the right side's term
            # column is dropped: equality of the key implies equality of
            # the term (same template / same kind + same lexical).
            jk = []
            L, R = left.df, right.df
            # a shared var joined on `v` (not natively) may still carry
            # same-named __nk columns on both sides — drop the right
            # copies so the joined frame has no duplicate non-key name
            dup_nk = [c for c in R.columns
                      if c.startswith("__nk_") and c in L.columns
                      and c not in set(nat.values())]
            if dup_nk:
                R = R.drop(*dup_nk)
            for v in shared:
                if v in nat:
                    continue
                jk.append(f"__jk_{v}")
                L = L.withColumn(f"__jk_{v}", F.col(v)["v"])
                R = R.withColumn(f"__jk_{v}", F.col(v)["v"])
            on = [nat[v] for v in shared if v in nat] + jk
            df = L.join(R.drop(*shared), on=on, how=how).drop(*jk)
        else:
            # drop the right side's native-key columns that collide with
            # a left column name — the generic name-join merges only the
            # `shared` columns, and a duplicate non-key name would
            # poison later references
            L, R = left.df, right.df
            dup_nk = [c for c in R.columns
                      if c.startswith("__nk_") and c in L.columns]
            if dup_nk:
                R = R.drop(*dup_nk)
            df = L.join(R, on=shared, how=how)
        # only this equi path keeps native keys: the split-union and
        # theta shapes re-project to the variable columns, and the cross
        # join drops them too (keeping them would re-key later joins)
        return _joined(left, right, how, df, frozenset(df.columns))

    # fast path: disjoint, no filter → cross join
    if not shared and filter_expr is None and how == "inner":
        return _joined(left, right, how, left.df.crossJoin(right.df))

    # scale path: null-pattern split-union → hash joins instead of BNLJ
    if shared and not all_bound and how in ("inner", "left") \
            and _split_union_applicable(left, right, shared):
        return _split_union_join(left, right, shared, how,
                                 filter_expr, compile_bool)

    # general path: aliased theta join + coalesce projection
    if shared and not all_bound:
        _record_breach("join", left, right, shared)
    L = left.df.alias("l")
    R = right.df.alias("r")

    conds: list[Column] = []
    for v in shared:
        lc, rc = L[v], R[v]
        if v in left.bound and v in right.bound:
            conds.append(lc == rc)
        else:
            conds.append(_compat(lc, rc))

    def resolve(name: str) -> Column:
        if name in shared:
            return F.coalesce(L[name], R[name])
        if name in left.maybe:
            return L[name]
        if name in right.maybe:
            return R[name]
        from ..terms import TERM_DDL
        return F.lit(None).cast(TERM_DDL)

    if filter_expr is not None:
        assert compile_bool is not None
        conds.append(compile_bool(filter_expr,
                                  lambda n: TermExpr(resolve(n))))

    cond = F.lit(True)
    for c in conds:
        cond = cond & c

    df = L.join(R, cond, how)
    out_cols: list[Column] = []
    for v in sorted(left.maybe | right.maybe):
        if v in shared:
            out_cols.append(F.coalesce(L[v], R[v]).alias(v))
        elif v in left.maybe:
            out_cols.append(L[v].alias(v))
        else:
            out_cols.append(R[v].alias(v))
    return _joined(left, right, how, df.select(*out_cols))


def minus_solutions(left: Solution, right: Solution,
                    graph_var: Optional[str] = None) -> Solution:
    """SPARQL MINUS → left-anti join with compatibility condition AND at
    least one shared var bound on both sides
    (reference: lib/logical/src/minus/rewrite.rs:16-130).

    `graph_var` (r10, GRAPH-layer fuzz seed 19): inside GRAPH ?g every
    scan binds ?g, so both MINUS sides carry it — but the spec evaluates
    Graph(?g, P) as a per-named-graph evaluation of P with ?g joined
    ABOVE it (§18.5), so within MINUS the solutions do NOT contain ?g
    and the "domains overlap" clause must be decided WITHOUT it. ?g
    still participates in the compatibility condition (it encodes the
    per-graph scoping: right solutions from another graph are not
    compatible); it just cannot be the variable that satisfies the
    dom-overlap requirement. Concretely: GRAPH ?g { A MINUS B } where A
    and B share no pattern variables removes nothing, even though both
    bind ?g."""
    shared = sorted(left.maybe & right.maybe)
    dom_shared = [v for v in shared if v != graph_var]
    if not dom_shared:
        return left  # identity per spec (dom-overlap can never hold)

    L = left.df.alias("l")
    R = right.df.alias("r")
    all_bound = all(v in left.bound and v in right.bound for v in shared)

    if all_bound:
        # pure equality anti join → hash-joinable (dom_shared nonempty
        # and all-bound ⇒ the dom-overlap clause holds statically)
        cond = F.lit(True)
        for v in shared:
            cond = cond & (L[v] == R[v])
        df = L.join(R, cond, "left_anti")
        return replace(left, df=df)

    if _split_union_applicable(left, right, shared):
        # null-pattern split: per (left-slice, right-slice) pair the compat
        # ∧ any-both-bound condition is pure equality on the pair's key set —
        # and a pair with an EMPTY key set never excludes (the any-both-bound
        # clause fails), so those pairs are simply skipped. Every join below
        # is a hash anti join; the slices union back losslessly.
        nl = [v for v in shared if v not in left.bound]
        nr = [v for v in shared if v not in right.bound]
        right_slices = list(_null_patterns(right.df, nr))
        parts = []
        for sl, ldf in _null_patterns(left.df, nl):
            rest = ldf
            for sr, rdf in right_slices:
                keys = sorted(((set(left.bound) & set(shared)) | sl)
                              & ((set(right.bound) & set(shared)) | sr))
                if not set(keys) - {graph_var}:
                    # no NON-graph var bound on both sides → no exclusion
                    continue
                La, Ra = rest.alias("l"), rdf.alias("r")
                cond = F.lit(True)
                for v in keys:
                    cond = cond & (La[v] == Ra[v])
                rest = La.join(Ra, cond, "left_anti")
            parts.append(rest)
        df = reduce(lambda a, b: a.unionByName(b), parts)
        return replace(left, df=df)

    _record_breach("minus", left, right, shared)
    cond = F.lit(True)
    any_both = F.lit(False)
    for v in shared:
        cond = cond & _compat(L[v], R[v])
        if v != graph_var:
            any_both = any_both | (L[v].isNotNull() & R[v].isNotNull())
    cond = cond & any_both

    df = L.join(R, cond, "left_anti")
    return replace(left, df=df)


def exists_join(left: Solution, right: Solution, negated: bool) -> Solution:
    """FILTER EXISTS / NOT EXISTS → left-semi / left-anti join on
    compatibility of shared variables
    (reference: expression_rewriter.rs:325-340 + DecorrelatePredicateSubquery)."""
    shared = sorted(left.maybe & right.maybe)
    how = "left_anti" if negated else "left_semi"
    if not shared:
        # uncorrelated: keep all (resp. none) depending on right emptiness
        marker = right.df.limit(1)
        df = left.df.join(marker, F.lit(True), how)
        return replace(left, df=df)
    L = left.df.alias("l")
    R = right.df.alias("r")
    all_bound = all(v in left.bound and v in right.bound for v in shared)
    if all_bound:
        cond = F.lit(True)
        for v in shared:
            cond = cond & (L[v] == R[v])
        df = L.join(R, cond, how)
        return replace(left, df=df)

    if _split_union_applicable(left, right, shared):
        # null-pattern split: per left slice, walk the right slices keeping
        # (semi) or whittling (anti) via hash joins on each pair's equality
        # keys. A pair with an empty key set is trivially compatible — its
        # "join" is an existence test against ONE row of the right slice
        # (limit(1) marker), never an n×m loop.
        nl = [v for v in shared if v not in left.bound]
        nr = [v for v in shared if v not in right.bound]
        right_slices = list(_null_patterns(right.df, nr))
        parts = []
        for sl, ldf in _null_patterns(left.df, nl):
            rest = ldf
            hits = []
            for sr, rdf in right_slices:
                keys = sorted(((set(left.bound) & set(shared)) | sl)
                              & ((set(right.bound) & set(shared)) | sr))
                La = rest.alias("l")
                if keys:
                    Ra = rdf.alias("r")
                    cond = F.lit(True)
                    for v in keys:
                        cond = cond & (La[v] == Ra[v])
                else:
                    Ra = rdf.limit(1).alias("r")
                    cond = F.lit(True)
                if not negated:
                    hits.append(La.join(Ra, cond, "left_semi"))
                rest = La.join(Ra, cond, "left_anti")
            parts.extend(hits if not negated else [rest])
        df = reduce(lambda a, b: a.unionByName(b), parts)
        return replace(left, df=df)

    _record_breach("exists", left, right, shared)
    cond = F.lit(True)
    for v in shared:
        cond = cond & _compat(L[v], R[v])
    df = L.join(R, cond, how)
    return replace(left, df=df)
