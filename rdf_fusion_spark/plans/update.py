"""SPARQL 1.1 Update execution over the immutable-DataFrame store.

reference: lib/rdf-fusion/src/store.rs:409-475 (update/update_opt) and the
public SPARQL 1.1 Update spec. Operations apply sequentially; within one
ModifyOp both the delete and insert sets are computed from the PRE-state
(spec §3.1.3), then deletes apply before inserts.

Spark shapes: INSERT is an anti-join-deduped union (RDF graphs are quad
SETS), DELETE is a null-safe anti join on the four term columns, WHERE
patterns reuse the full query translator, and template instantiation
reuses the CONSTRUCT machinery (per-solution blank node minting included).
Each mutation localCheckpoints the new quad relation — updates are
explicitly the OLTP-ish edge of this engine; the 100 TB path is bulk load.
"""

from __future__ import annotations

import uuid as _uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, functions as F

from ..sparql import algebra as A
from ..terms import (
    TERM_TYPE,
    TT_LITERAL,
    BlankNode,
    NamedNode,
    Variable,
    term_lit,
    term_struct,
)


class UpdateError(Exception):
    pass


def execute_update(store, ops: list) -> None:
    for op in ops:
        _apply(store, op)


# ---------------------------------------------------------------------------
# quad-relation mutation primitives
# ---------------------------------------------------------------------------

def _quad_eq(l, r):
    cond = F.lit(True)
    for c in ("graph", "subject", "predicate", "object"):
        cond = cond & l[c].eqNullSafe(r[c])
    return cond


def insert_quads_df(store, quads: DataFrame) -> None:
    """Set-semantics insert: dedupe the batch, anti-join out quads the
    store already holds, union, checkpoint."""
    base = _plain_quads(store)
    n, e = quads.dropDuplicates().alias("n"), base.alias("e")
    fresh = n.join(e, _quad_eq(n, e), "left_anti")
    store.quads = base.unionByName(fresh).localCheckpoint(eager=True)


def remove_quads_df(store, quads: DataFrame) -> None:
    base = _plain_quads(store)
    e, d = base.alias("e"), quads.alias("d")
    store.quads = e.join(d, _quad_eq(e, d), "left_anti") \
        .localCheckpoint(eager=True)


def _plain_quads(store) -> DataFrame:
    """The 4-column quad relation; drops the predicate-partition key of a
    partitioned layout (a mutated store is no longer directory-pruned)."""
    df = store.quads
    if "pk" in df.columns:
        df = df.select("graph", "subject", "predicate", "object")
        store._pred_partitioned = False
    return df


# ---------------------------------------------------------------------------
# template instantiation
# ---------------------------------------------------------------------------

def _is_bnode_var(x) -> bool:
    # '_:label' parses to __bn_<label>; '[...]' parses to a fresh __anon_N —
    # both are blank nodes (not variables) in a quad template
    return isinstance(x, Variable) and (x.name.startswith("__bn_")
                                        or x.name.startswith("__anon_"))


def _ground_quads_df(store, quads: list) -> DataFrame:
    """INSERT/DELETE DATA: ground quads → DataFrame. Blank nodes mint
    fresh ids once per operation (spec: bnodes in INSERT DATA are fresh)."""
    from ..store import GraphStore
    minted: dict[str, BlankNode] = {}

    def t(x):
        if _is_bnode_var(x):
            label = x.name
            if label not in minted:
                minted[label] = BlankNode(f"u{_uuid.uuid4().hex[:12]}")
            return minted[label]
        if isinstance(x, BlankNode):
            if x.id not in minted:
                minted[x.id] = BlankNode(f"u{_uuid.uuid4().hex[:12]}")
            return minted[x.id]
        return x

    rows = [(t(g), t(s), t(p), t(o)) for (g, s, p, o) in quads]
    return GraphStore.from_python_quads(store.spark, rows).quads


def _instantiate(sol, quads: list, default_graph, mint_bnodes: bool
                 ) -> DataFrame:
    """Solution relation × quad templates → quads DataFrame.

    Per SPARQL Update §3.1.3: a template quad with any unbound variable (or
    an ill-formed position: literal subject/graph, non-IRI predicate) is
    skipped for that solution. INSERT templates mint one fresh blank node
    per (template label, solution row), same as CONSTRUCT."""
    sdf = sol.df
    needs_row = mint_bnodes and any(
        _is_bnode_var(x) for q in quads for x in q)
    if needs_row:
        sdf = sdf.withColumn(
            "__row_id", F.monotonically_increasing_id().cast("string"))

    gdefault = term_lit(default_graph).col if default_graph is not None \
        else F.lit(None).cast(TERM_TYPE)

    def col_for(x):
        if x is None:
            return gdefault
        if _is_bnode_var(x):
            if not mint_bnodes:
                return F.lit(None).cast(TERM_TYPE)
            # one fresh bnode per (template label, solution row): the SAME
            # label across template quads must co-refer within a row
            from ..terms import TT_BNODE
            return term_struct(
                F.lit(TT_BNODE),
                F.concat(F.lit(x.name.lstrip("_") + "_r"),
                         F.col("__row_id")))
        if isinstance(x, Variable):
            if x.name in sol.maybe:
                return sdf[x.name]
            return F.lit(None).cast(TERM_TYPE)
        return term_lit(x).col

    # ONE pass over the solution: each template quad becomes one struct
    # in a per-row array, exploded to a quad per (row, template). The old
    # per-template `sdf.select(...)` union re-evaluated the WHERE once
    # per template quad (same shape as the CONSTRUCT fix in
    # translator.py; guide §2.4). Per-template validity rides inside the
    # struct (it differs for variable-graph templates), so the exploded
    # filter applies each template's own condition. Same multiset of
    # quads → identical dropDuplicates result.
    parts = []
    for (g, s, p, o) in quads:
        gc, sc, pc, oc = col_for(g), col_for(s), col_for(p), col_for(o)
        ok = (sc.isNotNull() & pc.isNotNull() & oc.isNotNull()
              & (sc["t"] != TT_LITERAL) & (pc["t"] == 0))
        if isinstance(g, Variable) and not _is_bnode_var(g):
            ok = ok & gc.isNotNull() & (gc["t"] != TT_LITERAL)
        parts.append(F.struct(
            ok.alias("__ok"), gc.alias("graph"), sc.alias("subject"),
            pc.alias("predicate"), oc.alias("object")))
    out = (sdf.select(F.explode(F.array(*parts)).alias("__q"))
           .where(F.col("__q.__ok"))
           .select("__q.graph", "__q.subject", "__q.predicate",
                   "__q.object"))
    return out.dropDuplicates()


def _quads_to_pattern(quads: list):
    """Quad patterns → the graph pattern they denote (BGP + GRAPH nodes)."""
    by_graph: dict = {}
    order: list = []
    for (g, s, p, o) in quads:
        key = ("var", g.name) if isinstance(g, Variable) else \
            (("iri", g.iri) if g is not None else None)
        if key not in by_graph:
            by_graph[key] = (g, [])
            order.append(key)
        by_graph[key][1].append(A.TriplePattern(s, p, o))
    pattern = None
    for key in order:
        g, triples = by_graph[key]
        node = A.BGP(triples)
        if g is not None:
            node = A.GraphNode(g, node)
        pattern = node if pattern is None else A.Join(pattern, node)
    return pattern if pattern is not None else A.BGP([])


@contextmanager
def _solutions(store, pattern, dataset, with_graph):
    """The WHERE's solutions; the shared-subquery caches its translation
    persisted are released once the operation is applied."""
    from ..store import ActiveGraph
    from .translator import (Ctx, _dataset_ctx, _now_literal,
                             _unpersist_all, translate)
    if dataset is not None:
        ctx = _dataset_ctx(store, dataset)
    elif with_graph is not None:
        ctx = Ctx(store=store, active_graph=ActiveGraph.union([with_graph]),
                  now=_now_literal())
    else:
        ctx = _dataset_ctx(store, None)
    try:
        yield translate(pattern, ctx)
    finally:
        _unpersist_all(ctx.persisted.values())


# ---------------------------------------------------------------------------
# operations
# ---------------------------------------------------------------------------

def _graph_filter(target):
    g = F.col("graph")
    if target == "default":
        return g.isNull()
    if target == "named":
        return g.isNotNull()
    if target == "all":
        return F.lit(True)
    return g.isNotNull() & (g["v"] == target.iri) & (g["t"] == 0)


def _apply(store, op) -> None:
    if isinstance(op, A.InsertDataOp):
        insert_quads_df(store, _ground_quads_df(store, op.quads))
        return
    if isinstance(op, A.DeleteDataOp):
        remove_quads_df(store, _ground_quads_df(store, op.quads))
        return
    if isinstance(op, A.DeleteWhereOp):
        with _solutions(store, _quads_to_pattern(op.quads), None,
                        None) as sol:
            remove_quads_df(
                store, _instantiate(sol, op.quads, None, mint_bnodes=False))
        return
    if isinstance(op, A.ModifyOp):
        with _solutions(store, op.pattern, op.dataset,
                        op.with_graph) as sol:
            # both sets derive from the PRE-state; materialize the
            # solution so the insert half does not observe the applied
            # deletes
            sol = sol.with_df(sol.df.localCheckpoint(eager=True))
            dels = _instantiate(sol, op.delete_quads, op.with_graph,
                                mint_bnodes=False) if op.delete_quads else None
            ins = _instantiate(sol, op.insert_quads, op.with_graph,
                               mint_bnodes=True) if op.insert_quads else None
            if dels is not None:
                remove_quads_df(store, dels)
            if ins is not None:
                insert_quads_df(store, ins)
        return
    if isinstance(op, A.LoadOp):
        try:
            from ..sources.formats import read_rdf
            src = op.source.iri
            path = src[len("file://"):] if src.startswith("file://") else src
            quads = read_rdf(store.spark, path)
            if op.graph is not None:
                quads = quads.withColumn("graph", term_lit(op.graph).col)
            insert_quads_df(store, quads)
        except Exception:
            if not op.silent:
                raise
        return
    if isinstance(op, A.ClearOp):
        base = _plain_quads(store)
        if op.drop and not op.silent and isinstance(op.target, NamedNode):
            # DROP of a non-existent graph is an error unless SILENT; in
            # this storage a graph exists iff it has quads (store.py).
            # Cache the base so the existence probe and the delete share
            # one source scan instead of two.
            base = base.persist()
            try:
                if base.where(_graph_filter(op.target)).isEmpty():
                    raise UpdateError(
                        f"graph {op.target.iri} does not exist (DROP "
                        "without SILENT)")
                store.quads = base.where(~_graph_filter(op.target)) \
                    .localCheckpoint(eager=True)
            finally:
                base.unpersist()
        else:
            store.quads = base.where(~_graph_filter(op.target)) \
                .localCheckpoint(eager=True)
        return
    if isinstance(op, A.CreateOp):
        # quad stores do not track empty graphs (same behavior as the
        # reference's storage: a graph exists iff it has quads) — no-op
        return
    if isinstance(op, A.GraphManagementOp):
        base = _plain_quads(store)
        src_f = _graph_filter(op.source)
        tgt_g = None if op.target == "default" else op.target
        moved = base.where(src_f).withColumn(
            "graph",
            term_lit(tgt_g).col if tgt_g is not None
            else F.lit(None).cast(TERM_TYPE))
        if op.kind in ("COPY", "MOVE"):
            # COPY/MOVE overwrite the target graph
            base2 = base.where(~_graph_filter(op.target))
        else:
            base2 = base
        if op.kind == "MOVE":
            base2 = base2.where(~src_f)
        store.quads = base2.localCheckpoint(eager=True)
        insert_quads_df(store, moved)
        return
    raise UpdateError(f"unsupported update operation {type(op).__name__}")
