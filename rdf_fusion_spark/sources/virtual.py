"""Virtual-quads store: triple patterns resolve directly to source-table
projections instead of a materialized quads union.

The relational→RDF mapping (relational.py) is a *static rewrite*: a
constant-predicate pattern `?s x:l#l_quantity ?q` is, by construction, a
2-column projection of one parquet table. Scanning the exploded quads union
for it reads every column of every table (10-20× amplification) and defeats
parquet predicate/column pushdown — a non-starter at 100 TB. This store
rewrites:

* a constant-predicate pattern → scan of ONE table, reading ONLY the
  subject-key and object columns (column pruning reaches the parquet scan);
* a whole same-subject star of constant predicates → ONE scan producing
  one column per object variable (what the equivalent SQL would do): no
  self-joins at all for the dominant BGP shape;
* constant objects/subjects → native column filters (string equality and
  FK-key equality are pushed into the parquet reader).

Patterns it cannot virtualize (variable predicate, non-mapped IRIs, named
graphs) fall back to the lazily-built quads union of the base class.

Reference analogue: the storage-planned index scan
(lib/storage/src/memory/storage/pattern_data_source.rs:19-108) — here the
"index" is the source table itself and Catalyst does the planning.
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..store import ActiveGraph, GraphStore
from ..terms import (
    RDF_TYPE,
    BlankNode,
    Literal,
    NamedNode,
    TermOrVar,
    Variable,
    term_matches,
)
from .relational import (
    HASH_SUBJECT_TABLES,
    TPCH_SPEC,
    TPCH_TABLES,
    class_iri,
    graph_iri,
    load_relational_graph,
    object_term,
    predicate_iri,
    read_table,
    subject_term,
)


class VirtualRelationalStore(GraphStore):
    """GraphStore over a relational warehouse with virtual quad scans.

    Graph model: union-default-graph — each table's triples live in the
    named graph `x:graph:{table}`; the default graph is their union, so
    plain BGPs span the warehouse while GRAPH addresses one table.
    """

    union_default_graph = True

    def __init__(self, spark: SparkSession, sf_dir: str,
                 tables: Optional[Sequence[str]] = None):
        self.spark = spark
        self.sf_dir = sf_dir.rstrip("/")
        self.tables = list(tables) if tables else list(TPCH_TABLES)
        self._table_dfs: dict[str, DataFrame] = {}
        self._quads: Optional[DataFrame] = None
        # memoized term-Column trees (round-8 cold-path profile: building
        # them was ~1/3 of per-cold-query translation, all py4j chatter).
        # Safe to reuse across queries: Columns are immutable unresolved
        # expressions over F.col(name), and a table's mapping is frozen
        # once registered (register_table_mapping raises on conflicting
        # re-registration).
        self._term_col_cache: dict[tuple, Column] = {}
        # predicate IRI → (table, column); class IRI → table
        self._pred_map: dict[str, tuple[str, str]] = {}
        self._class_map: dict[str, str] = {}
        self._graph_map: dict[str, str] = {}
        self._code_map: dict[str, str] = {}
        for t in self.tables:
            self._class_map[class_iri(t)] = t
            self._graph_map[graph_iri(t)] = t
            self._code_map[TPCH_SPEC[t][0]] = t
            for f in self.table_df(t).schema.fields:
                self._pred_map[predicate_iri(t, f.name)] = (t, f.name)

    # ------------------------------------------------------------------

    def table_df(self, table: str) -> DataFrame:
        df = self._table_dfs.get(table)
        if df is None:
            df = read_table(self.spark, self.sf_dir, table)
            self._table_dfs[table] = df
        return df

    def predicate_table(self, predicate) -> Optional[str]:
        """Table a mapped predicate belongs to (None if unmapped)."""
        hit = self._pred_map.get(getattr(predicate, "iri", None))
        return hit[0] if hit else None

    def functional_total(self, predicate) -> bool:
        """True iff `predicate` holds EXACTLY ONE object per subject of
        its table: functional by construction (one column value per row)
        and total = the column has no NULLs (a NULL row emits no triple,
        relational.py table_to_quads). Totality is probed once per column
        with an IsNull head(1) — parquet row-group statistics answer it
        without reading values — and cached for the store's lifetime.
        Consumed by the aggregate-subsumption rewrite
        (plans/subsumption.py) as the multiplicity-preservation proof."""
        hit = self._pred_map.get(getattr(predicate, "iri", None))
        if hit is None:
            return False
        table, col = hit
        cache = getattr(self, "_total_cache", None)
        if cache is None:
            cache = self._total_cache = {}
        key = (table, col)
        if key not in cache:
            df = self.table_df(table)
            cache[key] = df.where(F.col(col).isNull()).head(1) == []
        return cache[key]

    @property
    def quads(self) -> DataFrame:
        """Fallback quads union (paths over unions of predicates, DESCRIBE,
        variable-predicate patterns). Built lazily, never cached — at scale
        this relation must stay virtual."""
        if self._quads is None:
            self._quads = load_relational_graph(self.spark, self.sf_dir,
                                                self.tables)
        return self._quads

    @quads.setter
    def quads(self, value):  # GraphStore.__init__ compatibility
        self._quads = value
        self._cached_len = None

    def _read_only(self, *_a, **_k):
        """Virtual stores are read-only VIEWS of the warehouse: pattern
        scans compile straight to the source tables, so a mutation of the
        quads union would be INVISIBLE to queries (silent divergence).
        Materialize to mutate."""
        raise NotImplementedError(
            "this store is a read-only virtual view; materialize it first "
            "to mutate. Note virtual quads live in per-table NAMED graphs "
            "(x:graph:<table>), so materialize into the DEFAULT graph to "
            "keep default-graph queries working: GraphStore(spark, "
            "store.quads.withColumn('g', F.lit(None).cast(store.quads"
            ".schema['g'].dataType)))  — or query the copy with GRAPH "
            "<x:graph:TABLE> { ... } patterns")

    update = _read_only
    insert = _read_only
    extend = _read_only
    remove = _read_only
    clear = _read_only
    insert_named_graph = _read_only
    clear_graph = _read_only
    remove_named_graph = _read_only

    # ------------------------------------------------------------------

    def _graph_ok(self, active_graph: Optional[ActiveGraph]) -> bool:
        """Whole-warehouse fast paths (property-path edges) only apply
        when the active graph does not restrict tables."""
        ag = active_graph or ActiveGraph.default()
        return ag.kind in (ActiveGraph.DEFAULT, ActiveGraph.ALL)

    def _graph_tables(self, active_graph: Optional[ActiveGraph]):
        """Tables visible under the active graph: None = all, else a set
        (possibly empty) for GRAPH <iri> restrictions."""
        ag = active_graph or ActiveGraph.default()
        if ag.kind in (ActiveGraph.DEFAULT, ActiveGraph.ALL,
                       ActiveGraph.ANY_NAMED):
            return None
        allowed = set()
        for g in ag.graphs:
            t = self._graph_map.get(getattr(g, "iri", None))
            if t is not None:
                allowed.add(t)
        return allowed

    def resolves(self, predicate) -> bool:
        """Can this constant predicate be virtualized?"""
        return isinstance(predicate, NamedNode) and (
            predicate.iri in self._pred_map
            or predicate.iri == RDF_TYPE
        )

    def scan_pattern(self, subject, predicate, obj, active_graph=None,
                     graph_var=None) -> DataFrame:
        return self.scan_solution(subject, predicate, obj, active_graph,
                                  graph_var)[0]

    def scan_solution(self, subject, predicate, obj, active_graph=None,
                      graph_var=None) -> tuple:
        if self.resolves(predicate):
            scan = self.star_scan(subject, [(predicate, obj)],
                                  active_graph=active_graph,
                                  graph_var=graph_var)
            if scan is not None:
                return scan
        if isinstance(predicate, Variable):
            # variable-predicate scans anchored on a constant endpoint
            # (the BSBM Explore Q11 "everything about X" shape) resolve to
            # a handful of key-filtered table scans instead of the full
            # exploded quads union
            df = self._var_pred_scan(subject, predicate, obj,
                                     active_graph, graph_var)
            if df is not None:
                return df, {}
        if isinstance(predicate, NamedNode) and not self.resolves(predicate):
            # constant predicate OUTSIDE the mapping vocabulary: the
            # virtual graph provably holds no such triple — an empty
            # solution, NOT a scan of the exploded quads union (the BSBM
            # Explore Q2 empty-OPTIONAL shape probes absent predicates;
            # pre-fix each probe full-scanned the warehouse)
            out_vars = [x.name for x in (subject, obj)
                        if isinstance(x, Variable)]
            if graph_var is not None:
                out_vars.append(graph_var.name)
            from ..terms import TERM_TYPE
            cols = [F.lit(None).cast(TERM_TYPE).alias(v)
                    for v in dict.fromkeys(out_vars)] or \
                [F.lit(True).alias("__match__")]
            return self.spark.range(1).select(*cols).limit(0), {}
        return super().scan_pattern(subject, predicate, obj,
                                    active_graph=active_graph,
                                    graph_var=graph_var), {}

    def _var_pred_scan(self, subject, predicate, obj, active_graph,
                       graph_var) -> Optional[DataFrame]:
        """Solution for (s, ?p, o) with at least one constant endpoint.

        Constant SUBJECT: its IRI names one table (disjoint id spaces) —
        one key-filtered row exploded to triples (table_to_quads).
        Constant IRI OBJECT: an entity IRI can only be produced by the
        FK columns targeting its table (TPCH_SPEC fks) or — for a class
        IRI — by rdf:type; scan exactly those columns, parquet-pushed.
        Returns None when neither endpoint anchors (caller falls back to
        the quads union)."""
        from .relational import table_to_quads
        allowed = self._graph_tables(active_graph)

        def ok(t: str) -> bool:
            return allowed is None or t in allowed

        if isinstance(subject, NamedNode):
            t = self.table_for_subject(subject)
            if t is None:
                return self._empty_var_pred(predicate, obj, graph_var)
            if not ok(t):
                return self._empty_var_pred(predicate, obj, graph_var)
            df = self.table_df(t)
            trip = table_to_quads(
                df.where(self._subject_filter(t, df, subject)), t)
            return self._triples_to_solution(trip, predicate, obj,
                                             graph_var, t)

        if isinstance(obj, NamedNode):
            iri = obj.iri
            parts_out: list[DataFrame] = []
            target = self._class_map.get(iri)
            if target is not None and ok(target):
                # rdf:type: every row of the class's table
                from ..terms import term_lit
                df = self.table_df(target)
                sol = df.select(
                    self._subj_term(target, df).alias("subject"),
                    term_lit(NamedNode(RDF_TYPE)).col.alias("predicate"),
                    term_lit(obj).col.alias("object"))
                parts_out.append(sol)
            tgt_table = self.table_for_subject(obj)
            if tgt_table is not None:
                key = iri.rsplit(":", 1)[-1]
                for t2 in self.tables:
                    if not ok(t2):
                        continue
                    fks = TPCH_SPEC[t2][2] if t2 in TPCH_SPEC else {}
                    for col, ft in fks.items():
                        if ft != tgt_table:
                            continue
                        df = self.table_df(t2)
                        kcol = F.col(col)
                        kdt = df.schema[col].dataType.simpleString()
                        kval: object = key
                        if kdt in ("int", "bigint", "smallint", "tinyint"):
                            try:
                                kval = int(key)
                            except ValueError:
                                continue
                        from ..terms import term_lit
                        parts_out.append(
                            df.where(kcol == F.lit(kval)).select(
                                self._subj_term(t2, df).alias("subject"),
                                term_lit(NamedNode(predicate_iri(t2, col))
                                         ).col.alias("predicate"),
                                term_lit(obj).col.alias("object")))
            if not parts_out:
                return self._empty_var_pred(predicate, subject, graph_var,
                                            subject_side=True)
            trip = parts_out[0]
            for x in parts_out[1:]:
                trip = trip.unionByName(x)
            return self._triples_to_solution(trip, predicate, subject,
                                             graph_var, None,
                                             subject_side=True)

        return None

    def _empty_var_pred(self, predicate, other, graph_var,
                        subject_side: bool = False) -> DataFrame:
        from ..terms import TERM_TYPE
        names = [predicate.name]
        if isinstance(other, Variable) and other.name not in names:
            names.append(other.name)
        if graph_var is not None and graph_var.name not in names:
            names.append(graph_var.name)
        cols = [F.lit(None).cast(TERM_TYPE).alias(n) for n in names]
        return self.spark.range(1).select(*cols).limit(0)

    def _triples_to_solution(self, trip: DataFrame, predicate, other,
                             graph_var, table: Optional[str],
                             subject_side: bool = False
                             ) -> Optional[DataFrame]:
        """(subject, predicate, object) triples → solution columns for the
        pattern's variables; `other` is the non-anchored endpoint term/var
        (object position normally, subject position when subject_side)."""
        other_col = "subject" if subject_side else "object"
        out: dict[str, Column] = {predicate.name: F.col("predicate")}
        if isinstance(other, Variable):
            if other.name == predicate.name:
                trip = trip.where(F.col("predicate") == F.col(other_col))
            else:
                out[other.name] = F.col(other_col)
        else:
            from ..terms import term_matches
            trip = trip.where(term_matches(F.col(other_col), other))
        if graph_var is not None:
            if table is None:
                return None  # multi-table union: no single graph constant
            from ..terms import term_lit, term_matches
            g = NamedNode(graph_iri(table))
            if graph_var.name in out:
                # same-var unification, not a silent overwrite (see
                # star_scan; r10 GRAPH-layer fuzz)
                trip = trip.where(term_matches(out[graph_var.name], g))
            else:
                out[graph_var.name] = term_lit(g).col
        return trip.select(*[c.alias(v) for v, c in out.items()])

    # ------------------------------------------------------------------
    # virtual edge relation for property paths
    # ------------------------------------------------------------------

    def virtual_edges(self, iris: list[NamedNode],
                      src: str = "__src", tgt: str = "__tgt"
                      ) -> Optional[DataFrame]:
        """(source, target) pairs for a union of constant predicates as
        direct table projections — property paths never touch the exploded
        quads union. Returns None when any predicate is unmapped in a way
        that requires the fallback."""
        parts: list[DataFrame] = []
        for iri in iris:
            if not isinstance(iri, NamedNode):
                return None
            if iri.iri == RDF_TYPE:
                for t in self.tables:
                    df = self.table_df(t)
                    from ..terms import term_lit
                    parts.append(df.select(
                        self._subj_term(t, df).alias(src),
                        term_lit(NamedNode(class_iri(t))).col.alias(tgt)))
                continue
            m = self._pred_map.get(iri.iri)
            if m is None:
                continue  # mapped graph has no such predicate: no edges
            t, c = m
            df = self.table_df(t)
            ot = self._obj_term(t, c, df, lazy=True, assume_nonnull=True)
            if ot is None:
                continue
            parts.append(df.where(F.col(c).isNotNull())
                         .select(self._subj_term(t, df).alias(src),
                                 ot.alias(tgt)))
        if not parts:
            from ..terms import TERM_TYPE
            return self.spark.range(1).select(
                F.lit(None).cast(TERM_TYPE).alias(src),
                F.lit(None).cast(TERM_TYPE).alias(tgt)).limit(0)
        out = parts[0]
        for x in parts[1:]:
            out = out.unionByName(x)
        return out

    # ------------------------------------------------------------------
    # star scan: same-subject patterns with constant predicates → one scan
    # ------------------------------------------------------------------


    def _subj_term(self, table: str, df: DataFrame) -> Column:
        key = ("s", table)
        hit = self._term_col_cache.get(key)
        if hit is None:
            hit = self._term_col_cache[key] = subject_term(table, df)
        return hit

    def _obj_term(self, table: str, col_name: str, df: DataFrame,
                  lazy: bool = False,
                  assume_nonnull: bool = False) -> Optional[Column]:
        key = ("o", table, col_name, lazy, assume_nonnull)
        if key not in self._term_col_cache:
            self._term_col_cache[key] = object_term(
                table, col_name, df, lazy=lazy,
                assume_nonnull=assume_nonnull)
        return self._term_col_cache[key]

    def star_scan(self, subject: TermOrVar,
                  items: list[tuple[NamedNode, TermOrVar]],
                  active_graph: Optional[ActiveGraph] = None,
                  graph_var=None) -> Optional[tuple]:
        """One table scan for a same-subject group of constant-predicate
        patterns. Returns (solution DataFrame — one column per variable,
        `__match__` if none — and {var: VarInfo}), or None when not
        virtualizable here.

        Different-table predicates in one group are contradictory (subject
        IRI spaces are disjoint) → empty result, correct by construction.
        """
        allowed = self._graph_tables(active_graph)
        if isinstance(subject, (Literal,)):
            return self._empty_solution(subject, items, graph_var)

        # determine the single table the star can live in
        table: Optional[str] = None
        contradictory = False
        for pred, o in items:
            if not isinstance(pred, NamedNode):
                return None
            if pred.iri == RDF_TYPE:
                if isinstance(o, NamedNode):
                    t = self._class_map.get(o.iri)
                    if t is None:
                        contradictory = True
                        continue
                elif isinstance(o, Variable):
                    continue  # bound to the table's class once table is known
                else:
                    contradictory = True
                    continue
            elif pred.iri in self._pred_map:
                t = self._pred_map[pred.iri][0]
            else:
                return None
            if table is None:
                table = t
            elif table != t:
                contradictory = True
        if table is None:
            # only rdf:type with variable object — table is unconstrained;
            # fall back to the union (it enumerates all class quads)
            return None
        if isinstance(subject, NamedNode) and not subject.iri.startswith(
                f"x:{TPCH_SPEC[table][0]}:"):
            contradictory = True
        if allowed is not None and table not in allowed:
            contradictory = True
        if contradictory:
            return self._empty_solution(subject, items, graph_var)

        from ..functions.typed_ops import K_DECIMAL, SK_IRI
        from ..plans.join import VarInfo
        from ..terms import K_DOUBLE, K_INTEGER
        from .relational import object_native, static_object_kind, \
            subject_native

        df = self.table_df(table)
        subj_term = self._subj_term(table, df)
        out_vars: dict[str, Column] = {}
        out_kinds: dict[str, int] = {}
        # native join keys (plans/join.py VarInfo.nkey): var → template
        # table; the minted LONG rides in a `__nk_<var>` column
        out_nkey: dict[str, str] = {}
        nkey_cols: dict[str, Column] = {}
        conds: list[Column] = []

        if isinstance(subject, Variable):
            out_vars[subject.name] = subj_term
            out_kinds[subject.name] = SK_IRI
            sn = subject_native(table, df)
            if sn is not None:
                out_nkey[subject.name] = table
                nkey_cols[subject.name] = sn
        elif isinstance(subject, NamedNode):
            conds.append(self._subject_filter(table, df, subject))
        elif isinstance(subject, BlankNode):
            return self._empty_solution(subject, items, graph_var)

        for pred, o in items:
            if pred.iri == RDF_TYPE:
                oterm = F.lit(None)  # handled below
                cls = class_iri(table)
                if isinstance(o, NamedNode):
                    if o.iri != cls:
                        conds.append(F.lit(False))
                    continue  # constant matches: no filter, no column
                if isinstance(o, Variable):
                    from ..terms import term_lit
                    oterm = term_lit(NamedNode(cls)).col
                else:
                    conds.append(F.lit(False))
                    continue
            else:
                col_name = self._pred_map[pred.iri][1]
                # the isNotNull cond below makes the star scan's rows
                # non-null in every object column — build the bare struct
                # so downstream filters stay pushable (see object_term)
                ot = self._obj_term(table, col_name, df, lazy=True,
                                    assume_nonnull=True)
                if ot is None:
                    return self._empty_solution(subject, items, graph_var)
                oterm = ot
                conds.append(F.col(col_name).isNotNull())
                if not isinstance(o, Variable):
                    conds.append(self._object_filter(table, col_name, df, o))
            if isinstance(o, Variable):
                if o.name in out_vars:
                    conds.append(out_vars[o.name] == oterm)
                else:
                    out_vars[o.name] = oterm
                    if pred.iri == RDF_TYPE:
                        out_kinds[o.name] = SK_IRI
                    else:
                        col_name = self._pred_map[pred.iri][1]
                        k = static_object_kind(table, col_name, df)
                        if k is not None:
                            out_kinds[o.name] = k
                        on = object_native(table, col_name, df)
                        if on is not None:
                            out_nkey[o.name] = on[0]
                            nkey_cols[o.name] = on[1]

        if graph_var is not None:
            from ..terms import term_lit, term_matches
            if graph_var.name in out_vars:
                # GRAPH ?g where ?g also occurs in the pattern: unify —
                # the pattern binding must equal this table's graph IRI
                # (r10 GRAPH-layer fuzz: the dict write silently
                # OVERWROTE the pattern binding, losing its constraint)
                conds.append(term_matches(out_vars[graph_var.name],
                                          NamedNode(graph_iri(table))))
            else:
                out_vars[graph_var.name] = term_lit(
                    NamedNode(graph_iri(table))).col
                out_kinds[graph_var.name] = SK_IRI

        cond = F.lit(True)
        for c in conds:
            cond = cond & c
        df = df.where(cond)
        if not out_vars:
            return df.select(F.lit(True).alias("__match__")), {}
        out = df.select(*[c.alias(v) for v, c in out_vars.items()],
                        *[c.alias(f"__nk_{v}")
                          for v, c in nkey_cols.items()])
        # value-canonical promise (plans/join.py VarInfo.vcanon): scan
        # terms for numeric columns are built lazily (doubles/decimals,
        # v=NULL) or with the canonical cast lexical (integers), and the
        # datatype is always the kind's canonical type — so the MIN/MAX
        # hash-agg decomposition may rebuild winners from typed fields.
        # K_DATETIME is deliberately absent: DateType columns keep an
        # eager date-only lexical a rebuild cannot reproduce.
        return out, {v: VarInfo(
            bound=True, kind=out_kinds.get(v),
            vcanon=out_kinds.get(v) in (K_INTEGER, K_DECIMAL, K_DOUBLE),
            nkey=(out_nkey[v], f"__nk_{v}") if v in out_nkey else None)
            for v in out_vars}

    def optional_star_scan(self, subject: Variable, groups,
                           consts=None,
                           active_graph: Optional[ActiveGraph] = None,
                           ) -> Optional[tuple]:
        """ONE conditional-column scan for a chain of same-subject
        OPTIONAL stars (r11 opt; translator._try_fuse_optional_chain).
        Returns (DataFrame, {var: VarInfo}): the subject is bound, the
        conditional object columns are not.

        Every mapped predicate is FUNCTIONAL by construction (one column
        per row), so `OPTIONAL { ?s <p> ?v . FILTER(C(?v)) }` against a
        subject certainly bound on the left is exactly a conditional
        column `WHEN value IS NOT NULL AND C THEN term END` — the plan
        the equivalent SQL gets (a CASE projection) instead of one full
        table scan + outer join PER OPTIONAL (BSBM Explore Q8: 4
        optionals = 4 scans + 4 sort-merge joins before; 1 scan + 1 join
        after; guide §2.4 "remove shuffles outright").

        `groups` is a list of (items, filter_builder) where items is
        [(pred NamedNode, obj Variable)] and filter_builder (or None)
        maps {var: (Column, static_kind)} for THIS group's objects to a
        compiled boolean Column. `consts` are (pred, const-obj)
        constraints on the subject implied by the LEFT side — sound to
        prune with here because every left row satisfies them, so a
        pruned right row could never have joined. Returns None whenever
        the shape isn't provably fusable (multi-table, unmapped
        predicate, restricted graph) — caller falls back to the generic
        per-OPTIONAL join.
        """
        from ..functions.typed_ops import SK_IRI
        from ..plans.join import VarInfo
        from .relational import static_object_kind

        allowed = self._graph_tables(active_graph)
        table: Optional[str] = None
        for items, _fb in groups:
            for pred, _o in items:
                m = self._pred_map.get(pred.iri)
                if m is None:
                    return None
                if table is None:
                    table = m[0]
                elif table != m[0]:
                    return None
        if table is None:
            return None
        if allowed is not None and table not in allowed:
            return None

        df = self.table_df(table)
        prune = []
        for pred, obj in (consts or ()):  # scan pruning (SIP, see above)
            iri = getattr(pred, "iri", None)
            m = self._pred_map.get(iri) if iri else None
            if m is None or m[0] != table:
                continue
            prune.append(F.col(m[1]).isNotNull())
            prune.append(self._object_filter(table, m[1], df, obj))

        out_cols: dict[str, Column] = {}
        vars_ = {subject.name: VarInfo(bound=True, kind=SK_IRI)}
        for items, fb in groups:
            cols: dict[str, tuple] = {}
            m_cond = F.lit(True)
            for pred, ovar in items:
                col_name = self._pred_map[pred.iri][1]
                ot = self._obj_term(table, col_name, df, lazy=True,
                                    assume_nonnull=True)
                if ot is None:
                    return None
                m_cond = m_cond & F.col(col_name).isNotNull()
                cols[ovar.name] = (ot, static_object_kind(
                    table, col_name, df))
            if fb is not None:
                fc = fb(cols)
                if fc is None:
                    return None
                m_cond = m_cond & fc
            for v, (c, k) in cols.items():
                out_cols[v] = F.when(m_cond, c)
                vars_[v] = VarInfo(kind=k)

        if prune:
            cond = prune[0]
            for c in prune[1:]:
                cond = cond & c
            df = df.where(cond)
        out = df.select(
            self._subj_term(table, df).alias(subject.name),
            *[c.alias(v) for v, c in out_cols.items()])
        return out, vars_

    # ------------------------------------------------------------------
    # virtualized DESCRIBE and zero-length-path node enumeration
    # (VERDICT r2 #5: neither may touch the exploded quads union)
    # ------------------------------------------------------------------

    def table_for_subject(self, subject: NamedNode) -> Optional[str]:
        """Resolve a constant subject IRI to its one table via the
        `x:{code}:` id prefix (the mapping's subject IRI spaces are
        disjoint by construction)."""
        iri = subject.iri
        if not iri.startswith("x:"):
            return None
        parts = iri.split(":", 2)
        return self._code_map.get(parts[1]) if len(parts) == 3 else None

    def describe_triples(self, consts: list) -> DataFrame:
        """Triples whose subject is one of the constant IRIs — each resolves
        to ONE key-filtered table scan (parquet-pushed key equality) exploded
        to triples, instead of a full scan of the quads union."""
        from .relational import table_to_quads
        parts: list[DataFrame] = []
        for c in consts:
            t = self.table_for_subject(c)
            if t is None:
                continue  # unmapped IRI: it has no triples in this store
            df = self.table_df(t)
            parts.append(
                table_to_quads(df.where(self._subject_filter(t, df, c)), t)
                .select("subject", "predicate", "object"))
        if not parts:
            return self._empty_triples()
        out = parts[0]
        for x in parts[1:]:
            out = out.unionByName(x)
        return out

    # bounded driver collect for DESCRIBE subject routing: a described
    # set is lookup-sized by nature; past the cap the distributed
    # semi-join path below keeps correctness at any cardinality
    DESCRIBE_COLLECT_CAP = 16384

    def describe_for_subjects(self, subjects: DataFrame) -> DataFrame:
        """Triples for a dynamic set of described subjects.

        Small sets (≤ DESCRIBE_COLLECT_CAP, the common DESCRIBE shape —
        BSBM Explore Q9 describes ONE resource) are collected and routed
        driver-side: each subject IRI names its table and key, so the
        scan is a parquet-pushed key-IN filter — no term-struct probe
        column, no scan of non-matching tables. Larger sets fall back to
        semi-joining each table on its computed subject term (still far
        cheaper than the 10-20× exploded quads union)."""
        from .relational import table_to_quads
        head = subjects.limit(self.DESCRIBE_COLLECT_CAP + 1).collect()
        if len(head) <= self.DESCRIBE_COLLECT_CAP:
            by_code: dict[str, list[str]] = {}
            for r in head:
                s = r["subject"]
                if s is None or s["t"] != 0 or s["v"] is None:
                    continue  # only IRIs can be row subjects
                bits = s["v"].split(":", 2)
                if len(bits) == 3 and bits[0] == "x":
                    by_code.setdefault(bits[1], []).append(bits[2])
            parts = []
            for t in self.tables:
                code, key_cols, _ = TPCH_SPEC[t]
                sufs = by_code.get(code)
                if not sufs:
                    continue
                df = self.table_df(t)
                if t not in HASH_SUBJECT_TABLES and len(key_cols) == 1:
                    keys = []
                    for s in sufs:
                        try:
                            keys.append(int(s))
                        except ValueError:
                            pass
                    if not keys:
                        continue
                    matched = df.where(F.col(key_cols[0]).isin(keys))
                else:
                    # composite / hashed ids: match on the native row-id
                    # string (same formula as subject_term, minus the
                    # struct) — a single-column scan, not a term probe
                    if t in HASH_SUBJECT_TABLES:
                        rid = F.xxhash64(*[F.col(f.name)
                                           for f in df.schema.fields]) \
                            .cast("string")
                    else:
                        rid = F.concat_ws("-", *[F.col(k).cast("string")
                                                 for k in key_cols])
                    matched = df.where(rid.isin(sufs))
                parts.append(table_to_quads(matched, t)
                             .select("subject", "predicate", "object"))
            if not parts:
                return self._empty_triples()
            out = parts[0]
            for x in parts[1:]:
                out = out.unionByName(x)
            return out
        code_col = F.split(F.col("subject")["v"], ":", 3).getItem(1)
        parts = []
        for t in self.tables:
            df = self.table_df(t)
            # prune the subject set to this table's id space first
            subs = subjects.where(code_col == TPCH_SPEC[t][0])
            matched = df.join(
                subs, self._subj_term(t, df) == F.col("subject"), "left_semi")
            parts.append(table_to_quads(matched, t)
                         .select("subject", "predicate", "object"))
        out = parts[0]
        for x in parts[1:]:
            out = out.unionByName(x)
        return out

    def node_terms(self, active_graph: Optional[ActiveGraph] = None,
                   ) -> Optional[DataFrame]:
        """Distinct graph nodes (zero-length path endpoints: every term in
        subject or object position) as a union of per-table projections —
        column-pruned scans instead of the exploded quads union. None when
        the active graph restricts to unmapped graphs."""
        from ..terms import term_lit
        allowed = self._graph_tables(active_graph)
        parts: list[DataFrame] = []
        for t in self.tables:
            if allowed is not None and t not in allowed:
                continue
            df = self.table_df(t)
            parts.append(df.select(self._subj_term(t, df).alias("n")))
            # the table's class IRI appears as an rdf:type object
            parts.append(self.spark.range(1).select(
                term_lit(NamedNode(class_iri(t))).col.alias("n")))
            for f in df.schema.fields:
                ot = self._obj_term(t, f.name, df, assume_nonnull=True)
                if ot is None:
                    continue
                parts.append(df.where(F.col(f.name).isNotNull())
                             .select(ot.alias("n")))
        if not parts:
            from ..terms import TERM_TYPE
            return self.spark.range(1).select(
                F.lit(None).cast(TERM_TYPE).alias("n")).limit(0)
        out = parts[0]
        for x in parts[1:]:
            out = out.unionByName(x)
        return out.dropDuplicates()

    def _empty_triples(self) -> DataFrame:
        from ..terms import TERM_TYPE
        return self.spark.range(1).select(
            F.lit(None).cast(TERM_TYPE).alias("subject"),
            F.lit(None).cast(TERM_TYPE).alias("predicate"),
            F.lit(None).cast(TERM_TYPE).alias("object")).limit(0)

    # ------------------------------------------------------------------

    def _empty_solution(self, subject, items, graph_var=None) -> tuple:
        cols = []
        seen = set()
        if isinstance(subject, Variable):
            seen.add(subject.name)
        if graph_var is not None:
            seen.add(graph_var.name)
        for _, o in items:
            if isinstance(o, Variable):
                seen.add(o.name)
        from ..terms import TERM_TYPE
        for v in sorted(seen):
            cols.append(F.lit(None).cast(TERM_TYPE).alias(v))
        if not cols:
            cols = [F.lit(True).alias("__match__")]
        return self.spark.range(1).select(*cols).limit(0), {}

    def _subject_filter(self, table: str, df: DataFrame,
                        subject: NamedNode) -> Column:
        """Native filter for a constant subject IRI — key equality when the
        table's key is a single column (parquet-pushable), else equality on
        the constructed subject id."""
        code, key_cols, _ = TPCH_SPEC[table]
        suffix = subject.iri[len(f"x:{code}:"):]
        if table not in HASH_SUBJECT_TABLES and len(key_cols) == 1:
            try:
                return F.col(key_cols[0]) == int(suffix)
            except ValueError:
                return F.lit(False)
        return self._subj_term(table, df)["v"] == subject.iri

    def _object_filter(self, table: str, col_name: str, df: DataFrame,
                       obj) -> Column:
        """Native filter for a constant object where the mapping is
        invertible; falls back to term equality on the constructed term."""
        from pyspark.sql import types as T
        from ..terms import XSD_STRING

        fks = TPCH_SPEC[table][2]
        if isinstance(obj, NamedNode) and col_name in fks:
            tgt_code = TPCH_SPEC[fks[col_name]][0]
            prefix = f"x:{tgt_code}:"
            if obj.iri.startswith(prefix):
                try:
                    return F.col(col_name) == int(obj.iri[len(prefix):])
                except ValueError:
                    pass
            return F.lit(False)
        dtype = df.schema[col_name].dataType
        if isinstance(obj, Literal) and obj.language is None:
            # invertible lexical forms → native (parquet-pushable) equality
            if isinstance(dtype, T.StringType) and obj.datatype == XSD_STRING:
                return F.col(col_name) == obj.lexical
            from ..terms import XSD_INTEGER
            if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType,
                                  T.LongType)) and obj.datatype == XSD_INTEGER:
                # the mapping emits xsd:integer with canonical lexicals for
                # integral columns; only a canonical xsd:integer can match
                try:
                    n = int(obj.lexical)
                    if str(n) == obj.lexical:
                        return F.col(col_name) == n
                except ValueError:
                    pass
                return F.lit(False)
        ot = self._obj_term(table, col_name, df)
        return term_matches(ot, obj) if not isinstance(obj, Variable) \
            else F.lit(True)


class VirtualDataFrameStore(VirtualRelationalStore):
    """SPARQL over arbitrary in-session DataFrames — the W3C-Direct-
    Mapping generalization of the TPC-H warehouse store: each DataFrame
    becomes a class of row-subjects with one predicate per column (FK
    columns become entity IRIs), queried through the same virtual
    star-scan machinery (no quads ever materialized).

        store = VirtualDataFrameStore(spark,
            {"people": people_df, "cities": cities_df},
            keys={"people": ["pid"], "cities": ["cid"]},
            fks={"people": {"city_id": "cities"}})
        store.query("SELECT ?n WHERE { ?p <x:people#name> ?n }")
    """

    def __init__(self, spark: SparkSession, dataframes: dict,
                 keys: Optional[dict] = None,
                 fks: Optional[dict] = None,
                 codes: Optional[dict] = None):
        from .relational import TPCH_SPEC as SPEC
        from .relational import register_table_mapping
        keys = keys or {}
        # topological registration so FK targets exist before their
        # referrers (register_table_mapping validates cross-references);
        # register_table_mapping itself raises on a conflicting re-use of
        # an existing table name
        pending = list(dataframes)
        while pending:
            progressed = False
            for t in list(pending):
                targets = set((fks or {}).get(t, {}).values()) - {t}
                if all(tg in SPEC or tg not in pending for tg in targets):
                    register_table_mapping(
                        t, code=(codes or {}).get(t),
                        key_cols=keys.get(t),
                        fks=(fks or {}).get(t))
                    pending.remove(t)
                    progressed = True
            if not progressed:
                raise ValueError(
                    f"circular foreign-key references among {pending!r}")
        self._dfs = dict(dataframes)
        super().__init__(spark, sf_dir="", tables=list(dataframes))

    def table_df(self, table: str) -> DataFrame:
        return self._dfs[table]

    @property
    def quads(self) -> DataFrame:
        from .relational import table_to_quads
        if self._quads is None:
            out = None
            for t in self.tables:
                q = table_to_quads(self._dfs[t], t)
                out = q if out is None else out.unionByName(q)
            self._quads = out
        return self._quads

    @quads.setter
    def quads(self, value):
        self._quads = value
        self._cached_len = None
