"""The quad store: a (cached) quads DataFrame plus the public query API.

Reference analogue: `Store` (lib/rdf-fusion/src/store.rs) over in-memory
sorted GSPO/GPOS/GOSP indexes (lib/storage/src/memory/storage/mem_storage.rs:42-44).
Spark-first redesign: ONE quads DataFrame; Catalyst predicate pushdown +
column pruning replace index selection, and an optional subject-hash
repartition replaces the sorted permutations (subject-subject joins — the
dominant join in BGP stars — then reuse one exchange).
"""

from __future__ import annotations

from typing import Optional, Union

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .terms import (
    COL_GRAPH,
    COL_OBJECT,
    COL_PREDICATE,
    COL_SUBJECT,
    QUADS_SCHEMA,
    BlankNode,
    Literal,
    NamedNode,
    Term,
    TermOrVar,
    Variable,
    term_lit,
    term_matches,
)

_META_FILE = "_rfs_store_meta.json"


def _local_path(path: str) -> Optional[str]:
    """Filesystem path for local/file: URIs, else None (meta sidecar is
    best-effort on non-local storage)."""
    if path.startswith("file:"):
        from urllib.parse import urlparse
        return urlparse(path).path
    if "://" not in path:
        return path
    return None


def _write_store_meta(path: str, meta: dict) -> None:
    import json
    import os
    p = _local_path(path)
    if p is None or not os.path.isdir(p):
        return
    with open(os.path.join(p, _META_FILE), "w") as f:
        json.dump(meta, f)


def _read_store_meta(path: str) -> dict:
    import json
    import os
    p = _local_path(path)
    if p is None:
        return {}
    try:
        with open(os.path.join(p, _META_FILE)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


class ActiveGraph:
    """Which graphs a pattern matches (reference:
    lib/logical/src/active_graph.rs)."""

    DEFAULT = "default"
    ALL = "all"          # union of default + named
    ANY_NAMED = "named"  # any named graph

    def __init__(self, kind: str, graphs: Optional[list[NamedNode]] = None):
        self.kind = kind
        self.graphs = graphs or []

    @classmethod
    def default(cls) -> "ActiveGraph":
        return cls(cls.DEFAULT)

    @classmethod
    def union(cls, graphs: list[NamedNode]) -> "ActiveGraph":
        return cls("union", graphs)

    @classmethod
    def any_named(cls) -> "ActiveGraph":
        return cls(cls.ANY_NAMED)

    @classmethod
    def all_graphs(cls) -> "ActiveGraph":
        return cls(cls.ALL)


class GraphStore:
    # union-default-graph semantics: when True, a DEFAULT active graph
    # matches every quad (the default graph is DEFINED as the union of the
    # named graphs) instead of only graph-NULL quads. Set by stores whose
    # mapping places all data in named graphs (sources/virtual.py).
    union_default_graph = False
    # quads carry a `pk` predicate partition column (from_parquet over a
    # predicate-partitioned layout): constant-predicate scans prune on it
    _pred_partitioned = False
    # class-level default: subclasses that assign _quads directly
    # (VirtualRelationalStore) bypass the quads setter, and __len__ must
    # still work
    _cached_len = None
    def __init__(self, spark: SparkSession, quads: DataFrame):
        self.spark = spark
        self.quads = quads  # property setter resets _cached_len
        # NOTE round 5: the session-wide PushDownPredicates exclusion that
        # used to live here is gone. The filter-through-project expression
        # blowup it guarded against is now prevented LOCALLY: filters over
        # computed (BIND/aggregate) variables sit above a nondeterministic
        # no-op projection Catalyst cannot substitute through
        # (translator._apply_plain_filters + VarInfo.expensive). The
        # global conf flip was both leaky — it mutated the user's session
        # for their own non-engine DataFrames — and harmful to our own
        # plans: it blocked the Filter-into-Join fusion that turns a
        # var=var FILTER over a cross join into a hash equi join.
        # every store entry point gets the engine's session settings —
        # without methodSplitThreshold=128 a BIND-heavy query overflows
        # Janino's 64 KB method limit and silently runs interpreted
        # (previously only the relational loaders configured this)
        from .sources.relational import configure_session
        configure_session(spark)

    # ------------------------------------------------------------------
    # constructors
    # ------------------------------------------------------------------

    @classmethod
    def empty(cls, spark: SparkSession) -> "GraphStore":
        return cls(spark, spark.createDataFrame([], QUADS_SCHEMA))

    @classmethod
    def from_relational(cls, spark: SparkSession, sf_dir: str,
                        tables=None) -> "GraphStore":
        from .sources.relational import load_relational_graph
        store = cls(spark, load_relational_graph(spark, sf_dir, tables))
        # the relational mapping places every triple in a per-table named
        # graph — the default graph is their union (same semantics as
        # VirtualRelationalStore)
        store.union_default_graph = True
        return store

    @classmethod
    def from_parquet(cls, spark: SparkSession, path: str) -> "GraphStore":
        """Quads persisted by save_parquet (reference:
        lib/storage/src/memory/persistence/parquet.rs — whole store ⇄ Parquet
        in PlainTerm encoding; here it's the native table format).

        A predicate-partitioned layout (save_parquet(partition_by_predicate
        =True)) is detected via its `pk` partition column; constant-
        predicate scans then prune whole directories."""
        df = spark.read.parquet(path)
        store = cls(spark, df)
        store._pred_partitioned = "pk" in df.columns
        store.union_default_graph = _read_store_meta(path).get(
            "union_default_graph", False)
        return store

    @classmethod
    def from_ntriples(cls, spark: SparkSession, path: str) -> "GraphStore":
        from .sources.ntriples import read_ntriples
        return cls(spark, read_ntriples(spark, path))

    @classmethod
    def from_turtle(cls, spark: SparkSession, path: str,
                    base=None) -> "GraphStore":
        from .sources.turtle import read_turtle
        return cls(spark, read_turtle(spark, path, base))

    @classmethod
    def from_trig(cls, spark: SparkSession, path: str,
                  base=None) -> "GraphStore":
        from .sources.trig import read_trig
        return cls(spark, read_trig(spark, path, base))

    @classmethod
    def from_rdfxml(cls, spark: SparkSession, path: str,
                    base=None) -> "GraphStore":
        from .sources.rdfxml import read_rdfxml
        return cls(spark, read_rdfxml(spark, path, base))

    @classmethod
    def load(cls, spark: SparkSession, path: str, format: str = None,
             base=None) -> "GraphStore":
        """Load any supported RDF serialization, guessing the format from
        the extension when not given (reference: store.rs:477-558
        load_from_reader over oxrdfio's RdfFormat)."""
        from .sources.formats import format_from_name, read_rdf
        fmt = format_from_name(format) if format else None
        if format and fmt is None:
            raise ValueError(f"unknown RDF format {format!r}")
        # Cut the parse lineage (guide §3.3: materialize an intermediate to
        # truncate the plan): the line-format readers return term columns
        # that are PARSE EXPRESSIONS over the raw text lines, and Catalyst
        # re-inlines the full term-parse ladder at every downstream
        # reference — a 3-pattern builder join over an 8-triple store
        # optimized a 33 MB plan for 17 s before this cut. One eager parse
        # pass at load time is the intended bulk-load semantics anyway
        # (the store then serves parsed structs, and later edits to the
        # source file no longer leak into an already-loaded store).
        return cls(spark, read_rdf(spark, path, fmt, base)
                   .localCheckpoint(eager=True))

    @classmethod
    def load_dir(cls, spark: SparkSession, path: str, format: str = None,
                 base=None) -> "GraphStore":
        """Distributed multi-file load: parse every RDF file under `path`
        (directory or glob) on the executors, one task per file — the
        scale path for corpora delivered as many Turtle/TriG/RDF-XML
        files (see sources/bulk.py)."""
        from .sources.bulk import read_rdf_directory
        from .sources.formats import format_from_name
        fmt = format_from_name(format) if format else None
        if format and fmt is None:
            raise ValueError(f"unknown RDF format {format!r}")
        # same lineage cut as load() — one parse pass at load time
        return cls(spark, read_rdf_directory(spark, path, fmt, base)
                   .localCheckpoint(eager=True))

    def dump(self, path: str, format: str = None,
             mode: str = "overwrite") -> None:
        """Serialize the store to an RDF file tree (distributed writers for
        the line formats; see sources/formats.py)."""
        from .sources.formats import format_from_name, write_rdf
        fmt = format_from_name(format) if format else None
        if format and fmt is None:
            raise ValueError(f"unknown RDF format {format!r}")
        write_rdf(self.quads, path, fmt, mode)

    @classmethod
    def from_python_quads(cls, spark: SparkSession, quads) -> "GraphStore":
        """quads: iterable of (graph|None, subject, predicate, object) Terms."""
        rows = []
        for g, s, p, o in quads:
            rows.append((_term_row(g), _term_row(s), _term_row(p), _term_row(o)))
        return cls(spark, spark.createDataFrame(rows, QUADS_SCHEMA))

    def save_parquet(self, path: str, mode: str = "overwrite",
                     partition_by_predicate: bool = False) -> None:
        """Persist the store.

        partition_by_predicate writes the classic vertically-partitioned
        triple-store layout (one directory per predicate IRI): constant-
        predicate patterns — the overwhelmingly common case — read only
        their predicate's files on scan (partition pruning), the parquet
        analogue of the reference's predicate-major index permutations.
        Predicate cardinality is schema-bounded, so the directory count
        stays small at any data size."""
        df = self.quads
        w = df.write.mode(mode)
        if partition_by_predicate:
            df = df.withColumn("pk", F.col(f"{COL_PREDICATE}.v"))
            w = df.write.mode(mode).partitionBy("pk")
        w.parquet(path)
        _write_store_meta(path, {
            "union_default_graph": bool(self.union_default_graph)})

    # ------------------------------------------------------------------
    # tuning
    # ------------------------------------------------------------------

    def cached(self) -> "GraphStore":
        return GraphStore(self.spark, self.quads.cache())

    def partitioned_by_subject(self, n: Optional[int] = None) -> "GraphStore":
        """Pre-shuffle by subject so star-join chains reuse one exchange."""
        q = self.quads.repartition(n, COL_SUBJECT) if n else self.quads.repartition(COL_SUBJECT)
        return GraphStore(self.spark, q)

    # ------------------------------------------------------------------
    # pattern scan (reference: QuadPatternNode,
    # lib/logical/src/quad_pattern/logical.rs:33-140 +
    # MemQuadPatternDataSource, pattern_data_source.rs:19-108)
    # ------------------------------------------------------------------

    def scan_solution(self, subject, predicate, obj, active_graph=None,
                      graph_var=None) -> tuple:
        """(scan_pattern frame, {var: VarInfo}) — the facts the store
        proves about the pattern's variables beyond boundness (every
        variable column of a scan is bound); the quads relation proves
        none."""
        return self.scan_pattern(subject, predicate, obj, active_graph,
                                 graph_var), {}

    def scan_pattern(
        self,
        subject: TermOrVar,
        predicate: TermOrVar,
        obj: TermOrVar,
        active_graph: Optional[ActiveGraph] = None,
        graph_var: Optional[Variable] = None,
    ) -> DataFrame:
        """Solution DataFrame for one quad pattern: one column per variable.

        Constant terms become field-level parquet-pushable filters; repeated
        variables become same-column equality filters; output is projected to
        the variable columns only (column pruning reaches the scan).
        """
        ag = active_graph or ActiveGraph.default()
        df = self.quads
        gcol = F.col(COL_GRAPH)

        if ag.kind == ActiveGraph.DEFAULT:
            if not self.union_default_graph:
                df = df.where(gcol.isNull())
        elif ag.kind == ActiveGraph.ANY_NAMED:
            df = df.where(gcol.isNotNull())
        elif ag.kind == "union":
            conds = [term_matches(gcol, g) for g in ag.graphs]
            if not conds:
                # empty dataset (FROM NAMED only): matches nothing
                df = df.where(F.lit(False))
            elif len(conds) == 1:
                df = df.where(conds[0])
            else:
                c = conds[0]
                for extra in conds[1:]:
                    c = c | extra
                df = df.where(c)
        # ALL: no graph filter

        if self._pred_partitioned and isinstance(predicate, NamedNode):
            # directory-level pruning on the predicate partition column
            df = df.where(F.col("pk") == predicate.iri)

        positions = [(COL_SUBJECT, subject), (COL_PREDICATE, predicate), (COL_OBJECT, obj)]
        var_first_col: dict[str, str] = {}
        for colname, tv in positions:
            if isinstance(tv, Variable):
                if tv.name in var_first_col:  # repeated variable → equality
                    df = df.where(F.col(var_first_col[tv.name]) == F.col(colname))
                else:
                    var_first_col[tv.name] = colname
            elif tv is not None:
                df = df.where(term_matches(F.col(colname), tv))

        if graph_var is not None and ag.kind != ActiveGraph.DEFAULT \
                and graph_var.name in var_first_col:
            # GRAPH ?g where ?g ALSO occurs in the pattern (GRAPH ?g
            # { ?g ?p ?o }): unify instead of emitting two columns
            # named ?g — same-var equality against the graph column
            # (r10 GRAPH-layer fuzz: the duplicate alias made every
            # downstream select AMBIGUOUS_REFERENCE)
            df = df.where(F.col(var_first_col[graph_var.name]) == gcol)
        out_cols = [F.col(c).alias(v) for v, c in
                    ((v, c) for v, c in var_first_col.items())]
        if graph_var is not None and ag.kind != ActiveGraph.DEFAULT \
                and graph_var.name not in var_first_col:
            out_cols.append(gcol.alias(graph_var.name))
        if not out_cols:
            # fully-ground pattern: keep a row per match, no columns needed —
            # emit a dummy to keep DataFrame non-degenerate
            return df.select(F.lit(True).alias("__match__"))
        return df.select(*out_cols)

    def quads_for_pattern(
        self,
        subject: Optional[Term] = None,
        predicate: Optional[Term] = None,
        obj: Optional[Term] = None,
        graph: Union[Term, None, str] = "any",
    ) -> DataFrame:
        """Raw quad rows matching a (possibly wildcarded) pattern
        (reference: Store::quads_for_pattern, lib/rdf-fusion/src/store.rs:272-382)."""
        df = self.quads
        if graph is None:
            if not self.union_default_graph:
                df = df.where(F.col(COL_GRAPH).isNull())
        elif isinstance(graph, (NamedNode, BlankNode)):
            df = df.where(term_matches(F.col(COL_GRAPH), graph))
        for colname, t in ((COL_SUBJECT, subject), (COL_PREDICATE, predicate),
                           (COL_OBJECT, obj)):
            if t is not None:
                df = df.where(term_matches(F.col(colname), t))
        return df

    @property
    def quads(self) -> DataFrame:
        return self._quads

    @quads.setter
    def quads(self, df: DataFrame) -> None:
        self._quads = df
        # any mutation invalidates the cached count (web index / metadata
        # consumers read _cached_len instead of scanning the store)
        self._cached_len = None

    def __len__(self) -> int:
        if self._cached_len is None:
            self._cached_len = self.quads.count()
        return self._cached_len

    def contains(self, subject: Term, predicate: Term, obj: Term,
                 graph: Union[Term, None, str] = "any") -> bool:
        return bool(self.quads_for_pattern(subject, predicate, obj, graph).head(1))

    # ------------------------------------------------------------------
    # SPARQL
    # ------------------------------------------------------------------

    def update(self, sparql: str) -> None:
        """Execute a SPARQL 1.1 Update string against this store
        (reference: store.rs:409-475). Mutates `self.quads` in place;
        operations apply sequentially, each atomic over the pre-state."""
        from .sparql.parser import parse_update
        from .plans.update import execute_update
        execute_update(self, parse_update(sparql))

    def insert(self, quad) -> None:
        """Insert one (graph|None, s, p, o) quad (store.rs:516-528)."""
        self.extend([quad])

    def extend(self, quads) -> None:
        """Insert an iterable of quads with set semantics
        (store.rs:529-558)."""
        from .plans.update import insert_quads_df
        insert_quads_df(self, GraphStore.from_python_quads(
            self.spark, quads).quads)

    def remove(self, quad) -> None:
        """Remove one quad if present (store.rs:560-584)."""
        from .plans.update import remove_quads_df
        remove_quads_df(self, GraphStore.from_python_quads(
            self.spark, [quad]).quads)

    def clear(self) -> None:
        """Drop every quad (store.rs clear)."""
        self.quads = self.spark.createDataFrame([], QUADS_SCHEMA)

    def named_graph_terms(self):
        """Distinct named-graph terms as a DISTRIBUTED DataFrame of term
        structs — the scale-safe form (a store can hold millions of named
        graphs; see named_graph_names for the driver-side convenience)."""
        return self.quads.where(F.col(COL_GRAPH).isNotNull()) \
            .select(COL_GRAPH).distinct()

    # Driver-side materialization cap: collecting more graph names than
    # this is almost certainly a mistake — use named_graph_terms().
    NAMED_GRAPH_COLLECT_CAP = 100_000

    def named_graph_names(self, limit: Optional[int] = None) -> list:
        """Distinct named-graph terms (store.rs:659-676), collected to the
        driver. Bounded: at most `limit` (default NAMED_GRAPH_COLLECT_CAP)
        names are returned, with a warning when the cap truncates —
        enumerate via named_graph_terms() to stay distributed."""
        from .terms import term_to_python
        cap = limit if limit is not None else self.NAMED_GRAPH_COLLECT_CAP
        rows = self.named_graph_terms().limit(cap + 1).collect()
        if len(rows) > cap:
            import logging
            logging.getLogger(__name__).warning(
                "named_graph_names: store has more than %d named graphs; "
                "result truncated — use named_graph_terms() for the "
                "distributed enumeration", cap)
            rows = rows[:cap]
        return [term_to_python(r[COL_GRAPH]) for r in rows]

    def is_empty(self) -> bool:
        """True iff the store holds no quads (store.rs:382-407)."""
        return not self.quads.head(1)

    # N-degree fallback bound: canonicalization with first-degree hash
    # COLLISIONS runs the spec's sequential permutation search on the
    # driver; refuse datasets whose bnode-touching quad count exceeds
    # this rather than silently OOM (truncation would produce WRONG
    # labels, so unlike named_graph_names this raises).
    CANON_COLLECT_CAP = 1_000_000

    def canonicalize(self) -> "GraphStore":
        """RDFC-1.0 canonical blank-node labels (W3C rdf-canon): returns a
        new store whose bnodes carry c14n labels — two isomorphic stores
        canonicalize to identical quad sets (the check the reference's
        testsuite harness targets, testsuite/tests/canonicalization.rs;
        its runner is #[ignore]d — this ships the real thing). The output
        store is SET-semantic (duplicates dropped), matching the
        reference's sorted-index storage.

        Scale shape (round 6): first-degree hashes are computed fully
        DISTRIBUTED (explode bnode-touching quads to (bnode, line) pairs,
        one hash-aggregate per bnode). When every hash is unique — the
        overwhelmingly common case, and the only case the spec resolves
        without N-degree search — canonical labels are exactly the rank
        in sorted hash order (§4.4.3), assigned via a range-partitioned
        sort + zipWithIndex and applied with hash joins: NO quad ever
        reaches the driver, no matter how many bnodes the dataset holds.
        Only on hash collisions does the sequential N-degree fallback
        collect the (deduplicated) bnode-touching quads, bounded by
        CANON_COLLECT_CAP."""
        from .terms import TT_BNODE

        def is_b(c):
            return F.col(c).isNotNull() & (F.col(c)["t"] == F.lit(TT_BNODE))

        # RDFC-1.0 hashes the dataset as a SET of quads: a bag with row
        # multiplicity would double N-Quads lines in first-degree hashes
        # and canonicalize equal datasets differently (round-5 ADVICE)
        touching = self.quads.where(
            is_b("subject") | is_b("object") | is_b(COL_GRAPH)).distinct()
        if not touching.head(1):
            return GraphStore(self.spark, self.quads.dropDuplicates())

        labels_df = self._canonical_labels_distributed(touching)
        if labels_df is None:
            labels_df = self._canonical_labels_fallback(touching)

        def relabel_join(quads, pos):
            lab = labels_df.select(F.col("old").alias(f"__old_{pos}"),
                                   F.col("new").alias(f"__new_{pos}"))
            joined = quads.join(
                lab, F.col(pos).isNotNull()
                & (F.col(pos)["t"] == F.lit(TT_BNODE))
                & (F.col(pos)["v"] == F.col(f"__old_{pos}")), "left")
            col = F.when(F.col(f"__new_{pos}").isNotNull(),
                         F.col(pos).withField("v", F.col(f"__new_{pos}"))) \
                .otherwise(F.col(pos)).alias(pos)
            keep = [c for c in quads.columns if c != pos]
            return joined.select(*([col] + [F.col(c) for c in keep])) \
                .select(*quads.columns)

        out = self.quads
        for pos in (COL_GRAPH, "subject", "object"):
            out = relabel_join(out, pos)
        return GraphStore(self.spark, out.dropDuplicates())

    def _canon_lines(self, touching):
        """(bnode id, first-degree N-Quads line) pairs, distributed: the
        reference bnode serialized as _:a, every other bnode as _:z
        (RDFC-1.0 §4.6). Serialization mirrors canon._nq_line exactly —
        both paths must sort identical hash strings."""
        from .terms import TT_BNODE, TT_IRI, XSD_STRING

        def esc(c):
            c = F.replace(c, F.lit("\\"), F.lit("\\\\"))
            c = F.replace(c, F.lit('"'), F.lit('\\"'))
            c = F.replace(c, F.lit("\n"), F.lit("\\n"))
            return F.replace(c, F.lit("\r"), F.lit("\\r"))

        def ser(c, ref):
            lit_body = F.concat(F.lit('"'), esc(c["v"]), F.lit('"'))
            lit = (F.when(c["lang"].isNotNull(),
                          F.concat(lit_body, F.lit("@"), c["lang"]))
                   .when(c["dt"].isNotNull() & (c["dt"] != XSD_STRING),
                         F.concat(lit_body, F.lit("^^<"), c["dt"], F.lit(">")))
                   .otherwise(lit_body))
            return (F.when(c["t"] == TT_IRI,
                           F.concat(F.lit("<"), c["v"], F.lit(">")))
                    .when(c["t"] == TT_BNODE,
                          F.when(c["v"] == ref, F.lit("_:a"))
                          .otherwise(F.lit("_:z")))
                    .otherwise(lit))

        bnode_ids = F.array_distinct(F.filter(F.array(*[
            F.when(F.col(p).isNotNull()
                   & (F.col(p)["t"] == F.lit(TT_BNODE)), F.col(p)["v"])
            for p in ("subject", "object", COL_GRAPH)
        ]), lambda x: x.isNotNull()))
        ex = touching.select("*", F.explode(bnode_ids).alias("__ref"))
        ref = F.col("__ref")
        line = F.concat(
            ser(F.col("subject"), ref), F.lit(" "),
            ser(F.col("predicate"), ref), F.lit(" "),
            ser(F.col("object"), ref),
            F.when(F.col(COL_GRAPH).isNotNull(),
                   F.concat(F.lit(" "), ser(F.col(COL_GRAPH), ref)))
            .otherwise(F.lit("")),
            F.lit(" .\n"))
        return ex.select(ref.alias("old"), line.alias("line"))

    def _canonical_labels_distributed(self, touching):
        """(old bnode id → c14n label) DataFrame when every first-degree
        hash is unique; None when a collision demands the N-degree
        fallback."""
        fd = (self._canon_lines(touching)
              .groupBy("old")
              .agg(F.sha2(F.concat_ws(
                  "", F.array_sort(F.collect_list("line"))), 256)
                  .alias("fd")))
        fd = fd.persist()
        try:
            collided = fd.groupBy("fd").count() \
                .where(F.col("count") > 1).head(1)
            if collided:
                return None
            # labels = rank in sorted hash order (§4.4.3). Dense global
            # rank without a single-partition window: range-partitioned
            # sort, then zipWithIndex (one counting job + one map).
            rdd = (fd.repartitionByRange(
                       max(fd.sparkSession.sparkContext.defaultParallelism,
                           1), "fd")
                   .sortWithinPartitions("fd")
                   .select("old", "fd").rdd
                   .map(lambda r: (r["old"], r["fd"]))
                   .zipWithIndex()
                   .map(lambda t: (t[0][0], f"c14n{t[1]}")))
            # localCheckpoint, NOT persist: persist() registers with the
            # CacheManager, which holds the Dataset strongly — every
            # canonicalize() on a long-lived session would pin one more
            # cached labels table forever (round-6 ADVICE). A local
            # checkpoint materializes the (tiny: one row per bnode)
            # table, truncates lineage past the unpersisted `fd`, and
            # its blocks are released by the ContextCleaner once the
            # returned DataFrame is garbage-collected.
            return fd.sparkSession.createDataFrame(
                rdd, "old string, new string").localCheckpoint()
        finally:
            fd.unpersist(blocking=False)

    def _canonical_labels_fallback(self, touching):
        """Sequential spec algorithm (canon.py) over the deduplicated
        bnode-touching quads, bounded by CANON_COLLECT_CAP."""
        from .canon import canonical_labels
        from .terms import term_to_python
        rows = touching.limit(self.CANON_COLLECT_CAP + 1).collect()
        if len(rows) > self.CANON_COLLECT_CAP:
            raise ValueError(
                f"canonicalize: dataset has first-degree hash collisions "
                f"and more than {self.CANON_COLLECT_CAP:,} bnode-touching "
                f"quads; the RDFC-1.0 N-degree search is inherently "
                f"sequential — split the dataset or raise "
                f"GraphStore.CANON_COLLECT_CAP explicitly")
        labels = canonical_labels(
            (term_to_python(r[COL_GRAPH]), term_to_python(r["subject"]),
             term_to_python(r["predicate"]), term_to_python(r["object"]))
            for r in rows)
        return self.spark.createDataFrame(
            list(labels.items()) or [(None, None)],
            "old string, new string").where(F.col("old").isNotNull())

    def _graph_filter(self, graph_name):
        from .terms import term_lit
        if graph_name is None:
            return F.col(COL_GRAPH).isNull()
        return F.col(COL_GRAPH).eqNullSafe(term_lit(graph_name).col)

    def contains_named_graph(self, graph_name) -> bool:
        """True iff the named graph holds at least one triple
        (store.rs:678-708). The reference also tracks EMPTY named graphs
        as first-class objects; in the quads-relation model a graph
        exists exactly when it has a triple, matching SPARQL dataset
        semantics for GRAPH matching."""
        return bool(self.quads.where(self._graph_filter(graph_name)).head(1))

    def insert_named_graph(self, graph_name, triples=()) -> None:
        """Create/extend a named graph from (s, p, o) triples
        (store.rs:710-738)."""
        self.extend([(graph_name, s, p, o) for s, p, o in triples])

    def clear_graph(self, graph_name) -> None:
        """Drop every triple of one graph, default graph included when
        graph_name is None (store.rs:740-767)."""
        self.quads = self.quads.where(~self._graph_filter(graph_name))

    def remove_named_graph(self, graph_name) -> None:
        """Remove a named graph and its triples (store.rs:769-796)."""
        if graph_name is None:
            raise ValueError("remove_named_graph needs a named graph; "
                             "use clear_graph(None) for the default graph")
        self.clear_graph(graph_name)

    def optimize(self) -> "GraphStore":
        """Storage-maintenance analogue of store.rs:805 (the reference
        rebuilds its sorted indexes): coalesce the quads relation into a
        cached, subject-clustered layout so subsequent scans skip the
        mutation lineage."""
        return self.partitioned_by_subject().cached()

    def validate(self) -> None:
        """Integrity check (store.rs:810): every quad must have non-null
        s/p/o term structs with a term-type tag, and graph terms must not
        be literals."""
        from .terms import TT_LITERAL
        bad = self.quads.where(
            F.col(COL_SUBJECT).isNull() | F.col(COL_PREDICATE).isNull()
            | F.col(COL_OBJECT).isNull()
            | F.col(COL_SUBJECT)["t"].isNull()
            | F.col(COL_PREDICATE)["t"].isNull()
            | F.col(COL_OBJECT)["t"].isNull()
            | (F.col(COL_GRAPH).isNotNull()
               & (F.col(COL_GRAPH)["t"] == TT_LITERAL))
        ).count()
        if bad:
            raise ValueError(f"store failed validation: {bad} malformed quads")

    def dump_graph(self, path: str, graph_name=None, format: str = None) -> None:
        """Serialize ONE graph (default graph when graph_name is None) as
        a triples format (store.rs:624-657)."""
        sub = GraphStore(self.spark,
                         self.quads.where(self._graph_filter(graph_name))
                         .withColumn(COL_GRAPH, F.lit(None).cast(
                             self.quads.schema[COL_GRAPH].dataType)))
        sub.dump(path, format=format)

    def query(self, sparql: str, dataset=None, optimize: bool = True):
        """Parse + translate + return the result (DataFrame-backed).

        `dataset` (algebra.Dataset) overrides the query's own FROM/FROM
        NAMED clauses — the SPARQL Protocol's default-graph-uri /
        named-graph-uri parameters take precedence over the query text.

        `optimize=False` disables the translator-level rewrites (common
        subquery elimination, sideways information passing, BIND-wave
        merging, aggregate subsumption) for debugging — the analogue of
        the reference's OptimizationLevel::None
        (lib/execution/src/sparql/optimizer.rs:18). Results are
        identical either way; only plan shape and speed differ.

        The result owns the shared-subquery caches its translation
        persisted: they live until `close()`, the end of a `with` block,
        or until the result is dropped. A closed result still executes;
        it only recomputes.

        reference lifecycle: lib/execution/src/sparql/eval.rs:24-133.
        """
        import dataclasses
        from .sparql.parser import parse_query
        from .plans.translator import evaluate_query
        q = parse_query(sparql)
        if dataset is not None:
            q = dataclasses.replace(q, dataset=dataset)
        return evaluate_query(self, q, optimize=optimize)

    def prepare(self, sparql: str, dataset=None):
        """Prepared query: parse + translate ONCE, re-execute many times.

        Translation (parse → algebra → DataFrame construction through
        py4j) costs 0.7–1.2 s for warehouse-sized plans; the returned
        result object's DataFrame is lazy, so each action re-reads the
        sources — repeated executions pay only execution. NOW() is fixed
        at prepare time (it is a query constant; re-prepare for a fresh
        timestamp). All result kinds re-execute lazily, including ASK
        (its `value` property runs the probe per access). Like `query`,
        the result keeps its shared-subquery caches until `close()`, the
        end of a `with` block, or until it is dropped, however many other
        queries run meanwhile.
        """
        return self.query(sparql, dataset=dataset)


def _term_row(t: Optional[Term]):
    from .terms import term_py_row
    return term_py_row(t)
