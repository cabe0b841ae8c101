"""Deterministic relational → RDF graph mapping (direct-mapping style).

Turns the driver's TPC-H-ish parquet tables into a quads DataFrame so the
SPARQL engine can be exercised — and oracle-checked — against the same data
through DuckDB SQL on the raw tables.

Mapping (R2RML-direct-mapping flavoured, BSBM-shaped —
reference workload schema: FIXTURES.md F3):
  * row  → subject IRI  x:{code}:{key}           (composite keys joined by '-')
  * row  → rdf:type     x:class:{table}
  * col  → predicate    x:{code}#{col}
  * FK   → object IRI   x:{target_code}:{value}  (graph link, not a literal)
  * other cols → typed literals (integer/double/string/dateTime by Spark type)

Everything is one narrow projection + explode per table — no shuffle; at
100 TB this parallelizes embarrassingly with the parquet scan.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..terms import (
    RDF_TYPE,
    TERM_TYPE,
    TT_IRI,
    TT_LITERAL,
    XSD_DATETIME,
    XSD_DOUBLE,
    XSD_INTEGER,
    XSD_STRING,
    term_struct,
)

# table → (short code, key columns, {fk column → target table})
# Key columns are used for subject identity ONLY when they are genuinely
# unique. The driver's lineitem data has duplicate (l_orderkey, l_linenumber)
# groups, so lineitem subjects derive from a full-row hash instead (no table
# FK-references lineitem, so nothing else depends on its subject shape).
TPCH_SPEC: dict[str, tuple[str, Sequence[str], dict[str, str]]] = {
    "region": ("r", ["r_regionkey"], {}),
    "nation": ("n", ["n_nationkey"], {"n_regionkey": "region"}),
    "customer": ("c", ["c_custkey"], {"c_nationkey": "nation"}),
    "supplier": ("s", ["s_suppkey"], {"s_nationkey": "nation"}),
    "part": ("p", ["p_partkey"], {}),
    "orders": ("o", ["o_orderkey"], {"o_custkey": "customer"}),
    "lineitem": ("l", ["l_orderkey", "l_linenumber"],
                 {"l_orderkey": "orders", "l_partkey": "part", "l_suppkey": "supplier"}),
    "events": ("e", ["event_id"], {}),
    "documents": ("d", ["doc_id"], {}),
}

# tables whose declared keys are NOT unique in the driver data: subject
# identity = xxhash64 over every column (deterministic across re-scans, no
# shuffle — scales to any size; verified collision-free on the test data).
HASH_SUBJECT_TABLES = {"lineitem"}

# The driver warehouse's own table set, FROZEN at import: defaulting
# `tables=` from the (mutable) registry would let register_table_mapping
# leak custom tables into every later default-constructed
# VirtualRelationalStore in the process.
TPCH_TABLES: tuple = tuple(TPCH_SPEC)


def register_table_mapping(table: str, code: Optional[str] = None,
                           key_cols: Optional[Sequence[str]] = None,
                           fks: Optional[dict] = None,
                           hash_subject: bool = False) -> None:
    """Register ANY table into the relational→RDF mapping vocabulary
    (process-global, so the IRI mapping is consistent across stores; the
    W3C Direct Mapping idea: row → subject IRI, column → predicate, FK
    column → entity IRI).

    code: short IRI prefix segment (defaults to the table name);
    key_cols: unique key for subject identity (omit → full-row hash);
    fks: {column → target table} mapped as entity IRIs.

    Re-registering a table with an IDENTICAL spec is a no-op; a
    conflicting re-registration raises (silent reuse of a stale mapping
    would mis-derive subjects/predicates from the wrong columns).
    """
    code = code or table
    entry = (code, list(key_cols or []), dict(fks or {}))
    if table in TPCH_SPEC:
        if TPCH_SPEC[table] != entry or \
                ((hash_subject or not key_cols)
                 != (table in HASH_SUBJECT_TABLES)):
            raise ValueError(
                f"table {table!r} is already registered with a different "
                f"mapping {TPCH_SPEC[table]!r}; pick another table name")
        return
    taken = {v[0]: t for t, v in TPCH_SPEC.items()}
    if code in taken:
        raise ValueError(
            f"mapping code {code!r} already used by table {taken[code]!r}")
    for tgt in (fks or {}).values():
        if tgt not in TPCH_SPEC and tgt != table:
            raise ValueError(f"fk target table {tgt!r} is not registered")
    TPCH_SPEC[table] = entry
    if hash_subject or not key_cols:
        HASH_SUBJECT_TABLES.add(table)


def configure_session(spark: SparkSession) -> SparkSession:
    """Session settings the engine depends on (all runtime-settable).

    * nanosAsLong lets Spark read the driver's TIMESTAMP(NANOS) parquet
      (values surface as timestamp_ntz on Spark 4.x).
    * UTC session timezone so xsd:dateTime comparisons match the oracle.
    * AQE handles skew/partition coalescing at scale.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # Spark 4.1 bug (found by tests/test_algebra_fuzz.py, seeds 2103 /
    # 2161 at depth 4): PushDownLeftSemiAntiJoin asserts
    # (PushDownLeftSemiAntiJoin.scala:100) while pushing an EXISTS /
    # NOT-EXISTS semi/anti join below certain Project/Union shapes our
    # compat-join translation emits — the whole query then dies with
    # SparkException[INTERNAL_ERROR] at optimization time. Excluding the
    # rule only loses a pushdown (semi joins still execute; results
    # identical, verified by the 400-query differential sweep and the
    # full oracle-parity suite), never correctness.
    _excl = "org.apache.spark.sql.catalyst.optimizer.PushDownLeftSemiAntiJoin"
    try:
        cur = spark.conf.get("spark.sql.optimizer.excludedRules") or ""
    except Exception:
        cur = ""
    if _excl not in cur:
        spark.conf.set("spark.sql.optimizer.excludedRules",
                       f"{cur},{_excl}" if cur else _excl)
    # Term-struct expressions are wide (8-field structs, kind CASEs): at the
    # default 1024 Janino is asked to compile few huge methods and a
    # 13-BIND projection chain overflows the 64 KB method limit — the whole
    # stage then silently falls back to interpreted execution (measured
    # 2-3x slower steady-state on BIND-heavy queries). Aggressive splitting
    # keeps every generated method small and compilable.
    spark.conf.set("spark.sql.codegen.methodSplitThreshold", "128")
    # PySpark 4.x captures the Python call site on EVERY DataFrame-API call
    # (several extra py4j round trips each); the expression compiler makes
    # tens of thousands of such calls per query, so disabling the capture
    # cuts plan-construction time roughly in half. The conf itself is
    # static (settable only at session build), but the wrapper gates on
    # this process-local cache, so overriding it has the same effect.
    try:
        from pyspark.errors import utils as _eu
        _eu._enable_debugging_cache = False
    except Exception:
        pass
    # Python-side operators (mapInPandas decoders, stateful streaming)
    # cloudpickle module-level functions BY REFERENCE, so executor workers
    # must be able to import this package — which they cannot when the
    # driver loaded it from a path outside the workers' sys.path. Ship the
    # package once per SparkContext as a zip.
    try:
        sc = spark.sparkContext
        if not getattr(sc, "_rfs_pyfile_added", False):
            import os
            import shutil
            import tempfile

            import rdf_fusion_spark as _pkg
            pkg_dir = os.path.dirname(os.path.abspath(_pkg.__file__))
            base = tempfile.mkdtemp(prefix="rfs_pkg_")
            zip_path = shutil.make_archive(
                os.path.join(base, "rdf_fusion_spark_pkg"), "zip",
                root_dir=os.path.dirname(pkg_dir),
                base_dir="rdf_fusion_spark")
            sc.addPyFile(zip_path)
            sc._rfs_pyfile_added = True
    except Exception:
        pass
    return spark


def entity_iri_prefix(table: str) -> str:
    return f"x:{TPCH_SPEC[table][0]}:"


def graph_iri(table: str) -> str:
    """Named graph holding one table's triples. The mapping uses
    union-default-graph semantics (like oxigraph's UnionDefaultGraph):
    every triple lives in its table's named graph, and the default graph
    is the union of all of them — so plain BGPs see the whole warehouse
    while GRAPH <x:graph:t>/GRAPH ?g address and enumerate tables."""
    return f"x:graph:{TPCH_SPEC[table][0]}"


def predicate_iri(table: str, col: str) -> str:
    return f"x:{TPCH_SPEC[table][0]}#{col}"


def class_iri(table: str) -> str:
    return f"x:class:{table}"


def _const_iri(iri: str) -> Column:
    return term_struct(F.lit(TT_IRI), F.lit(iri))


def _literal_for(col: Column, dtype: T.DataType,
                 lazy: bool = False) -> Optional[Column]:
    """Typed literal term for a relational value; lexical forms round-trip
    exactly through Spark casts (Double.toString / ISO timestamps). The
    typed-value fields (k/x/d/ts) are filled from the NATIVE column — no
    lexical parse ever happens downstream (Spark's double→decimal cast is
    Double.toString-based, so `d` equals the parse of the lexical form)."""
    from ..terms import K_DATETIME, K_DOUBLE, K_INTEGER, K_STRING

    null_d = F.lit(None).cast("decimal(38,18)")
    null_x = F.lit(None).cast("double")
    null_ts = F.lit(None).cast("timestamp")
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return term_struct(F.lit(TT_LITERAL), col.cast("string"),
                           F.lit(XSD_INTEGER), k=F.lit(K_INTEGER),
                           x=col.cast("double"),
                           d=col.cast("decimal(38,18)"), ts=null_ts)
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        # lazy: skip the per-row Double.toString — the lexical is
        # reconstructed from x only where a consumer needs it
        # (functions/typed_ops.py lexical_of / materialize_lexical)
        c = col.cast("double")
        v = F.lit(None).cast("string") if lazy else c.cast("string")
        return term_struct(F.lit(TT_LITERAL), v,
                           F.lit(XSD_DOUBLE), k=F.lit(K_DOUBLE), x=c,
                           d=null_d, ts=null_ts)
    if isinstance(dtype, T.DecimalType):
        # exact decimal columns → xsd:decimal (same term shape as
        # typed_ops.decimal_term); lazy reconstructs the canonical
        # lexical from `d` like doubles do from `x`
        from ..functions.typed_ops import canon_decimal_string
        from ..terms import K_DECIMAL, XSD_DECIMAL
        d = col.cast("decimal(38,18)")
        v = F.lit(None).cast("string") if lazy else canon_decimal_string(d)
        return term_struct(F.lit(TT_LITERAL), v, F.lit(XSD_DECIMAL),
                           k=F.lit(K_DECIMAL), x=d.cast("double"), d=d,
                           ts=null_ts)
    if isinstance(dtype, T.StringType):
        return term_struct(F.lit(TT_LITERAL), col, F.lit(XSD_STRING),
                           k=F.lit(K_STRING), x=null_x, d=null_d, ts=null_ts)
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        # DateType stays eager: its lexical is the date-only form
        # 'YYYY-MM-DD', which a lazy rebuild from `ts` cannot reproduce
        # (it would emit 'YYYY-MM-DDT00:00:00')
        lex = (F.lit(None).cast("string")
               if lazy and not isinstance(dtype, T.DateType)
               else F.regexp_replace(col.cast("string"), " ", "T"))
        return term_struct(F.lit(TT_LITERAL), lex, F.lit(XSD_DATETIME),
                           k=F.lit(K_DATETIME), x=null_x, d=null_d,
                           ts=col.cast("timestamp"))
    return None  # arrays/maps/binary are not mapped into the graph


def subject_term(table: str, df: DataFrame) -> Column:
    """The subject IRI term for a row of `table`."""
    code, key_cols, _ = TPCH_SPEC[table]
    if table in HASH_SUBJECT_TABLES:
        row_id = F.xxhash64(*[F.col(f.name) for f in df.schema.fields]).cast("string")
    else:
        row_id = F.concat_ws("-", *[F.col(k).cast("string") for k in key_cols])
    return term_struct(F.lit(TT_IRI), F.concat(F.lit(f"x:{code}:"), row_id))


_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)

# nkey template marker for integer-LITERAL objects (vs entity IRIs,
# whose template is the target table name)
NKEY_INT = "xsd:integer"


def subject_native(table: str, df: DataFrame) -> Optional[Column]:
    """The LONG the table's subject IRI is minted from, or None.

    subject_term builds `x:<code>:` + str(row_id); when row_id is a
    single integral key (or the xxhash64 of a hash-subject table),
    str(long) is injective, so long-equality on this column ⟺ subject
    IRI equality within the table's id space. Consumed by the native
    join-key path (plans/join.py VarInfo.nkey)."""
    _, key_cols, _ = TPCH_SPEC[table]
    if table in HASH_SUBJECT_TABLES:
        return F.xxhash64(*[F.col(f.name) for f in df.schema.fields])
    if len(key_cols) != 1:
        return None
    if not isinstance(df.schema[key_cols[0]].dataType, _INT_TYPES):
        return None
    return F.col(key_cols[0]).cast("long")


def object_native(table: str, col_name: str, df: DataFrame
                  ) -> Optional[tuple]:
    """(template, LONG column) when the object term is an injective
    function of an integral column: for an FK the object IRI is
    `x:<tgt code>:` + str(value) and the template is the target table;
    for a plain integral column the object is the xsd:integer literal of
    the value (int_term is injective on long) and the template is the
    marker "xsd:integer" — two vars minted under the SAME template may
    join/group on the longs (plans/join.py VarInfo.nkey). The marker
    can never collide with a table name."""
    fks = TPCH_SPEC[table][2]
    if not isinstance(df.schema[col_name].dataType, _INT_TYPES):
        return None
    tgt = fks.get(col_name)
    if tgt is not None:
        return tgt, F.col(col_name).cast("long")
    return NKEY_INT, F.col(col_name).cast("long")


def static_object_kind(table: str, col_name: str, df: DataFrame) -> Optional[int]:
    """static kind (typed_ops.TermExpr) of this column's object terms, or None.

    The relational mapping is statically typed: every object term produced
    from a given column has one known kind, which expression compilation
    exploits to emit single-branch code (see functions/typed_ops.py)."""
    from ..functions.typed_ops import SK_IRI, SK_PLAIN
    from ..terms import K_DATETIME, K_DOUBLE, K_INTEGER

    fks = TPCH_SPEC[table][2]
    if col_name in fks:
        return SK_IRI
    dtype = df.schema[col_name].dataType
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return K_INTEGER
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return K_DOUBLE
    if isinstance(dtype, T.DecimalType):
        from ..terms import K_DECIMAL
        return K_DECIMAL
    if isinstance(dtype, T.StringType):
        return SK_PLAIN
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return K_DATETIME
    return None


def object_term(table: str, col_name: str, df: DataFrame,
                lazy: bool = False,
                assume_nonnull: bool = False) -> Optional[Column]:
    """The object term for one column of `table` (NULL row value → NULL term);
    None when the column is not mapped into the graph (arrays/maps/binary).

    lazy=True emits doubles/timestamps without their lexical form (v=NULL,
    reconstructed on demand) — safe ONLY on the virtual scan path, where
    constant-object filters run natively on the source column; the quads
    union keeps eager lexicals so term_matches stays representation-exact.

    assume_nonnull=True skips the `F.when(col.isNotNull(), ...)` wrapper —
    correct ONLY under a scan that already filters the source column
    non-null natively (every virtual scan site does). The wrapper is what
    turns every downstream field extraction into a CASE: filters over the
    term compile to `CASE WHEN isnotnull(c) THEN pred(c) ELSE false END`,
    a shape Catalyst cannot unfold into pushable conjuncts, so range
    predicates (q1's l_shipdate bound) never reached PushedFilters. With
    the bare struct, extraction folds to the native column and flat
    comparisons push to parquet row-group stats (guide §6)."""
    fks = TPCH_SPEC[table][2]
    if col_name in fks:
        tgt_code = TPCH_SPEC[fks[col_name]][0]
        obj = term_struct(
            F.lit(TT_IRI),
            F.concat(F.lit(f"x:{tgt_code}:"), F.col(col_name).cast("string")),
        )
        return obj if assume_nonnull \
            else F.when(F.col(col_name).isNotNull(), obj)
    dtype = df.schema[col_name].dataType
    lit = _literal_for(F.col(col_name), dtype, lazy=lazy)
    if lit is None:
        return None
    return lit if assume_nonnull \
        else F.when(F.col(col_name).isNotNull(), lit)


def table_to_quads(df: DataFrame, table: str) -> DataFrame:
    """One table → quads(graph=NULL, subject, predicate, object)."""
    subj = subject_term(table, df)

    pairs: list[Column] = [
        F.struct(_const_iri(RDF_TYPE).alias("p"), _const_iri(class_iri(table)).alias("o"))
    ]
    for field in df.schema.fields:
        pred = _const_iri(predicate_iri(table, field.name))
        obj = object_term(table, field.name, df)
        if obj is None:
            continue
        pairs.append(F.struct(pred.alias("p"), obj.alias("o")))

    exploded = df.select(
        subj.alias("subject"), F.explode(F.array(*pairs)).alias("po")
    ).where(F.col("po.o").isNotNull())
    return exploded.select(
        _const_iri(graph_iri(table)).alias("graph"),
        F.col("subject"),
        F.col("po.p").alias("predicate"),
        F.col("po.o").alias("object"),
    )


def load_relational_graph(
    spark: SparkSession,
    sf_dir: str,
    tables: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Union of per-table quads for the driver's synthetic warehouse."""
    configure_session(spark)
    names = list(tables) if tables else list(TPCH_TABLES)
    out: Optional[DataFrame] = None
    for t in names:
        df = read_table(spark, sf_dir, t)
        q = table_to_quads(df, t)
        out = q if out is None else out.unionByName(q)
    assert out is not None
    return out


def _nanos_ts_columns(path: str) -> list[str]:
    """Columns stored as parquet timestamp[ns] (Spark surfaces them as raw
    nanosecond longs under nanosAsLong). One footer read — O(1) at any scale."""
    try:
        import pyarrow.parquet as pq
        return [f.name for f in pq.read_schema(path)
                if str(f.type) == "timestamp[ns]"]
    except Exception:
        return []


def read_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one warehouse table with timestamp normalization applied."""
    configure_session(spark)
    path = f"{sf_dir}/{table}.parquet"
    df = spark.read.parquet(path)
    for c in _nanos_ts_columns(path):
        # integer div: nanos exceed 2^53, float division would lose precision
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    return df
