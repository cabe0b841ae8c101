"""RDF term model for the PySpark engine.

The engine's universal value domain is the *plain term*: a Spark struct
mirroring the reference's PlainTerm Arrow encoding
(reference: lib/encoding/src/plain_term/encoding.rs:17-76) —

    struct<t: tinyint NOT NULL,   -- 0=IRI, 1=blank node, 2=literal
           v: string  NOT NULL,   -- IRI string / bnode id / lexical form
           dt: string NULL,       -- datatype IRI (literals only)
           lang: string NULL>     -- language tag (lang literals only)

Design decisions (Spark-first, not a port):
  * Struct columns support `=`, hash joins, groupBy and dropDuplicates
    natively in Spark, and struct equality treats NULL fields as equal —
    which is exactly SPARQL `sameTerm` semantics
    (reference invariant: lib/encoding/src/encoding.rs:80-83).
  * Simple literals are canonicalized to dt=xsd:string and language tags
    are lower-cased at construction, so byte-equality == term identity.
  * The TypedValue union encoding of the reference
    (lib/encoding/src/typed_value/encoding.rs:16-136) is NOT materialized;
    value-space views are computed lazily as Column expressions in
    functions/typed_ops.py. Catalyst's common-subexpression elimination and
    whole-stage codegen make the recomputation cheap, and we avoid carrying
    a wide union struct through every shuffle.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Union

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Well-known IRIs
# ---------------------------------------------------------------------------

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS_NS = "http://www.w3.org/2000/01/rdf-schema#"

XSD_STRING = XSD + "string"
XSD_BOOLEAN = XSD + "boolean"
XSD_INTEGER = XSD + "integer"
XSD_INT = XSD + "int"
XSD_LONG = XSD + "long"
XSD_SHORT = XSD + "short"
XSD_BYTE = XSD + "byte"
XSD_NON_NEGATIVE_INTEGER = XSD + "nonNegativeInteger"
XSD_NON_POSITIVE_INTEGER = XSD + "nonPositiveInteger"
XSD_NEGATIVE_INTEGER = XSD + "negativeInteger"
XSD_POSITIVE_INTEGER = XSD + "positiveInteger"
XSD_UNSIGNED_LONG = XSD + "unsignedLong"
XSD_UNSIGNED_INT = XSD + "unsignedInt"
XSD_UNSIGNED_SHORT = XSD + "unsignedShort"
XSD_UNSIGNED_BYTE = XSD + "unsignedByte"
XSD_DECIMAL = XSD + "decimal"
XSD_FLOAT = XSD + "float"
XSD_DOUBLE = XSD + "double"
XSD_DATETIME = XSD + "dateTime"
XSD_DATE = XSD + "date"
XSD_TIME = XSD + "time"
XSD_DURATION = XSD + "duration"
XSD_YEAR_MONTH_DURATION = XSD + "yearMonthDuration"
XSD_DAY_TIME_DURATION = XSD + "dayTimeDuration"
RDF_LANG_STRING = RDF_NS + "langString"
RDF_TYPE = RDF_NS + "type"

# integer-family datatypes (value space ⊆ xsd:integer)
INTEGER_TYPES = (
    XSD_INTEGER, XSD_INT, XSD_LONG, XSD_SHORT, XSD_BYTE,
    XSD_NON_NEGATIVE_INTEGER, XSD_NON_POSITIVE_INTEGER,
    XSD_NEGATIVE_INTEGER, XSD_POSITIVE_INTEGER,
    XSD_UNSIGNED_LONG, XSD_UNSIGNED_INT, XSD_UNSIGNED_SHORT,
    XSD_UNSIGNED_BYTE,
)
NUMERIC_TYPES = INTEGER_TYPES + (XSD_DECIMAL, XSD_FLOAT, XSD_DOUBLE)

# term_type codes (reference: lib/encoding/src/plain_term/encoding.rs term_type)
TT_IRI = 0
TT_BNODE = 1
TT_LITERAL = 2

# ---------------------------------------------------------------------------
# Spark schema
# ---------------------------------------------------------------------------

# The plain-term identity fields (t, v, dt, lang) are extended with DERIVED
# typed-value fields so hot paths never re-parse lexical forms (the Spark
# analogue of the reference's TypedValue encoding, materialized inline):
#   k  — value-kind rank: 0=integer 1=decimal 2=float 3=double 4=string
#        5=boolean 6=dateTime/date 7=other literal; NULL for IRI/bnode
#   x  — double view (numerics; booleans as 1.0/0.0)
#   d  — exact decimal(38,18) view (integer/decimal family)
#   ts — timestamp view (dateTime/date)
# Every field is a pure function of (t, v, dt, lang), so whole-struct
# equality still implements sameTerm and joins/groupBy stay correct.
TERM_FIELDS = [
    T.StructField("t", T.ByteType(), False),
    T.StructField("v", T.StringType(), False),
    T.StructField("dt", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
    T.StructField("k", T.ByteType(), True),
    T.StructField("x", T.DoubleType(), True),
    T.StructField("d", T.DecimalType(38, 18), True),
    T.StructField("ts", T.TimestampType(), True),
]
TERM_TYPE = T.StructType(TERM_FIELDS)
TERM_DDL = ("struct<t:tinyint,v:string,dt:string,lang:string,"
            "k:tinyint,x:double,d:decimal(38,18),ts:timestamp>")

# k codes
K_INTEGER, K_DECIMAL, K_FLOAT, K_DOUBLE = 0, 1, 2, 3
K_STRING, K_BOOLEAN, K_DATETIME, K_OTHER = 4, 5, 6, 7
# durations reuse the numeric slots of the struct: x = total months
# (year-month part), d = total seconds (day-time part). 8 is reserved
# (static kind SK_PLAIN); 9 keeps data k codes and static kinds aligned.
K_DURATION = 9

DURATION_TYPES = (XSD_DURATION, XSD_YEAR_MONTH_DURATION,
                  XSD_DAY_TIME_DURATION)

# value-space regex for all three duration types (XSD 1.1 §3.3.6)
DURATION_RE = (r"^-?P(?=\d|T\d)(\d+Y)?(\d+M)?(\d+D)?"
               r"(T(?=\d)(\d+H)?(\d+M)?(\d+(\.\d+)?S)?)?$")


def parse_duration(lexical: str):
    """xsd:duration lexical → (months, seconds) or None if invalid."""
    import re as _re
    if not _re.match(DURATION_RE, lexical):
        return None
    sign = -1 if lexical.startswith("-") else 1
    date_part, _, time_part = lexical.partition("T")

    def grab(pat, src):
        m = _re.search(pat, src)
        return m.group(1) if m else "0"

    months = 12 * int(grab(r"(\d+)Y", date_part)) \
        + int(grab(r"(\d+)M", date_part))
    from decimal import Decimal
    seconds = (Decimal(86400) * int(grab(r"(\d+)D", date_part))
               + Decimal(3600) * int(grab(r"(\d+)H", time_part))
               + Decimal(60) * int(grab(r"(\d+)M", time_part))
               + Decimal(grab(r"(\d+(?:\.\d+)?)S", time_part)))
    return (sign * months, sign * seconds)


def format_duration(months: int, seconds) -> str:
    """Canonical duration lexical from (months, seconds)."""
    from decimal import Decimal
    seconds = Decimal(seconds)
    if months == 0 and seconds == 0:
        return "PT0S"
    neg = months < 0 or seconds < 0
    months, seconds = abs(months), abs(seconds)
    out = ["-P" if neg else "P"]
    y, mo = divmod(months, 12)
    if y:
        out.append(f"{y}Y")
    if mo:
        out.append(f"{mo}M")
    days, rem = divmod(seconds, 86400)
    hours, rem = divmod(rem, 3600)
    mins, secs = divmod(rem, 60)
    if days:
        out.append(f"{int(days)}D")
    if hours or mins or secs:
        out.append("T")
        if hours:
            out.append(f"{int(hours)}H")
        if mins:
            out.append(f"{int(mins)}M")
        if secs:
            s = str(secs.normalize())
            if "E" in s:  # Decimal normalize can produce 6E+1
                s = str(int(secs))
            out.append(f"{s}S")
    return "".join(out)

# the quads table schema (reference: lib/model/src/quads.rs:1-4)
# graph is NULL for the default graph.
QUADS_SCHEMA = T.StructType([
    T.StructField("graph", TERM_TYPE, True),
    T.StructField("subject", TERM_TYPE, False),
    T.StructField("predicate", TERM_TYPE, False),
    T.StructField("object", TERM_TYPE, False),
])

COL_GRAPH = "graph"
COL_SUBJECT = "subject"
COL_PREDICATE = "predicate"
COL_OBJECT = "object"


# ---------------------------------------------------------------------------
# Python-side term values (used in patterns, constants, test fixtures)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class NamedNode:
    iri: str

    def __str__(self) -> str:  # N-Triples form
        return f"<{self.iri}>"


@dataclass(frozen=True)
class BlankNode:
    id: str

    def __str__(self) -> str:
        return f"_:{self.id}"


@dataclass(frozen=True)
class Literal:
    lexical: str
    datatype: str = XSD_STRING
    language: Optional[str] = None

    def __post_init__(self):
        if self.language is not None:
            object.__setattr__(self, "language", self.language.lower())
            object.__setattr__(self, "datatype", RDF_LANG_STRING)

    def __str__(self) -> str:
        esc = (self.lexical.replace("\\", "\\\\").replace('"', '\\"')
               .replace("\n", "\\n").replace("\r", "\\r"))
        if self.language:
            return f'"{esc}"@{self.language}'
        if self.datatype and self.datatype != XSD_STRING:
            return f'"{esc}"^^<{self.datatype}>'
        return f'"{esc}"'


@dataclass(frozen=True)
class Variable:
    name: str

    def __str__(self) -> str:
        return f"?{self.name}"


Term = Union[NamedNode, BlankNode, Literal]
TermOrVar = Union[NamedNode, BlankNode, Literal, Variable]

# default graph sentinel used in the public API (maps to NULL graph column)
DEFAULT_GRAPH = None


def integer(n: int) -> Literal:
    return Literal(str(n), XSD_INTEGER)


def double(x: float) -> Literal:
    return Literal(repr(float(x)), XSD_DOUBLE)


def boolean(b: bool) -> Literal:
    return Literal("true" if b else "false", XSD_BOOLEAN)


def string(s: str) -> Literal:
    return Literal(s, XSD_STRING)


# ---------------------------------------------------------------------------
# Column builders
# ---------------------------------------------------------------------------

# Constant-Column memo: every F.lit()/cast() is a py4j round trip (~0.2 ms),
# and the expression compiler builds tens of thousands of them per query —
# constant reuse cuts plan-build time several-fold. Columns are immutable
# expression wrappers, so sharing one object across call sites is safe; the
# cache is keyed on the live SparkContext so a JVM restart invalidates it.
_CCACHE: dict = {}


def memo_col(key, build) -> Column:
    from pyspark import SparkContext
    sc = SparkContext._active_spark_context
    full = (id(sc), key)
    col = _CCACHE.get(full)
    if col is None:
        col = build()
        if len(_CCACHE) > 4096:
            _CCACHE.clear()
        _CCACHE[full] = col
    return col


def lit_str(s: Optional[str]) -> Column:
    """Memoized string literal (datatype IRIs, constant lexicals)."""
    if s is None:
        return _null_str()
    return memo_col(("s", s), lambda: F.lit(s))


def _tt(code: int) -> Column:
    return memo_col(("tt", code), lambda: F.lit(code).cast("tinyint"))


def _null_str() -> Column:
    return memo_col("nullstr", lambda: F.lit(None).cast("string"))


def duration_months_col(v: Column) -> Column:
    """Year-month part of a duration lexical, in months (NULL if invalid)."""
    valid = v.rlike(DURATION_RE)
    sign = F.when(v.startswith("-"), -1.0).otherwise(1.0)
    date_part = F.split(v, "T")[0]
    y = F.coalesce(F.regexp_extract(date_part, r"(\d+)Y", 1).try_cast("double"),
                   F.lit(0.0))
    mo = F.coalesce(F.regexp_extract(date_part, r"(\d+)M", 1).try_cast("double"),
                    F.lit(0.0))
    return F.when(valid, sign * (y * 12 + mo))


def duration_seconds_col(v: Column) -> Column:
    """Day-time part of a duration lexical, in seconds (NULL if invalid)."""
    valid = v.rlike(DURATION_RE)
    sign = F.when(v.startswith("-"), F.lit(-1).cast("decimal(38,18)")) \
        .otherwise(F.lit(1).cast("decimal(38,18)"))
    parts = F.split(v, "T")
    date_part, time_part = parts[0], F.coalesce(parts[1], F.lit(""))
    dd = F.coalesce(F.regexp_extract(date_part, r"(\d+)D", 1)
                    .try_cast("decimal(38,18)"), F.lit(0).cast("decimal(38,18)"))
    h = F.coalesce(F.regexp_extract(time_part, r"(\d+)H", 1)
                   .try_cast("decimal(38,18)"), F.lit(0).cast("decimal(38,18)"))
    mi = F.coalesce(F.regexp_extract(time_part, r"(\d+)M", 1)
                    .try_cast("decimal(38,18)"), F.lit(0).cast("decimal(38,18)"))
    s = F.coalesce(F.regexp_extract(time_part, r"(\d+(?:\.\d+)?)S", 1)
                   .try_cast("decimal(38,18)"), F.lit(0).cast("decimal(38,18)"))
    total = (dd * 86400 + h * 3600 + mi * 60 + s).cast("decimal(38,18)")
    return F.when(valid, (sign * total).cast("decimal(38,18)"))


def term_struct(t: Column, v: Column, dt: Column = None, lang: Column = None,
                k: Column = None, x: Column = None, d: Column = None,
                ts: Column = None) -> Column:
    """Assemble a term struct column from parts.

    Typed-value fields (k/x/d/ts) are derived from (t, v, dt) when not given
    explicitly — pass them at construction sites that already hold native
    values (scans, arithmetic) to skip the lexical parse entirely.
    """
    t = t.cast("tinyint")
    dt_c = dt if dt is not None else _null_str()
    if k is None:
        k = F.when(
            t == TT_LITERAL,
            F.when(dt_c.isin(*INTEGER_TYPES), K_INTEGER)
            .when(dt_c == XSD_DECIMAL, K_DECIMAL)
            .when(dt_c == XSD_FLOAT, K_FLOAT)
            .when(dt_c == XSD_DOUBLE, K_DOUBLE)
            .when((dt_c == XSD_STRING) | (dt_c == RDF_LANG_STRING)
                  | dt_c.isNull(), K_STRING)
            .when(dt_c == XSD_BOOLEAN, K_BOOLEAN)
            .when(dt_c.isin(XSD_DATETIME, XSD_DATE, XSD_TIME), K_DATETIME)
            .when(dt_c.isin(*DURATION_TYPES), K_DURATION)
            .otherwise(K_OTHER),
        )
    k = k.cast("tinyint") if isinstance(k, Column) else F.lit(k).cast("tinyint")
    if x is None:
        x = (
            F.when(k <= K_DOUBLE,
                   F.when(v == "INF", F.lit(float("inf")))
                   .when(v == "-INF", F.lit(float("-inf")))
                   .otherwise(v.try_cast("double")))
            .when(k == K_BOOLEAN,
                  F.when(v.isin("true", "1"), 1.0)
                  .when(v.isin("false", "0"), 0.0))
            .when(k == K_DURATION, duration_months_col(v))
        )
    if d is None:
        d = (
            F.when(k <= K_DECIMAL, v.try_cast("decimal(38,18)"))
            .when(k == K_DURATION, duration_seconds_col(v))
        )
    if ts is None:
        # xsd:time anchors on the epoch date so the timestamp accessors
        # (HOURS/MINUTES/SECONDS) and time-vs-time comparison just work
        ts = F.when(
            k == K_DATETIME,
            F.when(dt_c == XSD_TIME,
                   F.concat(F.lit("1970-01-01 "), v).try_cast("timestamp"))
            .otherwise(v.try_cast("timestamp")))
    return F.struct(
        t.alias("t"),
        v.alias("v"),
        dt_c.alias("dt"),
        (lang if lang is not None else _null_str()).alias("lang"),
        k.alias("k"),
        (x.cast("double") if isinstance(x, Column) else F.lit(x).cast("double")).alias("x"),
        (d.cast("decimal(38,18)") if isinstance(d, Column) else F.lit(d).cast("decimal(38,18)")).alias("d"),
        (ts.cast("timestamp") if isinstance(ts, Column) else F.lit(ts).cast("timestamp")).alias("ts"),
    )


def static_kind_for_datatype(dt: Optional[str]) -> int:
    """k for a datatype IRI known at plan-build time (mirrors the runtime
    ladder in term_struct and the Python-side switch in term_py_row)."""
    if dt is None or dt in (XSD_STRING, RDF_LANG_STRING):
        return K_STRING
    if dt in INTEGER_TYPES:
        return K_INTEGER
    if dt == XSD_DECIMAL:
        return K_DECIMAL
    if dt == XSD_FLOAT:
        return K_FLOAT
    if dt == XSD_DOUBLE:
        return K_DOUBLE
    if dt == XSD_BOOLEAN:
        return K_BOOLEAN
    if dt in (XSD_DATETIME, XSD_DATE, XSD_TIME):
        return K_DATETIME
    if dt in DURATION_TYPES:
        return K_DURATION
    return K_OTHER


def term_struct_static_dt(v: Column, dt: str) -> Column:
    """Literal term struct for a CONSTANT datatype IRI (e.g. STRDT with a
    literal IRI argument, the common case).

    term_struct's derived k/x/d/ts are runtime ladders over every kind —
    including the duration regex parsers — and Catalyst's extract-value
    simplification duplicates those ladders into every downstream field
    reference, exploding the optimized tree (a single STRDT + '=' took
    ~10 s to plan). With the datatype fixed, k is a constant and only the
    views this datatype can populate are built.
    """
    k = static_kind_for_datatype(dt)
    none = F.lit(None)
    x = d = ts = none
    if k in (K_INTEGER, K_DECIMAL):
        x, d = v.try_cast("double"), v.try_cast("decimal(38,18)")
    elif k in (K_FLOAT, K_DOUBLE):
        # XSD writes INF/-INF; Spark's cast only accepts Infinity forms
        x = (F.when(v == "INF", F.lit(float("inf")))
             .when(v == "-INF", F.lit(float("-inf")))
             .otherwise(v.try_cast("double")))
    elif k == K_BOOLEAN:
        x = (F.when(v.isin("true", "1"), 1.0)
             .when(v.isin("false", "0"), 0.0))
    elif k == K_DATETIME:
        ts = (F.concat(F.lit("1970-01-01 "), v).try_cast("timestamp")
              if dt == XSD_TIME else v.try_cast("timestamp"))
    elif k == K_DURATION:
        x = duration_months_col(v).cast("double")
        d = duration_seconds_col(v)
    return term_struct(F.lit(TT_LITERAL), v, F.lit(dt), None,
                       k, x, d, ts)


def iri_col(v: Column) -> Column:
    return term_struct(_tt(TT_IRI), v)


def bnode_col(v: Column) -> Column:
    return term_struct(_tt(TT_BNODE), v)


def literal_col(v: Column, datatype: str = XSD_STRING, lang: Column = None) -> Column:
    if lang is not None:
        return term_struct(_tt(TT_LITERAL), v, F.lit(RDF_LANG_STRING), F.lower(lang))
    return term_struct(_tt(TT_LITERAL), v, F.lit(datatype))


def typed_literal_col(v: Column, dt: Column) -> Column:
    return term_struct(_tt(TT_LITERAL), v, dt)


def _canon_dec_py(d) -> str:
    """Python mirror of typed_ops.canon_decimal_string over a quantized
    Decimal: fixed-point, trailing zeros stripped, no signed zero (Spark
    BigDecimal prints 0 unsigned)."""
    if d == 0:
        return "0"
    s = format(d, "f")
    if "." in s:
        s = s.rstrip("0").rstrip(".")
    return s


def _java_simple_double_str(x: float):
    """Java Double.toString for the plain-notation range, or None when
    outside it (scientific notation — conservatively 'unknown'). Within
    [1e-3, 1e7) both Java and Python print the shortest round-trip
    decimal in plain notation, so repr() matches."""
    import math
    if math.isnan(x):
        return "NaN"
    if math.isinf(x):
        return "INF" if x > 0 else "-INF"
    ax = abs(x)
    if ax != 0.0 and not (1e-3 <= ax < 1e7):
        return None
    r = repr(x)
    if "e" in r or "E" in r:
        return None
    if "." not in r:
        r += ".0"
    return r


def _const_vcanon(k, v, dt, d, x) -> bool:
    """True when a constant literal's lexical/datatype are exactly what
    the engine's canonical rebuild from the typed fields would produce —
    the precondition for treating the constant as value-canonical
    (plans/join.py VarInfo.vcanon). '05'^^xsd:integer, '5'^^xsd:int,
    '1.0E10'^^xsd:double etc. all answer False."""
    if k == K_INTEGER:
        return dt == XSD_INTEGER and d is not None and _canon_dec_py(d) == v
    if k == K_DECIMAL:
        return dt == XSD_DECIMAL and d is not None and _canon_dec_py(d) == v
    if k == K_DOUBLE:
        return dt == XSD_DOUBLE and x is not None \
            and _java_simple_double_str(x) == v
    return False


def term_lit(term: Term):
    """A constant term as a functions/typed_ops.TermExpr over a literal
    struct (`.col` is the Column).

    The typed fields (k/x/d/ts) are computed in PYTHON, not as derived
    Column CASE chains — constant terms are referenced many times inside
    compiled expressions (numeric dispatch inspects each operand ~20×),
    so their Column form must stay tiny or analysis blows up.
    """
    return memo_col(("term", term), lambda: _build_term_lit(term))


def _build_term_lit(term: Term):
    from .functions.typed_ops import SK_BNODE, SK_IRI, SK_PLAIN, TermExpr
    row = term_py_row(term)
    t, v, dt, lang, k, x, d, ts = row
    col = F.struct(
        F.lit(t).cast("tinyint").alias("t"),
        F.lit(v).alias("v"),
        F.lit(dt).cast("string").alias("dt"),
        F.lit(lang).cast("string").alias("lang"),
        F.lit(k).cast("tinyint").alias("k"),
        F.lit(x).cast("double").alias("x"),
        F.lit(d).cast("decimal(38,18)").alias("d"),
        F.lit(ts).cast("timestamp").alias("ts"),
    )
    # static kind (see functions/typed_ops.py): constants have a fully
    # known kind, which lets consuming operators compile single-branch
    if t == TT_IRI:
        kind = SK_IRI
    elif t == TT_BNODE:
        kind = SK_BNODE
    elif k == K_STRING and lang is None:
        kind = SK_PLAIN
    else:
        kind = k
    return TermExpr(col, kind, vcanon=(
        t == TT_LITERAL and _const_vcanon(k, v, dt, d, x)))


def term_matches(col: Column, term: Term) -> Column:
    """Field-level equality filter for a constant term.

    Emitted as a conjunction of leaf comparisons (not struct equality) so
    Catalyst pushes each predicate into the Parquet scan
    (reference analogue: pattern constant filters,
    lib/logical/src/patterns/rewrite.rs:29-150).
    """
    if isinstance(term, NamedNode):
        return (col["t"] == TT_IRI) & (col["v"] == term.iri)
    if isinstance(term, BlankNode):
        return (col["t"] == TT_BNODE) & (col["v"] == term.id)
    if isinstance(term, Literal):
        cond = (col["t"] == TT_LITERAL) & (col["v"] == term.lexical)
        if term.language:
            cond = cond & (col["lang"] == term.language)
        else:
            cond = cond & (col["dt"] == term.datatype) & col["lang"].isNull()
        return cond
    raise TypeError(f"not a term: {term!r}")


def same_term(a: Column, b: Column) -> Column:
    """SPARQL sameTerm — struct equality (NULL fields compare equal in Spark
    struct ordering, matching 'dt is NULL on both sides' identity)."""
    return a == b


def is_iri(c: Column) -> Column:
    return c["t"] == TT_IRI


def is_bnode(c: Column) -> Column:
    return c["t"] == TT_BNODE


def is_literal(c: Column) -> Column:
    return c["t"] == TT_LITERAL


def is_numeric_literal(c: Column) -> Column:
    return (c["t"] == TT_LITERAL) & c["dt"].isin(*NUMERIC_TYPES)


def term_py_row(t: Optional[Term]):
    """Python-side term → an 8-field row tuple matching TERM_TYPE (used by
    createDataFrame boundaries: VALUES, from_python_quads, fixtures)."""
    import datetime as _dt
    import decimal as _decimal

    if t is None:
        return None
    if isinstance(t, NamedNode):
        return (TT_IRI, t.iri, None, None, None, None, None, None)
    if isinstance(t, BlankNode):
        return (TT_BNODE, t.id, None, None, None, None, None, None)
    assert isinstance(t, Literal)
    dt = t.datatype
    lang = t.language
    k = x = d = ts = None
    if lang is not None or dt in (XSD_STRING, RDF_LANG_STRING) or dt is None:
        k = K_STRING
    elif dt in INTEGER_TYPES or dt == XSD_DECIMAL:
        k = K_INTEGER if dt in INTEGER_TYPES else K_DECIMAL
        # x and d independently, as the Spark side derives them
        # (term_struct's try_casts): d is NULL only when the value does
        # not fit decimal(38,18), whose 38 digits the local context holds
        # (a NaN quantizes quietly, so it is caught by is_finite)
        try:
            x = float(t.lexical)
        except ValueError:
            x = None
        with _decimal.localcontext(prec=38, rounding=_decimal.ROUND_HALF_UP):
            try:
                d = _decimal.Decimal(t.lexical).quantize(
                    _decimal.Decimal(1).scaleb(-18))
            except ArithmeticError:
                d = None
        if d is not None and not d.is_finite():
            d = None
    elif dt in (XSD_FLOAT, XSD_DOUBLE):
        k = K_FLOAT if dt == XSD_FLOAT else K_DOUBLE
        try:
            x = float(t.lexical)
        except ValueError:
            x = None
    elif dt == XSD_BOOLEAN:
        k = K_BOOLEAN
        x = {"true": 1.0, "1": 1.0, "false": 0.0, "0": 0.0}.get(t.lexical)
    elif dt in (XSD_DATETIME, XSD_DATE, XSD_TIME):
        k = K_DATETIME
        lex = t.lexical if dt != XSD_TIME else f"1970-01-01T{t.lexical}"
        try:
            ts = _dt.datetime.fromisoformat(lex)
            if ts.tzinfo is not None:
                ts = ts.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        except ValueError:
            ts = None
    elif dt in DURATION_TYPES:
        k = K_DURATION
        parsed = parse_duration(t.lexical)
        if parsed is not None:
            x = float(parsed[0])        # months
            import decimal as _decimal
            # prec=60: a large day-time part (e.g. P2000000D) needs more
            # than the default 28 significant digits once quantized to
            # scale 18; decimal(38,18) can hold 20 integer digits
            with _decimal.localcontext() as _ctx:
                _ctx.prec = 60
                d = _decimal.Decimal(parsed[1]).quantize(
                    _decimal.Decimal(1).scaleb(-18))  # seconds
    else:
        k = K_OTHER
    return (TT_LITERAL, t.lexical, dt, lang, k, x, d, ts)


def _double_lexical(x: float) -> str:
    """A double as Spark's string cast renders it (Java's Double.toString:
    plain for 1e-3 <= |x| < 1e7, else d.dddE<n>), with canon_double_string's
    INF/-INF/NaN. The digits are Python's shortest round-trip ones, which
    Java 19+ prints too; an older JVM prints a few doubles with more."""
    import decimal as _decimal
    import math

    if math.isnan(x):
        return "NaN"
    if math.isinf(x):
        return "INF" if x > 0 else "-INF"
    if x == 0:
        return "-0.0" if math.copysign(1.0, x) < 0 else "0.0"
    sign = "-" if x < 0 else ""
    d = _decimal.Decimal(repr(abs(x))).normalize()
    _, digits, exp = d.as_tuple()
    e = len(digits) + exp - 1
    if -3 <= e < 7:
        s = format(d, "f")
        return sign + (s if "." in s else s + ".0")
    ds = "".join(map(str, digits))
    return f"{sign}{ds[0]}.{ds[1:] or '0'}E{e}"


def _session_tzinfo():
    """The active Spark session's time zone, a region ID such as the UTC
    that sources.relational.configure_session sets (UTC without one)."""
    import zoneinfo

    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    return zoneinfo.ZoneInfo(
        s.conf.get("spark.sql.session.timeZone") if s else "UTC")


def rebuild_lexical(row) -> Optional[str]:
    """Lexical form of a literal term whose `v` is NULL — a lazy lexical
    (virtual-store scans of double/decimal/dateTime columns), rebuilt from
    the typed fields exactly as typed_ops.lexical_of/STR() renders it in
    Spark. `row` is a term struct Row or a dict of its fields; driver-side
    readers call this only on that branch."""
    k = row["k"]
    if k is None:
        return None
    if k <= K_DECIMAL:
        # canon_decimal_string: the plain decimal(38,18) string, trailing
        # zeros and then a bare point stripped (never normalize(): its
        # 28-digit context would round a 38-digit value)
        d = row["d"]
        if d is None:
            return None
        s = format(d, "f")
        return s.rstrip("0").rstrip(".") if "." in s else s
    if k <= K_DOUBLE:
        x = row["x"]
        if x is None:
            return None
        if k == K_FLOAT:
            import struct
            try:
                x = struct.unpack("f", struct.pack("f", x))[0]
            except OverflowError:  # beyond float range: Spark's cast → ±inf
                x = x * float("inf")
            s = _double_lexical(x)
            return s[:-2] if s.endswith(".0") else s
        return _double_lexical(x)
    if k == K_DATETIME and row["ts"] is not None:
        ts = row["ts"]
        # a Row carries a process-local naive datetime, an Arrow batch one
        # already in the session time zone: either way render the session's
        # wall clock, as Spark's timestamp->string cast does
        if ts.tzinfo is None:
            ts = ts.astimezone(_session_tzinfo())
        s = ts.replace(microsecond=0, tzinfo=None).isoformat()
        if ts.microsecond:
            s += f".{ts.microsecond:06d}".rstrip("0")
        return s
    return None


def term_to_python(row) -> Optional[Term]:
    """Decode a term struct Row to a Python term (driver-side, result decoding)."""
    if row is None:
        return None
    t = row["t"]
    if t == TT_IRI:
        return NamedNode(row["v"])
    if t == TT_BNODE:
        return BlankNode(row["v"])
    v = row["v"]
    if v is None:
        v = rebuild_lexical(row)
    if row["lang"]:
        return Literal(v, language=row["lang"])
    return Literal(v, row["dt"] or XSD_STRING)
