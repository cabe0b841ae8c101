"""Value-space views of plain terms, as pure Column expressions.

The reference materializes a TypedValue dense-union encoding and dispatches
per-variant (lib/encoding/src/typed_value/encoding.rs:16-136,
lib/functions/src/scalar/dispatch/binary.rs). In Spark we instead compute
value-space views lazily with CASE expressions over the plain-term struct —
whole-stage codegen folds these into tight JVM loops and we never carry a
wide union struct through shuffles.

SPARQL evaluation errors are modeled as NULL (the reference's ThinError),
which propagates naturally through Spark expressions and is dropped by
FILTER (reference: lib/functions/src/builtin/native/effective_boolean_value.rs).
"""

from __future__ import annotations

import threading
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..terms import (
    INTEGER_TYPES,
    TERM_DDL,
    K_BOOLEAN,
    K_DATETIME,
    K_DECIMAL,
    K_DOUBLE,
    K_DURATION,
    K_FLOAT,
    K_INTEGER,
    K_STRING,
    NUMERIC_TYPES,
    RDF_LANG_STRING,
    TT_LITERAL,
    XSD_BOOLEAN,
    XSD_DATE,
    XSD_DATETIME,
    XSD_DECIMAL,
    XSD_DOUBLE,
    XSD_FLOAT,
    XSD_INTEGER,
    XSD_STRING,
    XSD_TIME,
    _tt,
    lit_str,
    term_struct,
)

DECIMAL_T = "decimal(38,18)"

# numeric promotion ranks == the term struct's k codes for numerics
# (reference ladder: lib/functions/src/aggregates/sum.rs:14-100)
RANK_INTEGER = K_INTEGER
RANK_DECIMAL = K_DECIMAL
RANK_FLOAT = K_FLOAT
RANK_DOUBLE = K_DOUBLE


# ---------------------------------------------------------------------------
# TermExpr — a compiled term expression and what is known about it
#
# Every term-valued SPARQL expression compiles to one frozen TermExpr.
# `col` is the term-struct Column (terms.TERM_TYPE); the other fields are
# facts its producer knows by construction, named as on
# plans/join.VarInfo:
#
# * kind — the static kind: a promise that every NON-NULL value has this k
#   (and, for SK_IRI / SK_BNODE, term type). Sources of truth: the
#   relational scan (column dtypes are known), term constructors (the
#   result kind is known by construction) and constants. Kinded operands
#   compile to single-branch expressions instead of the generic CASE
#   ladder — the Spark analogue of the reference's per-variant dispatch
#   over its dense-union encoding (lib/functions/src/scalar/dispatch/
#   binary.rs).
# * vcanon — the value-canonical marker (VarInfo.vcanon): the non-NULL
#   terms' lexical/datatype are pure functions of the typed value fields.
# * x / d / v / ts — raw channels: the native expression a constructor
#   built the struct's typed field from (double / decimal / string /
#   timestamp). Consumers read the channel (view) instead of a struct-field
#   extraction, so Catalyst can PRUNE the 8-field struct build entirely
#   when only the value is consumed — the struct materialization per
#   intermediate arithmetic node was the largest per-row cost of
#   computed-value queries (q3's ?price*(1-?disc): two 8-field structs per
#   row built only to read back `.x`; guide §1.2-2 per-task work, §2.3
#   narrower types).
#
# x, v and ts are NULL exactly when the term is NULL (every constructor
# wraps its struct in `F.when(raw.isNotNull(), ...)` over the value the
# channel is cast from), so null-guards may read them (witness). d is not
# a null witness: int_term over a decimal(38,0) SUM total of 1e20 or more
# keeps the term but its decimal(38,18) cast overflows (NULL, or an error
# under ANSI mode).
#
# Every fact is optional and only narrows what consumers emit: a record
# carrying the bare `col` takes the generic ladders over the struct
# fields and yields the same answers, so a dropped fact is a missed
# optimization, never a wrong answer.
# ---------------------------------------------------------------------------

SK_PLAIN = 8    # xsd:string literal, lang guaranteed NULL
SK_IRI = 100    # named node
SK_BNODE = 101  # blank node
# statically ALWAYS-NULL: a variable that is provably unbound in its
# solution (compile_term_expr resolves it to a NULL literal). Every
# "non-NULL values have kind X" promise is vacuously true, so generic
# consumers are safe by construction; arithmetic SHORT-CIRCUITS on it
# (error operand -> error result) — without the fold, a nested
# arithmetic tree over NULL literals survives to the optimizer, where
# literal-inlining duplicates each promotion CASE ladder once per
# operand reference per level and the plan grows exponentially before
# constant folding can land (r10 arith fuzz seed 55: a depth-3 BIND
# over two unbound vars OOMed a 10 GB driver at 19 triples).
SK_NULL = 120
# "numeric, rank known only at runtime": every non-NULL value has
# k <= K_DOUBLE but which numeric kind varies row to row (arithmetic
# results). Consumers skip the full type-dispatch ladder and emit the
# 2-branch decimal-vs-double body with runtime k checks — the difference
# between a ~25-reference and a ~2-reference expression per operand, which
# compounds exponentially when Catalyst inlines through Project chains.
SK_NUM = 110

_CHANNELS = ("x", "d", "v", "ts")


@dataclass(frozen=True, eq=False)
class TermExpr:
    """A compiled term expression: the struct Column plus its facts."""
    col: Column
    kind: Optional[int] = None
    vcanon: bool = False
    x: Optional[Column] = None
    d: Optional[Column] = None
    v: Optional[Column] = None
    ts: Optional[Column] = None

    def __getitem__(self, field: str) -> Column:
        """A field of the term struct (the generic path's read)."""
        return self.col[field]

    def view(self, field: str) -> Column:
        """The typed field x/d/v/ts: its raw channel when the producer
        supplied one, else the struct field."""
        raw = getattr(self, field)
        return self.col[field] if raw is None else raw

    def witness(self) -> Column:
        """A Column that is NULL exactly when the term is: the first of
        the x, v, ts channels present (never d, see above), else the
        struct itself."""
        for f in ("x", "v", "ts"):
            raw = getattr(self, f)
            if raw is not None:
                return raw
        return self.col

    def channels(self) -> dict:
        return {f: getattr(self, f) for f in _CHANNELS
                if getattr(self, f) is not None}

    def rehome(self, place: Callable[[Column, str], str]) -> "TermExpr":
        """The same facts over named columns. place(expr, field) puts
        expr on a column and returns its name; field is "" for the term
        itself, else the channel's name. Consumers then read __ex_N_x
        instead of __ex_N.x, so Catalyst prunes the struct column when
        only the value is used."""
        return TermExpr(F.col(place(self.col, "")), self.kind, self.vcanon,
                        **{f: F.col(place(e, f))
                           for f, e in self.channels().items()})


def as_term(c) -> TermExpr:
    """A bare term-struct Column as a record without facts; a record as
    itself. Only for the boundaries that take either: custom-function
    builders (functions/registry.py) and lexical_of's outside callers."""
    return c if isinstance(c, TermExpr) else TermExpr(c)


def _sk_numeric(sk) -> bool:
    return sk is not None and (sk == SK_NUM or sk <= K_DOUBLE)


def _sk_rank_static(sk) -> bool:
    """True when sk pins a single numeric kind (SK_NUM does not)."""
    return sk is not None and sk != SK_NUM and sk <= K_DOUBLE


def _sk_stringish(sk) -> bool:
    return sk in (K_STRING, SK_PLAIN)


def is_numeric(c: TermExpr) -> Column:
    sk = c.kind
    if sk is not None:
        return c.witness().isNotNull() if _sk_numeric(sk) else F.lit(False)
    return c["k"].isNotNull() & (c["k"] <= K_DOUBLE)


def numeric_rank(c: TermExpr) -> Column:
    """0=integer family, 1=decimal, 2=float, 3=double; NULL if not numeric."""
    sk = c.kind
    if sk is not None:
        if sk == SK_NUM:
            return F.when(c.col.isNotNull(), c["k"].cast("int"))
        if _sk_numeric(sk):
            return F.when(c.witness().isNotNull(), F.lit(sk).cast("int"))
        return F.lit(None).cast("int")
    return F.when(c["k"] <= K_DOUBLE, c["k"].cast("int"))


def as_double(c: TermExpr) -> Column:
    """Numeric value as double; NULL (error) for non-numerics / ill-typed."""
    sk = c.kind
    if sk is not None:
        return c.view("x") if _sk_numeric(sk) else None_x()
    return F.when(c["k"] <= K_DOUBLE, c["x"])


def as_long(c: TermExpr) -> Column:
    sk = c.kind
    if sk is not None:
        if sk == K_INTEGER:
            return c.view("d").try_cast("long")
        if sk == SK_NUM:
            return F.when(c["k"] == K_INTEGER, c["d"].try_cast("long"))
        return F.lit(None).cast("long")
    return F.when(c["k"] == K_INTEGER, c["d"].try_cast("long"))


def as_decimal(c: TermExpr) -> Column:
    sk = c.kind
    if sk is not None:
        if sk == SK_NUM:
            return F.when(c["k"] <= K_DECIMAL, c["d"])
        return c.view("d") if sk <= K_DECIMAL else None_d()
    return F.when(c["k"] <= K_DECIMAL, c["d"])


def as_boolean(c: TermExpr) -> Column:
    """xsd:boolean value; NULL for anything else (incl. bad lexicals)."""
    sk = c.kind
    if sk is not None and sk != K_BOOLEAN:
        return F.lit(None).cast("boolean")
    if sk == K_BOOLEAN:
        x = c.view("x")
        return (F.when(x == 1.0, F.lit(True))
                .when(x == 0.0, F.lit(False)))
    b = (F.when(c["x"] == 1.0, F.lit(True))
         .when(c["x"] == 0.0, F.lit(False)))
    return F.when(c["k"] == K_BOOLEAN, b)


def as_timestamp(c: TermExpr) -> Column:
    """xsd:dateTime/date value as a session-UTC timestamp (offset applied)."""
    sk = c.kind
    if sk is not None:
        return c["ts"] if sk == K_DATETIME else None_ts()
    return F.when(c["k"] == K_DATETIME, c["ts"])


def as_string(c: TermExpr) -> Column:
    """String value of simple/xsd:string/lang literals; NULL otherwise
    (argument-compatibility guard for string functions)."""
    sk = c.kind
    if sk is not None:
        return c.view("v") if _sk_stringish(sk) else _null_str()
    return F.when(c["k"] == K_STRING, c["v"])


def is_string_like(c: TermExpr) -> Column:
    sk = c.kind
    if sk is not None:
        return c.witness().isNotNull() if _sk_stringish(sk) else F.lit(False)
    return c["k"].isNotNull() & (c["k"] == K_STRING)


def is_plain_string(c: TermExpr) -> Column:
    sk = c.kind
    if sk is not None:
        if sk == SK_PLAIN:
            return c.witness().isNotNull()
        if sk != K_STRING:
            return F.lit(False)
    return (c["k"] == K_STRING) & c["lang"].isNull()


# ---------------------------------------------------------------------------
# Effective boolean value
# ---------------------------------------------------------------------------

def ebv(c: TermExpr) -> Column:
    """SPARQL effective boolean value; NULL = type error.

    reference: lib/functions/src/builtin/native/effective_boolean_value.rs:98-130
    """
    sk = c.kind
    if sk is not None:
        if sk == K_BOOLEAN:
            body = F.coalesce(c.view("x") == 1.0, F.lit(False))
        elif _sk_numeric(sk):
            x = c.view("x")
            body = F.coalesce((x != 0.0) & ~F.isnan(x), F.lit(False))
        elif _sk_stringish(sk):
            body = F.length(c.view("v")) > 0
        else:
            return F.lit(None).cast("boolean")
        return F.when(c.witness().isNotNull(), body)
    return (
        F.when(c.col.isNull(), F.lit(None).cast("boolean"))
        .when(c["k"] == K_BOOLEAN,
              # ill-typed boolean lexical (x NULL) → false per spec
              F.coalesce(c["x"] == 1.0, F.lit(False)))
        .when(c["k"] <= K_DOUBLE,
              F.coalesce((c["x"] != 0.0) & ~F.isnan(c["x"]), F.lit(False)))
        .when(c["k"] == K_STRING, F.length(c["v"]) > 0)
        .otherwise(F.lit(None).cast("boolean"))
    )


def bool_term(b: Column) -> TermExpr:
    """Wrap a native boolean Column back into an xsd:boolean term
    (reference: NativeBooleanAsTerm, lib/functions/src/builtin/native/)."""
    return TermExpr(F.when(
        b.isNotNull(),
        term_struct(_tt(TT_LITERAL), F.when(b, "true").otherwise("false"),
                    lit_str(XSD_BOOLEAN), k=F.lit(K_BOOLEAN),
                    x=F.when(b, 1.0).otherwise(0.0), d=None_d(), ts=None_ts()),
    ), K_BOOLEAN, x=F.when(b, 1.0).when(~b, 0.0))


def None_d() -> Column:
    from ..terms import memo_col
    return memo_col("None_d", lambda: F.lit(None).cast(DECIMAL_T))


def None_ts() -> Column:
    from ..terms import memo_col
    return memo_col("None_ts", lambda: F.lit(None).cast("timestamp"))


def None_x() -> Column:
    from ..terms import memo_col
    return memo_col("None_x", lambda: F.lit(None).cast("double"))


# ---------------------------------------------------------------------------
# the compile scope — "an expression is being compiled against frame F".
#
# While an Interner is open (`with Interner(df, ctx) as it:`), two things
# hold for every expression compiled on this thread:
#
# - Interning keeps plans LINEAR in expression size. Every builder references
#   its operand Columns several times (numeric_rank / as_long / as_decimal
#   / ... are each a CASE over the operand), so inlining operand trees grows
#   plans exponentially with nesting and OOMs the driver JVM at plan time.
#   Every ECall result is routed through intern() onto named temp columns of
#   F, so operands are always plain column references. Catalyst's
#   CollapseProject keeps multi-referenced aliases materialized, preserving
#   linearity through optimization.
# - Lexicals are lazy. Numeric term constructors skip computing `v`
#   (Double.toString + decimal canonicalization are the single hottest
#   per-row cost); the typed fields carry the value. Any term that escapes
#   an expression (BIND result, aggregate passthrough) is re-materialized by
#   materialize_lexical(), and lexical_of() serves STR()/GROUP_CONCAT over
#   possibly-lazy terms. Constant terms are never lazy, but virtual-store
#   scans build double/decimal/dateTime columns lazily
#   (sources/relational.object_term), so a raw scan column can reach a
#   result with v=NULL: driver-side readers rebuild it
#   (terms.rebuild_lexical), graph serializers materialize it.
#
# The stack of open scopes is per thread: concurrent queries (the HTTP
# endpoint serves each request on its own thread) compile independently.
# ---------------------------------------------------------------------------

class _Scopes(threading.local):
    def __init__(self):
        self.stack: list[Interner] = []


_SCOPES = _Scopes()


class Interner:
    """The compile scope over one frame. Compiled records are placed on
    named temp columns by __call__ (plain Columns by .column); read the
    augmented frame from .df after the block, and drop .names."""

    def __init__(self, df: DataFrame, ctx):
        self.df = df
        self.ctx = ctx  # supplies fresh(prefix) temp-column names
        self.names: list[str] = []

    def __enter__(self) -> "Interner":
        _SCOPES.stack.append(self)
        return self

    def __exit__(self, *exc) -> bool:
        _SCOPES.stack.pop()
        return False

    def _add(self, name: str, col: Column) -> str:
        self.df = self.df.withColumn(name, col)
        self.names.append(name)
        return name

    def column(self, col: Column) -> Column:
        return F.col(self._add(self.ctx.fresh("ex"), col))

    def __call__(self, te: TermExpr) -> TermExpr:
        # the raw channels land on __ex_N_x etc. beside the term __ex_N
        name = self.ctx.fresh("ex")
        return te.rehome(
            lambda col, f: self._add(f"{name}_{f}" if f else name, col))


def intern(te: TermExpr) -> TermExpr:
    """te over named columns of the innermost open scope (te itself when
    none is open)."""
    stack = _SCOPES.stack
    return stack[-1](te) if stack else te


def _lazy() -> bool:
    return bool(_SCOPES.stack)


def canon_decimal_string(d: Column) -> Column:
    """Canonical xsd:decimal lexical: strip trailing zeros, keep ≥1 digit.

    Character rtrim instead of the regexp pair (`0+$` then `\\.$`): same
    result on any decimal rendering (trailing zeros stripped only when a
    point is present, then a bare trailing point), ~an order of magnitude
    cheaper per row than two regex-engine passes — this runs once per
    GROUP for every decimal/integer aggregate output and group key."""
    s = d.cast("string")
    t = F.call_function("rtrim", F.lit("0"), s)
    t = F.call_function("rtrim", F.lit("."), t)
    return F.when(s.contains("."), t).otherwise(s)


def canon_double_string(x: Column) -> Column:
    """xsd:double/float lexical for the special values: Spark renders
    Infinity/-Infinity, XSD writes INF/-INF (NaN agrees)."""
    return (F.when(F.isnan(x), F.lit("NaN"))
            .when(x == float("inf"), F.lit("INF"))
            .when(x == float("-inf"), F.lit("-INF"))
            .otherwise(x.cast("string")))


def _typed_lex(c: TermExpr) -> Column:
    """Recompute a numeric/dateTime lexical from the typed fields."""
    sk = c.kind
    if sk == SK_NUM:
        sk = None  # rank varies at runtime → the generic k-ladder below
    if sk is not None:
        if sk <= K_DECIMAL:
            return canon_decimal_string(c.view("d"))
        if sk == K_FLOAT:
            return F.regexp_replace(
                canon_double_string(c.view("x").cast("float").cast("double")),
                r"\.0$", "")
        if sk == K_DOUBLE:
            return canon_double_string(c.view("x"))
        if sk == K_DATETIME:
            return F.regexp_replace(c.view("ts").cast("string"), " ", "T")
        return _null_str()
    return (
        F.when(c["k"] <= K_DECIMAL, canon_decimal_string(c["d"]))
        .when(c["k"] == K_FLOAT,
              F.regexp_replace(
                  canon_double_string(c["x"].cast("float").cast("double")),
                  r"\.0$", ""))
        .when(c["k"] <= K_DOUBLE, canon_double_string(c["x"]))
        .when(c["k"] == K_DATETIME,
              F.regexp_replace(c["ts"].cast("string"), " ", "T"))
    )


def _sk_lazyable(sk) -> bool:
    """Kinds whose lexical can be reconstructed from the typed fields
    (numerics and dateTime) — the kinds scans/constructors may emit with
    v=NULL."""
    return _sk_numeric(sk) or sk == K_DATETIME


def lexical_of(c) -> Column:
    """The lexical form of a (possibly lazy) term, record or bare Column."""
    c = as_term(c)
    sk = c.kind
    if sk is not None and not _sk_lazyable(sk):
        return c["v"]
    return F.coalesce(c["v"], _typed_lex(c))


def materialize_lexical(c: TermExpr) -> Column:
    """Fill a lazy term's v before it escapes expression scope."""
    sk = c.kind
    if sk is not None and not _sk_lazyable(sk):
        return c.col  # only numeric/dateTime constructors emit lazy lexicals
    needs = c.col.isNull() | c["v"].isNotNull()
    return F.when(
        ~needs if sk is not None else
        (c.col.isNotNull() & c["v"].isNull()
         & ((c["k"] <= K_DOUBLE) | (c["k"] == K_DATETIME))),
        term_struct(c["t"], _typed_lex(c), c["dt"], c["lang"],
                    k=c["k"], x=c["x"], d=c["d"], ts=c["ts"]),
    ).otherwise(c.col)


def _null_str() -> Column:
    return F.lit(None).cast("string")


def int_term(n: Column) -> TermExpr:
    v = _null_str() if _lazy() else n.cast("string")
    return TermExpr(F.when(
        n.isNotNull(),
        term_struct(_tt(TT_LITERAL), v, lit_str(XSD_INTEGER),
                    k=F.lit(K_INTEGER), x=n.cast("double"),
                    d=n.cast(DECIMAL_T), ts=None_ts()),
    ), K_INTEGER, vcanon=True, x=n.cast("double"), d=n.cast(DECIMAL_T))


def double_term(x: Column) -> TermExpr:
    v = _null_str() if _lazy() else canon_double_string(x)
    return TermExpr(F.when(
        x.isNotNull(),
        term_struct(_tt(TT_LITERAL), v, lit_str(XSD_DOUBLE),
                    k=F.lit(K_DOUBLE), x=x.cast("double"), d=None_d(),
                    ts=None_ts()),
    ), K_DOUBLE, vcanon=True, x=x.cast("double"))


def int_term_from_decimal(d: Column) -> TermExpr:
    """xsd:integer term rebuilt from its exact decimal value field `d`
    (the MIN/MAX hash-agg decomposition path): no long roundtrip, so
    integer values beyond int64 survive; lexical lazy/canonical exactly
    like int_term (canon_decimal_string of an integer-valued decimal is
    the plain integer lexical)."""
    v = _null_str() if _lazy() else canon_decimal_string(d)
    return TermExpr(F.when(
        d.isNotNull(),
        term_struct(_tt(TT_LITERAL), v, lit_str(XSD_INTEGER),
                    k=F.lit(K_INTEGER), x=d.cast("double"), d=d,
                    ts=None_ts()),
    ), K_INTEGER, vcanon=True, x=d.cast("double"), d=d)


def decimal_term(x: Column) -> TermExpr:
    x = x.cast(DECIMAL_T)
    v = _null_str() if _lazy() else canon_decimal_string(x)
    return TermExpr(F.when(
        x.isNotNull(),
        term_struct(_tt(TT_LITERAL), v, lit_str(XSD_DECIMAL),
                    k=F.lit(K_DECIMAL), x=x.cast("double"), d=x,
                    ts=None_ts()),
    ), K_DECIMAL, vcanon=True, x=x.cast("double"), d=x)


def duration_lex(months: Column, secs: Column) -> Column:
    """Canonical xsd:duration lexical from (months, seconds) Columns
    (mirror of terms.format_duration)."""
    zero = (months == 0) & (secs == 0)
    neg = (months < 0) | (secs < 0)
    m = F.abs(months).cast("long")
    s = F.abs(secs)
    y, mo = (m / 12).cast("long"), m % 12
    # F.floor, not a decimal cast: casting decimal 2.5 to integer ROUNDS.
    # Components via modular arithmetic, NOT a rem = rem - x*unit chain:
    # the chain re-expands the (often large) secs operand once per level,
    # growing the tree geometrically — a STR(dateTime - dateTime) span
    # expression was 10 KB of plan text from this alone
    days = F.floor(s / 86400).cast("long")
    hours = F.floor((s % 86400) / 3600).cast("long")
    mins = F.floor((s % 3600) / 60).cast("long")
    sec = s % 60
    sec_lex = canon_decimal_string(sec)
    e = F.lit("")
    body = F.concat(
        F.when(neg, F.lit("-")).otherwise(e), F.lit("P"),
        F.when(y > 0, F.concat(y.cast("string"), F.lit("Y"))).otherwise(e),
        F.when(mo > 0, F.concat(mo.cast("string"), F.lit("M"))).otherwise(e),
        F.when(days > 0, F.concat(days.cast("string"), F.lit("D"))).otherwise(e),
        F.when((hours > 0) | (mins > 0) | (sec != 0), F.lit("T")).otherwise(e),
        F.when(hours > 0, F.concat(hours.cast("string"), F.lit("H"))).otherwise(e),
        F.when(mins > 0, F.concat(mins.cast("string"), F.lit("M"))).otherwise(e),
        F.when(sec != 0, F.concat(sec_lex, F.lit("S"))).otherwise(e),
    )
    return F.when(zero, F.lit("PT0S")).otherwise(body)


def duration_term(months: Column, secs: Column, dt: str = None) -> TermExpr:
    """Build a duration term from (months, seconds); canonical lexical.

    reference: lib/model/src/xsd/duration.rs (months+seconds value model).
    """
    from ..terms import XSD_DURATION
    months = months.cast("double")
    secs = secs.cast(DECIMAL_T)
    return TermExpr(F.when(
        months.isNotNull() & secs.isNotNull(),
        term_struct(_tt(TT_LITERAL), duration_lex(months, secs),
                    lit_str(dt or XSD_DURATION), k=F.lit(K_DURATION),
                    x=months, d=secs, ts=None_ts()),
    ), K_DURATION)


# duration ordering (XSD 1.1 partial order): when the month parts are
# equal, order by seconds; otherwise bound the month difference by its
# minimum (28-day) and maximum (31-day) possible spans — outside the
# bounds the order is determinate, inside it is an error (NULL). This is
# slightly more conservative than the spec's four-reference-dates rule,
# so it can return "indeterminate" where the spec decides, but never the
# opposite order. reference: lib/model/src/xsd/duration.rs partial_cmp.
def _duration_cmp3(a: TermExpr, b: TermExpr) -> Column:
    dm = (b["x"] - a["x"]).cast("double")            # months: b - a
    ds = (a["d"] - b["d"]).cast("double")            # seconds: a - b
    by_secs = (F.when(a["d"] < b["d"], -1).when(a["d"] > b["d"], 1)
               .otherwise(0))
    return (
        F.when(dm == 0, by_secs)
        .when((dm > 0) & (ds < dm * 28 * 86400), F.lit(-1))
        .when((dm > 0) & (ds > dm * 31 * 86400), F.lit(1))
        .when((dm < 0) & (-ds < -dm * 28 * 86400), F.lit(1))
        .when((dm < 0) & (-ds > -dm * 31 * 86400), F.lit(-1))
        .otherwise(F.lit(None).cast("int"))
    )


def string_term(s: Column) -> TermExpr:
    return TermExpr(
        F.when(s.isNotNull(),
               term_struct(_tt(TT_LITERAL), s, lit_str(XSD_STRING),
                           k=F.lit(K_STRING), x=None_x(), d=None_d(),
                           ts=None_ts())), SK_PLAIN, v=s)


# ---------------------------------------------------------------------------
# Value-space equality and ordering
# ---------------------------------------------------------------------------

def rdf_equal(a: TermExpr, b: TermExpr, flat: bool = False) -> Column:
    """SPARQL '=' (value space), 3-valued: NULL = error.

    reference: lib/functions/src/scalar/comparison/equal.rs semantics —
    numerics compare by value with promotion; strings by codepoints;
    booleans/dateTimes by value; other literals fall back to sameTerm with
    error when not identical; IRI/bnode compare by identity (false, not
    error, when different node kinds).

    flat=True (positive FILTER context only, where NULL and false are
    indistinguishable): emit `isnotnull(a) AND isnotnull(b) AND body`
    instead of `CASE WHEN ... THEN body`. Catalyst's ExtractEquiJoinKeys
    splits conjunctions but cannot look inside a CASE — the flat form
    turns a cross-join + var=var FILTER into a hash equi join
    (BSBM BI Q2's feature-match shape).
    """
    def eqx(x: Column, y: Column) -> Column:
        # double-valued equality: NaN equals nothing, itself included
        # (XPath op:numeric-equal; Spark's NaN = NaN is TRUE)
        return (x == y) & ~F.isnan(x) & ~F.isnan(y)

    sa, sb = a.kind, b.kind
    if sa is not None and sb is not None:
        null_guard = ~a.witness().isNotNull() | ~b.witness().isNotNull()
        if _sk_numeric(sa) and _sk_numeric(sb):
            if _sk_rank_static(sa) and _sk_rank_static(sb):
                body = (a.view("d") == b.view("d")) \
                    if sa <= K_DECIMAL and sb <= K_DECIMAL \
                    else eqx(a.view("x"), b.view("x"))
            else:  # SK_NUM operand: rank resolved per row
                body = F.when((a["k"] <= K_DECIMAL) & (b["k"] <= K_DECIMAL),
                              a["d"] == b["d"]).otherwise(eqx(a["x"], b["x"]))
        elif sa == SK_PLAIN and sb == SK_PLAIN:
            body = a.view("v") == b.view("v")
        elif sa == K_DATETIME and sb == K_DATETIME:
            # xsd:dateTime/date/time share the ts view but are DISTINCT
            # value spaces: cross-type comparison is a type error
            # (reference: typed_value.rs compares DateTime only with
            # DateTime, Date only with Date)
            body = F.when(a["dt"] == b["dt"], a["ts"] == b["ts"])
        elif sa == K_BOOLEAN and sb == K_BOOLEAN:
            body = as_boolean(a) == as_boolean(b)
        elif sa == K_DURATION and sb == K_DURATION:
            body = (a["x"] == b["x"]) & (a["d"] == b["d"])
        elif sa in (SK_IRI, SK_BNODE) or sb in (SK_IRI, SK_BNODE):
            # node-kind mismatch or identity comparison: plain equality
            body = (a.view("v") == b.view("v")) if sa == sb else F.lit(False)
        elif sa == K_STRING or sb == K_STRING:
            # possibly lang-tagged strings vs anything stringish
            body = None  # fall through to generic below
        else:
            # two literals of different value spaces: error unless identical
            body = F.when(a.col == b.col, F.lit(True))
        if body is not None:
            if flat:
                return (~null_guard) & body
            return F.when(~null_guard, body)
    both_num = is_numeric(a) & is_numeric(b)
    both_str = is_plain_string(a) & is_plain_string(b)
    both_lang = ((a["k"] == K_STRING) & (b["k"] == K_STRING)
                 & a["lang"].isNotNull() & b["lang"].isNotNull())
    both_bool = (a["k"] == K_BOOLEAN) & (b["k"] == K_BOOLEAN)
    both_dt = ((a["k"] == K_DATETIME) & (b["k"] == K_DATETIME)
               & (a["dt"] == b["dt"]))
    both_dur = (a["k"] == K_DURATION) & (b["k"] == K_DURATION)
    return (
        F.when(a.col.isNull() | b.col.isNull(), F.lit(None).cast("boolean"))
        .when(both_num,
              # exact within decimal range; doubles compared as double
              F.when((a["k"] <= K_DECIMAL) & (b["k"] <= K_DECIMAL),
                     a["d"] == b["d"])
              .otherwise(eqx(a["x"], b["x"])))
        .when(both_str, a["v"] == b["v"])
        .when(both_lang, (a["v"] == b["v"]) & (a["lang"] == b["lang"]))
        .when(both_bool, as_boolean(a) == as_boolean(b))
        .when(both_dt, a["ts"] == b["ts"])
        .when(both_dur, (a["x"] == b["x"]) & (a["d"] == b["d"]))
        .when((a["t"] != TT_LITERAL) | (b["t"] != TT_LITERAL), a.col == b.col)
        # both literals, at least one of unknown/unsupported datatype:
        .when(a.col == b.col, F.lit(True))
        .otherwise(F.lit(None).cast("boolean"))
    )


def rdf_not_equal(a: TermExpr, b: TermExpr) -> Column:
    return ~rdf_equal(a, b)


def rdf_compare(a: TermExpr, b: TermExpr) -> Column:
    """Three-way value comparison for < <= > >=: -1/0/1, NULL = not comparable.

    Comparable pairs per SPARQL 1.1 operator table: numeric/numeric,
    simple-or-xsd:string pairs, boolean/boolean, dateTime/dateTime.
    """
    def cmp3(x: Column, y: Column) -> Column:
        return F.when(x < y, -1).when(x > y, 1).when(x == y, 0)

    def cmp3x(x: Column, y: Column) -> Column:
        # double-valued comparison: NaN is UNORDERED (sentinel 9 — every
        # derived < <= > >= is false, per XPath op:numeric-*; Spark's own
        # NaN semantics would sort it greater than everything instead)
        return F.when(F.isnan(x) | F.isnan(y), F.lit(9)).otherwise(cmp3(x, y))

    sa, sb = a.kind, b.kind
    if sa is not None and sb is not None:
        if _sk_numeric(sa) and _sk_numeric(sb):
            if _sk_rank_static(sa) and _sk_rank_static(sb):
                body = cmp3(a.view("d"), b.view("d")) \
                    if sa <= K_DECIMAL and sb <= K_DECIMAL \
                    else cmp3x(a.view("x"), b.view("x"))
            else:  # SK_NUM operand: rank resolved per row
                body = F.when((a["k"] <= K_DECIMAL) & (b["k"] <= K_DECIMAL),
                              cmp3(a["d"], b["d"])) \
                    .otherwise(cmp3x(a["x"], b["x"]))
        elif sa == SK_PLAIN and sb == SK_PLAIN:
            body = cmp3(a.view("v"), b.view("v"))
        elif sa == K_BOOLEAN and sb == K_BOOLEAN:
            body = cmp3(as_boolean(a).cast("int"), as_boolean(b).cast("int"))
        elif sa == K_DATETIME and sb == K_DATETIME:
            # distinct temporal value spaces do not order across types
            body = F.when(a["dt"] == b["dt"], cmp3(a["ts"], b["ts"]))
        elif sa == K_DURATION and sb == K_DURATION:
            body = _duration_cmp3(a, b)
        elif sa == K_STRING or sb == K_STRING:
            body = None  # lang tags possible → generic
        else:
            return F.lit(None).cast("int")  # statically not comparable
        if body is not None:
            return F.when(a.witness().isNotNull() & b.witness().isNotNull(),
                          body)

    both_num = is_numeric(a) & is_numeric(b)
    both_str = is_plain_string(a) & is_plain_string(b)
    both_bool = (a["k"] == K_BOOLEAN) & (b["k"] == K_BOOLEAN)
    both_dt = ((a["k"] == K_DATETIME) & (b["k"] == K_DATETIME)
               & (a["dt"] == b["dt"]))
    both_dur = (a["k"] == K_DURATION) & (b["k"] == K_DURATION)
    # rdf:langString with the SAME language tag compares by codepoints
    # (oxigraph-tests cmp_langString; different tags stay an error)
    same_lang = ((a["k"] == K_STRING) & (b["k"] == K_STRING)
                 & a["lang"].isNotNull() & (a["lang"] == b["lang"]))

    return (
        F.when(a.col.isNull() | b.col.isNull(), F.lit(None).cast("int"))
        .when(both_num,
              F.when((a["k"] <= K_DECIMAL) & (b["k"] <= K_DECIMAL),
                     cmp3(a["d"], b["d"]))
              .otherwise(cmp3x(a["x"], b["x"])))
        .when(both_str, cmp3(a["v"], b["v"]))
        .when(same_lang, cmp3(a["v"], b["v"]))
        .when(both_bool, cmp3(as_boolean(a).cast("int"), as_boolean(b).cast("int")))
        .when(both_dt, cmp3(a["ts"], b["ts"]))
        .when(both_dur, _duration_cmp3(a, b))
        .otherwise(F.lit(None).cast("int"))
    )


def _rel_direct(a: TermExpr, b: TermExpr, op: str,
                flat: bool = False) -> Optional[Column]:
    """Direct relational predicate for statically-typed operands.

    The generic path compiles `?x <= c` to a 3-way CASE ladder tested
    with isin(-1, 0); Catalyst cannot simplify that shape in predicate
    context, so the filter never reaches the parquet scan as a pushed
    range predicate (q1's l_shipdate bound showed only IsNotNull in
    PushedFilters — at 100 TB that is the difference between skipping
    row groups on min/max stats and reading every byte; guide §6).
    When both static kinds pin a total native comparison on one field,
    emit the native operator directly — `CASE WHEN isnotnull THEN
    ts <= lit END` is exactly what SimplifyConditionalsInPredicate
    unfolds into pushable conjuncts. Semantics are branch-for-branch
    those of rdf_compare's static path: NULL operand → NULL, NaN →
    false (XPath unordered), dateTime across value spaces → NULL.
    Returns None (generic fallback) for every case the static analysis
    cannot prove: durations, possibly-lang-tagged strings, SK_NUM."""
    sa, sb = a.kind, b.kind
    if sa is None or sb is None:
        return None

    def rel(x: Column, y: Column) -> Column:
        return {"lt": x < y, "le": x <= y,
                "gt": x > y, "ge": x >= y}[op]

    if _sk_numeric(sa) and _sk_numeric(sb):
        if not (_sk_rank_static(sa) and _sk_rank_static(sb)):
            return None
        if sa <= K_DECIMAL and sb <= K_DECIMAL:
            body = rel(a.view("d"), b.view("d"))
        else:
            # NaN is UNORDERED (false for every operator) — Spark's
            # native comparison would instead sort NaN above everything
            xa, xb = a.view("x"), b.view("x")
            body = (~F.isnan(xa)) & (~F.isnan(xb)) & rel(xa, xb)
    elif sa == SK_PLAIN and sb == SK_PLAIN:
        body = rel(a.view("v"), b.view("v"))
    elif sa == K_BOOLEAN and sb == K_BOOLEAN:
        body = rel(as_boolean(a).cast("int"), as_boolean(b).cast("int"))
    elif sa == K_DATETIME and sb == K_DATETIME:
        body = ((a["dt"] == b["dt"]) & rel(a["ts"], b["ts"])) if flat \
            else F.when(a["dt"] == b["dt"], rel(a["ts"], b["ts"]))
    else:
        return None
    bound = a.witness().isNotNull() & b.witness().isNotNull()
    if flat:
        # positive-filter context (NULL ≡ false): a plain conjunction —
        # the shape DataSourceStrategy can translate into a pushed
        # parquet range predicate, unlike any CASE form
        return bound & body
    return F.when(bound, body)


# exact comparisons against the -1/0/1 outcomes (not range tests): the
# NaN-unordered sentinel 9 must make every operator FALSE, and NULL
# (type error) must stay NULL
def rdf_less(a: TermExpr, b: TermExpr, flat: bool = False) -> Column:
    d = _rel_direct(a, b, "lt", flat)
    return d if d is not None else rdf_compare(a, b) == -1


def rdf_less_eq(a: TermExpr, b: TermExpr, flat: bool = False) -> Column:
    d = _rel_direct(a, b, "le", flat)
    return d if d is not None else rdf_compare(a, b).isin(-1, 0)


def rdf_greater(a: TermExpr, b: TermExpr, flat: bool = False) -> Column:
    d = _rel_direct(a, b, "gt", flat)
    return d if d is not None else rdf_compare(a, b) == 1


def rdf_greater_eq(a: TermExpr, b: TermExpr, flat: bool = False) -> Column:
    d = _rel_direct(a, b, "ge", flat)
    return d if d is not None else rdf_compare(a, b).isin(0, 1)


# ---------------------------------------------------------------------------
# Arithmetic with numeric promotion
# ---------------------------------------------------------------------------

def _double_div(xa: Column, xb: Column) -> Column:
    """IEEE double division: x/0 is +-INF (0/0 and NaN operands give NaN),
    never an error — ANSI Spark raises DIVIDE_BY_ZERO even for doubles, so
    the zero-divisor branches are explicit (XPath op:numeric-divide)."""
    return (F.when(xa.isNull() | xb.isNull(), F.lit(None).cast("double"))
            .when(xb != 0, xa / xb)
            .when(F.isnan(xa) | F.isnan(xb) | (xa == 0), F.lit(float("nan")))
            .when(xa > 0, F.lit(float("inf")))
            .otherwise(F.lit(float("-inf"))))


def _binary_numeric(a: TermExpr, b: TermExpr, op: str) -> TermExpr:
    """a OP b with the XPath promotion ladder; result is a term struct.

    integer OP integer → integer (except '/': decimal);
    any decimal → decimal; any float/double → double
    (float kept as double internally; lexical forms match either way).
    reference: lib/functions/src/scalar/numeric/add.rs et al.
    """
    sa, sb = a.kind, b.kind
    if sa == SK_NULL or sb == SK_NULL:
        # an ALWAYS-unbound operand: the whole op is statically an error
        # — fold NOW so nested arithmetic over unbound vars never builds
        # a tree at all (see SK_NULL; the result is itself always-NULL,
        # so enclosing ops keep folding)
        return TermExpr(F.lit(None).cast(TERM_DDL), SK_NULL)
    if sa is not None and sb is not None:
        if not (_sk_numeric(sa) and _sk_numeric(sb)):
            return TermExpr(F.lit(None).cast(TERM_DDL))
        if not (_sk_rank_static(sa) and _sk_rank_static(sb)):
            # an SK_NUM operand: both promised numeric, rank per row —
            # 2-branch runtime ladder, no is_numeric guards
            rank = F.greatest(a["k"], b["k"])
            da, db = a["d"], b["d"]
            xa, xb = a["x"], b["x"]
            if op == "/":
                dres, xres, lres = F.when(db != 0, da / db), _double_div(xa, xb), None
            else:
                lla, llb = da.try_cast("long"), db.try_cast("long")
                lres = {"+": F.try_add(lla, llb),
                        "-": F.try_subtract(lla, llb),
                        "*": F.try_multiply(lla, llb)}[op]
                dres = {"+": da + db, "-": da - db, "*": da * db}[op]
                xres = {"+": xa + xb, "-": xa - xb, "*": xa * xb}[op]
            out = (
                F.when(rank >= RANK_FLOAT, double_term(xres).col)
                .when((rank == RANK_DECIMAL) | F.lit(op == "/"),
                      decimal_term(dres).col)
            )
            if op != "/":
                out = out.otherwise(int_term(lres).col)
            return TermExpr(F.when(a.col.isNotNull() & b.col.isNotNull(), out),
                            SK_NUM)
        rank = max(sa, sb)
        if rank >= RANK_FLOAT:
            xa, xb = a.view("x"), b.view("x")
            res = {"+": xa + xb, "-": xa - xb, "*": xa * xb,
                   "/": _double_div(xa, xb)}[op]
            return double_term(res)
        if rank == RANK_DECIMAL or op == "/":
            da, db = a.view("d"), b.view("d")
            if op == "/":
                return decimal_term(F.when(db != 0, da / db))
            res = {"+": da + db, "-": da - db, "*": da * db}[op]
            return decimal_term(res)
        la, lb = a.view("d").try_cast("long"), b.view("d").try_cast("long")
        res = {"+": F.try_add(la, lb), "-": F.try_subtract(la, lb),
               "*": F.try_multiply(la, lb)}[op]
        return int_term(res)

    ra, rb = numeric_rank(a), numeric_rank(b)
    rank = F.greatest(ra, rb)
    la, lb = as_long(a), as_long(b)
    da, db = as_decimal(a), as_decimal(b)
    xa, xb = as_double(a), as_double(b)

    if op == "+":
        lres, dres, xres = F.try_add(la, lb), da + db, xa + xb
    elif op == "-":
        lres, dres, xres = F.try_subtract(la, lb), da - db, xa - xb
    elif op == "*":
        lres, dres, xres = F.try_multiply(la, lb), da * db, xa * xb
    elif op == "/":
        # integer ÷ integer → decimal; division by zero → error (NULL)
        lres = None
        dres = F.when(db != 0, da / db)
        xres = _double_div(xa, xb)
    else:  # pragma: no cover
        raise ValueError(op)

    valid = is_numeric(a) & is_numeric(b)
    out = (
        F.when(~valid, F.lit(None).cast(TERM_DDL))
        .when(rank >= RANK_FLOAT, double_term(xres).col)
        .when((rank == RANK_DECIMAL) | F.lit(op == "/"),
              decimal_term(dres).col)
    )
    # '/' has no integer branch: integer ÷ integer → decimal per the spec
    if op != "/":
        out = out.otherwise(int_term(lres).col)
    return TermExpr(out, SK_NUM)


def _duration_sum(a: TermExpr, b: TermExpr, sign: int) -> TermExpr:
    """duration ± duration → duration term; a MIXED-SIGN result (months
    and seconds nonzero with opposite signs) is an expression ERROR: the
    value has no XSD lexical representation, and the reference refuses
    to format it (lib/model/src/xsd/duration.rs:211-213 returns
    fmt::Error) — found by the r11 durations fuzz layer (seed 17:
    -P2M + P2DT3H emitted the corrupt lexical \"-P2M2DT3H\")."""
    m = a["x"] + sign * b["x"]
    s = a["d"] + sign * b["d"]
    ok = ~(((m < 0) & (s > 0)) | ((m > 0) & (s < 0)))
    return duration_term(F.when(ok, m), F.when(ok, s))


def _datetime_shift(dtc: TermExpr, dur: TermExpr, sign: int) -> Column:
    """dateTime ± duration: add the month part calendar-aware first, then
    the seconds part (XPath op:add-yearMonthDuration-to-dateTime followed
    by op:add-dayTimeDuration-to-dateTime; reference:
    lib/functions/src/scalar/dates_and_times/)."""
    months = (dur["x"] * sign).cast("int")
    secs = (dur["d"] * sign).cast("decimal(18,6)")
    shifted = (dtc["ts"]
               + F.make_ym_interval(F.lit(0), months)
               + F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0), secs))
    lex = F.regexp_replace(shifted.cast("string"), " ", "T")
    return F.when(
        shifted.isNotNull(),
        term_struct(_tt(TT_LITERAL), lex, lit_str(XSD_DATETIME),
                    k=F.lit(K_DATETIME), x=None_x(), d=None_d(), ts=shifted))


def _datetime_diff(a: TermExpr, b: TermExpr) -> TermExpr:
    """dateTime - dateTime → xsd:dayTimeDuration (op:subtract-dateTimes)."""
    from ..terms import XSD_DAY_TIME_DURATION
    micros = F.unix_micros(a["ts"]) - F.unix_micros(b["ts"])
    secs = (micros.cast(DECIMAL_T) / 1000000).cast(DECIMAL_T)
    return duration_term(F.lit(0.0), secs, XSD_DAY_TIME_DURATION)


def _temporal_arith(a: TermExpr, b: TermExpr, op: str) -> TermExpr:
    """'+'/'-' over dateTime/duration operand combinations; falls through
    to numeric promotion for everything else."""
    sa, sb = a.kind, b.kind
    if sa is not None and sb is not None:
        if sa == K_DATETIME and sb == K_DURATION:
            return TermExpr(_datetime_shift(a, b, +1 if op == "+" else -1),
                            K_DATETIME)
        if sa == K_DURATION and sb == K_DURATION:
            return _duration_sum(a, b, +1 if op == "+" else -1)
        if sa == K_DURATION and sb == K_DATETIME and op == "+":
            return TermExpr(_datetime_shift(b, a, +1), K_DATETIME)
        if sa == K_DATETIME and sb == K_DATETIME and op == "-":
            return _datetime_diff(a, b)
        return _binary_numeric(a, b, op)
    num = _binary_numeric(a, b, op)
    sign = +1 if op == "+" else -1
    out = (
        F.when((a["k"] == K_DATETIME) & (b["k"] == K_DURATION),
               _datetime_shift(a, b, sign))
        .when((a["k"] == K_DURATION) & (b["k"] == K_DURATION),
              _duration_sum(a, b, sign).col)
    )
    if op == "+":
        out = out.when((a["k"] == K_DURATION) & (b["k"] == K_DATETIME),
                       _datetime_shift(b, a, +1))
    else:
        out = out.when((a["k"] == K_DATETIME) & (b["k"] == K_DATETIME),
                       _datetime_diff(a, b).col)
    return TermExpr(out.otherwise(num.col))


def rdf_add(a: TermExpr, b: TermExpr) -> TermExpr:
    return _temporal_arith(a, b, "+")


def rdf_sub(a: TermExpr, b: TermExpr) -> TermExpr:
    return _temporal_arith(a, b, "-")


def rdf_mul(a: TermExpr, b: TermExpr) -> TermExpr:
    return _binary_numeric(a, b, "*")


def rdf_div(a: TermExpr, b: TermExpr) -> TermExpr:
    return _binary_numeric(a, b, "/")


def _unary_numeric(a: TermExpr, sign: int) -> TermExpr:
    sk = a.kind
    if _sk_rank_static(sk):
        if sk >= RANK_FLOAT:
            return double_term(sign * a["x"])
        if sk == RANK_DECIMAL:
            return decimal_term(sign * a["d"])
        return int_term(sign * a["d"].try_cast("long"))
    if sk is not None and sk != SK_NUM:
        return TermExpr(F.lit(None).cast(TERM_DDL))
    if sk == SK_NUM:
        # promised numeric: 3-branch runtime rank, no is_numeric guard
        out = (
            F.when(a["k"] >= RANK_FLOAT, double_term(sign * a["x"]).col)
            .when(a["k"] == RANK_DECIMAL, decimal_term(sign * a["d"]).col)
            .otherwise(int_term(sign * a["d"].try_cast("long")).col)
        )
        return TermExpr(F.when(a.col.isNotNull(), out), SK_NUM)
    rank = numeric_rank(a)
    return TermExpr(
        F.when(rank.isNull(), F.lit(None).cast(TERM_DDL))
        .when(rank >= RANK_FLOAT, double_term(sign * as_double(a)).col)
        .when(rank == RANK_DECIMAL, decimal_term(sign * as_decimal(a)).col)
        .otherwise(int_term(sign * as_long(a)).col), SK_NUM)


def rdf_neg(a: TermExpr) -> TermExpr:
    return _unary_numeric(a, -1)


def rdf_unary_plus(a: TermExpr) -> TermExpr:
    return _unary_numeric(a, +1)
