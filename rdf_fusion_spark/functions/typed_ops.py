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

from typing import Optional

from pyspark.sql import Column
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
# static kinds — compile-time type specialization
#
# A term Column can carry a *static kind* tag: a Python-side promise that
# every NON-NULL value of the column has the given k (and, for SK_IRI /
# SK_BNODE, term type). Sources of truth: the relational scan (column dtypes
# are known), term constructors (the result kind is known by construction),
# and constant terms. Tagged operands compile to single-branch expressions
# instead of the generic CASE ladder — the Spark analogue of the reference's
# per-variant dispatch over its dense-union encoding
# (lib/functions/src/scalar/dispatch/binary.rs). Untagged columns fall back
# to the generic ladder, so a lost tag is a missed optimization, never a
# wrong answer.
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


def skind(c: Column):
    """The static kind of a column, or None if unknown.

    Reads the instance __dict__ directly: Column.__getattr__ would turn a
    plain getattr for a missing attribute into a struct-field access column.
    """
    try:
        return c.__dict__.get("_rf_sk")
    except AttributeError:  # pragma: no cover
        return None


def tag(c: Column, sk) -> Column:
    """Attach a static kind tag to a Column (no-op for sk=None)."""
    if sk is not None:
        c._rf_sk = sk
    return c


def is_vc(c: Column) -> bool:
    """True when the column carries the value-canonical marker (see
    plans/join.py VarInfo.vcanon): its non-NULL terms' lexical/datatype
    are pure functions of the typed value fields. Reads __dict__
    directly for the same reason skind() does."""
    try:
        return bool(c.__dict__.get("_rf_vc"))
    except AttributeError:  # pragma: no cover
        return False


def mark_vc(c: Column) -> Column:
    """Attach the value-canonical marker (numeric term constructors and
    provably-canonical constants only)."""
    c._rf_vc = True
    return c


# ---------------------------------------------------------------------------
# raw-value side-channel — term CONSTRUCTORS attach the native expression
# their typed field was built from (`_rf_x` double / `_rf_d` decimal /
# `_rf_v` string) to the returned Column object. Consumers (the as_* views,
# the static comparison/arithmetic branches) read the raw expression
# instead of a struct-field extraction, so Catalyst can PRUNE the 8-field
# struct build entirely when only the value is consumed — the struct
# materialization per intermediate arithmetic node was the largest
# per-row cost of computed-value queries (q3's ?price*(1-?disc): two
# 8-field structs per row built only to read back `.x`; guide §1.2-2
# per-task work, §2.3 narrower types). Invariant required of every
# attach site: the raw expression is NULL exactly when the term struct
# is NULL (all constructors wrap `F.when(raw.isNotNull(), struct)`), so
# null-guards may read the raw column. The attributes ride the Column
# object only — any alias()/F.col() round trip drops them, which is
# always safe (consumers fall back to the struct field).
# ---------------------------------------------------------------------------

def _raw(c: Column, key: str):
    try:
        return c.__dict__.get(key)
    except AttributeError:  # pragma: no cover
        return None


def xval(c: Column) -> Column:
    """The term's double view, bypassing the struct when the constructor
    exposed it (NULL iff the term is NULL — constructor invariant)."""
    r = _raw(c, "_rf_x")
    return r if r is not None else c["x"]


def dval(c: Column) -> Column:
    r = _raw(c, "_rf_d")
    return r if r is not None else c["d"]


def vval(c: Column) -> Column:
    r = _raw(c, "_rf_v")
    return r if r is not None else c["v"]


def tsval(c: Column) -> Column:
    r = _raw(c, "_rf_ts")
    return r if r is not None else c["ts"]


def nnval(c: Column) -> Column:
    """isNotNull via the cheapest raw channel (exact: constructors null
    the struct exactly when the attached raw expression is null)."""
    for k in ("_rf_x", "_rf_d", "_rf_v", "_rf_ts"):
        r = _raw(c, k)
        if r is not None:
            return r.isNotNull()
    return c.isNotNull()


def raw_channels(c: Column) -> dict:
    """The raw-value attachments present on c (for interners to re-home
    onto named columns)."""
    try:
        d = c.__dict__
    except AttributeError:  # pragma: no cover
        return {}
    return {k: d[k] for k in ("_rf_x", "_rf_d", "_rf_v", "_rf_ts") if k in d}


def attach_raw(c: Column, **kw) -> Column:
    """Attach raw-value channels (x=, d=, v=, ts=); None values skipped."""
    for k, e in kw.items():
        if e is not None:
            c.__dict__[f"_rf_{k}"] = e
    return c


def _sk_numeric(sk) -> bool:
    return sk is not None and (sk == SK_NUM or sk <= K_DOUBLE)


def _sk_rank_static(sk) -> bool:
    """True when sk pins a single numeric kind (SK_NUM does not)."""
    return sk is not None and sk != SK_NUM and sk <= K_DOUBLE


def _sk_stringish(sk) -> bool:
    return sk in (K_STRING, SK_PLAIN)


def is_numeric(c: Column) -> Column:
    sk = skind(c)
    if sk is not None:
        return nnval(c) if _sk_numeric(sk) else F.lit(False)
    return c["k"].isNotNull() & (c["k"] <= K_DOUBLE)


def numeric_rank(c: Column) -> Column:
    """0=integer family, 1=decimal, 2=float, 3=double; NULL if not numeric."""
    sk = skind(c)
    if sk is not None:
        if sk == SK_NUM:
            return F.when(c.isNotNull(), c["k"].cast("int"))
        if _sk_numeric(sk):
            return F.when(nnval(c), F.lit(sk).cast("int"))
        return F.lit(None).cast("int")
    return F.when(c["k"] <= K_DOUBLE, c["k"].cast("int"))


def as_double(c: Column) -> Column:
    """Numeric value as double; NULL (error) for non-numerics / ill-typed."""
    sk = skind(c)
    if sk is not None:
        return xval(c) if _sk_numeric(sk) else None_x()
    return F.when(c["k"] <= K_DOUBLE, c["x"])


def as_long(c: Column) -> Column:
    sk = skind(c)
    if sk is not None:
        if sk == K_INTEGER:
            return dval(c).try_cast("long")
        if sk == SK_NUM:
            return F.when(c["k"] == K_INTEGER, c["d"].try_cast("long"))
        return F.lit(None).cast("long")
    return F.when(c["k"] == K_INTEGER, c["d"].try_cast("long"))


def as_decimal(c: Column) -> Column:
    sk = skind(c)
    if sk is not None:
        if sk == SK_NUM:
            return F.when(c["k"] <= K_DECIMAL, c["d"])
        return dval(c) if sk <= K_DECIMAL else None_d()
    return F.when(c["k"] <= K_DECIMAL, c["d"])


def as_boolean(c: Column) -> Column:
    """xsd:boolean value; NULL for anything else (incl. bad lexicals)."""
    sk = skind(c)
    if sk is not None and sk != K_BOOLEAN:
        return F.lit(None).cast("boolean")
    if sk == K_BOOLEAN:
        x = xval(c)
        return (F.when(x == 1.0, F.lit(True))
                .when(x == 0.0, F.lit(False)))
    b = (F.when(c["x"] == 1.0, F.lit(True))
         .when(c["x"] == 0.0, F.lit(False)))
    return F.when(c["k"] == K_BOOLEAN, b)


def as_timestamp(c: Column) -> Column:
    """xsd:dateTime/date value as a session-UTC timestamp (offset applied)."""
    sk = skind(c)
    if sk is not None:
        return c["ts"] if sk == K_DATETIME else None_ts()
    return F.when(c["k"] == K_DATETIME, c["ts"])


def as_string(c: Column) -> Column:
    """String value of simple/xsd:string/lang literals; NULL otherwise
    (argument-compatibility guard for string functions)."""
    sk = skind(c)
    if sk is not None:
        return vval(c) if _sk_stringish(sk) else _null_str()
    return F.when(c["k"] == K_STRING, c["v"])


def is_string_like(c: Column) -> Column:
    sk = skind(c)
    if sk is not None:
        return nnval(c) if _sk_stringish(sk) else F.lit(False)
    return c["k"].isNotNull() & (c["k"] == K_STRING)


def is_plain_string(c: Column) -> Column:
    sk = skind(c)
    if sk is not None:
        if sk == SK_PLAIN:
            return nnval(c)
        if sk != K_STRING:
            return F.lit(False)
    return (c["k"] == K_STRING) & c["lang"].isNull()


# ---------------------------------------------------------------------------
# Effective boolean value
# ---------------------------------------------------------------------------

def ebv(c: Column) -> Column:
    """SPARQL effective boolean value; NULL = type error.

    reference: lib/functions/src/builtin/native/effective_boolean_value.rs:98-130
    """
    sk = skind(c)
    if sk is not None:
        if sk == K_BOOLEAN:
            body = F.coalesce(xval(c) == 1.0, F.lit(False))
        elif _sk_numeric(sk):
            x = xval(c)
            body = F.coalesce((x != 0.0) & ~F.isnan(x), F.lit(False))
        elif _sk_stringish(sk):
            body = F.length(vval(c)) > 0
        else:
            return F.lit(None).cast("boolean")
        return F.when(nnval(c), body)
    return (
        F.when(c.isNull(), F.lit(None).cast("boolean"))
        .when(c["k"] == K_BOOLEAN,
              # ill-typed boolean lexical (x NULL) → false per spec
              F.coalesce(c["x"] == 1.0, F.lit(False)))
        .when(c["k"] <= K_DOUBLE,
              F.coalesce((c["x"] != 0.0) & ~F.isnan(c["x"]), F.lit(False)))
        .when(c["k"] == K_STRING, F.length(c["v"]) > 0)
        .otherwise(F.lit(None).cast("boolean"))
    )


def bool_term(b: Column) -> Column:
    """Wrap a native boolean Column back into an xsd:boolean term
    (reference: NativeBooleanAsTerm, lib/functions/src/builtin/native/)."""
    return attach_raw(tag(F.when(
        b.isNotNull(),
        term_struct(_tt(TT_LITERAL), F.when(b, "true").otherwise("false"),
                    lit_str(XSD_BOOLEAN), k=F.lit(K_BOOLEAN),
                    x=F.when(b, 1.0).otherwise(0.0), d=None_d(), ts=None_ts()),
    ), K_BOOLEAN), x=F.when(b, 1.0).when(~b, 0.0))


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
# lazy lexical forms — inside expression compilation, numeric terms skip
# computing their lexical `v` (Double.toString + decimal canonicalization are
# the single hottest per-row cost); the typed fields carry the value. Any
# term that escapes an expression (BIND result, aggregate passthrough) is
# re-materialized by materialize_lexical(), and lexical_of() serves STR()/
# GROUP_CONCAT over possibly-lazy terms. Constant terms are never lazy, but
# virtual-store scans build double/decimal/dateTime columns lazily
# (sources/relational.object_term), so a raw scan column can reach a result
# with v=NULL: driver-side readers rebuild it (terms.rebuild_lexical).
# ---------------------------------------------------------------------------

_LAZY_LEX: list[bool] = []


class lazy_lexicals:
    """Context manager: numeric term constructors emit v=NULL within."""

    def __enter__(self):
        _LAZY_LEX.append(True)
        return self

    def __exit__(self, *exc):
        _LAZY_LEX.pop()
        return False


def _lazy() -> bool:
    return bool(_LAZY_LEX)


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


def _typed_lex(c: Column) -> Column:
    """Recompute a numeric/dateTime lexical from the typed fields."""
    sk = skind(c)
    if sk == SK_NUM:
        sk = None  # rank varies at runtime → the generic k-ladder below
    if sk is not None:
        if sk <= K_DECIMAL:
            return canon_decimal_string(dval(c))
        if sk == K_FLOAT:
            return F.regexp_replace(
                canon_double_string(xval(c).cast("float").cast("double")),
                r"\.0$", "")
        if sk == K_DOUBLE:
            return canon_double_string(xval(c))
        if sk == K_DATETIME:
            return F.regexp_replace(tsval(c).cast("string"), " ", "T")
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


def lexical_of(c: Column) -> Column:
    """The lexical form of a (possibly lazy) term."""
    sk = skind(c)
    if sk is not None and not _sk_lazyable(sk):
        return c["v"]
    return F.coalesce(c["v"], _typed_lex(c))


def materialize_lexical(c: Column) -> Column:
    """Fill a lazy term's v before it escapes expression scope."""
    sk = skind(c)
    if sk is not None and not _sk_lazyable(sk):
        return c  # only numeric/dateTime constructors emit lazy lexicals
    needs = c.isNull() | c["v"].isNotNull()
    out = F.when(
        ~needs if sk is not None else
        (c.isNotNull() & c["v"].isNull()
         & ((c["k"] <= K_DOUBLE) | (c["k"] == K_DATETIME))),
        term_struct(c["t"], _typed_lex(c), c["dt"], c["lang"],
                    k=c["k"], x=c["x"], d=c["d"], ts=c["ts"]),
    ).otherwise(c)
    return tag(out, sk)


def _null_str() -> Column:
    return F.lit(None).cast("string")


def int_term(n: Column) -> Column:
    v = _null_str() if _lazy() else n.cast("string")
    return attach_raw(mark_vc(tag(F.when(
        n.isNotNull(),
        term_struct(_tt(TT_LITERAL), v, lit_str(XSD_INTEGER),
                    k=F.lit(K_INTEGER), x=n.cast("double"),
                    d=n.cast(DECIMAL_T), ts=None_ts()),
    ), K_INTEGER)), x=n.cast("double"), d=n.cast(DECIMAL_T))


def double_term(x: Column) -> Column:
    v = _null_str() if _lazy() else canon_double_string(x)
    return attach_raw(mark_vc(tag(F.when(
        x.isNotNull(),
        term_struct(_tt(TT_LITERAL), v, lit_str(XSD_DOUBLE),
                    k=F.lit(K_DOUBLE), x=x.cast("double"), d=None_d(),
                    ts=None_ts()),
    ), K_DOUBLE)), x=x.cast("double"))


def int_term_from_decimal(d: Column) -> Column:
    """xsd:integer term rebuilt from its exact decimal value field `d`
    (the MIN/MAX hash-agg decomposition path): no long roundtrip, so
    integer values beyond int64 survive; lexical lazy/canonical exactly
    like int_term (canon_decimal_string of an integer-valued decimal is
    the plain integer lexical)."""
    v = _null_str() if _lazy() else canon_decimal_string(d)
    return attach_raw(mark_vc(tag(F.when(
        d.isNotNull(),
        term_struct(_tt(TT_LITERAL), v, lit_str(XSD_INTEGER),
                    k=F.lit(K_INTEGER), x=d.cast("double"), d=d,
                    ts=None_ts()),
    ), K_INTEGER)), x=d.cast("double"), d=d)


def decimal_term(x: Column) -> Column:
    x = x.cast(DECIMAL_T)
    v = _null_str() if _lazy() else canon_decimal_string(x)
    return attach_raw(mark_vc(tag(F.when(
        x.isNotNull(),
        term_struct(_tt(TT_LITERAL), v, lit_str(XSD_DECIMAL),
                    k=F.lit(K_DECIMAL), x=x.cast("double"), d=x,
                    ts=None_ts()),
    ), K_DECIMAL)), x=x.cast("double"), d=x)


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


def duration_term(months: Column, secs: Column, dt: str = None) -> Column:
    """Build a duration term from (months, seconds); canonical lexical.

    reference: lib/model/src/xsd/duration.rs (months+seconds value model).
    """
    from ..terms import XSD_DURATION
    months = months.cast("double")
    secs = secs.cast(DECIMAL_T)
    return tag(F.when(
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
def _duration_cmp3(a: Column, b: Column) -> Column:
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


def string_term(s: Column) -> Column:
    return attach_raw(
        tag(F.when(s.isNotNull(),
                   term_struct(_tt(TT_LITERAL), s, lit_str(XSD_STRING),
                               k=F.lit(K_STRING), x=None_x(), d=None_d(),
                               ts=None_ts())), SK_PLAIN), v=s)


# ---------------------------------------------------------------------------
# Value-space equality and ordering
# ---------------------------------------------------------------------------

def rdf_equal(a: Column, b: Column, flat: bool = False) -> Column:
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

    sa, sb = skind(a), skind(b)
    if sa is not None and sb is not None:
        null_guard = ~nnval(a) | ~nnval(b)
        if _sk_numeric(sa) and _sk_numeric(sb):
            if _sk_rank_static(sa) and _sk_rank_static(sb):
                body = (dval(a) == dval(b)) if (sa <= K_DECIMAL
                                                and sb <= K_DECIMAL) \
                    else eqx(xval(a), xval(b))
            else:  # SK_NUM operand: rank resolved per row
                body = F.when((a["k"] <= K_DECIMAL) & (b["k"] <= K_DECIMAL),
                              a["d"] == b["d"]).otherwise(eqx(a["x"], b["x"]))
        elif sa == SK_PLAIN and sb == SK_PLAIN:
            body = vval(a) == vval(b)
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
            body = (vval(a) == vval(b)) if sa == sb else F.lit(False)
        elif sa == K_STRING or sb == K_STRING:
            # possibly lang-tagged strings vs anything stringish
            body = None  # fall through to generic below
        else:
            # two literals of different value spaces: error unless identical
            body = F.when(a == b, F.lit(True))
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
        F.when(a.isNull() | b.isNull(), F.lit(None).cast("boolean"))
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
        .when((a["t"] != TT_LITERAL) | (b["t"] != TT_LITERAL), a == b)
        # both literals, at least one of unknown/unsupported datatype:
        .when(a == b, F.lit(True))
        .otherwise(F.lit(None).cast("boolean"))
    )


def rdf_not_equal(a: Column, b: Column) -> Column:
    return ~rdf_equal(a, b)


def rdf_compare(a: Column, b: Column) -> Column:
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

    sa, sb = skind(a), skind(b)
    if sa is not None and sb is not None:
        if _sk_numeric(sa) and _sk_numeric(sb):
            if _sk_rank_static(sa) and _sk_rank_static(sb):
                body = cmp3(dval(a), dval(b)) if (sa <= K_DECIMAL
                                                  and sb <= K_DECIMAL) \
                    else cmp3x(xval(a), xval(b))
            else:  # SK_NUM operand: rank resolved per row
                body = F.when((a["k"] <= K_DECIMAL) & (b["k"] <= K_DECIMAL),
                              cmp3(a["d"], b["d"])) \
                    .otherwise(cmp3x(a["x"], b["x"]))
        elif sa == SK_PLAIN and sb == SK_PLAIN:
            body = cmp3(vval(a), vval(b))
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
            return F.when(nnval(a) & nnval(b), body)

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
        F.when(a.isNull() | b.isNull(), F.lit(None).cast("int"))
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


def _rel_direct(a: Column, b: Column, op: str,
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
    sa, sb = skind(a), skind(b)
    if sa is None or sb is None:
        return None

    def rel(x: Column, y: Column) -> Column:
        return {"lt": x < y, "le": x <= y,
                "gt": x > y, "ge": x >= y}[op]

    if _sk_numeric(sa) and _sk_numeric(sb):
        if not (_sk_rank_static(sa) and _sk_rank_static(sb)):
            return None
        if sa <= K_DECIMAL and sb <= K_DECIMAL:
            body = rel(dval(a), dval(b))
        else:
            # NaN is UNORDERED (false for every operator) — Spark's
            # native comparison would instead sort NaN above everything
            xa, xb = xval(a), xval(b)
            body = (~F.isnan(xa)) & (~F.isnan(xb)) & rel(xa, xb)
    elif sa == SK_PLAIN and sb == SK_PLAIN:
        body = rel(vval(a), vval(b))
    elif sa == K_BOOLEAN and sb == K_BOOLEAN:
        body = rel(as_boolean(a).cast("int"), as_boolean(b).cast("int"))
    elif sa == K_DATETIME and sb == K_DATETIME:
        body = ((a["dt"] == b["dt"]) & rel(a["ts"], b["ts"])) if flat \
            else F.when(a["dt"] == b["dt"], rel(a["ts"], b["ts"]))
    else:
        return None
    if flat:
        # positive-filter context (NULL ≡ false): a plain conjunction —
        # the shape DataSourceStrategy can translate into a pushed
        # parquet range predicate, unlike any CASE form
        return nnval(a) & nnval(b) & body
    return F.when(nnval(a) & nnval(b), body)


# exact comparisons against the -1/0/1 outcomes (not range tests): the
# NaN-unordered sentinel 9 must make every operator FALSE, and NULL
# (type error) must stay NULL
def rdf_less(a: Column, b: Column, flat: bool = False) -> Column:
    d = _rel_direct(a, b, "lt", flat)
    return d if d is not None else rdf_compare(a, b) == -1


def rdf_less_eq(a: Column, b: Column, flat: bool = False) -> Column:
    d = _rel_direct(a, b, "le", flat)
    return d if d is not None else rdf_compare(a, b).isin(-1, 0)


def rdf_greater(a: Column, b: Column, flat: bool = False) -> Column:
    d = _rel_direct(a, b, "gt", flat)
    return d if d is not None else rdf_compare(a, b) == 1


def rdf_greater_eq(a: Column, b: Column, flat: bool = False) -> Column:
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


def _binary_numeric(a: Column, b: Column, op: str) -> Column:
    """a OP b with the XPath promotion ladder; result is a term struct.

    integer OP integer → integer (except '/': decimal);
    any decimal → decimal; any float/double → double
    (float kept as double internally; lexical forms match either way).
    reference: lib/functions/src/scalar/numeric/add.rs et al.
    """
    sa, sb = skind(a), skind(b)
    if sa == SK_NULL or sb == SK_NULL:
        # an ALWAYS-unbound operand: the whole op is statically an error
        # — fold NOW so nested arithmetic over unbound vars never builds
        # a tree at all (see SK_NULL; the result is itself always-NULL,
        # so enclosing ops keep folding)
        return tag(F.lit(None).cast(TERM_DDL), SK_NULL)
    if sa is not None and sb is not None:
        if not (_sk_numeric(sa) and _sk_numeric(sb)):
            return F.lit(None).cast(TERM_DDL)
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
                F.when(rank >= RANK_FLOAT, double_term(xres))
                .when((rank == RANK_DECIMAL) | F.lit(op == "/"),
                      decimal_term(dres))
            )
            if op != "/":
                out = out.otherwise(int_term(lres))
            return tag(F.when(a.isNotNull() & b.isNotNull(), out), SK_NUM)
        rank = max(sa, sb)
        if rank >= RANK_FLOAT:
            xa, xb = xval(a), xval(b)
            res = {"+": xa + xb, "-": xa - xb, "*": xa * xb,
                   "/": _double_div(xa, xb)}[op]
            return double_term(res)
        if rank == RANK_DECIMAL or op == "/":
            da, db = dval(a), dval(b)
            if op == "/":
                return decimal_term(F.when(db != 0, da / db))
            res = {"+": da + db, "-": da - db, "*": da * db}[op]
            return decimal_term(res)
        la, lb = dval(a).try_cast("long"), dval(b).try_cast("long")
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
        .when(rank >= RANK_FLOAT, double_term(xres))
        .when((rank == RANK_DECIMAL) | F.lit(op == "/"), decimal_term(dres))
    )
    # '/' has no integer branch: integer ÷ integer → decimal per the spec
    if op != "/":
        out = out.otherwise(int_term(lres))
    return tag(out, SK_NUM)


def _duration_sum(a: Column, b: Column, sign: int) -> Column:
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


def _datetime_shift(dtc: Column, dur: Column, sign: int) -> Column:
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


def _datetime_diff(a: Column, b: Column) -> Column:
    """dateTime - dateTime → xsd:dayTimeDuration (op:subtract-dateTimes)."""
    from ..terms import XSD_DAY_TIME_DURATION
    micros = F.unix_micros(a["ts"]) - F.unix_micros(b["ts"])
    secs = (micros.cast(DECIMAL_T) / 1000000).cast(DECIMAL_T)
    return duration_term(F.lit(0.0), secs, XSD_DAY_TIME_DURATION)


def _temporal_arith(a: Column, b: Column, op: str) -> Column:
    """'+'/'-' over dateTime/duration operand combinations; falls through
    to numeric promotion for everything else."""
    sa, sb = skind(a), skind(b)
    if sa is not None and sb is not None:
        if sa == K_DATETIME and sb == K_DURATION:
            return tag(_datetime_shift(a, b, +1 if op == "+" else -1),
                       K_DATETIME)
        if sa == K_DURATION and sb == K_DURATION:
            return _duration_sum(a, b, +1 if op == "+" else -1)
        if sa == K_DURATION and sb == K_DATETIME and op == "+":
            return tag(_datetime_shift(b, a, +1), K_DATETIME)
        if sa == K_DATETIME and sb == K_DATETIME and op == "-":
            return _datetime_diff(a, b)
        return _binary_numeric(a, b, op)
    num = _binary_numeric(a, b, op)
    sign = +1 if op == "+" else -1
    out = (
        F.when((a["k"] == K_DATETIME) & (b["k"] == K_DURATION),
               _datetime_shift(a, b, sign))
        .when((a["k"] == K_DURATION) & (b["k"] == K_DURATION),
              _duration_sum(a, b, sign))
    )
    if op == "+":
        out = out.when((a["k"] == K_DURATION) & (b["k"] == K_DATETIME),
                       _datetime_shift(b, a, +1))
    else:
        out = out.when((a["k"] == K_DATETIME) & (b["k"] == K_DATETIME),
                       _datetime_diff(a, b))
    return out.otherwise(num)


def rdf_add(a: Column, b: Column) -> Column:
    return _temporal_arith(a, b, "+")


def rdf_sub(a: Column, b: Column) -> Column:
    return _temporal_arith(a, b, "-")


def rdf_mul(a: Column, b: Column) -> Column:
    return _binary_numeric(a, b, "*")


def rdf_div(a: Column, b: Column) -> Column:
    return _binary_numeric(a, b, "/")


def _unary_numeric(a: Column, sign: int) -> Column:
    sk = skind(a)
    if _sk_rank_static(sk):
        if sk >= RANK_FLOAT:
            return double_term(sign * a["x"])
        if sk == RANK_DECIMAL:
            return decimal_term(sign * a["d"])
        return int_term(sign * a["d"].try_cast("long"))
    if sk is not None and sk != SK_NUM:
        return F.lit(None).cast(TERM_DDL)
    if sk == SK_NUM:
        # promised numeric: 3-branch runtime rank, no is_numeric guard
        out = (
            F.when(a["k"] >= RANK_FLOAT, double_term(sign * a["x"]))
            .when(a["k"] == RANK_DECIMAL, decimal_term(sign * a["d"]))
            .otherwise(int_term(sign * a["d"].try_cast("long")))
        )
        return tag(F.when(a.isNotNull(), out), SK_NUM)
    rank = numeric_rank(a)
    return tag(
        F.when(rank.isNull(), F.lit(None).cast(TERM_DDL))
        .when(rank >= RANK_FLOAT, double_term(sign * as_double(a)))
        .when(rank == RANK_DECIMAL, decimal_term(sign * as_decimal(a)))
        .otherwise(int_term(sign * as_long(a))), SK_NUM)


def rdf_neg(a: Column) -> Column:
    return _unary_numeric(a, -1)


def rdf_unary_plus(a: Column) -> Column:
    return _unary_numeric(a, +1)
