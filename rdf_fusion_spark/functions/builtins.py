"""SPARQL expression → Spark Column compiler (the §2.8 function surface).

Every function is a pure Column expression over the plain-term struct —
JVM-side, whole-stage-codegen'd, no Python UDFs in the hot path.
(reference: lib/functions/src/scalar/** one Rust file per function,
dispatched from lib/execution/src/sparql/rewriting/expression_rewriter.rs:44-250;
here one builder per function, dispatched from a dict.)

`compile_expr` returns a typed_ops.TermExpr (errors = NULL);
`compile_bool` returns a native boolean Column (the EBV), skipping the
term round-trip for comparisons/logicals — the same strength reduction the
reference implements as SimplifySparqlExpressionsRule
(lib/logical/src/expr/expression_simplifier.rs:21-300), done by construction.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..terms import (
    RDF_LANG_STRING,
    TT_BNODE,
    TT_IRI,
    TT_LITERAL,
    XSD,
    XSD_BOOLEAN,
    XSD_DATE,
    XSD_DATETIME,
    XSD_DAY_TIME_DURATION,
    XSD_DECIMAL,
    XSD_DOUBLE,
    XSD_FLOAT,
    XSD_INTEGER,
    XSD_STRING,
    Literal,
    NamedNode,
    term_lit,
    term_struct,
)
from . import typed_ops as tv
from .typed_ops import (
    DECIMAL_T,
    RANK_DECIMAL,
    RANK_FLOAT,
    as_boolean,
    as_decimal,
    as_double,
    as_long,
    as_string,
    as_timestamp,
    bool_term,
    decimal_term,
    double_term,
    ebv,
    int_term,
    is_numeric,
    is_plain_string,
    is_string_like,
    numeric_rank,
    string_term,
    TermExpr,
)
# every ECall result goes onto the open compile scope's temp columns
# (see typed_ops "the compile scope")
from .typed_ops import intern as _intern

from ..terms import TERM_DDL  # noqa: F811  (re-export for translator)


def NULL_TERM() -> Column:
    from ..terms import memo_col
    return memo_col("NULL_TERM", lambda: F.lit(None).cast(TERM_DDL))


def NULL_BOOL() -> Column:
    from ..terms import memo_col
    return memo_col("NULL_BOOL", lambda: F.lit(None).cast("boolean"))

Resolver = Callable[[str], TermExpr]


class SparqlCompileError(Exception):
    pass


def _err_if(cond: Column, val: Column) -> Column:
    return F.when(~cond, val)  # cond true (or NULL) → NULL (error)


def _intern_col(col: Column) -> Column:
    """_intern for a plain (non-term) Column."""
    return _intern(TermExpr(col)).col


# ---------------------------------------------------------------------------
# public entry points
# ---------------------------------------------------------------------------

# Builtins STRICT in every argument: an always-unbound (or itself
# statically-folded-NULL) argument makes the whole call a static error.
# Used by the SK_NULL pre-pass in compile_expr — the r11 generalization
# of the r10 arithmetic fold (typed_ops.SK_NULL): without it, a nested
# string/accessor/cast composition over a provably-unbound variable
# compiles its full runtime ladder over NULL literals, and Catalyst's
# fixpoint then grinds through the stacked interner Projects for
# minutes (r11 sfn fuzz seed 151: BIND(TZ(xsd:string(YEAR(?unbound))))
# feeding a STRBEFORE/STRAFTER pair took the optimizer >300 s / OOM).
# Deliberately excluded: BOUND (unbound -> false), COALESCE, IF (lazy
# branches), &&/||/! (three-valued), IN (empty-list edge), EXISTS,
# zero-arg constructors (they never match: the rule requires args).
_NULL_STRICT_FNS = frozenset({
    "STR", "LANG", "DATATYPE", "STRLEN", "UCASE", "LCASE", "SUBSTR",
    "STRBEFORE", "STRAFTER", "CONCAT", "REPLACE", "ENCODE_FOR_URI",
    "YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS", "TZ",
    "TIMEZONE", "ABS", "ROUND", "CEIL", "FLOOR", "MD5", "SHA1",
    "SHA256", "SHA384", "SHA512", "IRI", "URI", "STRDT", "STRLANG",
    "BNODE", "+", "-", "*", "/", "UMINUS", "UPLUS",
})


def _statically_null(expr, resolve: Resolver) -> bool:
    """True when `expr` provably evaluates to an error/NULL on every row
    — an always-unbound variable (resolver tags it SK_NULL), a column a
    previous BIND already folded to SK_NULL, or a strict builtin/cast
    over such an argument."""
    from ..sparql.algebra import ECall, EVar
    if isinstance(expr, EVar):
        return resolve(expr.name).kind == tv.SK_NULL
    if isinstance(expr, ECall):
        name = expr.name
        if name in _NULL_STRICT_FNS or (
                name.startswith(XSD) and _cast_fn(name) is not None):
            return bool(expr.args) and any(
                _statically_null(a, resolve) for a in expr.args)
    return False


def compile_expr(expr, resolve: Resolver) -> TermExpr:
    """Expression → term record."""
    from ..sparql.algebra import ECall, ETerm, EVar, EExists

    if isinstance(expr, EVar):
        return resolve(expr.name)
    if isinstance(expr, ETerm):
        return term_lit(expr.term)
    if isinstance(expr, EExists):
        raise SparqlCompileError(
            "EXISTS outside FILTER conjunction is not supported yet")
    if isinstance(expr, ECall):
        name = expr.name
        if _statically_null(expr, resolve):
            return TermExpr(NULL_TERM(), tv.SK_NULL)
        if name in _BOOL_OPS:
            return _intern(bool_term(compile_bool(expr, resolve)))
        fn = _TERM_FNS.get(name)
        if fn is None:
            fn = _cast_fn(name)
        if fn is None:
            from .registry import lookup
            builder = lookup(name)
            if builder is not None:
                cols = [compile_expr(a, resolve).col for a in expr.args]
                return _intern(tv.as_term(builder(cols)))
            raise SparqlCompileError(f"unsupported function: {name}")
        return _intern(fn([a for a in expr.args], resolve))
    raise SparqlCompileError(f"unknown expression node: {expr!r}")


def compile_bool_where(expr, resolve: Resolver) -> Column:
    """compile_bool for a POSITIVE filter context (WHERE cond): NULL and
    false are indistinguishable there, so top-level `=` conjuncts compile
    to the flat AND form Catalyst can extract equi-join keys from (see
    typed_ops.rdf_equal flat=True). Negations and disjunction operands
    keep full 3-valued semantics via compile_bool."""
    from ..sparql.algebra import ECall

    if isinstance(expr, ECall):
        if expr.name == "&&":
            return compile_bool_where(expr.args[0], resolve) & \
                compile_bool_where(expr.args[1], resolve)
        if expr.name == "=":
            l = compile_expr(expr.args[0], resolve)
            r = compile_expr(expr.args[1], resolve)
            return tv.rdf_equal(l, r, flat=True)
        if expr.name in ("<", "<=", ">", ">="):
            # flat conjunctive form for statically-typed operands: the
            # only shape that reaches the parquet scan as a pushed RANGE
            # predicate (the generic 3-way CASE ladder never translates;
            # r11 opt — q1's l_shipdate bound, guide §6)
            l = compile_expr(expr.args[0], resolve)
            r = compile_expr(expr.args[1], resolve)
            return {"<": tv.rdf_less, "<=": tv.rdf_less_eq,
                    ">": tv.rdf_greater, ">=": tv.rdf_greater_eq,
                    }[expr.name](l, r, flat=True)
    return compile_bool(expr, resolve)


def compile_bool(expr, resolve: Resolver) -> Column:
    """Expression → native boolean Column (EBV semantics, 3-valued)."""
    from ..sparql.algebra import ECall, EExists

    if isinstance(expr, ECall):
        name = expr.name
        a = expr.args
        if name == "&&":
            return compile_bool(a[0], resolve) & compile_bool(a[1], resolve)
        if name == "||":
            return compile_bool(a[0], resolve) | compile_bool(a[1], resolve)
        if name == "!":
            return ~compile_bool(a[0], resolve)
        if name in ("=", "!=", "<", "<=", ">", ">="):
            l = compile_expr(a[0], resolve)
            r = compile_expr(a[1], resolve)
            return {
                "=": tv.rdf_equal, "!=": tv.rdf_not_equal,
                "<": tv.rdf_less, "<=": tv.rdf_less_eq,
                ">": tv.rdf_greater, ">=": tv.rdf_greater_eq,
            }[name](l, r)
        if name in ("IN", "NOT IN"):
            l = compile_expr(a[0], resolve)
            conds = [tv.rdf_equal(l, compile_expr(x, resolve)) for x in a[1:]]
            if not conds:
                # even `?x IN ()` propagates an errored left operand
                res = F.when(l.col.isNotNull(), F.lit(False))
            else:
                res = conds[0]
                for c in conds[1:]:
                    res = res | c
            return ~res if name == "NOT IN" else res
        if name == "BOUND":
            from ..sparql.algebra import EVar
            if not isinstance(a[0], EVar):
                raise SparqlCompileError("BOUND requires a variable")
            return resolve(a[0].name).col.isNotNull()
        if name == "SAMETERM":
            l = tv.materialize_lexical(compile_expr(a[0], resolve))
            r = tv.materialize_lexical(compile_expr(a[1], resolve))
            return F.when(l.isNull() | r.isNull(), NULL_BOOL()).otherwise(l == r)
        if name == "ISIRI" or name == "ISURI":
            c = compile_expr(a[0], resolve)
            return F.when(c.col.isNotNull(), c["t"] == TT_IRI)
        if name == "ISBLANK":
            c = compile_expr(a[0], resolve)
            return F.when(c.col.isNotNull(), c["t"] == TT_BNODE)
        if name == "ISLITERAL":
            c = compile_expr(a[0], resolve)
            return F.when(c.col.isNotNull(), c["t"] == TT_LITERAL)
        if name == "ISNUMERIC":
            c = compile_expr(a[0], resolve)
            return F.when(c.col.isNotNull(), is_numeric(c))
        if name in ("STRSTARTS", "STRENDS", "CONTAINS", "LANGMATCHES", "REGEX"):
            return _string_predicate(name, a, resolve)
    if isinstance(expr, EExists):
        raise SparqlCompileError(
            "EXISTS outside FILTER conjunction is not supported yet")
    return ebv(compile_expr(expr, resolve))


_BOOL_OPS = {
    "&&", "||", "!", "=", "!=", "<", "<=", ">", ">=", "IN", "NOT IN",
    "BOUND", "SAMETERM", "ISIRI", "ISURI", "ISBLANK", "ISLITERAL",
    "ISNUMERIC", "STRSTARTS", "STRENDS", "CONTAINS", "LANGMATCHES", "REGEX",
}


# ---------------------------------------------------------------------------
# string helpers
# ---------------------------------------------------------------------------

def _args_compatible(a: TermExpr, b: TermExpr) -> Column:
    """SPARQL 17.4.3.1.2 argument compatibility for binary string functions."""
    return is_string_like(a) & is_string_like(b) & (
        b["lang"].isNull() | (a["lang"] == b["lang"])
    )


def _const_plain_str(arg) -> "str | None":
    """The Python string of a constant simple/xsd:string argument."""
    from ..sparql.algebra import ETerm
    from ..terms import XSD_STRING
    if isinstance(arg, ETerm) and isinstance(arg.term, Literal) \
            and arg.term.language is None \
            and arg.term.datatype in (None, XSD_STRING):
        return arg.term.lexical
    return None


def _jvm_pattern(pattern: str):
    """Compile via java.util.regex (the engine that will run it), or None
    when no JVM is reachable."""
    from pyspark.sql import SparkSession
    spark = SparkSession.getActiveSession()
    if spark is None:
        return None
    return spark._jvm.java.util.regex.Pattern.compile(pattern)


def _regex_pattern(args, resolve, pat_idx: int, flags_idx: int):
    """(pattern Column | None, groupCount | None); None column = the
    CONSTANT pattern is invalid → expression error, not a query abort
    (Spark's regexp_* throw SparkRuntimeException for bad patterns).

    Also implements the XPath 'q' flag (match as literal string), which
    Java has no inline-flag spelling for — the constant pattern is
    wrapped in \\Q...\\E instead."""
    pat_c = _const_plain_str(args[pat_idx])
    flags_c = _const_plain_str(args[flags_idx]) \
        if len(args) > flags_idx else ""
    if pat_c is not None and flags_c is not None:
        if "q" in flags_c:
            pat_c = "\\Q" + pat_c + "\\E"
            flags_c = flags_c.replace("q", "")
        full = f"(?{flags_c}){pat_c}" if flags_c else pat_c
        try:
            compiled = _jvm_pattern(full)
        except Exception:
            return None, None, None
        gc, m_empty = None, None
        if compiled is not None:
            gc = compiled.matcher("").groupCount()
            m_empty = bool(compiled.matcher("").find())
        return F.lit(full), gc, m_empty
    pat = as_string(compile_expr(args[pat_idx], resolve))
    if len(args) > flags_idx:
        flags = as_string(compile_expr(args[flags_idx], resolve))
        pat = F.concat(F.lit("(?"), flags, F.lit(")"), pat)
    return pat, None, None


def _replacement_invalid(rep: str, group_count) -> bool:
    """Java Matcher.replaceAll rejects a bare '$' and group references
    beyond groupCount (XPath FORX0004) — detect both for constant
    replacements so they become expression errors."""
    if group_count is None:
        return False
    i = 0
    while i < len(rep):
        ch = rep[i]
        if ch == "\\":
            i += 2
            continue
        if ch == "$":
            if i + 1 >= len(rep) or not rep[i + 1].isdigit():
                return True
            if int(rep[i + 1]) > group_count:
                return True
            i += 2
            continue
        i += 1
    return False


def _string_predicate(name: str, args: list, resolve: Resolver) -> Column:
    a = compile_expr(args[0], resolve)
    b = compile_expr(args[1], resolve)
    if name == "LANGMATCHES":
        tag, rng = as_string(a), as_string(b)
        res = F.when(rng == "*", tag != "").otherwise(
            (F.lower(tag) == F.lower(rng))
            | F.lower(tag).startswith(F.concat(F.lower(rng), F.lit("-"))))
        return F.when(tag.isNotNull() & rng.isNotNull(), res)
    if name == "REGEX":
        s = as_string(a)
        pat, _, _ = _regex_pattern(args, resolve, 1, 2)
        if pat is None:  # constant pattern failed to compile
            return NULL_BOOL()
        return F.when(s.isNotNull() & pat.isNotNull(), F.regexp_like(s, pat))
    ok = _args_compatible(a, b)
    fn = {"STRSTARTS": lambda x, y: x.startswith(y),
          "STRENDS": lambda x, y: x.endswith(y),
          "CONTAINS": lambda x, y: x.contains(y)}[name]
    return F.when(ok, fn(a["v"], b["v"]))


def _preserve_lang(src: TermExpr, new_value: Column) -> TermExpr:
    """Result literal carries src's lang/dt (for SUBSTR/UCASE/REPLACE...).

    The result is string-like by construction (the guard requires it of
    src), so k is the K_STRING constant and the numeric/temporal views are
    NULL — passing them explicitly keeps term_struct from emitting its
    full runtime kind ladder per call site (8 stacked string BINDs
    otherwise push one WholeStageCodegen past Janino's 64 KB method
    limit and the whole projection chain falls back to interpreted)."""
    out = F.when(
        src.col.isNotNull() & is_string_like(src) & new_value.isNotNull(),
        term_struct(F.lit(TT_LITERAL), new_value, src["dt"], src["lang"],
                    k=F.lit(tv.K_STRING), x=tv.None_x(), d=tv.None_d(),
                    ts=tv.None_ts()),
    )
    # a plain-string input (lang/dt-free) yields a plain-string result;
    # any other input still yields SOME string-like literal
    return TermExpr(out, tv.SK_PLAIN if src.kind == tv.SK_PLAIN
                    else tv.K_STRING)


# ---------------------------------------------------------------------------
# term-valued builtins
# ---------------------------------------------------------------------------

def _str_of(c: TermExpr) -> TermExpr:
    """STR() and xsd:string(): the lexical form as a plain literal."""
    return TermExpr(
        F.when(c["t"] != TT_BNODE, string_term(tv.lexical_of(c)).col),
        tv.SK_PLAIN)


def _fn_str(args, resolve):
    return _str_of(compile_expr(args[0], resolve))


def _fn_lang(args, resolve):
    c = compile_expr(args[0], resolve)
    return TermExpr(
        F.when(c["t"] == TT_LITERAL,
               string_term(F.coalesce(c["lang"], F.lit(""))).col),
        tv.SK_PLAIN)


def _fn_datatype(args, resolve):
    c = compile_expr(args[0], resolve)
    return TermExpr(F.when(
        c["t"] == TT_LITERAL,
        term_struct(F.lit(TT_IRI), F.coalesce(c["dt"], F.lit(XSD_STRING)))))


def _fn_iri(args, resolve):
    c = compile_expr(args[0], resolve)
    v = c["v"]
    if len(args) > 1:
        # synthetic base argument injected by the parser when the query
        # has a BASE: relative strings (no scheme) resolve against it
        from ..sparql.algebra import ETerm
        base = args[1].term.lexical if isinstance(args[1], ETerm) else None
        if base:
            v = F.when(v.rlike("^[A-Za-z][A-Za-z0-9+.-]*:"), v) \
                .otherwise(F.concat(F.lit(base), v))
    return TermExpr(
        F.when(c["t"] == TT_IRI, c.col)
        .when(is_plain_string(c), term_struct(F.lit(TT_IRI), v))
    )


def _fn_bnode(args, resolve):
    if not args:
        return TermExpr(term_struct(F.lit(TT_BNODE), F.expr("uuid()")))
    c = compile_expr(args[0], resolve)
    return TermExpr(
        F.when(is_plain_string(c), term_struct(F.lit(TT_BNODE), c["v"])))


def _fn_strdt(args, resolve):
    from ..sparql.algebra import ETerm
    from ..terms import (NamedNode, static_kind_for_datatype,
                         term_struct_static_dt)

    lex = compile_expr(args[0], resolve)
    dt_node = args[1]
    if isinstance(dt_node, ETerm) and isinstance(dt_node.term, NamedNode):
        # constant datatype (the common case): static kind, no runtime
        # datatype-dispatch ladders in the struct (see term_struct_static_dt)
        iri = dt_node.term.iri
        k = static_kind_for_datatype(iri)
        out = F.when(is_plain_string(lex),
                     term_struct_static_dt(lex["v"], iri))
        return TermExpr(out, tv.SK_PLAIN if k == tv.K_STRING else k)
    dt = compile_expr(dt_node, resolve)
    return TermExpr(F.when(
        is_plain_string(lex) & (dt["t"] == TT_IRI),
        term_struct(F.lit(TT_LITERAL), lex["v"], dt["v"]),
    ))


def _fn_strlang(args, resolve):
    lex = compile_expr(args[0], resolve)
    lang = compile_expr(args[1], resolve)
    return TermExpr(F.when(
        is_plain_string(lex) & is_plain_string(lang) & (F.length(lang["v"]) > 0),
        term_struct(F.lit(TT_LITERAL), lex["v"], F.lit(RDF_LANG_STRING),
                    F.lower(lang["v"])),
    ))


def _fn_uuid(args, resolve):
    return TermExpr(term_struct(
        F.lit(TT_IRI), F.concat(F.lit("urn:uuid:"), F.expr("uuid()"))))


def _fn_struuid(args, resolve):
    return string_term(F.expr("uuid()"))


def _fn_strlen(args, resolve):
    c = compile_expr(args[0], resolve)
    return int_term(F.length(as_string(c)))


def _fn_substr(args, resolve):
    # XPath fn:substring window semantics: the result is the characters at
    # positions p (1-based) with start <= p < start + length — so a start
    # below 1 consumes part of the window before the string begins
    # (SUBSTR("motor", 0, 3) = "mo"), unlike Spark's substr(0, 3) = "mot"
    c = compile_expr(args[0], resolve)
    start = as_long(compile_expr(args[1], resolve)).cast("int")
    eff_start = F.greatest(start, F.lit(1))
    if len(args) >= 3:
        length = as_long(compile_expr(args[2], resolve)).cast("int")
        eff_len = F.greatest(start + length - eff_start, F.lit(0))
        new = c["v"].substr(eff_start, eff_len)
    else:
        new = c["v"].substr(eff_start, F.lit(2147483647))
    return _preserve_lang(c, new)


def _fn_ucase(args, resolve):
    c = compile_expr(args[0], resolve)
    return _preserve_lang(c, F.upper(as_string(c)))


def _fn_lcase(args, resolve):
    c = compile_expr(args[0], resolve)
    return _preserve_lang(c, F.lower(as_string(c)))


def _fn_strbefore(args, resolve):
    a = compile_expr(args[0], resolve)
    b = compile_expr(args[1], resolve)
    pos = F.instr(a["v"], b["v"])
    found = _preserve_lang(a, a["v"].substr(F.lit(1), pos - 1))
    return TermExpr(F.when(_args_compatible(a, b), F.when(pos > 0, found.col)
                           .otherwise(string_term(F.lit("")).col)))


def _fn_strafter(args, resolve):
    a = compile_expr(args[0], resolve)
    b = compile_expr(args[1], resolve)
    pos = F.instr(a["v"], b["v"])
    tail = _preserve_lang(
        a, a["v"].substr(pos + F.length(b["v"]), F.lit(2147483647)))
    return TermExpr(F.when(_args_compatible(a, b), F.when(pos > 0, tail.col)
                           .otherwise(string_term(F.lit("")).col)))


def _fn_concat(args, resolve):
    terms = [compile_expr(a, resolve) for a in args]
    if not terms:
        return string_term(F.lit(""))
    all_str = terms[0].col.isNotNull() & is_string_like(terms[0])
    for t in terms[1:]:
        all_str = all_str & t.col.isNotNull() & is_string_like(t)
    value = F.concat(*[t["v"] for t in terms])
    lang0 = terms[0]["lang"]
    same_lang = F.lit(True)
    for t in terms[1:]:
        same_lang = same_lang & (t["lang"].eqNullSafe(lang0))
    out_lang = F.when(same_lang, lang0)
    out_dt = F.when(same_lang & lang0.isNotNull(), F.lit(RDF_LANG_STRING)) \
        .otherwise(F.lit(XSD_STRING))
    # string-like by construction: constant kind, no typed views (see
    # _preserve_lang for why the derived ladder must not be emitted)
    return TermExpr(
        F.when(all_str, term_struct(F.lit(TT_LITERAL), value, out_dt, out_lang,
                                    k=F.lit(tv.K_STRING), x=tv.None_x(),
                                    d=tv.None_d(), ts=tv.None_ts())),
        tv.SK_PLAIN if all(t.kind == tv.SK_PLAIN for t in terms)
        else tv.K_STRING)


def _fn_replace(args, resolve):
    c = compile_expr(args[0], resolve)
    pat, group_count, matches_empty = _regex_pattern(args, resolve, 1, 3)
    if pat is None:  # constant pattern failed to compile
        return TermExpr(NULL_TERM())
    if matches_empty:
        # XPath fn:replace FORX0003: a pattern that matches the
        # zero-length string is an error, not Java's interleaving
        return TermExpr(NULL_TERM())
    rep_c = _const_plain_str(args[2])
    if rep_c is not None and _replacement_invalid(rep_c, group_count):
        return TermExpr(NULL_TERM())  # bare '$' / bad group ref (FORX0004)
    rep = as_string(compile_expr(args[2], resolve))
    out = _preserve_lang(c, F.regexp_replace(as_string(c), pat, rep))
    if matches_empty is None:
        # dynamic pattern: the FORX0003 zero-length-match check must
        # run per row
        out = TermExpr(F.when(~F.regexp_like(F.lit(""), pat), out.col))
    return out


def _fn_encode_for_uri(args, resolve):
    c = as_string(compile_expr(args[0], resolve))
    enc = F.url_encode(c)
    # align Java URLEncoder with RFC 3986 / XPath fn:encode-for-uri
    enc = F.replace(enc, F.lit("+"), F.lit("%20"))
    enc = F.replace(enc, F.lit("*"), F.lit("%2A"))
    enc = F.replace(enc, F.lit("%7E"), F.lit("~"))
    return string_term(enc)


def _hash_fn(h):
    def fn(args, resolve):
        c = compile_expr(args[0], resolve)
        return string_term(h(as_string(c)))
    return fn


def _by_rank(args, resolve, dbl, dec, lng=lambda n: n) -> TermExpr:
    """A numeric builtin over its argument's runtime rank: dbl/dec/lng
    map the double/decimal/long view to the result's value."""
    c = compile_expr(args[0], resolve)
    rank = numeric_rank(c)
    return TermExpr(
        F.when(rank.isNull(), NULL_TERM())
        .when(rank >= RANK_FLOAT, double_term(dbl(as_double(c))).col)
        .when(rank == RANK_DECIMAL, decimal_term(dec(as_decimal(c))).col)
        .otherwise(int_term(lng(as_long(c))).col)
    )


def _fn_abs(args, resolve):
    return _by_rank(args, resolve, F.abs, F.abs, F.abs)


def _fn_round(args, resolve):
    # SPARQL ROUND = round half toward +inf == floor(x + 0.5)
    return _by_rank(args, resolve,
                    lambda x: F.floor(x + 0.5).cast("double"),
                    lambda d: F.floor(d + 0.5).cast(DECIMAL_T))


def _fn_ceil(args, resolve):
    return _by_rank(args, resolve, lambda x: F.ceil(x).cast("double"),
                    lambda d: F.ceil(d).cast(DECIMAL_T))


def _fn_floor(args, resolve):
    return _by_rank(args, resolve, lambda x: F.floor(x).cast("double"),
                    lambda d: F.floor(d).cast(DECIMAL_T))


def _fn_rand(args, resolve):
    return double_term(F.rand())


def _local_ts(c):
    """The dateTime's own local value: component accessors (XPath
    fn:hours-from-dateTime etc.) read the literal's components WITH its
    timezone offset applied, not the UTC instant. The offset lives only in
    the lexical; a NULL/absent lexical (lazy scan terms, which the
    relational mapping emits offset-free) means no offset."""
    ts = as_timestamp(c)
    tz = F.regexp_extract(c["v"], r"(Z|[+-]\d\d:\d\d)$", 1)
    sign = F.when(tz.startswith("-"), F.lit(-1)).otherwise(F.lit(1))
    hours = F.regexp_extract(tz, r"(\d\d):", 1).try_cast("int")
    mins = F.regexp_extract(tz, r":(\d\d)$", 1).try_cast("int")
    offs = sign * (F.coalesce(hours, F.lit(0)) * 3600
                   + F.coalesce(mins, F.lit(0)) * 60)
    offs = F.coalesce(offs, F.lit(0))
    return F.when(offs == 0, ts).otherwise(
        ts + F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0),
                                offs.cast("double")))


def _dt_part(part_fn):
    def fn(args, resolve):
        c = compile_expr(args[0], resolve)
        # _local_ts is ~2.5 KB of offset-regexp plan text; hoist it to a
        # named temp column so a run of accessors (YEAR..MINUTES over the
        # same dateTime) doesn't re-emit it per accessor — stacked BINDs
        # otherwise push one WholeStageCodegen past Janino's 64 KB limit
        return int_term(part_fn(_intern_col(_local_ts(c))).cast("long"))
    return fn


def _fn_seconds(args, resolve):
    c = compile_expr(args[0], resolve)
    ts = _intern_col(_local_ts(c))
    # keep fractional seconds: second() truncates
    frac = ts.cast("decimal(38,6)") % 60
    return decimal_term(frac.cast(DECIMAL_T))


def _fn_tz(args, resolve):
    c = compile_expr(args[0], resolve)
    tz = F.regexp_extract(c["v"], r"(Z|[+-]\d\d:\d\d)$", 1)
    return TermExpr(F.when(as_timestamp(c).isNotNull(), string_term(tz).col))


def _fn_timezone(args, resolve):
    c = compile_expr(args[0], resolve)
    # tz/hours/mins are each referenced from several WHEN branches below;
    # interning keeps the compiled tree linear (uninterned, this one
    # builtin alone emitted a ~19 KB plan and pushed accessor-heavy BINDs
    # over Janino's 64 KB method limit)
    tz = _intern_col(F.regexp_extract(c["v"], r"(Z|[+-]\d\d:\d\d)$", 1))
    sign = F.when(tz.startswith("-"), -1).otherwise(1)
    hours = _intern_col(
        F.regexp_extract(tz, r"(\d\d):", 1).try_cast("int") * sign)
    mins = _intern_col(
        F.regexp_extract(tz, r":(\d\d)$", 1).try_cast("int") * sign)
    lex = (
        F.when(tz == "Z", F.lit("PT0S"))
        .when((hours == 0) & (mins == 0), F.lit("PT0S"))
        .when(mins == 0, F.concat(F.when(sign < 0, F.lit("-")).otherwise(F.lit("")),
                                  F.lit("PT"), F.abs(hours).cast("string"), F.lit("H")))
        .otherwise(F.concat(F.when(sign < 0, F.lit("-")).otherwise(F.lit("")),
                            F.lit("PT"), F.abs(hours).cast("string"), F.lit("H"),
                            F.abs(mins).cast("string"), F.lit("M")))
    )
    return TermExpr(F.when(
        (tz != "") & as_timestamp(c).isNotNull(),
        term_struct(F.lit(TT_LITERAL), lex, F.lit(XSD_DAY_TIME_DURATION))))


def _fn_if(args, resolve):
    cond = compile_bool(args[0], resolve)
    t = compile_expr(args[1], resolve)
    e = compile_expr(args[2], resolve)
    return TermExpr(F.when(cond, t.col).when(~cond, e.col))


def _fn_coalesce(args, resolve):
    cols = [compile_expr(a, resolve).col for a in args]
    return TermExpr(F.coalesce(*cols) if cols else NULL_TERM())


def _arith(op):
    def fn(args, resolve):
        l = compile_expr(args[0], resolve)
        r = compile_expr(args[1], resolve)
        return {"+": tv.rdf_add, "-": tv.rdf_sub,
                "*": tv.rdf_mul, "/": tv.rdf_div}[op](l, r)
    return fn


def _fn_uminus(args, resolve):
    return tv.rdf_neg(compile_expr(args[0], resolve))


def _fn_uplus(args, resolve):
    return tv.rdf_unary_plus(compile_expr(args[0], resolve))


_TERM_FNS: dict[str, Callable] = {
    "+": _arith("+"), "-": _arith("-"), "*": _arith("*"), "/": _arith("/"),
    "UMINUS": _fn_uminus, "UPLUS": _fn_uplus,
    "STR": _fn_str, "LANG": _fn_lang, "DATATYPE": _fn_datatype,
    "IRI": _fn_iri, "URI": _fn_iri, "BNODE": _fn_bnode,
    "STRDT": _fn_strdt, "STRLANG": _fn_strlang,
    "UUID": _fn_uuid, "STRUUID": _fn_struuid,
    "STRLEN": _fn_strlen, "SUBSTR": _fn_substr,
    "UCASE": _fn_ucase, "LCASE": _fn_lcase,
    "STRBEFORE": _fn_strbefore, "STRAFTER": _fn_strafter,
    "CONCAT": _fn_concat, "REPLACE": _fn_replace,
    "ENCODE_FOR_URI": _fn_encode_for_uri,
    "MD5": _hash_fn(F.md5),
    "SHA1": _hash_fn(F.sha1),
    "SHA256": _hash_fn(lambda c: F.sha2(c, 256)),
    "SHA384": _hash_fn(lambda c: F.sha2(c, 384)),
    "SHA512": _hash_fn(lambda c: F.sha2(c, 512)),
    "ABS": _fn_abs, "ROUND": _fn_round, "CEIL": _fn_ceil, "FLOOR": _fn_floor,
    "RAND": _fn_rand,
    "YEAR": _dt_part(F.year), "MONTH": _dt_part(F.month), "DAY": _dt_part(F.day),
    "HOURS": _dt_part(F.hour), "MINUTES": _dt_part(F.minute),
    "SECONDS": _fn_seconds, "TZ": _fn_tz, "TIMEZONE": _fn_timezone,
    "IF": _fn_if, "COALESCE": _fn_coalesce,
}


# ---------------------------------------------------------------------------
# XSD constructor casts (reference: lib/functions/src/scalar/conversion/)
# ---------------------------------------------------------------------------

def _cast_fn(name: str):
    if not name.startswith(XSD):
        return None
    target = name[len(XSD):]

    from ..terms import K_DATETIME, K_DECIMAL, K_INTEGER

    def fn(args, resolve):
        c = compile_expr(args[0], resolve)
        sk = c.kind
        num_rt = sk == tv.SK_NUM  # numeric, rank known only at runtime
        if num_rt:
            sk = None
            # 2-branch ladders: every non-NULL value is numeric, so the
            # non-numeric arms of the generic k-dispatch fold away
            # (SUM/AVG outputs carry this kind — the post-agg xsd:double
            # wrapper was a full 5-arm CASE over the output struct)
            if target in ("integer", "int", "long", "short", "byte"):
                return int_term(
                    F.when(c["k"] == K_INTEGER, c["d"].cast("long"))
                    .otherwise(c["x"].cast("long")))
            if target == "decimal":
                return decimal_term(
                    F.when(c["k"] <= K_DECIMAL, c["d"])
                    .otherwise(c["x"].cast(DECIMAL_T)))
            if target in ("double", "float"):
                mk = double_term if target == "double" else _float_term
                return mk(c["x"])
        if target in ("integer", "int", "long", "short", "byte"):
            if sk is not None:
                # single-branch: the input's kind is statically known
                if sk == tv.K_INTEGER:
                    val = c.view("d").cast("long")
                elif tv._sk_numeric(sk):
                    val = c.view("x").cast("long")
                elif sk == tv.K_BOOLEAN:
                    val = F.when(as_boolean(c), 1).otherwise(0).cast("long")
                elif sk == tv.SK_PLAIN:
                    val = c.view("v").try_cast("long")
                else:
                    val = F.lit(None).cast("long")
                return int_term(val)
            val = (
                # exact path for integers; double→long truncates toward zero
                F.when(c["k"] == K_INTEGER, c["d"].cast("long"))
                .when(is_numeric(c), c["x"].cast("long"))
                .when((c["dt"] == XSD_BOOLEAN),
                      F.when(as_boolean(c), 1).otherwise(0).cast("long"))
                .when(is_plain_string(c), (c["v"]).try_cast("long"))
            )
            return int_term(val)
        if target == "decimal":
            if sk is not None:
                if sk <= K_DECIMAL:
                    val = c.view("d")
                elif tv._sk_numeric(sk):
                    val = c.view("x").cast(DECIMAL_T)
                elif sk == tv.K_BOOLEAN:
                    val = F.when(as_boolean(c), 1).otherwise(0).cast(DECIMAL_T)
                elif sk == tv.SK_PLAIN:
                    # XSD decimal lexical has no exponent form; Spark's
                    # cast accepts one — enforce the lexical grammar
                    v = c.view("v")
                    val = F.when(v.rlike(r"^[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)$"), v).try_cast(DECIMAL_T)
                else:
                    val = F.lit(None).cast(DECIMAL_T)
                return decimal_term(val)
            val = (
                F.when(c["k"] <= K_DECIMAL, c["d"])
                .when(is_numeric(c), c["x"].cast(DECIMAL_T))
                .when(c["dt"] == XSD_BOOLEAN,
                      F.when(as_boolean(c), 1).otherwise(0).cast(DECIMAL_T))
                .when(is_plain_string(c), F.when(c["v"].rlike(r"^[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)$"), c["v"]).try_cast(DECIMAL_T))
            )
            return decimal_term(val)
        if target in ("double", "float"):
            mk = double_term if target == "double" else _float_term
            if sk is not None:
                if tv._sk_numeric(sk):
                    val = c.view("x")
                elif sk == tv.K_BOOLEAN:
                    val = F.when(as_boolean(c), 1.0).otherwise(0.0)
                elif sk == tv.SK_PLAIN:
                    val = _str_to_double(c.view("v"))
                else:
                    val = F.lit(None).cast("double")
                return mk(val)
            val = (
                F.when(is_numeric(c), c["x"])
                .when(c["dt"] == XSD_BOOLEAN,
                      F.when(as_boolean(c), 1.0).otherwise(0.0))
                .when(is_plain_string(c), _str_to_double(c["v"]))
            )
            return mk(val)
        if target == "boolean":
            val = (
                F.when(c["dt"] == XSD_BOOLEAN, as_boolean(c))
                .when(is_numeric(c), as_double(c) != 0.0)
                .when(is_plain_string(c) & c["v"].isin("true", "1"), F.lit(True))
                .when(is_plain_string(c) & c["v"].isin("false", "0"), F.lit(False))
            )
            return bool_term(val)
        if target == "string":
            return _str_of(c)
        if target == "dateTime":
            if sk == K_DATETIME:
                val = c["ts"]
            elif sk == tv.SK_PLAIN:
                val = c["v"].try_cast("timestamp")
            elif sk is not None:
                val = F.lit(None).cast("timestamp")
            else:
                val = F.coalesce(
                    F.when(c["k"] == K_DATETIME, c["ts"]),
                    F.when(is_plain_string(c), (c["v"]).try_cast("timestamp")),
                )
            lex = F.regexp_replace(val.cast("string"), " ", "T")
            return TermExpr(
                F.when(val.isNotNull(),
                       term_struct(F.lit(TT_LITERAL), lex,
                                   F.lit(XSD_DATETIME),
                                   k=F.lit(K_DATETIME), x=tv.None_x(),
                                   d=tv.None_d(), ts=val)),
                tv.K_DATETIME)
        if target == "date":
            val = F.when(
                c["dt"].isin(XSD_DATETIME, XSD_DATE) | is_plain_string(c),
                (c["v"]).try_cast("date"),
            )
            return TermExpr(
                F.when(val.isNotNull(),
                       term_struct(F.lit(TT_LITERAL), val.cast("string"),
                                   F.lit(XSD_DATE))),
                tv.K_DATETIME)
        if target == "time":
            from ..terms import XSD_TIME
            src_ts = (
                F.when(c["k"] == K_DATETIME, c["ts"])
                .when(is_plain_string(c),
                      F.concat(F.lit("1970-01-01 "), c["v"])
                      .try_cast("timestamp"))
            )
            # preserve fractional seconds (XPath dateTime→time keeps
            # them): format with microseconds, trim trailing zeros and a
            # bare trailing dot
            lex = F.regexp_replace(
                F.date_format(src_ts, "HH:mm:ss.SSSSSS"),
                r"\.?0+$", "")
            anchored = F.to_timestamp(
                F.concat(F.lit("1970-01-01 "), lex))
            return TermExpr(
                F.when(
                    src_ts.isNotNull(),
                    term_struct(F.lit(TT_LITERAL), lex, F.lit(XSD_TIME),
                                k=F.lit(K_DATETIME), x=tv.None_x(),
                                d=tv.None_d(), ts=anchored)),
                tv.K_DATETIME)
        if target in ("duration", "yearMonthDuration", "dayTimeDuration"):
            from ..terms import (
                K_DURATION,
                duration_months_col,
                duration_seconds_col,
            )
            zero_d = F.lit(0).cast(DECIMAL_T)
            m = (F.when(c["k"] == K_DURATION, c["x"])
                 .when(is_plain_string(c), duration_months_col(c["v"])))
            s = (F.when(c["k"] == K_DURATION, c["d"])
                 .when(is_plain_string(c), duration_seconds_col(c["v"])))
            if target == "yearMonthDuration":
                # XPath cast keeps only the month part
                s = F.when(m.isNotNull(), zero_d)
            elif target == "dayTimeDuration":
                m = F.when(s.isNotNull(), F.lit(0.0))
            return tv.duration_term(m, s, XSD + target)
        return None

    # probe: unsupported targets return None
    if target not in ("integer", "int", "long", "short", "byte", "decimal",
                      "double", "float", "boolean", "string", "dateTime", "date",
                      "time", "duration", "yearMonthDuration",
                      "dayTimeDuration"):
        return None
    return fn


def _str_to_double(v: Column) -> Column:
    """String-to-double with the XSD INF forms Spark's cast rejects."""
    return (F.when(v == "INF", F.lit(float("inf")))
            .when(v == "-INF", F.lit(float("-inf")))
            .otherwise(v.try_cast("double")))


def _float_term(x: Column) -> TermExpr:
    # canonical float lexical: integral values print without ".0"
    # (matches Rust/oxigraph f32 Display; W3C canonical allows both);
    # Infinity/-Infinity render as INF/-INF per XSD
    lex = F.regexp_replace(
        tv.canon_double_string(x.cast("float").cast("double")), r"\.0$", "")
    return TermExpr(F.when(
        x.isNotNull(),
        term_struct(F.lit(TT_LITERAL), lex, F.lit(XSD_FLOAT)),
    ))
