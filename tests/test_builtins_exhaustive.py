"""Executes EVERY function in _TERM_FNS, every cast target, and every
_BOOL_OPS entry at least once — garbled-but-never-run builders cannot hide.

Each case compiles an expression over constant terms and runs it on a
1-row DataFrame; `want` asserts the result term's lexical value (None =
just require error-free execution)."""

import pytest
from pyspark.sql import functions as F

from rdf_fusion_spark.functions import builtins as B
from rdf_fusion_spark.functions.typed_ops import TermExpr
from rdf_fusion_spark.sparql import algebra as A
from rdf_fusion_spark.terms import (
    XSD_BOOLEAN,
    XSD_DATETIME,
    XSD_DECIMAL,
    XSD_DOUBLE,
    XSD_INTEGER,
    Literal,
    NamedNode,
)


def t(lex, dt=None, lang=None):
    if lang:
        return A.ETerm(Literal(lex, language=lang))
    return A.ETerm(Literal(lex, dt or "http://www.w3.org/2001/XMLSchema#string"))


def iri(x):
    return A.ETerm(NamedNode(x))


I5 = t("5", XSD_INTEGER)
I7 = t("7", XSD_INTEGER)
D25 = t("2.5", XSD_DECIMAL)
X2 = t("2.0", XSD_DOUBLE)
S = t("Hello World")
DT = t("2011-01-10T14:45:13.815-05:00", XSD_DATETIME)
DTZ = t("2020-06-01T10:20:30Z", XSD_DATETIME)
DTN = t("2020-06-01T10:20:30", XSD_DATETIME)

XSD = "http://www.w3.org/2001/XMLSchema#"

TERM_CASES = [
    ("+", [I5, I7], "12"),
    ("-", [I5, I7], "-2"),
    ("*", [I5, D25], "12.5"),
    ("/", [I7, t("2", XSD_INTEGER)], "3.5"),       # int/int -> decimal
    ("/", [I5, t("0", XSD_INTEGER)], None),         # div by zero -> error
    ("UMINUS", [I5], "-5"),
    ("UPLUS", [D25], "2.5"),
    ("STR", [iri("x:abc")], "x:abc"),
    ("LANG", [t("hi", lang="en")], "en"),
    ("DATATYPE", [I5], XSD + "integer"),
    ("IRI", [t("x:y")], "x:y"),
    ("URI", [t("x:y")], "x:y"),
    ("BNODE", [], NotImplemented),
    ("BNODE", [t("b1")], "b1"),
    ("STRDT", [t("lex"), iri(XSD + "token")], "lex"),
    ("STRLANG", [t("bonjour"), t("FR")], "bonjour"),
    ("UUID", [], NotImplemented),
    ("STRUUID", [], NotImplemented),
    ("STRLEN", [S], "11"),
    ("SUBSTR", [S, t("7", XSD_INTEGER)], "World"),
    ("SUBSTR", [S, t("1", XSD_INTEGER), t("5", XSD_INTEGER)], "Hello"),
    ("UCASE", [S], "HELLO WORLD"),
    ("LCASE", [S], "hello world"),
    ("STRBEFORE", [S, t(" ")], "Hello"),
    ("STRAFTER", [S, t(" ")], "World"),
    ("CONCAT", [t("ab"), t("cd")], "abcd"),
    ("REPLACE", [S, t("o"), t("0")], "Hell0 W0rld"),
    ("REPLACE", [S, t("L"), t("_"), t("i")], "He__o Wor_d"),
    ("ENCODE_FOR_URI", [t("a b~c*")], "a%20b~c%2A"),
    ("MD5", [t("abc")], "900150983cd24fb0d6963f7d28e17f72"),
    ("SHA1", [t("abc")], "a9993e364706816aba3e25717850c26c9cd0d89d"),
    ("SHA256", [t("abc")], None),
    ("SHA384", [t("abc")], None),
    ("SHA512", [t("abc")], None),
    ("ABS", [t("-5", XSD_INTEGER)], "5"),
    ("ABS", [t("-2.5", XSD_DECIMAL)], "2.5"),
    ("ROUND", [t("2.5", XSD_DECIMAL)], "3"),
    ("ROUND", [t("-2.5", XSD_DOUBLE)], "-2.0"),     # half toward +inf
    ("CEIL", [t("2.1", XSD_DECIMAL)], "3"),
    ("FLOOR", [t("2.9", XSD_DECIMAL)], "2"),
    ("RAND", [], NotImplemented),
    ("YEAR", [DTZ], "2020"),
    ("MONTH", [DTZ], "6"),
    ("DAY", [DTZ], "1"),
    ("HOURS", [DTZ], "10"),
    ("MINUTES", [DTZ], "20"),
    ("SECONDS", [DT], "13.815"),
    ("TZ", [DT], "-05:00"),
    ("TZ", [DTZ], "Z"),
    ("TIMEZONE", [DT], "-PT5H"),
    ("TIMEZONE", [DTZ], "PT0S"),
    ("TIMEZONE", [t("2011-01-10T14:45:13+05:30", XSD_DATETIME)], "PT5H30M"),
    ("IF", [A.ECall("=", [I5, I5]), S, I7], "Hello World"),
    ("COALESCE", [A.ECall("/", [I5, t("0", XSD_INTEGER)]), I7], "7"),
    # casts
    (XSD + "integer", [t("3.9", XSD_DECIMAL)], "3"),
    (XSD + "integer", [t("true", XSD_BOOLEAN)], "1"),
    (XSD + "integer", [t("42")], "42"),
    (XSD + "int", [t("-7", XSD_INTEGER)], "-7"),
    (XSD + "long", [I5], "5"),
    (XSD + "short", [I5], "5"),
    (XSD + "byte", [I5], "5"),
    (XSD + "decimal", [t("4.50")], "4.5"),
    (XSD + "double", [I5], "5.0"),
    (XSD + "float", [t("1.5")], "1.5"),
    (XSD + "boolean", [t("1")], "true"),
    (XSD + "boolean", [t("0", XSD_INTEGER)], "false"),
    (XSD + "string", [I5], "5"),
    (XSD + "dateTime", [t("2020-06-01T10:20:30")], "2020-06-01T10:20:30"),
    (XSD + "date", [DTZ], "2020-06-01"),
]

BOOL_CASES = [
    ("=", [I5, t("5.0", XSD_DECIMAL)], True),
    ("!=", [I5, I7], True),
    ("<", [I5, I7], True),
    ("<=", [X2, D25], True),
    (">", [S, t("Abc")], True),
    (">=", [DTZ, DTN], True),  # naive dateTime == same instant in UTC session
    ("IN", [I5, I7, t("5.0", XSD_DOUBLE)], True),
    ("NOT IN", [I5, I7], True),
    ("SAMETERM", [I5, I5], True),
    ("SAMETERM", [I5, t("5.0", XSD_DECIMAL)], False),
    ("ISIRI", [iri("x:a")], True),
    ("ISURI", [S], False),
    ("ISBLANK", [A.ECall("BNODE", [t("z")])], True),
    ("ISLITERAL", [S], True),
    ("ISNUMERIC", [S], False),
    ("STRSTARTS", [S, t("Hell")], True),
    ("STRENDS", [S, t("rld")], True),
    ("CONTAINS", [S, t("lo W")], True),
    ("LANGMATCHES", [t("en-US"), t("en")], True),
    ("REGEX", [S, t("^hello"), t("i")], True),
    ("&&", [A.ECall("=", [I5, I5]), A.ECall("<", [I5, I7])], True),
    ("||", [A.ECall("=", [I5, I7]), A.ECall("<", [I5, I7])], True),
    ("!", [A.ECall("=", [I5, I7])], True),
    ("BOUND", [A.EVar("v")], False),                # unbound var
]


def _run(spark, col):
    return spark.range(1).select(col.alias("r")).head()["r"]


def resolve(name):
    return TermExpr(B.NULL_TERM())


@pytest.mark.parametrize("name,args,want", TERM_CASES,
                         ids=[f"{i}_{c[0].split('#')[-1]}"
                              for i, c in enumerate(TERM_CASES)])
def test_term_function(spark, name, args, want):
    col = B.compile_expr(A.ECall(name, args), resolve).col
    row = _run(spark, col)
    if want is None:
        assert row is None or row["v"] is not None  # executed without raising
    elif want is NotImplemented:
        assert row is not None and row["v"]  # value exists (random/uuid)
    else:
        assert row is not None, f"{name}: unexpected error (NULL term)"
        assert row["v"] == want


@pytest.mark.parametrize("name,args,want", BOOL_CASES,
                         ids=[f"{i}_{c[0]}" for i, c in enumerate(BOOL_CASES)])
def test_bool_function(spark, name, args, want):
    col = B.compile_bool(A.ECall(name, args), resolve)
    row = spark.range(1).select(col.alias("r")).head()["r"]
    assert row == want


def test_every_term_fn_covered():
    covered = {c[0] for c in TERM_CASES}
    assert set(B._TERM_FNS) <= covered


def test_every_bool_op_covered():
    covered = {c[0] for c in BOOL_CASES}
    assert set(B._BOOL_OPS) <= covered