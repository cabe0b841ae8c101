"""ORDER BY total order via computed sort-key struct columns.

The reference works around DataFusion's lack of user-defined orderings with
a SortableTerm encoding — Struct{type: u8, numeric: f64, bytes: binary}
whose lexicographic struct order approximates the SPARQL total order
(lib/encoding/src/sortable_term/encoding.rs:13-96). Spark natively orders
structs lexicographically field-by-field (nulls first), so the same trick
is a plain computed column — no custom physical operator.

Order (ascending): unbound < blank nodes < IRIs < numeric literals (by
value, cross-type) < booleans < dateTimes < strings < other literals
(by datatype, then lexical form).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..terms import (
    RDF_LANG_STRING,
    TT_BNODE,
    TT_IRI,
    TT_LITERAL,
    XSD_BOOLEAN,
    XSD_DATE,
    XSD_DATETIME,
    XSD_STRING,
)
from . import typed_ops as tv
from .typed_ops import (TermExpr, as_boolean, as_double, as_timestamp,
                        is_numeric)


def sort_key(c: TermExpr) -> Column:
    """Sortable struct (rank, num, s1, s2) for a term column; NULL for unbound
    so orderBy(asc_nulls_first) puts unbound first like the reference.

    Static-kind fast path: when the term's kind proves every non-NULL
    value lives in ONE rank class, the 4-field struct collapses to a
    single primitive — same pairwise order within the class, and NULLs
    (unbound) still sort first. A full-scan top-k (WindFarm production
    query 4: 5 ORDER BY keys over a 600k-row join) spends most of its CPU
    constructing the generic structs; the narrow keys cut that to plain
    column reads."""
    sk = c.kind
    if sk is not None:
        if sk in (tv.SK_IRI, tv.SK_BNODE, tv.K_STRING, tv.SK_PLAIN):
            # single string-ordered class: IRIs, bnodes, or string
            # literals (langString ties with its plain twin exactly like
            # the generic struct: s1=v, lang ignored)
            return c.view("v")
        if sk == tv.K_DATETIME:
            # k=6 spans dateTime/date (generic rank 4, by timestamp) AND
            # xsd:time (generic rank 6, by datatype-then-lexical) — a
            # bare timestamp key would interleave times with dates, so
            # keep a 4-field struct but with single-branch fields
            on_ts = c["dt"].isin(XSD_DATETIME, XSD_DATE)
            return F.when(c.col.isNotNull(), F.struct(
                F.when(on_ts, F.lit(4)).otherwise(F.lit(6))
                .cast("tinyint").alias("rank"),
                F.when(on_ts, as_timestamp(c).cast("double"))
                .alias("num"),
                F.when(~on_ts, c["dt"]).alias("s1"),
                F.when(~on_ts, c["v"]).alias("s2")))
        if sk == tv.SK_NUM or sk <= tv.K_DOUBLE:
            # one numeric class: generic struct has rank=2 for all, order
            # decided by num=as_double — identical comparisons
            return as_double(c)
        if sk == tv.K_BOOLEAN:
            return as_boolean(c)
    rank = (
        F.when(c["t"] == TT_BNODE, 0)
        .when(c["t"] == TT_IRI, 1)
        .when(is_numeric(c), 2)
        .when(c["dt"] == XSD_BOOLEAN, 3)
        .when(c["dt"].isin(XSD_DATETIME, XSD_DATE), 4)
        .when((c["dt"] == XSD_STRING) | (c["dt"] == RDF_LANG_STRING), 5)
        .otherwise(6)
        .cast("tinyint")
    )
    num = (
        F.when(is_numeric(c), as_double(c))
        .when(c["dt"] == XSD_BOOLEAN, as_boolean(c).cast("double"))
        .when(c["dt"].isin(XSD_DATETIME, XSD_DATE),
              as_timestamp(c).cast("double"))
        .otherwise(F.lit(None).cast("double"))
    )
    s1 = (
        F.when(c["t"] != TT_LITERAL, c["v"])
        .when(rank == 5, c["v"])
        .when(rank == 6, c["dt"])
        .otherwise(F.lit(None).cast("string"))
    )
    s2 = F.when(rank == 6, c["v"]).otherwise(F.lit(None).cast("string"))
    return F.when(
        c.col.isNotNull(),
        F.struct(rank.alias("rank"), num.alias("num"), s1.alias("s1"), s2.alias("s2")),
    )
