"""N-Triples / N-Quads reader and serializer, fully distributed.

Reader: `spark.read.text` + Column-only regex decomposition — no Python
UDFs, so a 100 TB dump parses at parquet-scan speed with whole-stage
codegen. Serializer: term formatting as Column expressions + `write.text`.

reference: Store::load_from_reader (lib/rdf-fusion/src/store.rs:477-558)
and the oxrdfio parsers; here the grammar subset is line-based N-Triples /
N-Quads (the reference's default interchange format). Escapes handled in
full: ECHAR (\\t \\b \\n \\r \\f \\" \\' \\\\) and UCHAR
(\\uXXXX / \\UXXXXXXXX), decoded left-to-right in a single pass so terms
are byte-identical to the same terms parsed from Turtle or SPARQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..terms import (
    RDF_LANG_STRING,
    TERM_TYPE,
    TT_BNODE,
    TT_IRI,
    TT_LITERAL,
    XSD_STRING,
    term_struct,
)

# IRIREF per the N-Triples grammar: ABSOLUTE (scheme required) and no
# control/space/angle/quote/brace/pipe/caret/backtick/backslash chars —
# `<foo>`, `<2http://x>`, `<b@d://x>` are all syntax errors, not data
_IRI = (r'<([A-Za-z][A-Za-z0-9+.\-]*:'
        r'(?:[^\x00-\x20<>"{}|^`\\]|\\u[0-9A-Fa-f]{4}|\\U[0-9A-Fa-f]{8})*)>')
_BNODE = r"_:(\S+)"
# literal body: unescaped chars | ECHAR | UCHAR — `\z` / `\uXYZW` are
# syntax errors (caught by the line regex in strict mode), not data
_LIT = (r'"((?:[^"\\]|\\[tbnrf"\'\\]'
        r'|\\u[0-9A-Fa-f]{4}|\\U[0-9A-Fa-f]{8})*)"'
        r'(?:@([A-Za-z0-9-]+)|\^\^<([^>]*)>)?')
_TERM = f"(?:{_IRI}|{_BNODE}|{_LIT})"
# groups per term: 1=iri, 2=bnode, 3=lit value, 4=lang, 5=dt
_G = 5
LINE_RE = (r"^\s*" + _TERM + r"\s+" + _TERM + r"\s+" + _TERM
           + r"(?:\s+" + _TERM + r")?\s*\.\s*$")


_BIG = 1 << 30  # "rest of string" length for substring


def _uchar(hexstr: Column) -> Column:
    """Hex codepoint → the character, JVM-side (pad to a UTF-32 code unit;
    Java's UTF-32 decoder is big-endian when there is no BOM)."""
    return F.decode(F.unhex(F.lpad(F.upper(hexstr), 8, "0")), "UTF-32")


def _unescape(c: Column) -> Column:
    """Single left-to-right escape decode (ECHAR + \\uXXXX/\\UXXXXXXXX) as
    pure Column expressions: split on backslash, then a stateful fold where
    an empty segment means an escaped backslash (which makes the following
    segment literal text). Sequential global replaces would mis-decode
    e.g. `a\\\\nb` (escaped backslash + literal n) as backslash + newline."""
    segs = F.split(c, r"\\", -1)  # Java-regex for one literal backslash

    def merge(st: Column, seg: Column) -> Column:
        head = F.substring(seg, 1, 1)
        mapped = (
            F.when(head == "t", F.lit("\t"))
            .when(head == "b", F.lit("\b"))
            .when(head == "n", F.lit("\n"))
            .when(head == "r", F.lit("\r"))
            .when(head == "f", F.lit("\f"))
            .otherwise(head)  # \" \' decode to themselves
        )
        out = (
            F.when(st["lit"], F.concat(st["acc"], seg))
            .when(seg == "", F.concat(st["acc"], F.lit("\\")))
            .when(head == "u", F.concat(st["acc"], _uchar(F.substring(seg, 2, 4)),
                                        F.substring(seg, 6, _BIG)))
            .when(head == "U", F.concat(st["acc"], _uchar(F.substring(seg, 2, 8)),
                                        F.substring(seg, 10, _BIG)))
            .otherwise(F.concat(st["acc"], mapped, F.substring(seg, 2, _BIG)))
        )
        next_lit = (~st["lit"]) & (seg == "")
        return F.struct(out.alias("acc"), next_lit.alias("lit"))

    folded = F.aggregate(
        segs,
        # lit=True so the first segment (text before any backslash) is
        # consumed verbatim, not decoded as an escape
        F.struct(F.lit("").alias("acc"), F.lit(True).alias("lit")),
        merge,
        lambda st: st["acc"],
    )
    return F.when(c.contains("\\"), folded).otherwise(c)


def _escape(c: Column) -> Column:
    c = F.replace(c, F.lit("\\"), F.lit("\\\\"))
    c = F.replace(c, F.lit('"'), F.lit('\\"'))
    c = F.replace(c, F.lit("\n"), F.lit("\\n"))
    c = F.replace(c, F.lit("\r"), F.lit("\\r"))
    c = F.replace(c, F.lit("\t"), F.lit("\\t"))
    return c


def _term_from_cols(iri: Column, bnode: Column, lit: Column,
                    lang: Column, dt: Column) -> Column:
    """Decode one term from its five pre-extracted group columns."""
    # regexp_extract yields '' for non-participating groups; literals are
    # detected by the quote character still present in the raw line match —
    # distinguish '' (empty literal) from absent via iri/bnode emptiness.
    is_iri = iri != ""
    is_bnode = bnode != ""
    has_lit = (~is_iri) & (~is_bnode)
    lang_n = F.when(lang != "", F.lower(lang))
    dt_n = (
        F.when(lang != "", F.lit(RDF_LANG_STRING))
        .when(dt != "", _unescape(dt))
        .otherwise(F.lit(XSD_STRING))
    )
    return (
        # IRIs may carry \uXXXX/\UXXXXXXXX escapes (the grammar permits no
        # other backslash) — decode so they join byte-identically with the
        # same IRI parsed from Turtle/SPARQL
        F.when(is_iri, term_struct(F.lit(TT_IRI), _unescape(iri)))
        .when(is_bnode, term_struct(F.lit(TT_BNODE), bnode))
        .when(has_lit, term_struct(F.lit(TT_LITERAL), _unescape(lit),
                                   dt_n, lang_n))
    )


def lines_to_quads(lines: DataFrame, strict: bool = True) -> DataFrame:
    """N-Triples/N-Quads lines (column `line`) → quads. Pure Column ops,
    so it applies unchanged to a STREAMING text source (streaming/ingest).

    strict=True (default) raises on the first malformed line — silently
    dropping corrupt lines from a 100 TB dump is data loss, not leniency.
    strict=False skips malformed lines (salvage/quarantine loading)."""
    skippable = (F.trim(F.col("line")) == "") | \
        F.trim(F.col("line")).startswith("#")
    lines = lines.where(~skippable)  # parquet/text-scan-pushable prune
    ok = F.regexp_like(F.col("line"), F.lit(LINE_RE))
    if strict:
        # The raise_error CASE re-checks `skippable` itself: Catalyst may
        # substitute this projection into a downstream predicate and
        # evaluate it BEFORE the prune filter above (PushDownPredicates
        # reorders freely), so correctness must not depend on the filter
        # having run first — a comment line maps to NULL, never an error.
        lines = lines.select(
            F.when(skippable, F.lit(None))
            .when(ok, F.col("line"))
            .otherwise(F.raise_error(F.concat(
                F.lit("malformed N-Triples/N-Quads line: "), F.col("line")
            ))).alias("line"))
        matched = lines.where(F.col("line").isNotNull())
    else:
        matched = lines.where(ok)
    # extract all 20 groups ONCE into an intermediate projection — each
    # term references its 5 group columns, so the (large) LINE_RE appears
    # 20 times total instead of being re-inlined into every branch of the
    # term CASEs (Catalyst keeps the projection because the extracts are
    # non-cheap and multiply referenced)
    names = ["iri", "bnode", "lit", "lang", "dt"]
    groups = matched.select(*[
        F.regexp_extract(F.col("line"), LINE_RE, base + i).alias(f"{n}{t}")
        for t, base in enumerate([1, 1 + _G, 1 + 2 * _G, 1 + 3 * _G])
        for i, n in enumerate(names)
    ])

    def term(t: int) -> Column:
        return _term_from_cols(*[F.col(f"{n}{t}") for n in names])

    # a non-participating 4th term yields an all-empty IRI branch: detect by
    # raw absence of a 4th term in the line (graph col NULL)
    has_g = (F.col("iri3") != "") | (F.col("bnode3") != "")
    return groups.select(
        F.when(has_g, term(3)).alias("graph"),
        term(0).alias("subject"),
        term(1).alias("predicate"),
        term(2).alias("object"),
    )


def read_ntriples(spark: SparkSession, path: str,
                  strict: bool = True) -> DataFrame:
    """Parse an N-Triples/N-Quads file (or directory) into a quads DataFrame
    (graph = NULL for triples; 4th term becomes the graph for quads)."""
    return lines_to_quads(
        spark.read.text(path).select(F.col("value").alias("line")),
        strict=strict)


def format_term(c: Column) -> Column:
    """Term struct → N-Triples lexical form."""
    lit_body = F.concat(F.lit('"'), _escape(c["v"]), F.lit('"'))
    lit = (
        F.when(c["lang"].isNotNull(),
               F.concat(lit_body, F.lit("@"), c["lang"]))
        .when(c["dt"].isNotNull() & (c["dt"] != XSD_STRING),
              F.concat(lit_body, F.lit("^^<"), c["dt"], F.lit(">")))
        .otherwise(lit_body)
    )
    return (
        F.when(c["t"] == TT_IRI, F.concat(F.lit("<"), c["v"], F.lit(">")))
        .when(c["t"] == TT_BNODE, F.concat(F.lit("_:"), c["v"]))
        .otherwise(lit)
    )


def quads_to_lines(quads: DataFrame) -> DataFrame:
    """Quads → one N-Triples/N-Quads line per row (column `line`)."""
    parts = [
        format_term(F.col("subject")),
        F.lit(" "),
        format_term(F.col("predicate")),
        F.lit(" "),
        format_term(F.col("object")),
    ]
    g = F.when(F.col("graph").isNotNull(),
               F.concat(F.lit(" "), format_term(F.col("graph")))).otherwise(F.lit(""))
    return quads.select(F.concat(*parts, g, F.lit(" .")).alias("line"))

