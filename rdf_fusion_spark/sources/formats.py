"""RDF format registry: extension/MIME dispatch for readers and writers.

The surface mirrors the reference's RdfFormat (lib/rdf-fusion/src/store.rs:
477-558 accepts N-Triples/N-Quads/Turtle/TriG/RDF-XML via oxrdfio; the CLI's
`convert` guesses formats from extensions or MIME types). Bulk formats
(N-Triples/N-Quads, and the line-oriented TriG we emit) read and write
distributed; document formats (Turtle, TriG, RDF/XML) parse driver-side —
they are interchange formats, never the 100 TB path.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class RdfFormat:
    name: str
    extensions: tuple
    media_types: tuple  # first is canonical
    supports_graphs: bool

    @property
    def media_type(self) -> str:
        return self.media_types[0]


NTRIPLES = RdfFormat("ntriples", ("nt",),
                     ("application/n-triples", "text/plain"), False)
NQUADS = RdfFormat("nquads", ("nq",), ("application/n-quads",), True)
TURTLE = RdfFormat("turtle", ("ttl", "turtle"),
                   ("text/turtle", "application/turtle",
                    "application/x-turtle"), False)
TRIG = RdfFormat("trig", ("trig",), ("application/trig",), True)
RDFXML = RdfFormat("rdfxml", ("rdf", "rdfxml", "owl", "xml"),
                   ("application/rdf+xml", "application/xml"), False)
# N3 is negotiated by the reference on every RDF endpoint
# (lib/web/src/repositories/content_negotiation.rs:28); the served subset
# is Turtle-expressible — see sources/n3.py
N3 = RdfFormat("n3", ("n3",), ("text/n3", "application/n3"), False)

FORMATS = (NTRIPLES, NQUADS, TURTLE, TRIG, RDFXML, N3)


def format_from_name(s: str) -> Optional[RdfFormat]:
    """Resolve an extension ('nt'), a format name, or a MIME type."""
    s = s.strip().lower()
    s = s.split(";")[0].strip()
    for f in FORMATS:
        if s == f.name or s in f.extensions or s in f.media_types:
            return f
    return None


def format_from_path(path: str) -> Optional[RdfFormat]:
    ext = path.rsplit(".", 1)[-1].lower() if "." in path else ""
    for f in FORMATS:
        if ext in f.extensions:
            return f
    return None


def read_rdf(spark: SparkSession, path: str, fmt: Optional[RdfFormat] = None,
             base: Optional[str] = None) -> DataFrame:
    """Any supported RDF file → quads DataFrame."""
    fmt = fmt or format_from_path(path)
    if fmt is None:
        raise ValueError(f"cannot guess RDF format of {path!r}; pass one of "
                         + ", ".join(f.name for f in FORMATS))
    if fmt in (NTRIPLES, NQUADS):
        from .ntriples import read_ntriples
        return read_ntriples(spark, path)
    if fmt is TURTLE:
        from .turtle import read_turtle
        return read_turtle(spark, path, base)
    if fmt is TRIG:
        from .trig import read_trig
        return read_trig(spark, path, base)
    if fmt is N3:
        from .n3 import read_n3
        return read_n3(spark, path, base)
    from .rdfxml import read_rdfxml
    return read_rdfxml(spark, path, base)


def parse_rdf(spark: SparkSession, text: str, fmt: RdfFormat,
              base: Optional[str] = None) -> DataFrame:
    """RDF document text → quads DataFrame (HTTP data-upload path)."""
    from ..store import GraphStore
    if fmt in (NTRIPLES, NQUADS):
        from .ntriples import read_ntriples
        import tempfile, os
        with tempfile.TemporaryDirectory() as d:
            p = os.path.join(d, "data.nq")
            with open(p, "w", encoding="utf-8") as fh:
                fh.write(text)
            return read_ntriples(spark, p).localCheckpoint(eager=True)
    if fmt is TURTLE:
        from .turtle import parse_turtle
        triples = parse_turtle(text, base)
        return GraphStore.from_python_quads(
            spark, [(None, s, p, o) for s, p, o in triples]).quads
    if fmt is TRIG:
        from .trig import parse_trig
        return GraphStore.from_python_quads(spark, parse_trig(text, base)).quads
    if fmt is RDFXML:
        from .rdfxml import parse_rdfxml
        triples = parse_rdfxml(text, base)
        return GraphStore.from_python_quads(
            spark, [(None, s, p, o) for s, p, o in triples]).quads
    if fmt is N3:
        from .n3 import parse_n3
        triples = parse_n3(text, base)
        return GraphStore.from_python_quads(
            spark, [(None, s, p, o) for s, p, o in triples]).quads
    raise ValueError(f"unsupported parse format {fmt.name}")


def write_rdf(quads: DataFrame, path: str, fmt: Optional[RdfFormat] = None,
              mode: str = "overwrite") -> None:
    """Quads DataFrame → RDF file tree (distributed for line formats,
    driver-side stream for RDF/XML)."""
    fmt = fmt or format_from_path(path)
    if fmt is None:
        raise ValueError(f"cannot guess RDF format of {path!r}")
    serialize_rdf_lines(quads, fmt).write.mode(mode).text(path)


def serialize_rdf_lines(quads: DataFrame, fmt: RdfFormat) -> DataFrame:
    """Quads → one-line-per-statement DataFrame(line) in `fmt`.

    TriG uses the repeated-single-statement block form
    `<g> { s p o . }` — valid TriG that stays line-parallel (no
    driver-side grouping by graph at any scale). Non-graph formats
    serialize the union of all graphs' triples.

    The single entry for every RDF output (endpoint, CLI, write_rdf):
    a virtual-store scan leaves double/decimal/dateTime objects with a
    lazy lexical (v NULL), so the object's lexical is materialized here
    once, before any line format reads `v`."""
    from ..functions.typed_ops import TermExpr, materialize_lexical
    from .ntriples import format_term, quads_to_lines
    quads = quads.withColumn(
        "object", materialize_lexical(TermExpr(F.col("object"))))
    if fmt is NQUADS:
        return quads_to_lines(quads)
    if fmt is TRIG:
        body = F.concat(
            format_term(F.col("subject")), F.lit(" "),
            format_term(F.col("predicate")), F.lit(" "),
            format_term(F.col("object")), F.lit(" ."))
        line = F.when(
            F.col("graph").isNotNull(),
            F.concat(format_term(F.col("graph")), F.lit(" { "), body,
                     F.lit(" }"))).otherwise(body)
        return quads.select(line.alias("line"))
    if fmt is RDFXML:
        return _rdfxml_lines(quads)
    if fmt in (TURTLE, N3):
        # every Turtle serialization is a valid N3 document
        from .turtle import quads_to_turtle_lines
        return quads_to_turtle_lines(quads)
    # N-Triples
    return quads_to_lines(
        quads.select("subject", "predicate", "object")
        .withColumn("graph", F.lit(None).cast(quads.schema["graph"].dataType)))


def _rdfxml_lines(quads: DataFrame) -> DataFrame:
    """One rdf:Description element per line, wrapped by header/footer rows —
    the flat (non-abbreviated) RDF/XML form, kept line-parallel."""
    from ..terms import TT_BNODE, TT_IRI

    def xe(c):
        return F.replace(F.replace(F.replace(c, F.lit("&"), F.lit("&amp;")),
                                   F.lit("<"), F.lit("&lt;")),
                         F.lit('"'), F.lit("&quot;"))

    s, p, o = F.col("subject"), F.col("predicate"), F.col("object")
    about = F.when(s["t"] == TT_IRI,
                   F.concat(F.lit(' rdf:about="'), xe(s["v"]), F.lit('"'))) \
        .otherwise(F.concat(F.lit(' rdf:nodeID="'), s["v"], F.lit('"')))
    # predicate split: namespace = up to last # or /, local = rest
    pv = p["v"]
    local = F.regexp_extract(pv, r"([A-Za-z_][A-Za-z0-9_.-]*)$", 1)
    ns = F.expr("substring(predicate.v, 1, length(predicate.v) - "
                "length(regexp_extract(predicate.v, "
                "'([A-Za-z_][A-Za-z0-9_.-]*)$', 1)))")
    obj = (
        F.when(o["t"] == TT_IRI,
               F.concat(F.lit('rdf:resource="'), xe(o["v"]), F.lit('"/>')))
        .when(o["t"] == TT_BNODE,
              F.concat(F.lit('rdf:nodeID="'), o["v"], F.lit('"/>')))
        .otherwise(F.concat(
            F.when(o["lang"].isNotNull(),
                   F.concat(F.lit('xml:lang="'), o["lang"], F.lit('"')))
            .when(o["dt"].isNotNull()
                  & (o["dt"] != "http://www.w3.org/2001/XMLSchema#string"),
                  F.concat(F.lit('rdf:datatype="'), xe(o["dt"]), F.lit('"')))
            .otherwise(F.lit("")),
            F.lit(">"), xe(o["v"]), F.lit("</ns1:"), local, F.lit(">"))))
    line = F.concat(
        F.lit("<rdf:Description"), about, F.lit("><ns1:"), local,
        F.lit(' xmlns:ns1="'), xe(ns), F.lit('" '), obj,
        F.lit("</rdf:Description>"))
    body = quads.select(line.alias("line"))
    spark = quads.sparkSession
    head = spark.createDataFrame(
        [('<?xml version="1.0" encoding="UTF-8"?>',),
         ('<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">',)],
        "line string")
    tail = spark.createDataFrame([("</rdf:RDF>",)], "line string")
    # coalesce(1) for the wrapped document: RDF/XML is a document format —
    # anyone at bulk scale uses the line formats above. Explicit ordering:
    # union partition order is not guaranteed stable under AQE.
    head = head.withColumn("__ord", F.lit(0)) \
        .withColumn("__sub", F.monotonically_increasing_id())
    body = body.withColumn("__ord", F.lit(1)) \
        .withColumn("__sub", F.monotonically_increasing_id())
    tail = tail.withColumn("__ord", F.lit(2)) \
        .withColumn("__sub", F.monotonically_increasing_id())
    return (head.unionByName(body).unionByName(tail)
            .orderBy("__ord", "__sub").select("line").coalesce(1))
