"""SPARQL query result serializers: JSON / XML / CSV / TSV.

reference: lib/execution/src/results/mod.rs:26-110 (QueryResultsFormat and
the oxrdfio serializer bridge, which hands result sinks Arrow record
batches). Two shapes here:

* document serializers (`to_json`/`to_xml`/`to_csv`/`to_tsv`) collect a
  (bounded) result to the driver once, as Arrow record batches in a single
  Spark job, decode each variable's term struct into per-field columns, and
  render the W3C document formats on the driver from those columns;
* a distributed line serializer (`bindings_json_df`) — one JSON object per
  solution row as a DataFrame of strings, for result sets too large to
  collect: write them with `df.write.text` (no driver materialization).
"""

from __future__ import annotations

import json
from json.encoder import encode_basestring_ascii
from typing import Optional
from xml.sax.saxutils import escape as xml_escape

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..terms import (TT_BNODE, TT_IRI, XSD_STRING, BlankNode, Literal,
                     NamedNode, rebuild_lexical)


# ---------------------------------------------------------------------------
# one Arrow collect, decoded per variable
# ---------------------------------------------------------------------------

def arrow_table(df: DataFrame) -> pa.Table:
    """`df` on the driver as one Arrow table, collected in one Spark job.

    Not `DataFrame.toArrow()`: that casts the batches to the declared
    schema, whose term struct declares `t`/`v` non-null, and an unbound
    OPTIONAL variable (a NULL struct) or a lazy lexical (`v` NULL) then
    fails with `ArrowInvalid: nulls in input cannot be viewed as
    non-nullable`. The batches are taken as Spark wrote them."""
    return pa.Table.from_batches(
        df._collect_as_arrow(empty_list_if_zero_records=False))


def collect_lines(df: DataFrame) -> list:
    """The `line` column of a serialized-RDF DataFrame, in one Spark job."""
    return arrow_table(df).column("line").to_pylist()


def _decode(col: pa.ChunkedArray):
    """One variable's bindings as (t, v, dt, lang) per row: `t` is None
    where the variable is unbound, and lazy lexicals are rebuilt into `v`."""
    arr = col.combine_chunks()
    # flatten() merges the struct's validity into every field
    fields = dict(zip((f.name for f in arr.type), arr.flatten()))
    v = fields["v"].to_pylist()
    lazy = pc.indices_nonzero(
        pc.and_(arr.is_valid(), fields["v"].is_null())).to_pylist()
    if lazy:
        typed = {f: fields[f].take(lazy).to_pylist()
                 for f in ("k", "x", "d", "ts")}
        for j, i in enumerate(lazy):
            v[i] = rebuild_lexical({f: vals[j] for f, vals in typed.items()})
    return zip(fields["t"].to_pylist(), v, fields["dt"].to_pylist(),
               fields["lang"].to_pylist())


def _rows(result, cell) -> list:
    """Collect `result` once; per row, the tuple of `cell(t, v, dt, lang)`
    over the result's variables (None where a variable is unbound)."""
    table = arrow_table(result.df)
    cols = []
    for name in result.variables:
        cols.append([None if t is None else cell(t, v, dt, lang)
                     for t, v, dt, lang in _decode(table.column(name))])
    return list(zip(*cols)) if cols else [()] * table.num_rows


# ---------------------------------------------------------------------------
# document serializers
# ---------------------------------------------------------------------------

def _json_str(s: Optional[str]) -> str:
    """A string as json.dumps writes it (ensure_ascii)."""
    return "null" if s is None else encode_basestring_ascii(s)


def _json_cell(t, v, dt, lang) -> str:
    if t == TT_IRI:
        return '{"type": "uri", "value": ' + _json_str(v) + "}"
    if t == TT_BNODE:
        return '{"type": "bnode", "value": ' + _json_str(v) + "}"
    out = '{"type": "literal", "value": ' + _json_str(v)
    if lang:
        return out + ', "xml:lang": ' + _json_str(lang) + "}"
    if dt and dt != XSD_STRING:
        return out + ', "datatype": ' + _json_str(dt) + "}"
    return out + "}"


def to_json(result) -> str:
    """SPARQL 1.1 Query Results JSON Format (SELECT or ASK), byte for byte
    what `json.dumps` writes for the document's dict form."""
    from ..plans.translator import AskResult, SelectResult

    if isinstance(result, AskResult):
        return json.dumps({"head": {}, "boolean": result.value})
    assert isinstance(result, SelectResult)
    keys = [_json_str(v) + ": " for v in result.variables]
    bindings = ", ".join(
        "{" + ", ".join([k + c for k, c in zip(keys, row) if c is not None])
        + "}" for row in _rows(result, _json_cell))
    return ('{"head": {"vars": ' + json.dumps(list(result.variables))
            + '}, "results": {"bindings": [' + bindings + "]}}")


def _xml_cell(t, v, dt, lang) -> str:
    lex = xml_escape(v)
    if t == TT_IRI:
        return f"<uri>{lex}</uri>"
    if t == TT_BNODE:
        return f"<bnode>{lex}</bnode>"
    if lang:
        return f'<literal xml:lang="{xml_escape(lang)}">{lex}</literal>'
    if dt and dt != XSD_STRING:
        return f'<literal datatype="{xml_escape(dt)}">{lex}</literal>'
    return f"<literal>{lex}</literal>"


def to_xml(result) -> str:
    """SPARQL Query Results XML Format."""
    from ..plans.translator import AskResult, SelectResult

    head = '<?xml version="1.0"?>\n<sparql xmlns="http://www.w3.org/2005/sparql-results#">'
    if isinstance(result, AskResult):
        return (f"{head}<head/><boolean>"
                f"{'true' if result.value else 'false'}</boolean></sparql>")
    assert isinstance(result, SelectResult)
    names = [xml_escape(v) for v in result.variables]
    parts = [head, "<head>"]
    parts += [f'<variable name="{n}"/>' for n in names]
    parts.append("</head><results>")
    for row in _rows(result, _xml_cell):
        parts.append("<result>")
        parts += [f'<binding name="{n}">{c}</binding>'
                  for n, c in zip(names, row) if c is not None]
        parts.append("</result>")
    parts.append("</results></sparql>")
    return "".join(parts)


def _csv_cell(t, v, dt, lang) -> str:
    if t == TT_BNODE:
        v = f"_:{v}"
    if any(ch in v for ch in ',"\n\r'):
        return '"' + v.replace('"', '""') + '"'
    return v


def to_csv(result) -> str:
    rows = [",".join(result.variables)]
    rows += [",".join("" if c is None else c for c in row)
             for row in _rows(result, _csv_cell)]
    return "\r\n".join(rows) + "\r\n"


def _tsv_cell(t, v, dt, lang) -> str:
    if t == TT_IRI:
        return str(NamedNode(v))
    if t == TT_BNODE:
        return str(BlankNode(v))
    if lang:
        return str(Literal(v, language=lang))
    return str(Literal(v, dt or XSD_STRING))


def to_tsv(result) -> str:
    rows = ["\t".join("?" + v for v in result.variables)]
    rows += ["\t".join("" if c is None else c for c in row)
             for row in _rows(result, _tsv_cell)]
    return "\n".join(rows) + "\n"


# ---------------------------------------------------------------------------
# distributed serializer
# ---------------------------------------------------------------------------

def _binding_col(c: Column) -> Column:
    """Term struct → SPARQL-JSON binding object as a JSON string Column."""
    from ..functions.typed_ops import lexical_of
    typ = (F.when(c["t"] == TT_IRI, "uri")
           .when(c["t"] == TT_BNODE, "bnode").otherwise("literal"))
    obj = F.to_json(F.struct(
        typ.alias("type"), lexical_of(c).alias("value"),
        F.when((c["t"] != TT_IRI) & (c["t"] != TT_BNODE)
               & c["lang"].isNotNull(), c["lang"]).alias("xml:lang"),
        F.when((c["t"] != TT_IRI) & (c["t"] != TT_BNODE)
               & c["lang"].isNull() & (c["dt"] != XSD_STRING), c["dt"])
        .alias("datatype"),
    ), {"ignoreNullFields": "true"})
    return F.when(c.isNotNull(), obj)


def bindings_json_df(result) -> DataFrame:
    """One SPARQL-JSON binding object per row, as a `line` string column —
    write with df.write.text for arbitrarily large result sets."""
    pairs = []
    for v in result.variables:
        obj = _binding_col(result.df[v])
        pairs.append(F.when(obj.isNotNull(),
                            F.concat(F.lit(json.dumps(v) + ":"), obj)))
    body = F.concat_ws(",", *[p for p in pairs])
    return result.df.select(F.concat(F.lit("{"), body, F.lit("}")).alias("line"))
