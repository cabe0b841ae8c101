"""SPARQL query result serializers: JSON / XML / CSV / TSV.

reference: lib/execution/src/results/mod.rs:26-110 (QueryResultsFormat and
the oxrdfio serializer bridge). Two shapes here:

* document serializers (`to_json`/`to_xml`/`to_csv`/`to_tsv`) — collect a
  (bounded) result to the driver and emit the W3C document formats;
* a distributed line serializer (`bindings_json_df`) — one JSON object per
  solution row as a DataFrame of strings, for writing massive result sets
  with `df.write.text` (no driver materialization).
"""

from __future__ import annotations

import json
from typing import Optional
from xml.sax.saxutils import escape as xml_escape

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..terms import (RDF_LANG_STRING, TT_BNODE, TT_IRI, XSD_STRING,
                     rebuild_lexical)


def _binding_obj(row_val) -> Optional[dict]:
    if row_val is None:
        return None
    t, v, dt, lang = row_val["t"], row_val["v"], row_val["dt"], row_val["lang"]
    if v is None:
        v = rebuild_lexical(row_val)
    if t == TT_IRI:
        return {"type": "uri", "value": v}
    if t == TT_BNODE:
        return {"type": "bnode", "value": v}
    out = {"type": "literal", "value": v}
    if lang:
        out["xml:lang"] = lang
    elif dt and dt != XSD_STRING:
        out["datatype"] = dt
    return out


def to_json(result) -> str:
    """SPARQL 1.1 Query Results JSON Format (SELECT or ASK)."""
    from ..plans.translator import AskResult, SelectResult

    if isinstance(result, AskResult):
        return json.dumps({"head": {}, "boolean": result.value})
    assert isinstance(result, SelectResult)
    variables = list(result.variables)
    bindings = []
    for row in result.df.toLocalIterator():
        b = {}
        for v in variables:
            obj = _binding_obj(row[v])
            if obj is not None:
                b[v] = obj
        bindings.append(b)
    return json.dumps({"head": {"vars": variables},
                       "results": {"bindings": bindings}})


def to_xml(result) -> str:
    """SPARQL Query Results XML Format."""
    from ..plans.translator import AskResult, SelectResult

    head = '<?xml version="1.0"?>\n<sparql xmlns="http://www.w3.org/2005/sparql-results#">'
    if isinstance(result, AskResult):
        return (f"{head}<head/><boolean>"
                f"{'true' if result.value else 'false'}</boolean></sparql>")
    assert isinstance(result, SelectResult)
    parts = [head, "<head>"]
    for v in result.variables:
        parts.append(f'<variable name="{xml_escape(v)}"/>')
    parts.append("</head><results>")
    for row in result.df.toLocalIterator():
        parts.append("<result>")
        for v in result.variables:
            val = row[v]
            if val is None:
                continue
            parts.append(f'<binding name="{xml_escape(v)}">')
            t, lex = val["t"], val["v"]
            if lex is None:
                lex = rebuild_lexical(val)
            lex = xml_escape(lex)
            if t == TT_IRI:
                parts.append(f"<uri>{lex}</uri>")
            elif t == TT_BNODE:
                parts.append(f"<bnode>{lex}</bnode>")
            elif val["lang"]:
                parts.append(f'<literal xml:lang="{xml_escape(val["lang"])}">'
                             f"{lex}</literal>")
            elif val["dt"] and val["dt"] != XSD_STRING:
                parts.append(f'<literal datatype="{xml_escape(val["dt"])}">'
                             f"{lex}</literal>")
            else:
                parts.append(f"<literal>{lex}</literal>")
            parts.append("</binding>")
        parts.append("</result>")
    parts.append("</results></sparql>")
    return "".join(parts)


def _csv_value(val) -> str:
    if val is None:
        return ""
    v = val["v"]
    if v is None:
        v = rebuild_lexical(val)
    if val["t"] == TT_BNODE:
        v = f"_:{v}"
    if any(ch in v for ch in ',"\n\r'):
        return '"' + v.replace('"', '""') + '"'
    return v


def _tsv_term(val) -> str:
    from ..terms import BlankNode, Literal, NamedNode
    if val is None:
        return ""
    t = val["t"]
    if t == TT_IRI:
        return str(NamedNode(val["v"]))
    if t == TT_BNODE:
        return str(BlankNode(val["v"]))
    v = val["v"]
    if v is None:
        v = rebuild_lexical(val)
    if val["lang"]:
        return str(Literal(v, language=val["lang"]))
    return str(Literal(v, val["dt"] or XSD_STRING))


def to_csv(result) -> str:
    rows = [",".join(result.variables)]
    for row in result.df.toLocalIterator():
        rows.append(",".join(_csv_value(row[v]) for v in result.variables))
    return "\r\n".join(rows) + "\r\n"


def to_tsv(result) -> str:
    rows = ["\t".join("?" + v for v in result.variables)]
    for row in result.df.toLocalIterator():
        rows.append("\t".join(_tsv_term(row[v]) for v in result.variables))
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
