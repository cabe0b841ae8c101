"""Custom scalar function registry: IRI-callable UDFs.

reference: FunctionRegistry (lib/functions/src/registry.rs:130-165) and the
RdfFusionFunctions extension trait (lib/extensions/src/functions/).

Builder contract: a builder receives its arguments as a `list[Column]`
of term-struct Columns (see terms.py for the struct layout) and returns
either a term-struct Column or a typed_ops.TermExpr record. The engine
passes no facts with the arguments and trusts none on a bare Column it
gets back; a returned record keeps its facts. The value-space helpers in
functions/typed_ops.py take records: wrap an argument with
`typed_ops.as_term` first. Builders compose into whole-stage codegen like
every builtin — register a Column-expression builder, NOT a Python UDF,
unless the semantics genuinely require Python (then wrap a pandas_udf
yourself).

    from rdf_fusion_spark.functions import registry, typed_ops as tv
    registry.register("http://example.org/fn#double_it",
                      lambda args: tv.rdf_add(tv.as_term(args[0]),
                                              tv.as_term(args[0])))
    store.query("SELECT (<http://example.org/fn#double_it>(?x) AS ?y) ...")
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column

Builder = Callable[[list[Column]], object]  # -> Column or TermExpr

_REGISTRY: dict[str, Builder] = {}


def register(iri: str, builder: Builder) -> None:
    """Register (or replace) a custom function under an IRI."""
    _REGISTRY[iri] = builder


def unregister(iri: str) -> None:
    _REGISTRY.pop(iri, None)


def lookup(iri: str) -> Builder | None:
    return _REGISTRY.get(iri)


def registered() -> list[str]:
    return sorted(_REGISTRY)
