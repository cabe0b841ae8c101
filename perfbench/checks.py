"""Output checks. Every op of every workload passes through one of these;
an op that fails any check counts toward the error rate.

* SPARQL responses: HTTP 200, a SPARQL-JSON document whose head lists the
  expected variables, a string `value` on every binding, and rows equal
  (as a multiset) to DuckDB's answer to the op's oracle SQL over the same
  parquet files.
* Dedup pairs: every reported pair re-verified at exact word-bigram
  Jaccard >= the threshold, with the reported Jaccard matching; and no
  more planted near-duplicate pairs missing than banded LSH explains.
"""

from __future__ import annotations

import datetime as dt
import json
import math
from collections import Counter
from typing import Optional

from inputs import QueryOp, jaccard

JSON_CTYPE = "application/sparql-results+json"


def _double(v) -> float:
    """Doubles agree when equal to 12 significant digits (sums may differ
    in the last bits with summation order and decimal rounding)."""
    return float(f"{float(v):.12g}")


def _norm_term(kind: str, b: Optional[dict]):
    """A SPARQL-JSON binding → comparable Python value (None = unbound)."""
    if b is None:
        return None
    v = b["value"]
    if kind == "iri":
        if b.get("type") != "uri":
            raise ValueError(f"expected an IRI, got {b!r}")
        return v
    if kind == "double":
        return _double(v)
    if kind == "long":
        return int(v)
    if kind == "dt":
        return dt.datetime.fromisoformat(v.replace("Z", "+00:00")) \
            .replace(tzinfo=None)
    return v


def _norm_oracle(kind: str, v):
    if v is None:
        return None
    if kind == "double":
        return _double(v)
    if kind == "long":
        return int(v)
    if kind == "dt":
        return v if isinstance(v, dt.datetime) else \
            dt.datetime.fromisoformat(str(v))
    return str(v)


def parse_sparql_json(op: QueryOp, status: int, ctype: str,
                      body: bytes) -> list[dict]:
    """Validate the response envelope; return the bindings."""
    if status != 200:
        raise ValueError(f"HTTP {status}: {body[:200]!r}")
    if not ctype.startswith(JSON_CTYPE):
        raise ValueError(f"content type {ctype!r}")
    doc = json.loads(body)
    if doc.get("head", {}).get("vars") != list(op.types):
        raise ValueError(f"head vars {doc.get('head')!r}")
    rows = doc["results"]["bindings"]
    for row in rows:
        for var, b in row.items():
            if var not in op.types:
                raise ValueError(f"unexpected variable {var!r}")
            if not isinstance(b.get("value"), str):
                raise ValueError(
                    f"binding {var} has no string value: {b!r}")
    return rows


def check_sparql(op: QueryOp, status: int, ctype: str, body: bytes,
                 duck) -> Optional[str]:
    """None if the response is correct, else the first problem found."""
    try:
        rows = parse_sparql_json(op, status, ctype, body)
        got = Counter(
            tuple(_norm_term(k, r.get(v)) for v, k in op.types.items()
                  if v not in op.opaque)
            for r in rows)
        cols = [v for v in op.types if v not in op.opaque]
        want = Counter(
            tuple(_norm_oracle(op.types[c], x) for c, x in zip(cols, rec))
            for rec in duck.execute(op.oracle).fetchall())
        for v in op.opaque:
            ids = [r.get(v, {}).get("value") for r in rows]
            if len(set(ids)) != len(ids) or None in ids:
                raise ValueError(f"{v}: missing or repeated identifiers")
        if sum(got.values()) != sum(want.values()):
            return (f"{op.template}: {sum(got.values())} rows, "
                    f"oracle has {sum(want.values())}")
        if got != want:
            diff = list((got - want).elements())[:2]
            return f"{op.template}: rows differ from oracle, e.g. {diff}"
    except (ValueError, KeyError, TypeError, AttributeError) as e:
        return f"{op.template}: {e}"
    return None


def check_pairs(pairs: list[tuple[int, int, float]], texts: dict[int, str],
                threshold: float) -> Optional[str]:
    """Re-verify dedup output pairs (new_id, corpus_id, jaccard)."""
    seen = set()
    for new_id, corpus_id, jac in pairs:
        if (new_id, corpus_id) in seen:
            return f"pair {new_id},{corpus_id} reported twice"
        seen.add((new_id, corpus_id))
        exact = jaccard(texts[new_id], texts[corpus_id])
        if exact < threshold:
            return (f"pair {new_id},{corpus_id}: exact Jaccard "
                    f"{exact:.4f} < {threshold}")
        if abs(exact - jac) > 1e-9:
            return (f"pair {new_id},{corpus_id}: reported Jaccard {jac} "
                    f"!= exact {exact:.6f}")
    return None


# chance that a correct LSH misses more planted pairs than it is allowed to
MISS_TAIL = 1e-6


def miss_allowance(expected: float, tail: float = MISS_TAIL) -> int:
    """Smallest m with P(Poisson(expected) > m) < tail: how many planted
    pairs banded LSH may miss by chance when `expected` are missed on
    average."""
    m, term = 0, math.exp(-expected)
    cdf = term
    while 1 - cdf >= tail:
        m += 1
        term *= expected / m
        cdf += term
    return m


def check_planted(found: list[set[tuple[int, int]]],
                  planted: list[set[tuple[int, int]]],
                  texts: dict[int, str], rows: int,
                  bands: int) -> list[Optional[str]]:
    """Missing-output check of dedup batches, one verdict per batch.

    A planted pair at Jaccard s shares no LSH band with chance
    (1 - s**rows)**bands, so that many misses are expected over the run.
    When the run misses more than `miss_allowance` of that, every batch
    that missed a planted pair fails."""
    expected = sum((1 - jaccard(texts[a], texts[b]) ** rows) ** bands
                   for want in planted for a, b in want)
    missed = [want - got for got, want in zip(found, planted)]
    n = sum(len(m) for m in missed)
    if n <= miss_allowance(expected):
        return [None] * len(found)
    return [f"{len(m)} planted pairs missing, e.g. {sorted(m)[0]} "
            f"({n} in the run, {expected:.2f} expected from LSH)"
            if m else None for m in missed]


def null_values(body: bytes) -> tuple[int, int]:
    """(bindings without a string value, bindings) in a SPARQL-JSON body;
    (0, 0) if it does not parse."""
    try:
        bs = [b for row in json.loads(body)["results"]["bindings"]
              for b in row.values()]
    except (ValueError, KeyError, TypeError, AttributeError):
        return 0, 0
    return sum(not isinstance(b.get("value"), str) for b in bs), len(bs)


def count_rows(body: bytes) -> int:
    """Number of solutions in a SPARQL-JSON body, valid or not (0 if it
    does not parse)."""
    try:
        return len(json.loads(body)["results"]["bindings"])
    except (ValueError, KeyError, TypeError):
        return 0
