"""Input generators for the benchmark.

Two kinds of input:

* The warehouse: TPC-H-shaped tables (region ... lineitem, plus events and
  documents) at a scale factor, generated from a fixed internal seed so it
  is the same for every run. sf0.1 matches the row counts and value ranges
  of the engine's reference test data (600k lineitem rows, 5000 documents).
  It is written once per checkout under the work directory and reused.
* Seeded inputs: query constants for the endpoint workload, shipdate
  windows for the export workload, and the dedup corpus extension, batches
  and planted near-duplicates. These come from ``--seed`` and a phase name
  ("warmup" or "timed"), so warm-up and timed inputs are drawn from
  separate streams.

Everything here is plain Python/NumPy/pyarrow: the engine under test never
sees how an input was made, only the generated files and query texts.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_VERSION = "1"
DATA_SEED = 42

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
PART_ADJ = "blue cold hot red small new old large".split()
PART_NOUN = "ring plate gear rod bolt anvil widget pin".split()
TYPES = ["STANDARD", "MEDIUM", "LARGE", "SMALL", "ECONOMY", "PROMO"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "error", "signup"]
LANGS = ["en", "es", "zh", "de", "fr"]

SHIP_FIRST = dt.datetime(1995, 1, 2)
SHIP_LAST = dt.datetime(2001, 11, 4)
ORDER_FIRST = dt.datetime(1995, 1, 1)
ORDER_LAST = dt.datetime(2001, 8, 1)

# the engine's IRI vocabulary for the relational mapping
PROLOGUE = """PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
PREFIX r: <x:r#>
PREFIX n: <x:n#>
PREFIX c: <x:c#>
PREFIX s: <x:s#>
PREFIX p: <x:p#>
PREFIX o: <x:o#>
PREFIX l: <x:l#>
"""


def table_sizes(sf: float) -> dict[str, int]:
    def n(base: int) -> int:
        return max(1, int(round(base * sf)))
    return {"region": 5, "nation": 25, "customer": n(150_000),
            "supplier": n(10_000), "part": n(200_000),
            "orders": n(1_500_000), "lineitem": n(6_000_000),
            "events": n(1_000_000), "documents": n(50_000)}


def _days(rng, n, first, last):
    span = (last - first).days
    return (np.datetime64(first, "us")
            + rng.integers(0, span + 1, n).astype("timedelta64[D]")
            .astype("timedelta64[us]"))


def random_text(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(n_words))


def _warehouse_tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    size = table_sizes(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    n = size["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)]})

    n = size["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2)})

    n = size["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": np.array(names)[rng.integers(0, len(names), n)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": np.array(TYPES)[rng.integers(0, len(TYPES), n)],
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2)})

    n = size["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, size["customer"], n),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": _days(rng, n, ORDER_FIRST, ORDER_LAST),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)]})

    n = size["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, size["orders"], n),
        "l_partkey": rng.integers(0, size["part"], n),
        "l_suppkey": rng.integers(0, size["supplier"], n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
        "l_shipdate": _days(rng, n, SHIP_FIRST, SHIP_LAST)})

    n = size["events"]
    secs = np.sort(rng.uniform(0, 30 * 86400, n))
    t["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": (np.datetime64(dt.datetime(2024, 1, 1), "us")
               + (secs * 1e6).astype("timedelta64[us]")),
        "user_id": rng.integers(0, 2000, n),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.uniform(0, 200, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})

    n = size["documents"]
    prng = random.Random(DATA_SEED)
    texts = [random_text(prng, prng.randint(8, 95)) for _ in range(n)]
    t["documents"] = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n)],
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    return t


def warehouse_dir(work: Path, sf: float) -> Path:
    return work / "data" / f"sf{sf:g}-v{DATA_VERSION}"


def ensure_warehouse(work: Path, sf: float) -> Path:
    """The warehouse directory for `sf`, generated on first use.

    Written to a temporary directory and renamed into place, so an
    interrupted run never leaves a half-written warehouse behind."""
    out = warehouse_dir(work, sf)
    if (out / "_SUCCESS").exists():
        return out
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for name, table in _warehouse_tables(sf).items():
        pq.write_table(table, tmp / f"{name}.parquet")
    (tmp / "_SUCCESS").write_text("")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


# ---------------------------------------------------------------------------
# seeded query inputs
# ---------------------------------------------------------------------------
#
# The queries project the virtual store's double and dateTime columns
# through STR(). Projected raw, those terms serialize with "value": null
# (README.md, "Known defect"), and a workload must be one on which every op
# passes its check. DEFECT_PROBE sends them raw once per SPARQL run, so the
# defect stays in the report until it is fixed.

DEFECT_PROBE = """
SELECT ?li ?qty ?price ?sd WHERE {
  ?li l:l_quantity ?qty ; l:l_extendedprice ?price ; l:l_shipdate ?sd .
}
LIMIT 20"""

@dataclass
class QueryOp:
    """One SPARQL request and the DuckDB query that must agree with it.

    `types` gives each output variable's comparison type: iri, str, long,
    double, dt (xsd:dateTime) or any (the value string as is)."""
    cls: str
    template: str
    sparql: str
    oracle: str
    types: dict[str, str]
    # variables DuckDB cannot reproduce (hash-derived IRIs): checked for
    # type and uniqueness only
    opaque: tuple[str, ...] = ()


def _rng(workload: str, phase: str, seed: int) -> random.Random:
    return random.Random(f"perfbench:{workload}:{phase}:{seed}")


def _dsum(expr: str) -> str:
    """Exact decimal sum of a double expression whose true values have at
    most 4 decimals (the engine sums xsd:decimal casts of the doubles)."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS DOUBLE)"


def _lookup(template: str, rng: random.Random, size: dict) -> QueryOp:
    if template == "explore_q1":
        t, b, s = rng.choice(TYPES), rng.randint(1, 25), rng.randint(5, 40)
        return QueryOp("lookup", template, f"""
SELECT DISTINCT ?product ?label WHERE {{
  ?product p:p_name ?label .
  ?product a <x:class:part> .
  ?product p:p_type "{t}" .
  ?product p:p_brand "Brand#{b}" .
  ?product p:p_size ?value1 .
  FILTER(?value1 > "{s}"^^xsd:integer)
}}
ORDER BY ASC(?label) ?product
LIMIT 10""", f"""
SELECT DISTINCT 'x:p:' || CAST(p_partkey AS VARCHAR) AS product,
       p_name AS label
FROM part WHERE p_type = '{t}' AND p_brand = 'Brand#{b}' AND p_size > {s}
ORDER BY label, product LIMIT 10""",
            {"product": "iri", "label": "str"})
    if template == "explore_q4":
        t, s = rng.choice(TYPES), rng.randint(30, 50)
        pr = f"{rng.randint(800, 995)}.0"
        return QueryOp("lookup", template, f"""
SELECT DISTINCT ?product ?label WHERE {{
  {{
    ?product p:p_name ?label .
    ?product p:p_type "{t}" .
    ?product p:p_size ?size .
    FILTER(?size > "{s}"^^xsd:integer)
  }}
  UNION
  {{
    ?product p:p_name ?label .
    ?product p:p_type "{t}" .
    ?product p:p_retailprice ?price .
    FILTER(?price > {pr})
  }}
}}
ORDER BY ASC(?label) ?product
OFFSET 5
LIMIT 10""", f"""
SELECT DISTINCT product, label FROM (
  SELECT 'x:p:' || CAST(p_partkey AS VARCHAR) AS product, p_name AS label
  FROM part WHERE p_type = '{t}' AND p_size > {s}
  UNION
  SELECT 'x:p:' || CAST(p_partkey AS VARCHAR), p_name
  FROM part WHERE p_type = '{t}' AND p_retailprice > {pr})
ORDER BY label, product OFFSET 5 LIMIT 10""",
            {"product": "iri", "label": "str"})
    if template == "explore_q8":
        k = rng.randrange(size["part"])
        return QueryOp("lookup", template, f"""
SELECT ?cust_name (STR(?date) AS ?sd) (STR(?q) AS ?hi_qty)
       (STR(?p) AS ?hi_price) (STR(?t) AS ?tax) (STR(?d) AS ?disc) WHERE {{
  ?li l:l_partkey <x:p:{k}> .
  ?li l:l_orderkey ?ord .
  ?li l:l_shipdate ?date .
  ?ord o:o_custkey ?cust .
  ?cust c:c_name ?cust_name .
  OPTIONAL {{ ?li l:l_quantity ?q . FILTER(?q >= 25.0) }}
  OPTIONAL {{ ?li l:l_extendedprice ?p . FILTER(?p >= 30000.0) }}
  OPTIONAL {{ ?li l:l_tax ?t }}
  OPTIONAL {{ ?li l:l_discount ?d . FILTER(?d > 0.05) }}
}}
ORDER BY DESC(?date) ?cust_name ?t ?q ?p ?d
LIMIT 20""", f"""
SELECT c_name AS cust_name, l_shipdate AS sd,
       CASE WHEN l_quantity >= 25.0 THEN l_quantity END AS hi_qty,
       CASE WHEN l_extendedprice >= 30000.0 THEN l_extendedprice END
           AS hi_price,
       l_tax AS tax,
       CASE WHEN l_discount > 0.05 THEN l_discount END AS disc
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
WHERE l_partkey = {k}
ORDER BY sd DESC, cust_name, tax NULLS FIRST, hi_qty NULLS FIRST,
         hi_price NULLS FIRST, disc NULLS FIRST
LIMIT 20""",
            {"cust_name": "str", "sd": "dt", "hi_qty": "double",
             "hi_price": "double", "tax": "double", "disc": "double"})
    if template == "explore_q10":
        k, nat = rng.randrange(size["part"]), rng.randrange(25)
        return QueryOp("lookup", template, f"""
SELECT DISTINCT ?ord (STR(?p) AS ?price) WHERE {{
  ?offer l:l_partkey <x:p:{k}> .
  ?offer l:l_suppkey ?vendor .
  ?vendor s:s_nationkey <x:n:{nat}> .
  ?offer l:l_quantity ?deliveryDays .
  ?offer l:l_extendedprice ?p .
  ?offer l:l_shipdate ?date .
  ?offer l:l_orderkey ?ord .
  FILTER(?deliveryDays <= "30"^^xsd:integer
      && ?date > "1996-06-20T00:00:00"^^xsd:dateTime)
}}
ORDER BY ASC(xsd:double(STR(?p))) ?ord
LIMIT 10""", f"""
SELECT DISTINCT 'x:o:' || CAST(l_orderkey AS VARCHAR) AS ord,
       l_extendedprice AS price
FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
WHERE l_partkey = {k} AND s_nationkey = {nat} AND l_quantity <= 30
  AND l_shipdate > TIMESTAMP '1996-06-20'
ORDER BY price, ord LIMIT 10""",
            {"ord": "iri", "price": "double"})
    if template == "explore_q11":
        nat = rng.randrange(25)
        return QueryOp("lookup", template, f"""
SELECT ?property ?hasValue ?isValueOf WHERE {{
  {{ <x:n:{nat}> ?property ?hasValue }}
  UNION
  {{ ?isValueOf ?property <x:n:{nat}> }}
}}
ORDER BY ?property ?hasValue ?isValueOf""", f"""
SELECT 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS property,
       'x:class:nation' AS hasValue, CAST(NULL AS VARCHAR) AS isValueOf
UNION ALL SELECT 'x:n#n_nationkey', '{nat}', NULL
UNION ALL SELECT 'x:n#n_name', n_name, NULL FROM nation
  WHERE n_nationkey = {nat}
UNION ALL SELECT 'x:n#n_regionkey', 'x:r:' || CAST(n_regionkey AS VARCHAR),
  NULL FROM nation WHERE n_nationkey = {nat}
UNION ALL SELECT 'x:c#c_nationkey', NULL, 'x:c:' || CAST(c_custkey AS VARCHAR)
  FROM customer WHERE c_nationkey = {nat}
UNION ALL SELECT 'x:s#s_nationkey', NULL, 'x:s:' || CAST(s_suppkey AS VARCHAR)
  FROM supplier WHERE s_nationkey = {nat}""",
            {"property": "iri", "hasValue": "any", "isValueOf": "iri"})
    raise ValueError(template)


def _report(template: str, rng: random.Random, size: dict) -> QueryOp:
    if template == "q1_pricing_summary":
        # TPC-H Q1's substitution rule: DELTA days before the last shipdate
        cut = (SHIP_LAST.date()
               - dt.timedelta(days=rng.randint(60, 120))).isoformat()
        return QueryOp("report", template, f"""
SELECT ?l_returnflag ?l_linestatus
       (xsd:double(SUM(xsd:decimal(?qty))) AS ?sum_qty)
       (xsd:double(SUM(xsd:decimal(?price))) AS ?sum_base_price)
       (xsd:double(SUM(xsd:decimal(?price * (1 - ?disc)))) AS ?sum_disc_price)
       (xsd:double(SUM(xsd:decimal(?disc))) / COUNT(?disc) AS ?avg_disc)
       (COUNT(*) AS ?count_order)
WHERE {{
  ?li l:l_quantity ?qty ; l:l_extendedprice ?price ; l:l_discount ?disc ;
      l:l_returnflag ?l_returnflag ; l:l_linestatus ?l_linestatus ;
      l:l_shipdate ?sd .
  FILTER(?sd <= "{cut}T00:00:00"^^xsd:dateTime)
}}
GROUP BY ?l_returnflag ?l_linestatus""", f"""
SELECT l_returnflag, l_linestatus,
       {_dsum('l_quantity')} AS sum_qty,
       {_dsum('l_extendedprice')} AS sum_base_price,
       {_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {_dsum('l_discount')} / COUNT(l_discount) AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '{cut} 00:00:00'
GROUP BY l_returnflag, l_linestatus""",
            {"l_returnflag": "str", "l_linestatus": "str",
             "sum_qty": "double", "sum_base_price": "double",
             "sum_disc_price": "double", "avg_disc": "double",
             "count_order": "long"})
    if template == "q3_topk_revenue":
        k = rng.randint(5, 20)
        return QueryOp("report", template, f"""
SELECT ?okey (xsd:double(SUM(xsd:decimal(?price * (1 - ?disc)))) AS ?revenue)
WHERE {{
  ?li l:l_orderkey ?ord ; l:l_extendedprice ?price ; l:l_discount ?disc .
  ?ord o:o_orderkey ?okey .
}}
GROUP BY ?okey
ORDER BY DESC(?revenue) ?okey
LIMIT {k}""", f"""
SELECT o_orderkey AS okey,
       {_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderkey ORDER BY revenue DESC, okey LIMIT {k}""",
            {"okey": "long", "revenue": "double"})
    if template == "q5_star_join":
        # constant-free template: every seed sends the same text
        return QueryOp("report", template, """
SELECT ?n_name (xsd:double(SUM(xsd:decimal(?price * (1 - ?disc)))) AS ?revenue)
WHERE {
  ?li l:l_orderkey ?ord ; l:l_suppkey ?sup ;
      l:l_extendedprice ?price ; l:l_discount ?disc .
  ?ord o:o_custkey ?cust .
  ?cust c:c_nationkey ?nat .
  ?sup s:s_nationkey ?nat .
  ?nat n:n_name ?n_name .
}
GROUP BY ?n_name""", f"""
SELECT n_name, {_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON c_nationkey = n_nationkey AND s_nationkey = n_nationkey
GROUP BY n_name""",
            {"n_name": "str", "revenue": "double"})
    if template == "q_group_minmax_having":
        per_nation = size["customer"] / 25
        k = rng.randint(max(1, int(per_nation * 0.9)),
                        int(per_nation * 1.1) + 1)
        return QueryOp("report", template, f"""
SELECT ?nname (MIN(?cname) AS ?first_c) (MAX(?ab) AS ?max_bal)
       (COUNT(*) AS ?n)
WHERE {{
  ?cust c:c_nationkey ?nat ; c:c_name ?cname ; c:c_acctbal ?ab .
  ?nat n:n_name ?nname .
}}
GROUP BY ?nname
HAVING (COUNT(*) >= {k})""", f"""
SELECT n_name AS nname, MIN(c_name) AS first_c, MAX(c_acctbal) AS max_bal,
       CAST(COUNT(*) AS BIGINT) AS n
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name HAVING COUNT(*) >= {k}""",
            {"nname": "str", "first_c": "str", "max_bal": "double",
             "n": "long"})
    raise ValueError(template)


LOOKUPS = ("explore_q1", "explore_q4", "explore_q8", "explore_q10",
           "explore_q11")
REPORTS = ("q1_pricing_summary", "q3_topk_revenue", "q5_star_join",
           "q_group_minmax_having")


def endpoint_cycles(seed: int, phase: str, n_cycles: int,
                    sf: float) -> list[list[QueryOp]]:
    """`n_cycles` mix cycles: one instance of each lookup template, then
    one of each report template, constants drawn from the seed."""
    rng, size = _rng("endpoint", phase, seed), table_sizes(sf)
    return [[_lookup(t, rng, size) for t in LOOKUPS]
            + [_report(t, rng, size) for t in REPORTS]
            for _ in range(n_cycles)]


def export_ops(seed: int, phase: str, n: int) -> list[QueryOp]:
    """`n` six-month l_shipdate windows, each starting on a seeded month."""
    rng = _rng("export", phase, seed)
    months = ((SHIP_LAST.year - SHIP_FIRST.year) * 12
              + SHIP_LAST.month - SHIP_FIRST.month - 6)
    out = []
    for _ in range(n):
        m = SHIP_FIRST.month - 1 + rng.randrange(months)
        a = dt.date(SHIP_FIRST.year + m // 12, m % 12 + 1, 1)
        m += 6
        b = dt.date(SHIP_FIRST.year + m // 12, m % 12 + 1, 1)
        out.append(QueryOp("export", "shipdate_window", f"""
SELECT ?li (STR(?q) AS ?qty) (STR(?p) AS ?price) (STR(?date) AS ?sd)
WHERE {{
  ?li l:l_quantity ?q ; l:l_extendedprice ?p ; l:l_shipdate ?date .
  FILTER(?date >= "{a}T00:00:00"^^xsd:dateTime
      && ?date < "{b}T00:00:00"^^xsd:dateTime)
}}""", f"""
SELECT l_quantity AS qty, l_extendedprice AS price, l_shipdate AS sd
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{a}' AND l_shipdate < TIMESTAMP '{b}'""",
            {"li": "iri", "qty": "double", "price": "double", "sd": "dt"},
            opaque=("li",)))
    return out


# ---------------------------------------------------------------------------
# seeded dedup inputs
# ---------------------------------------------------------------------------

SHINGLE_N = 2


def shingles(text: str) -> set[str]:
    """Distinct word bigrams, split on single spaces (the engine's
    shingling, restated here so pairs can be re-verified independently)."""
    w = text.split(" ")
    return {" ".join(w[i:i + SHINGLE_N])
            for i in range(len(w) - SHINGLE_N + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    if not sa and not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)


PLANT_MIN_JACCARD = 0.8
BATCH_ID_BASE = 10_000_000
EXTRA_ID_BASE = 5_000_000


@dataclass
class DedupInputs:
    corpus_path: Path
    batch_size: int
    batch_paths: list[Path] = field(default_factory=list)
    # (batch doc id, corpus doc id) pairs planted per batch
    planted: list[set[tuple[int, int]]] = field(default_factory=list)
    texts: dict[int, str] = field(default_factory=dict)


def _mutate(rng: random.Random, text: str) -> str:
    """A near-duplicate candidate: one word swapped, one appended (the
    caller keeps it only at bigram Jaccard >= PLANT_MIN_JACCARD)."""
    words = text.split(" ")
    i = rng.randrange(len(words))
    words[i] = rng.choice([w for w in VOCAB if w != words[i]])
    words.append(rng.choice(VOCAB))
    return " ".join(words)


def dedup_inputs(warehouse: Path, out: Path, seed: int, phase: str,
                 n_batches: int, batch_size: int,
                 with_corpus: bool = True) -> DedupInputs:
    """Corpus = warehouse documents + a seeded 10% extension; each batch
    is `batch_size` seeded documents, a quarter of them planted
    near-duplicates of corpus documents. Written as parquet under `out`."""
    rng = _rng("dedup", phase, seed)
    out.mkdir(parents=True, exist_ok=True)
    docs = pq.read_table(warehouse / "documents.parquet",
                         columns=["doc_id", "text"]).to_pydict()
    corpus = dict(zip(docs["doc_id"], docs["text"]))
    n_extra = max(1, len(corpus) // 10)
    extra_rng = _rng("dedup", "corpus", seed)
    for i in range(n_extra):
        corpus[EXTRA_ID_BASE + i] = random_text(extra_rng,
                                                extra_rng.randint(8, 95))
    corpus_path = out / "corpus.parquet"
    if with_corpus:
        pq.write_table(pa.table({"doc_id": list(corpus),
                                 "text": list(corpus.values())}),
                       corpus_path)
    long_ids = [k for k, v in corpus.items() if v.count(" ") >= 30]
    res = DedupInputs(corpus_path, batch_size)
    next_id = BATCH_ID_BASE + (0 if phase == "timed" else 5_000_000)
    for b in range(n_batches):
        ids, texts, planted = [], [], set()
        for j in range(batch_size):
            if j % 4 == 0:
                src = rng.choice(long_ids)
                text = _mutate(rng, corpus[src])
                while jaccard(text, corpus[src]) < PLANT_MIN_JACCARD:
                    text = _mutate(rng, corpus[src])
                planted.add((next_id, src))
            else:
                text = random_text(rng, rng.randint(8, 95))
            ids.append(next_id)
            texts.append(text)
            res.texts[next_id] = text
            next_id += 1
        path = out / f"{phase}_batch_{b:03d}.parquet"
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                 "text": texts}), path)
        res.batch_paths.append(path)
        res.planted.append(planted)
    res.texts.update(corpus)
    return res


if __name__ == "__main__":
    # python3 inputs.py WORK_DIR SF: generate the warehouse for SF
    import sys
    ensure_warehouse(Path(sys.argv[1]), float(sys.argv[2]))
