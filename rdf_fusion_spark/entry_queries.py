"""Driver-facing query inventory: SPARQL over the RDF-ized warehouse,
each with an equivalent ANSI-SQL oracle on the raw relational tables.

This is the correctness gate (CORRECTNESS_r{N}.json): every operator family
from SURVEY.md §2 appears here as a named query whose Spark result must
hash-match the DuckDB oracle at sf=0.01.

Exactness conventions (doubles are the enemy):
  * Per-row double arithmetic (x*2, x*(1-y)) is bit-exact in both engines.
  * SUM/AVG over doubles is order-dependent → both sides convert each
    double to an exact DECIMAL(38,18) **via its shortest round-trip string**
    (SPARQL `xsd:decimal(?x)` parses our lexical form; the oracle uses
    CAST(CAST(x AS VARCHAR) AS DECIMAL(38,18))), sum exactly, then cast the
    total back to DOUBLE.
"""

from __future__ import annotations

import weakref
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .store import GraphStore

PROLOGUE = """
PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
PREFIX r: <x:r#>
PREFIX n: <x:n#>
PREFIX c: <x:c#>
PREFIX s: <x:s#>
PREFIX p: <x:p#>
PREFIX o: <x:o#>
PREFIX l: <x:l#>
PREFIX e: <x:e#>
PREFIX d: <x:d#>
"""

_GRAPH_CACHE: dict[str, GraphStore] = {}


def get_graph(spark: SparkSession, sf_dir: str) -> GraphStore:
    """Virtual RDF view of the warehouse at sf_dir (one store per dir).

    Virtual = triple patterns compile to direct source-table projections
    with pushed filters (sources/virtual.py); nothing is materialized or
    cached — the only scale-safe shape at 100 TB.
    """
    key = sf_dir.rstrip("/")
    store = _GRAPH_CACHE.get(key)
    if store is None or store.spark is not spark:
        from .sources.virtual import VirtualRelationalStore
        store = VirtualRelationalStore(spark, key)
        _GRAPH_CACHE[key] = store
    return store


def _u(col: Column, typ: str) -> Column:
    """Un-term: extract the native value from a term struct column.
    The lexical may be lazy (virtual scans skip Double.toString) — for
    native targets read the typed view directly instead of rebuilding the
    lexical through the full kind ladder (12 untyped output vars of that
    ladder once pushed a WholeStageCodegen past Janino's 64 KB limit)."""
    from .functions.typed_ops import lexical_of
    v = col["v"]
    if typ == "str":
        return lexical_of(col)
    if typ == "long":
        return F.coalesce(v.try_cast("long"), col["d"].try_cast("long"),
                          col["x"].try_cast("long"))
    if typ == "double":
        return F.coalesce(v.try_cast("double"), col["x"])
    if typ == "double6":
        # engines legitimately differ in the last ulp of a decimal division
        # (Spark rounds the scale-18 quotient, DuckDB truncates); compare at
        # 6 fractional digits
        return F.round(F.coalesce(v.try_cast("double"), col["x"]), 6)
    if typ == "timestamp":
        return F.coalesce(v.try_cast("timestamp"), col["ts"])
    if typ == "bool":
        return v == "true"
    raise ValueError(typ)


@dataclass
class QuerySpec:
    sparql: str                      # without prologue
    out: list[tuple[str, str]]       # (column, native type) in output order
    oracle: Optional[str]            # DuckDB SQL, or None for rows-only check

    def run(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        store = get_graph(spark, sf_dir)
        res = store.query(PROLOGUE + self.sparql)
        cols = [_u(res.df[name], typ).alias(name) for name, typ in self.out]
        return _owning(res.df.select(*cols), res)


def _owning(frame: DataFrame, res) -> DataFrame:
    """`frame`, derived from `res.df`, keeps the query result `res` (and
    so its shared-subquery caches) alive until the frame itself is
    dropped, e.g. evicted from _PLAN_CACHE."""
    weakref.finalize(frame, res.close).atexit = False
    return frame


# exact decimal via round-trip string, for order-independent double sums
def _dec(sql_expr: str) -> str:
    return f"CAST(CAST({sql_expr} AS VARCHAR) AS DECIMAL(38,18))"


SPECS: dict[str, QuerySpec] = {}


def _q(name: str, sparql: str, out: list[tuple[str, str]], oracle: Optional[str]):
    SPECS[name] = QuerySpec(sparql, out, oracle)


# ---------------------------------------------------------------------------
# §2.4 aggregation — TPC-H Q1 shape (scan + filter + group + 5 aggregates)
# ---------------------------------------------------------------------------

_q(
    "q1_pricing_summary",
    """
    SELECT ?l_returnflag ?l_linestatus
           (xsd:double(SUM(xsd:decimal(?qty))) AS ?sum_qty)
           (xsd:double(SUM(xsd:decimal(?price))) AS ?sum_base_price)
           (xsd:double(SUM(xsd:decimal(?price * (1 - ?disc)))) AS ?sum_disc_price)
           (xsd:double(SUM(xsd:decimal(?disc))) / COUNT(?disc) AS ?avg_disc)
           (COUNT(*) AS ?count_order)
    WHERE {
      ?li l:l_quantity ?qty ; l:l_extendedprice ?price ; l:l_discount ?disc ;
          l:l_returnflag ?l_returnflag ; l:l_linestatus ?l_linestatus ;
          l:l_shipdate ?sd .
      FILTER(?sd <= "1998-09-02T00:00:00"^^xsd:dateTime)
    }
    GROUP BY ?l_returnflag ?l_linestatus
    """,
    [("l_returnflag", "str"), ("l_linestatus", "str"), ("sum_qty", "double"),
     ("sum_base_price", "double"), ("sum_disc_price", "double"),
     ("avg_disc", "double"), ("count_order", "long")],
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(CAST(SUM({_dec('l_quantity')}) AS VARCHAR) AS DOUBLE) AS sum_qty,
           CAST(CAST(SUM({_dec('l_extendedprice')}) AS VARCHAR) AS DOUBLE) AS sum_base_price,
           CAST(CAST(SUM({_dec('l_extendedprice * (1 - l_discount)')}) AS VARCHAR) AS DOUBLE)
               AS sum_disc_price,
           CAST(CAST(SUM({_dec('l_discount')}) AS VARCHAR) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)

# ---------------------------------------------------------------------------
# §2.3 joins — BGP star join with constant + range filters
# ---------------------------------------------------------------------------

_q(
    "q2_join_region_filter",
    """
    SELECT ?c_name ?n_name WHERE {
      ?cust c:c_nationkey ?nat ; c:c_name ?c_name ; c:c_acctbal ?ab .
      ?nat n:n_regionkey ?reg ; n:n_name ?n_name .
      ?reg r:r_name "ASIA" .
      FILTER(?ab > 1000.0)
    }
    """,
    [("c_name", "str"), ("n_name", "str")],
    """
    SELECT c_name, n_name
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA' AND c_acctbal > 1000.0
    """,
)

_q(
    "q5_star_join",
    """
    SELECT ?n_name (xsd:double(SUM(xsd:decimal(?price * (1 - ?disc)))) AS ?revenue)
    WHERE {
      ?li l:l_orderkey ?ord ; l:l_suppkey ?sup ;
          l:l_extendedprice ?price ; l:l_discount ?disc .
      ?ord o:o_custkey ?cust .
      ?cust c:c_nationkey ?nat .
      ?sup s:s_nationkey ?nat .
      ?nat n:n_name ?n_name .
    }
    GROUP BY ?n_name
    """,
    [("n_name", "str"), ("revenue", "double")],
    f"""
    SELECT n_name,
           CAST(CAST(SUM({_dec('l_extendedprice * (1 - l_discount)')}) AS VARCHAR) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON c_nationkey = n_nationkey AND s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)

# ---------------------------------------------------------------------------
# §2.6 sort/limit — top-k with deterministic tiebreak
# ---------------------------------------------------------------------------

_q(
    "q3_topk_revenue",
    """
    SELECT ?okey (xsd:double(SUM(xsd:decimal(?price * (1 - ?disc)))) AS ?revenue)
    WHERE {
      ?li l:l_orderkey ?ord ; l:l_extendedprice ?price ; l:l_discount ?disc .
      ?ord o:o_orderkey ?okey .
    }
    GROUP BY ?okey
    ORDER BY DESC(?revenue) ?okey
    LIMIT 10
    """,
    [("okey", "long"), ("revenue", "double")],
    f"""
    SELECT o_orderkey AS okey,
           CAST(CAST(SUM({_dec('l_extendedprice * (1 - l_discount)')}) AS VARCHAR) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderkey
    ORDER BY revenue DESC, okey
    LIMIT 10
    """,
)

# ---------------------------------------------------------------------------
# §2.3 OPTIONAL (left join) with filter inside the optional
# ---------------------------------------------------------------------------

_q(
    "q_optional_highqty",
    """
    SELECT ?okey ?qty WHERE {
      ?ord o:o_orderkey ?okey .
      OPTIONAL {
        ?li l:l_orderkey ?ord ; l:l_quantity ?qty .
        FILTER(?qty >= 48.0)
      }
    }
    """,
    [("okey", "long"), ("qty", "double")],
    """
    SELECT o_orderkey AS okey, l.l_quantity AS qty
    FROM orders
    LEFT JOIN (SELECT * FROM lineitem WHERE l_quantity >= 48.0) l
      ON l.l_orderkey = o_orderkey
    """,
)

# ---------------------------------------------------------------------------
# §2.3 NOT EXISTS (anti join) + MINUS, folded into one tagged query whose
# branches each return rows at every test scale (a 0-row anti join would
# hash-match a broken implementation — VERDICT r2 #3)
# ---------------------------------------------------------------------------

_q(
    "q_anti_joins",
    """
    SELECT ?tag ?id WHERE {
      {
        BIND("no_big_order" AS ?tag)
        ?cust c:c_custkey ?ckey .
        FILTER NOT EXISTS {
          ?ord o:o_custkey ?cust ; o:o_totalprice ?tp .
          FILTER(?tp > 400000.0)
        }
        BIND(STR(?ckey) AS ?id)
      } UNION {
        BIND("minus_nation" AS ?tag)
        ?nat n:n_name ?nname .
        MINUS {
          ?cust2 c:c_nationkey ?nat ; c:c_acctbal ?ab .
          ?nat n:n_name ?nname .
          FILTER(?ab > 9900.0)
        }
        BIND(?nname AS ?id)
      }
    }
    """,
    [("tag", "str"), ("id", "str")],
    """
    SELECT 'no_big_order' AS tag, CAST(c_custkey AS VARCHAR) AS id
    FROM customer
    WHERE c_custkey NOT IN
          (SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0)
    UNION ALL
    SELECT 'minus_nation', n_name FROM nation
    WHERE n_nationkey NOT IN
          (SELECT c_nationkey FROM customer WHERE c_acctbal > 9900.0)
    """,
)

# ---------------------------------------------------------------------------
# §2.6 UNION (bag semantics) + DISTINCT (in a subselect), folded: the "bag"
# branch must keep duplicates, the "dst" branch must collapse them
# ---------------------------------------------------------------------------

_q(
    "q_union_distinct",
    """
    SELECT ?tag ?name WHERE {
      {
        BIND("bag" AS ?tag)
        { ?cust c:c_name ?name ; c:c_acctbal ?ab . FILTER(?ab > 9000.0) }
        UNION
        { ?sup s:s_name ?name }
      } UNION {
        BIND("dst" AS ?tag)
        { SELECT DISTINCT ?name WHERE { ?ord o:o_orderpriority ?name } }
      }
    }
    """,
    [("tag", "str"), ("name", "str")],
    """
    SELECT 'bag' AS tag, name FROM (
      SELECT c_name AS name FROM customer WHERE c_acctbal > 9000.0
      UNION ALL
      SELECT s_name AS name FROM supplier
    )
    UNION ALL
    SELECT 'dst', o_orderpriority
    FROM (SELECT DISTINCT o_orderpriority FROM orders)
    """,
)

# ---------------------------------------------------------------------------
# §2.7 property paths — every algebraic form (sequence, inverse,
# alternative, zero-or-one, negated set) in one tagged union; each UNION
# branch is an independent path evaluation
# ---------------------------------------------------------------------------

_q(
    "q_path_algebraic",
    """
    SELECT ?tag ?a ?b WHERE {
      {
        BIND("seq" AS ?tag)
        ?cust (c:c_nationkey/n:n_regionkey) ?reg .
        ?reg r:r_name ?rn .
        BIND(STR(?cust) AS ?a) BIND(?rn AS ?b)
      } UNION {
        BIND("inv" AS ?tag)
        ?nat2 ^c:c_nationkey ?cust2 ; n:n_name ?nn .
        BIND(STR(?cust2) AS ?a) BIND(?nn AS ?b)
      } UNION {
        BIND("alt" AS ?tag)
        ?ent (c:c_nationkey|s:s_nationkey) ?nat3 .
        BIND(STR(?ent) AS ?a) BIND(STR(?nat3) AS ?b)
      } UNION {
        BIND("zoo" AS ?tag)
        ?cust4 c:c_custkey ?ck .
        ?cust4 (c:c_nationkey?) ?mid .
        FILTER(?ck <= 20)
        BIND(STR(?cust4) AS ?a) BIND(STR(?mid) AS ?b)
      } UNION {
        BIND("neg" AS ?tag)
        ?nat5 n:n_nationkey ?nk .
        ?nat5 !(n:n_comment|n:n_name|<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>) ?o .
        BIND(STR(?nat5) AS ?a) BIND(STR(?o) AS ?b)
      }
    }
    """,
    [("tag", "str"), ("a", "str"), ("b", "str")],
    """
    SELECT 'seq' AS tag, 'x:c:' || CAST(c_custkey AS VARCHAR) AS a,
           r_name AS b
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    UNION ALL
    SELECT 'inv', 'x:c:' || CAST(c_custkey AS VARCHAR), n_name
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    UNION ALL
    SELECT 'alt', 'x:c:' || CAST(c_custkey AS VARCHAR),
           'x:n:' || CAST(c_nationkey AS VARCHAR) FROM customer
    UNION ALL
    SELECT 'alt', 'x:s:' || CAST(s_suppkey AS VARCHAR),
           'x:n:' || CAST(s_nationkey AS VARCHAR) FROM supplier
    UNION ALL
    SELECT 'zoo', 'x:c:' || CAST(c_custkey AS VARCHAR),
           'x:c:' || CAST(c_custkey AS VARCHAR)
    FROM customer WHERE c_custkey <= 20
    UNION ALL
    SELECT 'zoo', 'x:c:' || CAST(c_custkey AS VARCHAR),
           'x:n:' || CAST(c_nationkey AS VARCHAR)
    FROM customer WHERE c_custkey <= 20
    UNION ALL
    SELECT 'neg', 'x:n:' || CAST(n_nationkey AS VARCHAR),
           'x:r:' || CAST(n_regionkey AS VARCHAR) FROM nation
    UNION ALL
    SELECT 'neg', 'x:n:' || CAST(n_nationkey AS VARCHAR),
           CAST(n_nationkey AS VARCHAR) FROM nation
    """,
)

# ---------------------------------------------------------------------------
# §2.7 Kleene plus — transitive closure, oracle via recursive CTE
# ---------------------------------------------------------------------------

_q(
    "q_path_kleene_plus",
    """
    SELECT ?x ?y WHERE { ?x (c:c_nationkey|n:n_regionkey)+ ?y }
    """,
    [("x", "str"), ("y", "str")],
    """
    WITH RECURSIVE edge AS (
      SELECT 'x:c:' || CAST(c_custkey AS VARCHAR) AS src,
             'x:n:' || CAST(c_nationkey AS VARCHAR) AS dst FROM customer
      UNION ALL
      SELECT 'x:n:' || CAST(n_nationkey AS VARCHAR),
             'x:r:' || CAST(n_regionkey AS VARCHAR) FROM nation
    ), closure AS (
      SELECT src, dst FROM edge
      UNION
      SELECT c.src, e.dst FROM closure c JOIN edge e ON c.dst = e.src
    )
    SELECT src AS x, dst AS y FROM closure
    """,
)

# ---------------------------------------------------------------------------
# §2.7 Kleene plus from a BOUND subject — must evaluate as a
# frontier-seeded fixpoint (reachability from one node), not a filter over
# the whole-graph closure (VERDICT r2 #2)
# ---------------------------------------------------------------------------

_q(
    "q_path_kleene_bound",
    """
    SELECT ?y WHERE { <x:c:1> (c:c_nationkey|n:n_regionkey)+ ?y }
    """,
    [("y", "str")],
    """
    SELECT 'x:n:' || CAST(c_nationkey AS VARCHAR) AS y
    FROM customer WHERE c_custkey = 1
    UNION ALL
    SELECT 'x:r:' || CAST(n_regionkey AS VARCHAR)
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_custkey = 1
    """,
)

# ---------------------------------------------------------------------------
# §2.8 expressions folded into one wide BIND suite: string/arithmetic
# binds, IF / COALESCE / IN functional forms, STRLANG/LANG/DATATYPE term
# construction + inspection, plus two FILTER shapes (|| and IN)
# ---------------------------------------------------------------------------

_q(
    "q_expr_forms",
    """
    SELECT ?ckey ?up ?bal2 ?nlen ?cls ?seg2 ?lang ?dt ?isiri ?islit ?isnum
    WHERE {
      ?cust c:c_custkey ?ckey ; c:c_name ?nm ; c:c_acctbal ?ab ;
            c:c_mktsegment ?seg .
      BIND(UCASE(?nm) AS ?up)
      BIND(?ab * 2 AS ?bal2)
      BIND(STRLEN(?nm) AS ?nlen)
      BIND(IF(?ab >= 5000.0, "high", IF(?ab >= 0.0, "mid", "neg")) AS ?cls)
      BIND(COALESCE(?missing, ?seg, "none") AS ?seg2)
      BIND(STRLANG(?nm, "en") AS ?tagged)
      BIND(LANG(?tagged) AS ?lang)
      BIND(STR(DATATYPE(?nm)) AS ?dt)
      BIND(ISIRI(?cust) AS ?isiri)
      BIND(ISLITERAL(?nm) AS ?islit)
      BIND(ISNUMERIC(?nm) AS ?isnum)
      FILTER(CONTAINS(?nm, "1") || STRSTARTS(?nm, "Customer"))
      FILTER(?seg IN ("BUILDING", "MACHINERY", "FURNITURE"))
    }
    """,
    [("ckey", "long"), ("up", "str"), ("bal2", "double"), ("nlen", "long"),
     ("cls", "str"), ("seg2", "str"), ("lang", "str"), ("dt", "str"),
     ("isiri", "bool"), ("islit", "bool"), ("isnum", "bool")],
    """
    SELECT c_custkey AS ckey, UPPER(c_name) AS up, c_acctbal * 2 AS bal2,
           CAST(LENGTH(c_name) AS BIGINT) AS nlen,
           CASE WHEN c_acctbal >= 5000.0 THEN 'high'
                WHEN c_acctbal >= 0.0 THEN 'mid' ELSE 'neg' END AS cls,
           c_mktsegment AS seg2,
           'en' AS lang,
           'http://www.w3.org/2001/XMLSchema#string' AS dt,
           true AS isiri, true AS islit, false AS isnum
    FROM customer
    WHERE (CONTAINS(c_name, '1') OR STARTS_WITH(c_name, 'Customer'))
      AND c_mktsegment IN ('BUILDING', 'MACHINERY', 'FURNITURE')
    """,
)

# ---------------------------------------------------------------------------
# §2.4 MIN/MAX/SAMPLE-style per-group extremes + HAVING
# ---------------------------------------------------------------------------

_q(
    "q_group_minmax_having",
    """
    SELECT ?nname (MIN(?cname) AS ?first_c) (MAX(?ab) AS ?max_bal)
           (COUNT(*) AS ?n)
    WHERE {
      ?cust c:c_nationkey ?nat ; c:c_name ?cname ; c:c_acctbal ?ab .
      ?nat n:n_name ?nname .
    }
    GROUP BY ?nname
    HAVING (COUNT(*) >= 2)
    """,
    [("nname", "str"), ("first_c", "str"), ("max_bal", "double"), ("n", "long")],
    """
    SELECT n_name AS nname, MIN(c_name) AS first_c, MAX(c_acctbal) AS max_bal,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name HAVING COUNT(*) >= 2
    """,
)

# ---------------------------------------------------------------------------
# events table — timestamp filter + datetime accessors
# ---------------------------------------------------------------------------

_q(
    "q_events_by_type",
    """
    SELECT ?etype (COUNT(*) AS ?n)
           (xsd:double(SUM(xsd:decimal(?val))) AS ?total)
    WHERE {
      ?ev e:event_type ?etype ; e:value ?val ; e:ts ?ts .
      FILTER(YEAR(?ts) >= 2024)
    }
    GROUP BY ?etype
    """,
    [("etype", "str"), ("n", "long"), ("total", "double")],
    f"""
    SELECT event_type AS etype, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM({_dec('value')}) AS VARCHAR) AS DOUBLE) AS total
    FROM events WHERE YEAR(ts) >= 2024
    GROUP BY event_type
    """,
)

# ---------------------------------------------------------------------------
# §2.10 CONSTRUCT — graph result, oracle rebuilds the triples relationally
# ---------------------------------------------------------------------------


def _run_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = get_graph(spark, sf_dir)
    res = store.query(PROLOGUE + """
      CONSTRUCT { ?cust <x:hasOrder> ?ord }
      WHERE { ?ord o:o_custkey ?cust }
    """)
    return _owning(res.df.select(
        F.col("subject")["v"].alias("s"),
        F.col("predicate")["v"].alias("p"),
        F.col("object")["v"].alias("o"),
    ), res)


CONSTRUCT_ORACLE = """
SELECT DISTINCT 'x:c:' || CAST(o_custkey AS VARCHAR) AS s,
       'x:hasOrder' AS p,
       'x:o:' || CAST(o_orderkey AS VARCHAR) AS o
FROM orders
"""


def _run_service_federated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 Federated Query, end to end: serve the warehouse graph
    over this repo's own SPARQL Protocol endpoint, then federate a local
    customer pattern against the remote nation labels through SERVICE
    (parser raw-group capture → HTTP client → results reader →
    compatibility join). Deterministic — the remote is the same data —
    so it carries a full DuckDB oracle, unlike most engines' untested
    federation paths (the reference #[ignore]s its service suite)."""
    from .web import SparqlHttpServer
    store = get_graph(spark, sf_dir)
    server = SparqlHttpServer(store, "127.0.0.1", 0)
    server.start_background()
    try:
        res = store.query(PROLOGUE + f"""
          SELECT ?cust_name ?nation_name WHERE {{
            ?c c:c_name ?cust_name .
            ?c c:c_nationkey ?n .
            ?c c:c_acctbal ?bal .
            FILTER(?bal >= 9900.0)
            SERVICE <http://127.0.0.1:{server.port}/query> {{
              ?n n:n_name ?nation_name .
            }}
          }}
        """)
        # the SERVICE fetch materializes during translation, so the
        # returned DataFrame no longer needs the endpoint
        return _owning(
            res.df.select(_u(F.col("cust_name"), "str").alias("cust_name"),
                          _u(F.col("nation_name"), "str").alias("nation_name")),
            res)
    finally:
        server.stop()


SERVICE_FEDERATED_ORACLE = """
SELECT c_name AS cust_name, n_name AS nation_name
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal >= 9900.0
"""

# ---------------------------------------------------------------------------
# §2.3 subquery (nested SELECT with aggregation) — BSBM BI shape
# ---------------------------------------------------------------------------

_q(
    "q_subquery_avg_per_nation",
    """
    SELECT ?nname ?avg_bal WHERE {
      ?nat n:n_name ?nname .
      {
        SELECT ?nat (xsd:double(SUM(xsd:decimal(?ab))) / COUNT(?ab) AS ?avg_bal)
        WHERE { ?cust c:c_nationkey ?nat ; c:c_acctbal ?ab }
        GROUP BY ?nat
      }
    }
    """,
    [("nname", "str"), ("avg_bal", "double")],
    f"""
    SELECT n_name AS nname,
           CAST(CAST(SUM({_dec('c_acctbal')}) AS VARCHAR) AS DOUBLE) / COUNT(c_acctbal) AS avg_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)


# ---------------------------------------------------------------------------
# LLM-data-pipeline operators (pipeline/): dedup, similarity, text analysis
# over the raw documents/embeddings tables. Hashes are MD5-derived so the
# DuckDB oracle replicates results exactly (see pipeline/dedup.py).
# ---------------------------------------------------------------------------

def _spread(df: DataFrame) -> DataFrame:
    """Ensure CPU-bound per-row work (shingling, hashing, vector math) can
    use the whole cluster. A production corpus arrives as thousands of
    parquet splits and this is a no-op; the driver's single small test file
    yields ONE scan partition (row-group granularity), which would serialize
    every downstream map on one core."""
    target = df.sparkSession.sparkContext.defaultParallelism
    # inputFiles() is plan metadata — unlike df.rdd it does not force a
    # plan-to-RDD conversion per query (VERDICT r2 minor)
    if len(df.inputFiles()) < max(2, target // 2):
        return df.repartition(target)
    return df


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.relational import read_table
    return _spread(read_table(spark, sf_dir, "documents"))


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.relational import read_table
    return _spread(read_table(spark, sf_dir, "embeddings"))


def _pipe_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline.text import with_text_stats
    return with_text_stats(_docs(spark, sf_dir)).select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_distinct_words").cast("long").alias("n_distinct_words"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "avg_word_len", "fingerprint",
    )


def _pipe_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document language ID + quality score in one map pass (the two
    signals every filter stage reads together; folded into one gate query
    to keep the driver's 50-query window open for more operators)."""
    from .pipeline.text import with_language_id, with_quality_score
    out = with_language_id(with_quality_score(_docs(spark, sf_dir)))
    return out.select("doc_id", "lang_pred", "ratio_en", "quality_score")


def _pipe_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The content-key dedup family in one tagged relation: exact,
    normalized, bag-of-words fingerprint, and rolling-hash variants
    fused into ONE scan + ONE shuffle (explode (variant, key) pairs,
    single groupBy — pipeline/dedup.py content_key_dedup_groups)."""
    from .pipeline.dedup import content_key_dedup_groups
    return content_key_dedup_groups(_docs(spark, sf_dir))


CHUNK_SIZE = 32
CHUNK_OVERLAP = 8


def _pipe_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline.text import chunk_documents
    return chunk_documents(_docs(spark, sf_dir), CHUNK_SIZE, CHUNK_OVERLAP)


# every doc_id divisible by this models the held-out benchmark/eval set
DECON_BENCH_MOD = 37


def _pipe_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing >= 5% of
    their word 3-grams with the benchmark slice (broadcast n-gram set,
    map-side membership join — see pipeline/curation.py)."""
    from .pipeline.curation import decontaminate
    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % DECON_BENCH_MOD == 0)
    train = docs.where(F.col("doc_id") % DECON_BENCH_MOD != 0)
    return decontaminate(train, bench)


def _pipe_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget greedy packing of documents into training shards."""
    from .pipeline.curation import pack_shards
    docs = _docs(spark, sf_dir)
    toks = F.size(F.split(F.col("text"), " "))
    return pack_shards(docs.select("doc_id", toks.alias("n_tokens")))


def _pipe_mix_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling (data mixing): per-source keep
    rates applied via the md5-prefix hash contract, aggregated per
    source so the gate checks both the decision and its coverage."""
    from .pipeline.curation import weighted_sample
    docs = _docs(spark, sf_dir)
    src_num = F.substring("source", 4, 10).cast("int")
    rate = (F.when(F.pmod(src_num, 4) == 0, F.lit(1.0))
            .when(F.pmod(src_num, 4) == 1, F.lit(0.5))
            .when(F.pmod(src_num, 4) == 2, F.lit(0.25))
            .otherwise(F.lit(0.1)))
    s = weighted_sample(docs, rate)
    keep = F.col("sample_keep")
    return (s.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_candidates"),
                 F.sum(keep.cast("long")).cast("long").alias("n_sampled"),
                 F.sum(F.when(keep, F.col("n_chars")).otherwise(F.lit(0)))
                 .cast("long").alias("sampled_chars"),
                 (F.sum(keep.cast("long")).cast("double")
                  / F.count("*").cast("double")).alias("achieved_rate")))


def _pipe_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scan + redaction (pipeline/pii.py). The synthetic corpus is
    clean, so the query first seeds deterministic PII spans derived from
    doc_id (an email, an SSN-shaped id, an IPv4) — every row then has a
    nontrivial expected count vector and redacted text. The redacted
    text is md5-hashed to keep the gate row compact."""
    from .pipeline.pii import redact_pii, with_pii_counts
    docs = _docs(spark, sf_dir)
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact u"),
            F.col("doc_id").cast("string"), F.lit("@ex.org via 10.0."),
            F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
            F.lit(".7 id 123-45-"),
            F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"),
                   4, "0")).alias("text"))
    out = redact_pii(with_pii_counts(seeded), "text", "redacted")
    return out.select(
        "doc_id",
        F.col("pii_email").cast("long").alias("pii_email"),
        F.col("pii_ssn").cast("long").alias("pii_ssn"),
        F.col("pii_phone").cast("long").alias("pii_phone"),
        F.col("pii_ipv4").cast("long").alias("pii_ipv4"),
        F.col("pii_total").cast("long").alias("pii_total"),
        F.md5("redacted").alias("redacted_md5"))


JACCARD_THRESHOLD = 0.8
LSH_THRESHOLD = 0.5


def _pipe_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline.dedup import jaccard_pairs
    return jaccard_pairs(_docs(spark, sf_dir), JACCARD_THRESHOLD)


def _pipe_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline.dedup import minhash_lsh_pairs
    return minhash_lsh_pairs(_docs(spark, sf_dir), LSH_THRESHOLD)


def _pipe_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup: index 80% of the corpus (doc_id % 5 != 0)
    as the EXISTING corpus, dedup the remaining 20% 'new batch' against
    it without rescanning corpus text
    (pipeline/dedup.py minhash_index + dedup_against_index)."""
    from .pipeline.dedup import dedup_against_index, minhash_index
    docs = _docs(spark, sf_dir)
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    batch = docs.where(F.col("doc_id") % 5 == 0)
    return dedup_against_index(batch, minhash_index(corpus), LSH_THRESHOLD)


def _pipe_dedup_index_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-index LIFECYCLE: day-0 corpus (doc_id % 5 >= 2) is
    indexed once; day 1 (% 5 == 1) is deduped against it and its
    signatures MERGED in (pipeline/dedup.py merge_into_index — no corpus
    text rescan); day 2 (% 5 == 0) is then deduped against the merged
    index, so day-2 hits include day-1 docs. Output: both days' cross
    pairs tagged by day."""
    from .pipeline.dedup import (dedup_against_index, merge_into_index,
                                 minhash_index)
    docs = _docs(spark, sf_dir)
    idx = minhash_index(docs.where(F.col("doc_id") % 5 >= 2))
    day1 = docs.where(F.col("doc_id") % 5 == 1)
    day2 = docs.where(F.col("doc_id") % 5 == 0)
    p1 = dedup_against_index(day1, idx, LSH_THRESHOLD) \
        .withColumn("day", F.lit(1).cast("long"))
    idx = merge_into_index(idx, minhash_index(day1))
    p2 = dedup_against_index(day2, idx, LSH_THRESHOLD) \
        .withColumn("day", F.lit(2).cast("long"))
    return p1.unionByName(p2)


def _pipe_shared_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact sub-document duplication: doc pairs sharing ≥1 identical
    k-token window with the exact shared-window count
    (pipeline/dedup.py shared_window_pairs)."""
    from .pipeline.dedup import shared_window_pairs
    return shared_window_pairs(_docs(spark, sf_dir))


def _pipe_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup as a corpus TRANSFORM (Lee et al. 2022
    ExactSubstr): duplicated ≥k-token spans keep one canonical occurrence
    (min doc_id) and are removed everywhere else
    (pipeline/dedup.py remove_shared_windows)."""
    from .pipeline.dedup import remove_shared_windows
    return remove_shared_windows(_docs(spark, sf_dir))


def _pipe_substring_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paper-exact ExactSubstr: every repeated ≥k-token span keeps its
    globally FIRST occurrence (min (doc_id, position)) — within-document
    repeats collapse too (remove_shared_windows mode="corpus")."""
    from .pipeline.dedup import remove_shared_windows
    return remove_shared_windows(_docs(spark, sf_dir), mode="corpus")


def _pipe_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over the LSH pairs with a
    canonical doc per cluster (the keep/drop decision of a corpus dedup)."""
    from .pipeline.dedup import dup_clusters, minhash_lsh_pairs
    docs = _docs(spark, sf_dir)
    return dup_clusters(minhash_lsh_pairs(docs, LSH_THRESHOLD), docs)


ANN_K = 3
ANN_NUM_QUERIES = 10


def _pipe_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline.similarity import cosine_topk
    embs = _embs(spark, sf_dir)
    out = cosine_topk(embs, embs.where(F.col("vec_id") < ANN_NUM_QUERIES), ANN_K)
    return out.select("query_id", F.col("rank").cast("long").alias("rank"),
                      "neighbor_id", "cosine")


def _pipe_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table seeded sign-LSH top-k (16 tables x 4 bits — measured
    recall@3 ≈ 0.9 vs the exact oracle on this corpus, BASELINE.md r4)."""
    from .pipeline.similarity import lsh_bucket_topk
    embs = _embs(spark, sf_dir)
    out = lsh_bucket_topk(embs, embs.where(F.col("vec_id") < ANN_NUM_QUERIES), ANN_K)
    return out.select("query_id", F.col("rank").cast("long").alias("rank"),
                      "neighbor_id", "cosine")


_IVF_INDEX_CACHE: dict = {}


def _pipe_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search. The k-means coarse quantizer is an INDEX — trained once
    per corpus and reused across query batches (like any ANN index build);
    the cache holds the tiny (nlist x dim) checkpointed centroid table."""
    from .pipeline.similarity import ivf_topk, kmeans_centroids
    embs = _embs(spark, sf_dir)
    key = (spark.sparkContext.applicationId, sf_dir.rstrip("/"))
    cent = _IVF_INDEX_CACHE.get(key)
    if cent is None:
        cent = kmeans_centroids(embs)
        _IVF_INDEX_CACHE[key] = cent
    out = ivf_topk(embs, embs.where(F.col("vec_id") < ANN_NUM_QUERIES),
                   ANN_K, centroids=cent)
    return out.select("query_id", F.col("rank").cast("long").alias("rank"),
                      "neighbor_id", "cosine")


EMB_NEARDUP_THRESHOLD = 0.35


def _pipe_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline.similarity import embedding_near_dup_pairs
    return embedding_near_dup_pairs(_embs(spark, sf_dir), EMB_NEARDUP_THRESHOLD)


# ~p90 of within-cluster max-lower-sim at sf0.01, so the keep flag is
# exercised in both polarities on the synthetic embeddings
SEMDEDUP_THRESHOLD = 0.35


def _pipe_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (pipeline/similarity.py semantic_dedup): k-means-scoped
    semantic near-dup removal over the embeddings table. Reuses the IVF
    coarse quantizer index cache — SemDeDup's clustering IS an IVF-style
    index, trained once per corpus."""
    from .pipeline.similarity import kmeans_centroids, semantic_dedup
    embs = _embs(spark, sf_dir)
    key = (spark.sparkContext.applicationId, sf_dir.rstrip("/"))
    cent = _IVF_INDEX_CACHE.get(key)
    if cent is None:
        cent = kmeans_centroids(embs)
        _IVF_INDEX_CACHE[key] = cent
    return semantic_dedup(embs, SEMDEDUP_THRESHOLD, centroids=cent)


_COS_SQL = ("list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
            " * sqrt(list_dot_product({b}, {b})))")


def _quality_oracle() -> str:
    """Mirror pipeline.text.with_quality_score term-by-term (same operation
    order so IEEE doubles agree bit-for-bit with the Spark plan)."""
    from .pipeline.text import STOPWORDS
    stop_list = ",".join(f"'{w}'" for w in STOPWORDS)
    words = "string_split(text,' ')"
    base = f"""
      SELECT doc_id,
             len(regexp_extract_all(text, '[^\\w\\s]'))::DOUBLE
               / length(text)::DOUBLE AS punct_ratio,
             len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE
               / length(text)::DOUBLE AS alpha_ratio,
             len(regexp_extract_all(text, '[0-9]'))::DOUBLE
               / length(text)::DOUBLE AS digit_ratio,
             len(list_filter({words}, w -> lower(w) IN ({stop_list})))::DOUBLE
               / len({words})::DOUBLE AS stopword_ratio,
             length(replace(text,' ',''))::DOUBLE / len({words})::DOUBLE
               AS mean_word_len
      FROM documents"""
    clip = "greatest(0.0, least(1.0, {}))"
    score = clip.format(
        "0.4 * " + clip.format("alpha_ratio * 1.25")
        + " + 0.3 * " + clip.format("stopword_ratio * 4.0")
        + " + 0.2 * " + clip.format("1.0 - digit_ratio * 5.0")
        + " + 0.1 * " + clip.format("1.0 - abs(mean_word_len - 6.0) / 6.0"))
    return f"""
    SELECT doc_id, punct_ratio, alpha_ratio, digit_ratio, stopword_ratio,
           mean_word_len, {score} AS quality_score
    FROM ({base})
    """


def _pii_oracle() -> str:
    """DuckDB mirror of _pipe_pii, generated from pipeline/pii.py's
    PII_PATTERNS so the two regex sets can never drift. The patterns use
    only the Java-regex ∩ RE2 common subset, so hit counts and redacted
    text are bit-identical across the engines."""
    from .pipeline.pii import PII_PATTERNS
    counts = ",\n           ".join(
        f"len(regexp_extract_all(t, '{pat}'))::BIGINT AS pii_{name}"
        for name, pat, _ in PII_PATTERNS)
    total = " + ".join(f"pii_{name}" for name, _, _ in PII_PATTERNS)
    red = "t"
    for _, pat, tag in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{tag}', 'g')"
    return f"""
    WITH seeded AS (
      SELECT doc_id,
             text || ' contact u' || CAST(doc_id AS VARCHAR)
                  || '@ex.org via 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.7 id 123-45-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
      FROM documents)
    SELECT doc_id, {", ".join(f"pii_{n}" for n, _, _ in PII_PATTERNS)},
           ({total})::BIGINT AS pii_total,
           md5({red}) AS redacted_md5
    FROM (SELECT doc_id, {counts}, t FROM seeded)
    """


def _pipeline_oracles() -> dict[str, str]:
    from .pipeline.curation import DECON_THRESHOLD as DECON_THRESHOLD_SQL
    from .pipeline.curation import PACK_BUDGET_TOKENS as PACK_BUDGET_SQL
    from .pipeline.curation import PACK_NUM_SHARDS as PACK_NUM_SHARDS_SQL
    from .pipeline.dedup import NUM_BANDS, NUM_HASHES, ROWS_PER_BAND, SIMHASH_BITS
    from .pipeline.dedup import WINDOW_TOKENS as WINDOW_TOKENS_SQL
    from .pipeline.similarity import (IVF_KMEANS_ITERS, IVF_NLIST,
                                      IVF_NPROBE)
    from .pipeline.text import LID_FLOOR, LID_MARKERS, TOKEN_RE
    from .pipeline.text import ROLL_B as ROLL_B_SQL
    from .pipeline.text import ROLL_P as ROLL_P_SQL
    from .pipeline.text import BM25_B as BM25_B_SQL
    from .pipeline.text import BM25_K1 as BM25_K1_SQL
    bm25_terms = ", ".join(
        f"'{t}'" for t in sorted({t for t in BM25_QUERY.split(" ") if t}))

    md5i = "('0x'||substr(md5({}),1,8))::BIGINT"
    words = "string_split(text,' ')"
    shingles = (f"list_distinct(list_transform(generate_series(1, len({words})-1),"
                f" i -> {words}[i] || ' ' || {words}[i+1]))")

    langs = sorted(LID_MARKERS)
    ratio_exprs = {
        lang: (f"len(list_filter({words}, w -> w IN ("
               + ",".join(f"'{m}'" for m in LID_MARKERS[lang])
               + f")))::DOUBLE / len({words})::DOUBLE")
        for lang in langs
    }
    lid_case = (f"CASE WHEN greatest({', '.join('ratio_' + x for x in langs)})"
                f" < {LID_FLOOR} THEN 'und' "
                + " ".join(
                    f"WHEN ratio_{x} = greatest("
                    f"{', '.join('ratio_' + y for y in langs)}) THEN '{x}'"
                    for x in langs)
                + " END")

    from .pipeline.dedup import MINHASH_A, MINHASH_B, MINHASH_P
    sig_exprs = ",\n    ".join(
        "list_min(list_transform(shingles, "
        f"s -> ((('0x'||substr(md5(s),1,8))::BIGINT * {MINHASH_A[k]}"
        f" + {MINHASH_B[k]}) % {MINHASH_P}))) AS s{k}"
        for k in range(NUM_HASHES))
    band_case = " ".join(
        f"WHEN {i} THEN " + "||'_'||".join(
            f"s{i * ROWS_PER_BAND + r}::VARCHAR" for r in range(ROWS_PER_BAND))
        for i in range(NUM_BANDS))

    # 60-bit simhash: bits 0..31 from h_lo (md5 hex 1-8), 32..59 from
    # h_hi (md5 hex 9-15) — mirrors pipeline/dedup.py simhash()
    charge_exprs = ",\n      ".join(
        (f"SUM(CASE WHEN (h_lo & {1 << k}) <> 0 THEN 1 ELSE -1 END) AS c{k}"
         if k < 32 else
         f"SUM(CASE WHEN (h_hi & {1 << (k - 32)}) <> 0 THEN 1 ELSE -1 END)"
         f" AS c{k}")
        for k in range(SIMHASH_BITS))
    value_expr = " + ".join(
        f"(CASE WHEN c{k} > 0 THEN {1 << k} ELSE 0 END)"
        for k in range(SIMHASH_BITS))

    # DuckDB single-quoted strings keep backslashes literal — escape only quotes
    token_re_sql = TOKEN_RE.replace("'", "''")

    ann_base = """
    WITH q AS (SELECT vec_id AS query_id,
                      list_transform(embedding, x -> x::DOUBLE) AS e{qfilter}
               FROM embeddings{qwhere}),
    c AS (SELECT vec_id AS neighbor_id,
                 list_transform(embedding, x -> x::DOUBLE) AS e{cfilter}
          FROM embeddings),
    s AS (
      SELECT query_id, neighbor_id,
             list_dot_product(q.e, c.e)
             / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e)))
             AS cosine
      FROM q JOIN c ON query_id <> neighbor_id{bucket_join}
    )
    SELECT query_id, rnk::BIGINT AS rank, neighbor_id, cosine
    FROM (SELECT query_id, neighbor_id, cosine,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM s)
    WHERE rnk <= {k}
    """
    # seeded random-hyperplane sign buckets, weights identical to
    # pipeline/similarity.py:hyperplane_weights (exact k/1024 literals;
    # left-associative sum matches the Spark fold order bit-for-bit)
    from .pipeline.similarity import (EMB_NEARDUP_TABLES, LSH_TOPK_BITS,
                                      LSH_TOPK_TABLES, SIGN_BITS,
                                      hyperplane_weights)

    def _hp_bucket_sql(bits: int, table: int, col: str = "embedding") -> str:
        return "||".join(
            "(CASE WHEN 0.0 + "
            + " + ".join(f"({w!r})*{col}[{j + 1}]::DOUBLE"
                         for j, w in enumerate(row))
            + " >= 0 THEN '1' ELSE '0' END)"
            for row in hyperplane_weights(bits, table=table))

    def _tables_sql(src: str, id_alias: str, bits: int, n: int) -> str:
        """UNION ALL of per-table (id, t, b) bucket rows over CTE `src`."""
        return "\n          UNION ALL ".join(
            f"SELECT {id_alias}, {t} AS t, {_hp_bucket_sql(bits, t)} AS b"
            f" FROM {src}"
            for t in range(n))

    def _kmeans_sql(nlist: int = IVF_NLIST, iters: int = IVF_KMEANS_ITERS,
                    dim: int = 64) -> str:
        """Unrolled deterministic k-means CTEs over CTE `v` (vec_id, e):
        mirrors pipeline/similarity.py:kmeans_centroids — init = lowest-id
        vectors, per-coordinate ROUND(AVG, 6) means (absorbs engine float
        summation order), empty clusters keep the previous centroid."""
        parts = [f"cent0 AS (SELECT vec_id AS cid, e AS ce FROM v"
                 f" WHERE vec_id < {nlist})"]
        for it in range(1, iters + 1):
            prev = f"cent{it - 1}"
            cos = _COS_SQL.format(a='v.e', b='c.ce')
            parts.append(f"""a{it} AS (
          SELECT vec_id, e, cid AS cluster FROM (
            SELECT v.vec_id, v.e, c.cid,
                   row_number() OVER (PARTITION BY v.vec_id
                     ORDER BY {cos} DESC, c.cid) AS rn
            FROM v CROSS JOIN {prev} c) WHERE rn = 1)""")
            parts.append(f"""m{it} AS (
          SELECT cluster, d.dim, ROUND(AVG(e[d.dim]), 6) AS mval
          FROM a{it}, (SELECT unnest(generate_series(1, {dim})) AS dim) d
          GROUP BY cluster, d.dim)""")
            parts.append(f"""cm{it} AS (
          SELECT cluster AS cid, list(mval ORDER BY dim) AS ce
          FROM m{it} GROUP BY cluster)""")
            parts.append(f"""cent{it} AS (
          SELECT p.cid, COALESCE(n.ce, p.ce) AS ce
          FROM {prev} p LEFT JOIN cm{it} n ON p.cid = n.cid)""")
        return ",\n        ".join(parts)

    out = {
        "q_text_stats": f"""
        SELECT doc_id,
               len({words})::BIGINT AS n_words,
               len(list_distinct({words}))::BIGINT AS n_distinct_words,
               len(regexp_extract_all(text, '{token_re_sql}'))::BIGINT AS n_tokens,
               length(replace(text,' ',''))::DOUBLE / len({words})::DOUBLE
                   AS avg_word_len,
               md5(array_to_string(list_sort(list_distinct({words})),' '))
                   AS fingerprint
        FROM documents
        """,
        "q_text_repetition": f"""
        WITH b AS (
          SELECT doc_id,
                 list_transform(
                   generate_series(1, len({words}) - 1),
                   i -> {words}[i] || ' ' || {words}[i+1]) AS bigrams
          FROM documents
        )
        SELECT doc_id,
               ROUND(CASE WHEN len(bigrams) > 0
                     THEN 1.0 - len(list_distinct(bigrams))::DOUBLE
                          / len(bigrams)::DOUBLE
                     ELSE 0.0 END, 6) AS repetition_ratio
        FROM b
        ORDER BY repetition_ratio DESC, doc_id LIMIT 20
        """,
        # smoothed TF-IDF (sklearn idf), scores rounded to 6 decimals on
        # BOTH sides before ranking so the top-k agrees exactly
        "q_text_tfidf_terms": f"""
        WITH d AS (SELECT * FROM documents WHERE doc_id < 50),
        toks AS (SELECT doc_id, unnest({words}) AS w FROM d),
        tf AS (SELECT doc_id, w, count(*) AS tf FROM toks
               GROUP BY doc_id, w),
        dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        n AS (SELECT count(*)::DOUBLE AS n_docs FROM d),
        scored AS (
          SELECT tf.doc_id, tf.w AS term, tf.tf,
                 ROUND(tf.tf * (ln((1 + n.n_docs) / (1 + dfreq.df)) + 1),
                       6) AS score
          FROM tf JOIN dfreq ON tf.w = dfreq.w, n)
        SELECT doc_id, term, tf::BIGINT AS tf, score FROM (
          SELECT *, row_number() OVER (PARTITION BY doc_id
                     ORDER BY score DESC, term ASC) AS rn FROM scored)
        WHERE rn <= 5
        """,
        # BM25 (Robertson/Sparck Jones idf, Lucene formulation); sum
        # rounded to 6 decimals absorbs float summation-order drift
        "q_text_bm25_topk": f"""
        WITH lens AS (SELECT doc_id, len({words}) AS dl FROM documents),
        stats AS (SELECT count(*)::DOUBLE AS n_docs,
                         avg(dl)::DOUBLE AS avgdl FROM lens),
        toks AS (SELECT doc_id, unnest({words}) AS w FROM documents),
        tf AS (SELECT doc_id, w, count(*) AS tf FROM toks
               WHERE w IN ({bm25_terms}) GROUP BY doc_id, w),
        dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        scored AS (
          SELECT tf.doc_id,
                 ROUND(SUM(
                   ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * tf.tf * ({BM25_K1_SQL} + 1)
                   / (tf.tf + {BM25_K1_SQL} * (1 - {BM25_B_SQL}
                      + {BM25_B_SQL} * l.dl / s.avgdl))), 6) AS score
          FROM tf JOIN dfreq d ON tf.w = d.w
               JOIN lens l ON tf.doc_id = l.doc_id, stats s
          GROUP BY tf.doc_id)
        SELECT doc_id, score FROM scored
        ORDER BY score DESC, doc_id LIMIT 10
        """,
        "q_train_val_split": f"""
        WITH stats AS (
          SELECT doc_id,
                 len(regexp_extract_all(text, '{token_re_sql}'))::BIGINT
                     AS n_tokens
          FROM documents
        ),
        tagged AS (
          SELECT CASE WHEN {md5i.format('CAST(doc_id AS VARCHAR)')} /
                       CAST(4294967296.0 AS DOUBLE) < 0.9
                      THEN 'train' ELSE 'val' END AS split,
                 CASE WHEN n_tokens < 40 THEN 'short'
                      WHEN n_tokens < 80 THEN 'medium'
                      ELSE 'long' END AS band,
                 n_tokens
          FROM stats
        )
        SELECT split, band, COUNT(*)::BIGINT AS n_docs,
               ROUND(CAST(SUM(CAST(n_tokens AS DECIMAL(38,18))) AS DOUBLE)
                     / COUNT(*), 6) AS avg_tokens
        FROM tagged GROUP BY split, band ORDER BY split, band
        """,
        "q_text_token_percentiles": f"""
        SELECT CAST(doc_id % 4 AS BIGINT) AS shard,
               COUNT(*)::BIGINT AS n_docs,
               ROUND(quantile_cont(n_tokens, 0.5), 6) AS p50,
               ROUND(quantile_cont(n_tokens, 0.9), 6) AS p90,
               ROUND(quantile_cont(n_tokens, 0.99), 6) AS p99
        FROM (SELECT doc_id,
                     len(regexp_extract_all(text, '{token_re_sql}'))::DOUBLE
                         AS n_tokens
              FROM documents)
        GROUP BY shard ORDER BY shard
        """,
        "q_text_language_id": f"""
        WITH lid AS (
          SELECT doc_id, {lid_case} AS lang_pred, ratio_en
          FROM (SELECT doc_id,
                {', '.join(f'{e} AS ratio_{lang}' for lang, e in ratio_exprs.items())}
                FROM documents)
        ),
        q AS ({_quality_oracle()})
        SELECT lid.doc_id, lang_pred, ratio_en, quality_score
        FROM lid JOIN q ON lid.doc_id = q.doc_id
        """,
        "q_dedup_exact": f"""
        SELECT 'exact' AS variant, md5(text) AS hash,
               COUNT(*)::BIGINT AS n_docs, MIN(doc_id) AS canonical_id
        FROM documents GROUP BY md5(text)
        UNION ALL
        SELECT 'normalized', md5(trim(regexp_replace(regexp_replace(
                   lower(text), '[^\\w\\s]', '', 'g'), '\\s+', ' ', 'g'))),
               COUNT(*)::BIGINT, MIN(doc_id)
        FROM documents GROUP BY 2
        UNION ALL
        SELECT 'fingerprint',
               md5(array_to_string(list_sort(list_distinct({words})),' ')),
               COUNT(*)::BIGINT, MIN(doc_id)
        FROM documents GROUP BY 2 HAVING COUNT(*) >= 2
        UNION ALL
        SELECT 'rolling_fp',
               (list_reduce(
                  list_prepend(0::BIGINT,
                    list_transform(list_filter(string_split(text, ''),
                                               c -> c <> ''),
                                   c -> ascii(c)::BIGINT)),
                  (acc, x) -> (acc * {ROLL_B_SQL} + x) % {ROLL_P_SQL}))::VARCHAR,
               COUNT(*)::BIGINT, MIN(doc_id)
        FROM documents GROUP BY 2
        """,
        "q_text_chunks": """
        WITH d AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        n AS (SELECT doc_id, w, len(w) AS nw FROM d WHERE len(w) > 0),
        ix AS (SELECT doc_id, w,
                      unnest(generate_series(0,
                        CASE WHEN nw <= 32 THEN 0
                             ELSE ((nw - 32 + 23) // 24) END)) AS ci
               FROM n)
        SELECT doc_id, ci::BIGINT AS chunk_idx,
               len(w[ci*24+1 : ci*24+32])::BIGINT AS n_chunk_words,
               array_to_string(w[ci*24+1 : ci*24+32], ' ') AS chunk_text
        FROM ix
        """,
        "q_pii_scan": _pii_oracle(),
        # all-pairs in the oracle (fine at sf0.01); the engine generates
        # candidates via the window-hash join and verifies exactly
        "q_dedup_substring": f"""
        WITH w AS (SELECT doc_id AS id,
            list_distinct(list_transform(
              generate_series(1, len({words}) - {WINDOW_TOKENS_SQL - 1}),
              i -> array_to_string({words}[i : i + {WINDOW_TOKENS_SQL - 1}],
                                   ' '))) AS wins
          FROM documents)
        SELECT a.id AS id_a, b.id AS id_b,
               len(list_intersect(a.wins, b.wins))::BIGINT AS n_shared
        FROM w a JOIN w b ON a.id < b.id
        WHERE len(list_intersect(a.wins, b.wins)) >= 1
        """,
        # exact mirror of pipeline/dedup.py remove_shared_windows: windows
        # join on the full k-token string; canonical = min doc_id; a token
        # is removed iff covered by >=1 duplicated non-canonical window
        "q_dedup_substring_removal": f"""
        WITH toks AS (SELECT doc_id, {words} AS tk FROM documents),
        occ AS (
          SELECT t.doc_id, g.i AS pos,
                 array_to_string(tk[g.i : g.i + {WINDOW_TOKENS_SQL - 1}],
                                 ' ') AS win
          FROM toks t, LATERAL (SELECT unnest(generate_series(
                 1, len(tk) - {WINDOW_TOKENS_SQL - 1})) AS i) g
        ),
        canon AS (SELECT win, min(doc_id) AS min_id FROM occ GROUP BY win),
        dup_pos AS (
          SELECT o.doc_id, list_sort(list_distinct(list(o.pos))) AS dps
          FROM occ o JOIN canon c ON o.win = c.win
          WHERE c.min_id < o.doc_id
          GROUP BY o.doc_id
        ),
        calc AS (
          SELECT t.doc_id, t.tk,
                 list_sort(list_distinct(flatten(list_transform(
                   coalesce(d.dps, []),
                   p -> generate_series(p, p + {WINDOW_TOKENS_SQL - 1})))))
                 AS cov
          FROM toks t LEFT JOIN dup_pos d ON t.doc_id = d.doc_id
        )
        SELECT doc_id,
               -- coalesce: DuckDB array_to_string([]) is NULL, Spark
               -- concat_ws over an empty array is ''
               coalesce(array_to_string(list_transform(
                 list_filter(generate_series(1, len(tk)),
                             i -> NOT list_contains(cov, i)),
                 i -> tk[i]), ' '), '') AS deduped_text,
               len(tk)::BIGINT AS n_tokens,
               len(cov)::BIGINT AS n_removed_tokens
        FROM calc
        """,
        # paper-exact ExactSubstr: canonical = globally FIRST occurrence
        # (min (doc_id, pos)); within-doc repeats collapse too
        "q_dedup_substring_corpus": f"""
        WITH toks AS (SELECT doc_id, {words} AS tk FROM documents),
        occ AS (
          SELECT t.doc_id, g.i AS pos,
                 array_to_string(tk[g.i : g.i + {WINDOW_TOKENS_SQL - 1}],
                                 ' ') AS win
          FROM toks t, LATERAL (SELECT unnest(generate_series(
                 1, len(tk) - {WINDOW_TOKENS_SQL - 1})) AS i) g
        ),
        ranked AS (
          SELECT doc_id, pos,
                 row_number() OVER (PARTITION BY win
                                    ORDER BY doc_id, pos) AS rn
          FROM occ
        ),
        dup_pos AS (
          SELECT doc_id, list_sort(list_distinct(list(pos))) AS dps
          FROM ranked WHERE rn > 1 GROUP BY doc_id
        ),
        calc AS (
          SELECT t.doc_id, t.tk,
                 list_sort(list_distinct(flatten(list_transform(
                   coalesce(d.dps, []),
                   p -> generate_series(p, p + {WINDOW_TOKENS_SQL - 1})))))
                 AS cov
          FROM toks t LEFT JOIN dup_pos d ON t.doc_id = d.doc_id
        )
        SELECT doc_id,
               coalesce(array_to_string(list_transform(
                 list_filter(generate_series(1, len(tk)),
                             i -> NOT list_contains(cov, i)),
                 i -> tk[i]), ' '), '') AS deduped_text,
               len(tk)::BIGINT AS n_tokens,
               len(cov)::BIGINT AS n_removed_tokens
        FROM calc
        """,
        "q_decontaminate": f"""
        WITH g AS (
          SELECT doc_id,
                 CASE WHEN len({words}) >= 3 THEN
                   list_distinct(list_transform(
                     generate_series(1, len({words}) - 2),
                     i -> {words}[i] || ' ' || {words}[i+1]
                          || ' ' || {words}[i+2]))
                 ELSE [] END AS grams
          FROM documents
        ),
        bench AS (SELECT DISTINCT unnest(grams) AS gram FROM g
                  WHERE doc_id % {DECON_BENCH_MOD} = 0),
        train AS (SELECT doc_id, len(grams) AS n_ngrams, grams FROM g
                  WHERE doc_id % {DECON_BENCH_MOD} <> 0),
        hits AS (
          SELECT doc_id, COUNT(*) AS n_hits
          FROM (SELECT doc_id, unnest(grams) AS gram FROM train) t
          JOIN bench USING (gram) GROUP BY doc_id
        )
        SELECT t.doc_id, t.n_ngrams::BIGINT AS n_ngrams,
               COALESCE(h.n_hits, 0)::BIGINT AS n_hits,
               CASE WHEN t.n_ngrams = 0 THEN 0.0
                    ELSE COALESCE(h.n_hits, 0)::DOUBLE / t.n_ngrams::DOUBLE
               END AS contamination,
               (CASE WHEN t.n_ngrams = 0 THEN 0.0
                     ELSE COALESCE(h.n_hits, 0)::DOUBLE / t.n_ngrams::DOUBLE
                END) >= {DECON_THRESHOLD_SQL} AS is_contaminated
        FROM train t LEFT JOIN hits h USING (doc_id)
        """,
        "q_pack_shards": f"""
        WITH d AS (SELECT doc_id, doc_id % {PACK_NUM_SHARDS_SQL} AS shard,
                          len({words}) AS toks
                   FROM documents),
        c AS (SELECT doc_id, shard, toks,
                     floor((SUM(toks) OVER (PARTITION BY shard ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) - toks)
                           / {PACK_BUDGET_SQL}.0)::BIGINT AS pack_id
              FROM d)
        SELECT shard::BIGINT AS shard, pack_id, COUNT(*)::BIGINT AS n_docs,
               SUM(toks)::BIGINT AS total_tokens,
               MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        FROM c GROUP BY shard, pack_id
        """,
        "q_mix_weighted": f"""
        WITH r AS (
          SELECT source, n_chars,
                 CASE (substr(source, 4)::INT % 4)
                   WHEN 0 THEN 1.0 WHEN 1 THEN 0.5 WHEN 2 THEN 0.25
                   ELSE 0.1 END AS rate,
                 {md5i.format('doc_id::VARCHAR')} AS h
          FROM documents)
        SELECT source, COUNT(*)::BIGINT AS n_candidates,
               SUM(CASE WHEN h < rate * 4294967296.0 THEN 1 ELSE 0 END)
                 ::BIGINT AS n_sampled,
               SUM(CASE WHEN h < rate * 4294967296.0 THEN n_chars ELSE 0 END)
                 ::BIGINT AS sampled_chars,
               SUM(CASE WHEN h < rate * 4294967296.0 THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*)::DOUBLE AS achieved_rate
        FROM r GROUP BY source
        """,
        "q_dedup_jaccard_pairs": f"""
        WITH s AS (SELECT doc_id AS id, {shingles} AS sh FROM documents)
        SELECT a.id AS id_a, b.id AS id_b,
               len(list_intersect(a.sh, b.sh))::DOUBLE
               / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE AS jaccard
        FROM s a JOIN s b ON a.id < b.id
        WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
              / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE
              >= {JACCARD_THRESHOLD}
        """,
        "q_dedup_incremental": f"""
        WITH docs AS (SELECT doc_id, {shingles} AS shingles FROM documents),
        sigs AS (SELECT doc_id, shingles, {sig_exprs} FROM docs),
        bands AS (
          SELECT doc_id, shingles, b.band_idx,
                 CASE b.band_idx {band_case} END AS band_key
          FROM sigs, (SELECT unnest(generate_series(0,{NUM_BANDS - 1}))
                      AS band_idx) b
        ),
        cand AS (
          SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id,
                 n.shingles AS sh_n, c.shingles AS sh_c
          FROM bands n JOIN bands c
            ON n.band_idx = c.band_idx AND n.band_key = c.band_key
          WHERE n.doc_id % 5 = 0 AND c.doc_id % 5 != 0
        )
        SELECT new_id, corpus_id,
               len(list_intersect(sh_n, sh_c))::DOUBLE
               / len(list_distinct(list_concat(sh_n, sh_c)))::DOUBLE
                 AS jaccard
        FROM cand
        WHERE len(list_intersect(sh_n, sh_c))::DOUBLE
              / len(list_distinct(list_concat(sh_n, sh_c)))::DOUBLE
              >= {LSH_THRESHOLD}
        """,
        # lifecycle: day-1 batch (%5=1) vs day-0 corpus (%5>=2); day-2
        # batch (%5=0) vs the MERGED index (day-0 corpus + day-1 docs,
        # i.e. everything %5 != 0) — merge_into_index must make the
        # day-2 candidate set indistinguishable from a full rebuild's
        "q_dedup_index_merge": f"""
        WITH docs AS (SELECT doc_id, {shingles} AS shingles FROM documents),
        sigs AS (SELECT doc_id, shingles, {sig_exprs} FROM docs),
        bands AS (
          SELECT doc_id, shingles, b.band_idx,
                 CASE b.band_idx {band_case} END AS band_key
          FROM sigs, (SELECT unnest(generate_series(0,{NUM_BANDS - 1}))
                      AS band_idx) b
        ),
        cand AS (
          SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id,
                 n.shingles AS sh_n, c.shingles AS sh_c, 1::BIGINT AS day
          FROM bands n JOIN bands c
            ON n.band_idx = c.band_idx AND n.band_key = c.band_key
          WHERE n.doc_id % 5 = 1 AND c.doc_id % 5 >= 2
          UNION
          SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id,
                 n.shingles AS sh_n, c.shingles AS sh_c, 2::BIGINT AS day
          FROM bands n JOIN bands c
            ON n.band_idx = c.band_idx AND n.band_key = c.band_key
          WHERE n.doc_id % 5 = 0 AND c.doc_id % 5 != 0
        )
        SELECT new_id, corpus_id,
               len(list_intersect(sh_n, sh_c))::DOUBLE
               / len(list_distinct(list_concat(sh_n, sh_c)))::DOUBLE
                 AS jaccard, day
        FROM cand
        WHERE len(list_intersect(sh_n, sh_c))::DOUBLE
              / len(list_distinct(list_concat(sh_n, sh_c)))::DOUBLE
              >= {LSH_THRESHOLD}
        """,
        "q_dedup_minhash_lsh": f"""
        WITH docs AS (SELECT doc_id, {shingles} AS shingles FROM documents),
        sigs AS (SELECT doc_id, shingles, {sig_exprs} FROM docs),
        bands AS (
          SELECT doc_id, shingles, b.band_idx,
                 CASE b.band_idx {band_case} END AS band_key
          FROM sigs, (SELECT unnest(generate_series(0,{NUM_BANDS - 1}))
                      AS band_idx) b
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.shingles AS sh_a, b.shingles AS sh_b
          FROM bands a JOIN bands b
            ON a.band_idx = b.band_idx AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b,
               len(list_intersect(sh_a, sh_b))::DOUBLE
               / len(list_distinct(list_concat(sh_a, sh_b)))::DOUBLE AS jaccard
        FROM cand
        WHERE len(list_intersect(sh_a, sh_b))::DOUBLE
              / len(list_distinct(list_concat(sh_a, sh_b)))::DOUBLE
              >= {LSH_THRESHOLD}
        """,
        "q_dedup_simhash": f"""
        WITH tok AS (
          SELECT doc_id AS id,
                 ('0x'||substr(md5(w),1,8))::BIGINT AS h_lo,
                 ('0x'||substr(md5(w),9,7))::BIGINT AS h_hi
          FROM (SELECT doc_id, unnest({words}) AS w FROM documents)
        ),
        charges AS (
          SELECT id, {charge_exprs} FROM tok GROUP BY id
        ),
        sh AS (SELECT id, ({value_expr})::BIGINT AS simhash FROM charges)
        SELECT a.id AS id_a, b.id AS id_b,
               a.simhash AS sig_a, b.simhash AS sig_b,
               bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
        FROM sh a JOIN sh b ON a.id < b.id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_DISTANCE}
        """,
        "q_ann_cosine_topk": ann_base.format(
            qfilter="", qwhere=f" WHERE vec_id < {ANN_NUM_QUERIES}",
            cfilter="", bucket_join="", k=ANN_K),
        "q_ann_lsh": f"""
        WITH q AS (SELECT vec_id AS query_id,
                          list_transform(embedding, x -> x::DOUBLE) AS e,
                          embedding
                   FROM embeddings WHERE vec_id < {ANN_NUM_QUERIES}),
        c AS (SELECT vec_id AS neighbor_id,
                     list_transform(embedding, x -> x::DOUBLE) AS e,
                     embedding
              FROM embeddings),
        qb AS ({_tables_sql('q', 'query_id', LSH_TOPK_BITS,
                            LSH_TOPK_TABLES)}),
        cb AS ({_tables_sql('c', 'neighbor_id', LSH_TOPK_BITS,
                            LSH_TOPK_TABLES)}),
        cand AS (
          SELECT DISTINCT query_id, neighbor_id
          FROM cb JOIN qb USING (t, b) WHERE query_id <> neighbor_id
        ),
        s AS (
          SELECT query_id, neighbor_id,
                 {_COS_SQL.format(a='q.e', b='c.e')} AS cosine
          FROM cand JOIN q USING (query_id) JOIN c USING (neighbor_id)
        )
        SELECT query_id, rnk::BIGINT AS rank, neighbor_id, cosine
        FROM (SELECT query_id, neighbor_id, cosine,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, neighbor_id)
                       AS rnk
              FROM s)
        WHERE rnk <= {ANN_K}
        """,
        "q_ann_ivf": f"""
        WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
                   FROM embeddings),
        {_kmeans_sql()},
        q AS (
          SELECT vec_id AS query_id, e AS qe, cid AS cluster FROM (
            SELECT v.vec_id, v.e, c.cid,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                     {_COS_SQL.format(a='v.e', b='c.ce')} DESC, c.cid) AS rn
            FROM v CROSS JOIN cent{IVF_KMEANS_ITERS} c
            WHERE v.vec_id < {ANN_NUM_QUERIES})
          WHERE rn <= {IVF_NPROBE}),
        c AS (
          SELECT vec_id AS neighbor_id, e AS ne, cid AS cluster FROM (
            SELECT v.vec_id, v.e, c.cid,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                     {_COS_SQL.format(a='v.e', b='c.ce')} DESC, c.cid) AS rn
            FROM v CROSS JOIN cent{IVF_KMEANS_ITERS} c)
          WHERE rn = 1),
        s AS (SELECT query_id, neighbor_id,
                     {_COS_SQL.format(a='qe', b='ne')} AS cosine
              FROM c JOIN q USING (cluster) WHERE query_id <> neighbor_id)
        SELECT query_id, rnk::BIGINT AS rank, neighbor_id, cosine
        FROM (SELECT query_id, neighbor_id, cosine,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, neighbor_id) AS rnk
              FROM s)
        WHERE rnk <= {ANN_K}
        """,
        "q_dedup_semantic": f"""
        WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
                   FROM embeddings),
        {_kmeans_sql()},
        a AS (
          SELECT vec_id, e, cid AS cluster FROM (
            SELECT v.vec_id, v.e, c.cid,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                     {_COS_SQL.format(a='v.e', b='c.ce')} DESC, c.cid) AS rn
            FROM v CROSS JOIN cent{IVF_KMEANS_ITERS} c)
          WHERE rn = 1),
        best AS (
          SELECT y.vec_id AS id,
                 MAX({_COS_SQL.format(a='x.e', b='y.e')}) AS max_lower_sim
          FROM a x JOIN a y
            ON x.cluster = y.cluster AND x.vec_id < y.vec_id
          GROUP BY y.vec_id)
        SELECT a.vec_id, a.cluster::BIGINT AS cluster, best.max_lower_sim,
               COALESCE(best.max_lower_sim < {SEMDEDUP_THRESHOLD}, TRUE)
                 AS keep
        FROM a LEFT JOIN best ON a.vec_id = best.id
        """,
        "q_dedup_embedding_cosine": f"""
        WITH v AS (SELECT vec_id AS id,
                          list_transform(embedding, x -> x::DOUBLE) AS e,
                          embedding
                   FROM embeddings),
        tb AS ({_tables_sql('v', 'id', SIGN_BITS, EMB_NEARDUP_TABLES)}),
        cand AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM tb a JOIN tb b ON a.t = b.t AND a.b = b.b AND a.id < b.id
        )
        SELECT id_a, id_b,
               {_COS_SQL.format(a='va.e', b='vb.e')} AS cosine
        FROM cand JOIN v va ON id_a = va.id JOIN v vb ON id_b = vb.id
        WHERE {_COS_SQL.format(a='va.e', b='vb.e')} >= {EMB_NEARDUP_THRESHOLD}
        """,
        "q_text_top_words": f"""
        SELECT word, n_occurrences::BIGINT AS n_occurrences,
               n_docs::BIGINT AS n_docs
        FROM (SELECT w AS word, COUNT(*) AS n_occurrences,
                     COUNT(DISTINCT doc_id) AS n_docs
              FROM (SELECT doc_id, unnest({words}) AS w FROM documents)
              WHERE length(w) > 0 GROUP BY w)
        ORDER BY n_occurrences DESC, word
        LIMIT 20
        """,
        "q_embedding_norms": """
        SELECT label, COUNT(*)::BIGINT AS n_vecs,
               MIN(sqrt(list_dot_product(e, e))) AS min_norm,
               MAX(sqrt(list_dot_product(e, e))) AS max_norm
        FROM (SELECT label, list_transform(embedding, x -> x::DOUBLE) AS e
              FROM embeddings)
        GROUP BY label
        """,
        "q_events_json_props": """
        SELECT event_type,
               COUNT(json_extract_string(props, '$.k'))::BIGINT AS n_with_k,
               SUM(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS sum_k,
               MIN(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS min_k,
               MAX(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS max_k
        FROM events GROUP BY event_type
        """,
        "q_multimodal_features": """
        SELECT doc_id AS media_id, 'image' AS kind,
               length(text)::BIGINT AS n_bytes,
               length(text)::DOUBLE AS f_len,
               ascii(substring(text, 1, 1))::DOUBLE AS f_first,
               ascii(substring(text, length(text), 1))::DOUBLE AS f_last
        FROM documents WHERE length(text) > 0
        """,
        "q_stream_event_counts": """
        SELECT date_trunc('hour', ts) AS window_start,
               date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
               event_type, COUNT(*)::BIGINT AS n,
               CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(38,18)))
                    AS VARCHAR) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2, 3
        """,
        "q_stream_running_totals": """
        SELECT user_id, COUNT(*)::BIGINT AS n_events,
               ROUND(SUM(COALESCE(value, 0))::DOUBLE, 6) AS total_value
        FROM events
        GROUP BY user_id
        """,
        "q_stream_interval_join": """
        SELECT l.user_id, l.ts AS l_ts, l.event_id AS view_id,
               r.ts AS r_ts, r.event_id AS purchase_id
        FROM events l JOIN events r
          ON l.user_id = r.user_id
         AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 10 MINUTE
        WHERE l.event_type = 'view' AND r.event_type = 'purchase'
        """,
        "q_stream_pattern_match": """
        SELECT 'http://example.org/nation/' || n_nationkey AS nation_iri,
               n_name AS name
        FROM nation
        """,
        "q_stream_dedup": """
        SELECT event_id, ts, user_id, event_type,
               ROUND(value, 6) AS value
        FROM events
        """,
        "q_stream_sessions": f"""
        -- session_window semantics, EXACT timestamps (no whole-second
        -- truncation, unlike the batch sessionizer's unix_timestamp
        -- rule): an event exactly `gap` after the previous one MERGES;
        -- strictly more than `gap` splits. session_end = max(ts) + gap.
        WITH s AS (
          SELECT user_id, ts, value,
                 SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                     ROWS UNBOUNDED PRECEDING) AS session_id
          FROM (SELECT user_id, ts, value,
                       CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts) IS NULL
                            OR epoch_us(ts) - epoch_us(lag(ts) OVER (
                                 PARTITION BY user_id ORDER BY ts))
                               > {SESSION_GAP_MINUTES} * 60 * 1000000
                            THEN 1 ELSE 0 END AS new_session
                FROM events)
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL {SESSION_GAP_MINUTES} MINUTE
                 AS session_end,
               COUNT(*)::BIGINT AS n_events,
               ROUND(SUM(value)::DOUBLE, 6) AS session_value
        FROM s GROUP BY user_id, session_id
        """,
        "q_events_sessionize": f"""
        WITH s AS (
          SELECT user_id, ts,
                 SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                     ROWS UNBOUNDED PRECEDING) AS session_id
          FROM (SELECT user_id, ts,
                       -- floor(epoch()) matches Spark unix_timestamp's
                       -- whole-second truncation exactly
                       CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts) IS NULL
                            OR floor(epoch(ts))::BIGINT
                               - floor(epoch(lag(ts) OVER (
                                   PARTITION BY user_id ORDER BY ts)))::BIGINT
                               > {SESSION_GAP_MINUTES} * 60
                            THEN 1 ELSE 0 END AS new_session
                FROM events)
        ),
        per_session AS (
          SELECT user_id, session_id, COUNT(*) AS n_events,
                 floor(epoch(MAX(ts)))::BIGINT
                   - floor(epoch(MIN(ts)))::BIGINT AS span_s
          FROM s GROUP BY user_id, session_id
        )
        SELECT user_id, COUNT(*)::BIGINT AS n_sessions,
               SUM(n_events)::BIGINT AS n_events,
               MAX(n_events)::BIGINT AS max_session_events,
               SUM(span_s)::BIGINT AS active_seconds
        FROM per_session GROUP BY user_id
        """,
        "q_curation_topk_quality": f"""
        WITH q AS ({_quality_oracle()})
        SELECT source, doc_id, quality_score, rnk::BIGINT AS rank
        FROM (SELECT d.source, q.doc_id, q.quality_score,
                     row_number() OVER (PARTITION BY d.source
                       ORDER BY q.quality_score DESC, q.doc_id) AS rnk
              FROM q JOIN documents d USING (doc_id))
        WHERE rnk <= {TOPK_PER_SOURCE}
        """,
        # Independent implementation: DuckDB's NATIVE ASOF JOIN (a real
        # merge-based asof executor) vs our union-tag windowed plan —
        # a genuinely different algorithm computing the same relation.
        "q_events_asof": f"""
        WITH l AS (SELECT event_id, user_id, ts, value FROM events
                   WHERE event_type = 'click'),
        r AS (SELECT user_id, ts AS err_ts, MAX(value) AS err_value
              FROM events WHERE event_type = 'error'
              GROUP BY user_id, ts),
        j AS (SELECT l.user_id, l.event_id, l.ts, l.value,
                     r.err_ts, r.err_value
              FROM l ASOF LEFT JOIN r
                ON l.user_id = r.user_id AND l.ts >= r.err_ts),
        t AS (SELECT user_id, event_id, ts, value,
                     CASE WHEN epoch_us(ts) - epoch_us(err_ts)
                          <= {ASOF_TOLERANCE_S}::BIGINT * 1000000
                          THEN err_ts END AS err_ts,
                     CASE WHEN epoch_us(ts) - epoch_us(err_ts)
                          <= {ASOF_TOLERANCE_S}::BIGINT * 1000000
                          THEN err_value END AS err_value
              FROM j)
        SELECT user_id, event_id, ts, value, err_ts, err_value,
               epoch_us(ts) - epoch_us(err_ts) AS lag_us
        FROM t
        """,
        # Independent implementation: DuckDB plans the BETWEEN predicate
        # directly (IEJoin); ours is the bucketized equi-join.
        "q_events_interval_join": f"""
        WITH p AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'click'),
        i AS (SELECT user_id, event_id AS err_id, ts AS err_ts
              FROM events WHERE event_type = 'error')
        SELECT p.user_id, p.event_id, p.ts, i.err_id, i.err_ts,
               epoch_us(p.ts) - epoch_us(i.err_ts) AS lag_us
        FROM p JOIN i ON p.user_id = i.user_id
         AND epoch_us(p.ts)
             BETWEEN epoch_us(i.err_ts) - {INTERVAL_WINDOW_S}::BIGINT*1000000
                 AND epoch_us(i.err_ts) + {INTERVAL_WINDOW_S}::BIGINT*1000000
        """,
    }
    # connected components over the LSH pairs: recursive label spreading
    # (UNION-dedup), component id = min reachable doc id
    out["q_dedup_clusters"] = f"""
    WITH RECURSIVE pairs AS ({out['q_dedup_minhash_lsh']}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ),
    walk(id, comp) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, w.comp FROM walk w JOIN edges e ON w.id = e.src
    )
    SELECT id, MIN(comp) AS cluster_id, (id = MIN(comp)) AS is_canonical
    FROM walk GROUP BY id
    """
    # the sliced hot-key escalations compute the SAME relation as their
    # plain variants by contract — gate them against the same oracles
    out["q_events_sessionize_sliced"] = out["q_events_sessionize"]
    out["q_events_asof_sliced"] = out["q_events_asof"]
    return out


# ---------------------------------------------------------------------------
# §2.4 AVG + COUNT DISTINCT aggregates
# ---------------------------------------------------------------------------

_q(
    "q_agg_distinct",
    """
    SELECT ?nname (AVG(xsd:decimal(?ab)) AS ?avg_bal)
           (COUNT(DISTINCT ?seg) AS ?nsegs)
           (xsd:double(SUM(DISTINCT xsd:decimal(?ab))) AS ?sum_d)
           (COUNT(?cust) AS ?n)
    WHERE {
      ?cust c:c_nationkey ?nat ; c:c_acctbal ?ab ; c:c_mktsegment ?seg .
      ?nat n:n_name ?nname .
    }
    GROUP BY ?nname
    """,
    [("nname", "str"), ("avg_bal", "double6"), ("nsegs", "long"),
     ("sum_d", "double"), ("n", "long")],
    f"""
    SELECT n_name AS nname,
           round(CAST(CAST(SUM(CAST(CAST(c_acctbal AS VARCHAR) AS DECIMAL(38,18)))
                 / COUNT(c_acctbal) AS VARCHAR) AS DOUBLE), 6) AS avg_bal,
           CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS nsegs,
           CAST(CAST(SUM(DISTINCT {_dec('c_acctbal')}) AS VARCHAR) AS DOUBLE)
             AS sum_d,
           COUNT(*)::BIGINT AS n
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)

# ---------------------------------------------------------------------------
# §2.4 GROUP_CONCAT (DISTINCT, custom separator; sorted = deterministic)
# + SAMPLE (deterministic: n_name↔nation is 1:1)
# ---------------------------------------------------------------------------

_q(
    "q_group_concat_sample",
    """
    SELECT ?nname (GROUP_CONCAT(DISTINCT ?seg; SEPARATOR=",") AS ?segs)
           (SAMPLE(?nat) AS ?natid)
    WHERE {
      ?cust c:c_nationkey ?nat ; c:c_mktsegment ?seg .
      ?nat n:n_name ?nname .
    }
    GROUP BY ?nname
    """,
    [("nname", "str"), ("segs", "str"), ("natid", "str")],
    """
    SELECT n_name AS nname,
           string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segs,
           'x:n:' || CAST(n_nationkey AS VARCHAR) AS natid
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name, n_nationkey
    """,
)

# ---------------------------------------------------------------------------
# §2.8 string function suite
# ---------------------------------------------------------------------------

_q(
    "q_string_functions",
    """
    SELECT ?nname ?sub ?before ?after ?lower ?joined ?enc ?anon WHERE {
      ?cust c:c_name ?nname ; c:c_mktsegment ?cmt .
      BIND(SUBSTR(?nname, 2, 3) AS ?sub)
      BIND(STRBEFORE(?nname, "1") AS ?before)
      BIND(STRAFTER(?nname, "1") AS ?after)
      BIND(LCASE(?nname) AS ?lower)
      BIND(CONCAT(?nname, "/", STR(STRLEN(?cmt))) AS ?joined)
      BIND(ENCODE_FOR_URI(CONCAT(SUBSTR(?cmt, 1, 4), " ", ?nname)) AS ?enc)
      BIND(REPLACE(?nname, "[08]", "_") AS ?anon)
      FILTER(REGEX(?nname, "^Customer#[0-9]+$"))
    }
    """,
    [("nname", "str"), ("sub", "str"), ("before", "str"), ("after", "str"),
     ("lower", "str"), ("joined", "str"), ("enc", "str"), ("anon", "str")],
    """
    SELECT c_name AS nname,
           substring(c_name, 2, 3) AS sub,
           CASE WHEN contains(c_name, '1')
                THEN split_part(c_name, '1', 1) ELSE '' END AS before,
           CASE WHEN contains(c_name, '1')
                THEN substring(c_name, instr(c_name, '1') + 1) ELSE '' END AS after,
           lower(c_name) AS lower,
           c_name || '/' || CAST(length(c_mktsegment) AS VARCHAR) AS joined,
           replace(replace(substring(c_mktsegment, 1, 4) || ' ' || c_name,
                   ' ', '%20'), '#', '%23') AS enc,
           regexp_replace(c_name, '[08]', '_', 'g') AS anon
    FROM customer WHERE regexp_matches(c_name, '^Customer#[0-9]+$')
    """,
)

# ---------------------------------------------------------------------------
# §2.8 scalar function suite: hashes (MD5/SHA256) + numerics
# (ABS/CEIL/FLOOR/ROUND — SPARQL ROUND is round-half-toward-+inf)
# ---------------------------------------------------------------------------

_q(
    "q_scalar_functions",
    """
    SELECT ?ckey ?absdev ?c ?f ?r ?h_md5 ?h_sha256 WHERE {
      ?cust c:c_custkey ?ckey ; c:c_acctbal ?ab ; c:c_name ?nm .
      BIND(ABS(?ab - 1000.5) AS ?absdev)
      BIND(CEIL(?ab) AS ?c)
      BIND(FLOOR(?ab) AS ?f)
      BIND(ROUND(?ab) AS ?r)
      BIND(MD5(?nm) AS ?h_md5)
      BIND(SHA256(?nm) AS ?h_sha256)
    }
    """,
    [("ckey", "long"), ("absdev", "double"), ("c", "double"), ("f", "double"),
     ("r", "double"), ("h_md5", "str"), ("h_sha256", "str")],
    """
    SELECT c_custkey AS ckey, abs(c_acctbal - 1000.5) AS absdev,
           ceil(c_acctbal) AS c, floor(c_acctbal) AS f,
           floor(c_acctbal + 0.5) AS r,
           md5(c_name) AS h_md5, sha256(c_name) AS h_sha256
    FROM customer
    """,
)

# ---------------------------------------------------------------------------
# §2.8 dateTime accessor suite over the events stream table
# ---------------------------------------------------------------------------

_q(
    "q_datetime_time",
    """
    SELECT ?eid ?y ?mo ?d ?h ?mi ?t ?th ?tm ?cmp ?later ?span WHERE {
      ?ev e:event_id ?eid ; e:ts ?ts .
      BIND(YEAR(?ts) AS ?y) BIND(MONTH(?ts) AS ?mo) BIND(DAY(?ts) AS ?d)
      BIND(HOURS(?ts) AS ?h) BIND(MINUTES(?ts) AS ?mi)
      BIND(xsd:time(?ts) AS ?tt)
      BIND(STR(?tt) AS ?t)
      BIND(HOURS(?tt) AS ?th) BIND(MINUTES(?tt) AS ?tm)
      BIND(?tt < "12:00:00"^^xsd:time AS ?cmp)
      BIND(?ts + "P1MT2H30M"^^xsd:duration AS ?later)
      BIND(STR(?later - ?ts) AS ?span)
      FILTER(?eid < 100)
    }
    """,
    [("eid", "long"), ("y", "long"), ("mo", "long"), ("d", "long"),
     ("h", "long"), ("mi", "long"), ("t", "str"), ("th", "long"),
     ("tm", "long"), ("cmp", "bool"), ("later", "timestamp"),
     ("span", "str")],
    """
    WITH s AS (
      SELECT event_id AS eid, ts,
             ts + INTERVAL 1 MONTH + INTERVAL 150 MINUTE AS later
      FROM events WHERE event_id < 100
    )
    SELECT eid,
           CAST(YEAR(ts) AS BIGINT) AS y, CAST(MONTH(ts) AS BIGINT) AS mo,
           CAST(DAY(ts) AS BIGINT) AS d, CAST(HOUR(ts) AS BIGINT) AS h,
           CAST(MINUTE(ts) AS BIGINT) AS mi,
           regexp_replace(strftime(ts, '%H:%M:%S.%f'), '\\.?0+$', '') AS t,
           CAST(HOUR(ts) AS BIGINT) AS th, CAST(MINUTE(ts) AS BIGINT) AS tm,
           (CAST(ts AS TIME) < TIME '12:00:00') AS cmp,
           later,
           'P' || ((floor(epoch(later))::BIGINT - floor(epoch(ts))::BIGINT)
                   // 86400)::VARCHAR || 'DT2H30M' AS span
    FROM s
    """,
)

# ---------------------------------------------------------------------------
# §2.6 ORDER BY expression (typed sort key) + multi-key + OFFSET pagination
# ---------------------------------------------------------------------------

_q(
    "q_order_expr_offset",
    """
    SELECT ?pname ?retail WHERE {
      ?part p:p_name ?pname ; p:p_retailprice ?retail .
    }
    ORDER BY DESC(xsd:decimal(?retail)) ?pname
    OFFSET 5 LIMIT 15
    """,
    [("pname", "str"), ("retail", "double")],
    """
    SELECT p_name AS pname, p_retailprice AS retail
    FROM part
    ORDER BY CAST(CAST(p_retailprice AS VARCHAR) AS DECIMAL(38,18)) DESC,
             p_name
    LIMIT 15 OFFSET 5
    """,
)


# ---------------------------------------------------------------------------
# §2.10 ASK + DESCRIBE query forms
# ---------------------------------------------------------------------------

def _run_ask(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = get_graph(spark, sf_dir)
    with store.query(PROLOGUE + """
      ASK { ?cust c:c_acctbal ?ab . FILTER(?ab > 9000.0) }
    """) as res:
        answer = res.value
    return spark.createDataFrame([(answer,)], "answer boolean")


ASK_ORACLE = """
SELECT EXISTS(SELECT 1 FROM customer WHERE c_acctbal > 9000.0) AS answer
"""


def _run_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = get_graph(spark, sf_dir)
    res = store.query(PROLOGUE + "DESCRIBE <x:n:7>")
    return _owning(res.df.select(
        F.col("subject")["v"].alias("s"),
        F.col("predicate")["v"].alias("p"),
        F.col("object")["v"].alias("o"),
    ), res)


DESCRIBE_ORACLE = """
SELECT 'x:n:7' AS s, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS p,
       'x:class:nation' AS o
UNION ALL
SELECT 'x:n:7', 'x:n#n_nationkey', CAST(n_nationkey AS VARCHAR)
FROM nation WHERE n_nationkey = 7
UNION ALL
SELECT 'x:n:7', 'x:n#n_name', n_name FROM nation WHERE n_nationkey = 7
UNION ALL
SELECT 'x:n:7', 'x:n#n_regionkey', 'x:r:' || CAST(n_regionkey AS VARCHAR)
FROM nation WHERE n_nationkey = 7
"""


# ---------------------------------------------------------------------------
# §2.3 nested OPTIONAL (left join whose right side is itself a left join)
# ---------------------------------------------------------------------------

_q(
    "q_nested_optional",
    """
    SELECT ?ckey ?okey ?qty WHERE {
      ?cust c:c_custkey ?ckey .
      OPTIONAL {
        ?ord o:o_custkey ?cust ; o:o_orderkey ?okey .
        OPTIONAL {
          ?li l:l_orderkey ?ord ; l:l_quantity ?qty .
          FILTER(?qty >= 49.0)
        }
      }
    }
    """,
    [("ckey", "long"), ("okey", "long"), ("qty", "double")],
    """
    SELECT c_custkey AS ckey, ord.okey AS okey, ord.qty AS qty
    FROM customer
    LEFT JOIN (
      SELECT o_custkey, o_orderkey AS okey, l.l_quantity AS qty
      FROM orders
      LEFT JOIN (SELECT * FROM lineitem WHERE l_quantity >= 49.0) l
        ON l.l_orderkey = o_orderkey
    ) ord ON ord.o_custkey = c_custkey
    """,
)

# ---------------------------------------------------------------------------
# §2.1 VALUES with multiple variables and UNDEF (join semantics)
# ---------------------------------------------------------------------------

_q(
    "q_values_undef",
    """
    SELECT ?rkey ?rname ?tag WHERE {
      ?reg r:r_regionkey ?rkey ; r:r_name ?rname .
      VALUES (?rname ?tag) { ("ASIA" "east") ("EUROPE" "west") (UNDEF "any") }
    }
    """,
    [("rkey", "long"), ("rname", "str"), ("tag", "str")],
    """
    SELECT r_regionkey AS rkey, r_name AS rname, v.tag AS tag
    FROM region
    JOIN (VALUES ('ASIA','east'), ('EUROPE','west'), (NULL,'any'))
         v(vname, tag)
      ON v.vname IS NULL OR v.vname = r_name
    """,
)

# ---------------------------------------------------------------------------
# §2.1/§2.10 GRAPH — per-table named graphs (union-default-graph mapping)
# ---------------------------------------------------------------------------

_q(
    "q_graph_named",
    """
    SELECT ?cname ?nname WHERE {
      GRAPH <x:graph:c> { ?cust c:c_name ?cname ; c:c_nationkey ?nat . }
      GRAPH <x:graph:n> { ?nat n:n_name ?nname . }
    }
    """,
    [("cname", "str"), ("nname", "str")],
    """
    SELECT c_name AS cname, n_name AS nname
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    """,
)

_q(
    "q_graph_enumerate",
    """
    SELECT ?g (COUNT(DISTINCT ?ent) AS ?n) WHERE {
      GRAPH ?g { ?ent a ?cls }
    }
    GROUP BY ?g
    ORDER BY ?g
    """,
    [("g", "str"), ("n", "long")],
    """
    WITH counts AS (
      SELECT 'x:graph:r' AS g, COUNT(*) AS n FROM region
      UNION ALL SELECT 'x:graph:n', COUNT(*) FROM nation
      UNION ALL SELECT 'x:graph:c', COUNT(*) FROM customer
      UNION ALL SELECT 'x:graph:s', COUNT(*) FROM supplier
      UNION ALL SELECT 'x:graph:p', COUNT(*) FROM part
      UNION ALL SELECT 'x:graph:o', COUNT(*) FROM orders
      UNION ALL SELECT 'x:graph:l', COUNT(*) FROM lineitem
      UNION ALL SELECT 'x:graph:e', COUNT(*) FROM events
      UNION ALL SELECT 'x:graph:d', COUNT(*) FROM documents
    )
    SELECT g, n::BIGINT AS n FROM counts ORDER BY g
    """,
)

# ---------------------------------------------------------------------------
# §2.4 global (no-GROUP-BY) aggregation incl. MIN/MAX over strings and
# dateTimes (SPARQL total order)
# ---------------------------------------------------------------------------

_q(
    "q_agg_no_group",
    """
    SELECT (COUNT(*) AS ?n) (xsd:double(SUM(xsd:decimal(?tp))) AS ?total)
           (MIN(?od) AS ?first_order) (MAX(?od) AS ?last_order)
           (MIN(?op) AS ?first_prio) (MAX(?op) AS ?last_prio)
    WHERE { ?ord o:o_totalprice ?tp ; o:o_orderdate ?od ;
                 o:o_orderpriority ?op . }
    """,
    [("n", "long"), ("total", "double"), ("first_order", "timestamp"),
     ("last_order", "timestamp"), ("first_prio", "str"),
     ("last_prio", "str")],
    f"""
    SELECT COUNT(*)::BIGINT AS n,
           CAST(CAST(SUM({_dec('o_totalprice')}) AS VARCHAR) AS DOUBLE)
             AS total,
           MIN(o_orderdate) AS first_order, MAX(o_orderdate) AS last_order,
           MIN(o_orderpriority) AS first_prio,
           MAX(o_orderpriority) AS last_prio
    FROM orders
    """,
)

# ---------------------------------------------------------------------------
# §2.8/§2.4 xsd:duration value model — SUM over yearMonthDurations
# (aggregate) joined with the duration partial order + STR round trip
# ---------------------------------------------------------------------------

_q(
    "q_duration_values",
    """
    SELECT ?dstr ?gt11m ?eq1y ?total WHERE {
      {
        SELECT (STR(SUM(?ds)) AS ?total) WHERE {
          VALUES ?ds { "P1Y2M"^^xsd:yearMonthDuration
                       "P2Y5M"^^xsd:yearMonthDuration
                       "P11M"^^xsd:yearMonthDuration }
        }
      }
      VALUES ?d { "P1Y"^^xsd:yearMonthDuration "P11M"^^xsd:yearMonthDuration
                  "P2Y"^^xsd:yearMonthDuration }
      BIND(STR(?d) AS ?dstr)
      BIND(?d > "P11M"^^xsd:yearMonthDuration AS ?gt11m)
      BIND(?d = "P12M"^^xsd:yearMonthDuration AS ?eq1y)
    }
    """,
    [("dstr", "str"), ("gt11m", "bool"), ("eq1y", "bool"), ("total", "str")],
    """
    SELECT dstr, gt11m, eq1y, 'P4Y6M' AS total
    FROM (VALUES ('P1Y', true, true), ('P11M', false, false),
                 ('P2Y', true, false)) t(dstr, gt11m, eq1y)
    """,
)

# ---------------------------------------------------------------------------
# Reference benchmark workload mirrors (round-4 verdict #1). The reference's
# perf identity is BSBM Explore/BI and WindFarm
# (bench/tests/query_results/queries/{explore-q5,bi-q3,
# wind-farm-production-query2,wind-farm-grouped-production-query3}.sparql,
# drivers bench/src/benchmarks/). These gate the same query SHAPES on the
# relational-RDF warehouse: products→part, reviews→orders,
# site/turbine/timeseries chain→region/nation/customer/orders.
# ---------------------------------------------------------------------------

# BSBM Explore Q5: "find products similar to X" — constant-subject star
# self-joined against a variable-subject star, two numeric range bands,
# self-exclusion, DISTINCT + ORDER + LIMIT. (?product tiebreak added for a
# deterministic LIMIT cut; BSBM labels are non-unique.)
# BSBM Explore Q4: UNION of two constant-anchored stars with different
# numeric range filters, DISTINCT + ORDER + OFFSET + LIMIT
# (bench/tests/query_results/queries/explore-q4.sparql).
_q(
    "q_bsbm_explore_q4",
    """
    SELECT DISTINCT ?product ?label WHERE {
      {
        ?product p:p_name ?label .
        ?product p:p_type "MEDIUM" .
        ?product p:p_size ?size .
        FILTER(?size > "45"^^xsd:integer)
      }
      UNION
      {
        ?product p:p_name ?label .
        ?product p:p_type "MEDIUM" .
        ?product p:p_retailprice ?price .
        FILTER(?price > 995.0)
      }
    }
    ORDER BY ASC(?label) ?product
    OFFSET 5
    LIMIT 10
    """,
    [("product", "str"), ("label", "str")],
    """
    SELECT DISTINCT product, label FROM (
      SELECT 'x:p:' || CAST(p_partkey AS VARCHAR) AS product,
             p_name AS label
      FROM part WHERE p_type = 'MEDIUM' AND p_size > 45
      UNION
      SELECT 'x:p:' || CAST(p_partkey AS VARCHAR), p_name
      FROM part WHERE p_type = 'MEDIUM' AND p_retailprice > 995.0
    )
    ORDER BY label, product
    OFFSET 5 LIMIT 10
    """,
)

# BSBM Explore Q8: constant-anchored review chain (line items of one
# part → order → customer name) + four OPTIONALs (two carrying filters,
# so some stay unbound) + ORDER DESC + LIMIT
# (bench/tests/query_results/queries/explore-q8.sparql).
_q(
    "q_bsbm_explore_q8",
    """
    SELECT ?cust_name ?sd ?hi_qty ?hi_price ?tax ?disc WHERE {
      ?li l:l_partkey <x:p:42> .
      ?li l:l_orderkey ?ord .
      ?li l:l_shipdate ?sd .
      ?ord o:o_custkey ?cust .
      ?cust c:c_name ?cust_name .
      OPTIONAL { ?li l:l_quantity ?hi_qty . FILTER(?hi_qty >= 25.0) }
      OPTIONAL { ?li l:l_extendedprice ?hi_price .
                 FILTER(?hi_price >= 30000.0) }
      OPTIONAL { ?li l:l_tax ?tax }
      OPTIONAL { ?li l:l_discount ?disc . FILTER(?disc > 0.05) }
    }
    ORDER BY DESC(?sd) ?cust_name ?tax ?hi_qty ?hi_price ?disc
    LIMIT 20
    """,
    [("cust_name", "str"), ("sd", "timestamp"),
     ("hi_qty", "double"), ("hi_price", "double"), ("tax", "double"),
     ("disc", "double")],
    """
    SELECT c_name AS cust_name, l_shipdate AS sd,
           CASE WHEN l_quantity >= 25.0 THEN l_quantity END AS hi_qty,
           CASE WHEN l_extendedprice >= 30000.0 THEN l_extendedprice END
               AS hi_price,
           l_tax AS tax,
           CASE WHEN l_discount > 0.05 THEN l_discount END AS disc
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey  = o_custkey
    WHERE l_partkey = 42
    ORDER BY sd DESC, cust_name,
             tax NULLS FIRST, hi_qty NULLS FIRST,
             hi_price NULLS FIRST, disc NULLS FIRST
    LIMIT 20
    """,
)

# BSBM BI Q5: argmax-per-group — per nation, the part with the MOST line
# items, plus its average price: three nested GROUP-BY subqueries with
# BIND renames and an equality FILTER joining count to per-group max
# (bench/tests/query_results/queries/bi-q5.sparql).
_q(
    "q_bsbm_bi_q5",
    """
    SELECT ?nname ?part ?n_li ?avg_price WHERE {
      {
        SELECT ?nname (MAX(?cnt) AS ?maxCnt) WHERE {
          {
            SELECT ?nname ?part (COUNT(?li) AS ?cnt) WHERE {
              ?li l:l_partkey ?part .
              ?li l:l_orderkey ?ord .
              ?ord o:o_custkey ?cust .
              ?cust c:c_nationkey ?nat .
              ?nat n:n_name ?nname .
            }
            GROUP BY ?nname ?part
          }
        }
        GROUP BY ?nname
      }
      {
        SELECT ?nname ?part ?n_li ?avg_price WHERE {
          {
            SELECT ?nname ?part (COUNT(?li2) AS ?c2)
                   (xsd:double(SUM(xsd:decimal(?price))) / COUNT(?price)
                    AS ?ap) WHERE {
              ?li2 l:l_partkey ?part .
              ?li2 l:l_extendedprice ?price .
              ?li2 l:l_orderkey ?ord2 .
              ?ord2 o:o_custkey ?cust2 .
              ?cust2 c:c_nationkey ?nat2 .
              ?nat2 n:n_name ?nname .
            }
            GROUP BY ?nname ?part
          }
          BIND(?c2 AS ?n_li)
          BIND(ROUND(?ap * 1000000.0) / 1000000.0 AS ?avg_price)
        }
      }
      FILTER(?n_li = ?maxCnt)
    }
    ORDER BY ?nname ?part
    """,
    [("nname", "str"), ("part", "str"), ("n_li", "long"),
     ("avg_price", "double")],
    f"""
    WITH per AS (
      SELECT n_name AS nname, 'x:p:' || CAST(l_partkey AS VARCHAR) AS part,
             COUNT(*) AS n_li,
             ROUND(CAST(SUM({_dec('l_extendedprice')}) AS DOUBLE)
                   / COUNT(*) * 1000000.0) / 1000000.0 AS avg_price
      FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey  = o_custkey
      JOIN nation   ON n_nationkey = c_nationkey
      GROUP BY n_name, part
    ),
    mx AS (SELECT nname, MAX(n_li) AS max_cnt FROM per GROUP BY nname)
    SELECT per.nname, per.part, per.n_li, per.avg_price
    FROM per JOIN mx ON per.nname = mx.nname AND per.n_li = mx.max_cnt
    ORDER BY per.nname, per.part
    """,
)

_q(
    "q_bsbm_explore_q5",
    """
    SELECT DISTINCT ?product ?label WHERE {
      ?product p:p_name ?label .
      <x:p:42> p:p_type ?feature .
      ?product p:p_type ?feature .
      <x:p:42> p:p_size ?origSize .
      ?product p:p_size ?simSize .
      <x:p:42> p:p_retailprice ?origPrice .
      ?product p:p_retailprice ?simPrice .
      FILTER(!(<x:p:42> = ?product)
             && ?simSize  < ?origSize + 5    && ?simSize  > ?origSize - 5
             && ?simPrice < ?origPrice + 170.0 && ?simPrice > ?origPrice - 170.0)
    }
    ORDER BY ASC(?label) ?product
    LIMIT 5
    """,
    [("product", "str"), ("label", "str")],
    """
    SELECT DISTINCT 'x:p:' || CAST(p.p_partkey AS VARCHAR) AS product,
           p.p_name AS label
    FROM part p, part x
    WHERE x.p_partkey = 42 AND p.p_partkey <> 42
      AND p.p_type = x.p_type
      AND p.p_size  < x.p_size + 5     AND p.p_size  > x.p_size - 5
      AND p.p_retailprice < x.p_retailprice + 170.0
      AND p.p_retailprice > x.p_retailprice - 170.0
    ORDER BY label, product
    LIMIT 5
    """,
)

# BSBM BI Q3: review-count ratio between two adjacent windows — two nested
# GROUP-BY subqueries (each with the BI Q3 count-alias + BIND-rename
# indirection), post-aggregate FILTER (HAVING shape), ratio BIND, ORDER BY
# the ratio DESC + LIMIT. reviews→orders, product→customer.
_q(
    "q_bsbm_bi_q3",
    """
    SELECT ?cust ?ratio WHERE {
      {
        SELECT ?cust ?monthCount WHERE {
          {
            SELECT (COUNT(?o) AS ?cnt) ?cust WHERE {
              ?o o:o_custkey ?cust .
              ?o o:o_orderdate ?date .
              FILTER(?date >= "1996-01-01T00:00:00"^^xsd:dateTime
                  && ?date <  "1996-07-01T00:00:00"^^xsd:dateTime)
            }
            GROUP BY ?cust
          }
          BIND(?cnt AS ?monthCount)
        }
      }
      {
        SELECT ?cust ?monthBeforeCount WHERE {
          {
            SELECT (COUNT(?o2) AS ?cnt2) ?cust WHERE {
              ?o2 o:o_custkey ?cust .
              ?o2 o:o_orderdate ?date2 .
              FILTER(?date2 >= "1995-07-01T00:00:00"^^xsd:dateTime
                  && ?date2 <  "1996-01-01T00:00:00"^^xsd:dateTime)
            }
            GROUP BY ?cust
          }
          FILTER(?cnt2 > "0"^^xsd:integer)
          BIND(?cnt2 AS ?monthBeforeCount)
        }
      }
      BIND(xsd:double(?monthCount) / ?monthBeforeCount AS ?ratio)
    }
    ORDER BY DESC(?ratio) ASC(?cust)
    LIMIT 10
    """,
    [("cust", "str"), ("ratio", "double6")],
    """
    WITH month_cnt AS (
      SELECT o_custkey, COUNT(*) AS month_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1996-07-01'
      GROUP BY o_custkey
    ),
    before_cnt AS (
      SELECT o_custkey, COUNT(*) AS month_before_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-07-01'
        AND o_orderdate <  TIMESTAMP '1996-01-01'
      GROUP BY o_custkey
      HAVING COUNT(*) > 0
    )
    SELECT 'x:c:' || CAST(m.o_custkey AS VARCHAR) AS cust,
           ROUND(CAST(m.month_count AS DOUBLE) / b.month_before_count, 6)
             AS ratio
    FROM month_cnt m JOIN before_cnt b ON m.o_custkey = b.o_custkey
    ORDER BY CAST(m.month_count AS DOUBLE) / b.month_before_count DESC,
             cust ASC
    LIMIT 10
    """,
)

# WindFarm production query 2: deep entity-chain traversal (site→aspect→
# turbine→generator→timeseries→datapoint becomes region→nation→customer→
# order) ending in raw time-series points, rdf:type anchors, label IN-list
# + equality filters, ORDER + LIMIT. ?ord appended to ORDER BY (non-
# projected tiebreak) for a deterministic LIMIT cut.
_q(
    "q_windfarm_production",
    """
    SELECT ?nation_label ?cust_label ?t ?val WHERE {
      ?r a <x:class:region> .
      ?r r:r_name ?region_label .
      ?n n:n_regionkey ?r .
      ?n n:n_name ?nation_label .
      ?c a <x:class:customer> .
      ?c c:c_nationkey ?n .
      ?c c:c_name ?cust_label .
      ?ord o:o_custkey ?c .
      ?ord o:o_orderdate ?t .
      ?ord o:o_totalprice ?val .
      FILTER(?nation_label IN ("NATION_2", "NATION_7", "NATION_12",
                               "NATION_17", "NATION_22")
             && ?region_label = "ASIA")
    }
    ORDER BY ?nation_label ?cust_label ?t ?val ?ord
    LIMIT 10
    """,
    [("nation_label", "str"), ("cust_label", "str"),
     ("t", "timestamp"), ("val", "double")],
    """
    SELECT n_name AS nation_label, c_name AS cust_label,
           o_orderdate AS t, o_totalprice AS val
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey   = c_custkey
    WHERE r_name = 'ASIA'
      AND n_name IN ('NATION_2','NATION_7','NATION_12',
                     'NATION_17','NATION_22')
    ORDER BY nation_label, cust_label, t, val,
             'x:o:' || CAST(o_orderkey AS VARCHAR)
    LIMIT 10
    """,
)

# WindFarm grouped production query 3: the same chain + temporal bucketing
# BINDs as GROUP BY keys + AVG over the series + window FILTER + ORDER +
# LIMIT (year/month buckets stand in for the turbine data's minute_10 —
# o_orderdate is date-resolution; the sub-hour variant is
# q_windfarm_minute10 below on the events series).
_q(
    "q_windfarm_grouped",
    """
    SELECT ?nation_label ?year ?month
           (xsd:double(AVG(xsd:decimal(?val))) AS ?avg_val)
           (COUNT(?ord) AS ?n_points)
    WHERE {
      ?r a <x:class:region> .
      ?r r:r_name "ASIA" .
      ?n n:n_regionkey ?r .
      ?n n:n_name ?nation_label .
      ?c c:c_nationkey ?n .
      ?ord o:o_custkey ?c .
      ?ord o:o_orderdate ?t .
      ?ord o:o_totalprice ?val .
      BIND(MONTH(?t) AS ?month)
      BIND(YEAR(?t) AS ?year)
      FILTER(?t >= "1996-01-01T00:00:00"^^xsd:dateTime
          && ?t <= "1997-12-31T00:00:00"^^xsd:dateTime)
    }
    GROUP BY ?nation_label ?year ?month
    ORDER BY ?nation_label ?year ?month
    LIMIT 10
    """,
    [("nation_label", "str"), ("year", "long"), ("month", "long"),
     ("avg_val", "double6"), ("n_points", "long")],
    f"""
    SELECT n_name AS nation_label,
           CAST(EXTRACT(year  FROM o_orderdate) AS BIGINT) AS year,
           CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS month,
           ROUND(CAST(CAST(AVG({_dec('o_totalprice')}) AS VARCHAR)
                 AS DOUBLE), 6) AS avg_val,
           COUNT(*) AS n_points
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey   = c_custkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <= TIMESTAMP '1997-12-31'
    GROUP BY n_name, year, month
    ORDER BY nation_label, year, month
    LIMIT 10
    """,
)

# WindFarm grouped query 3's sub-hour bucketing on a real time series: the
# events table plays the data points; hour + 10-minute buckets computed
# exactly as the reference query does — BIND(10 * FLOOR(minutes(?t)/10.0)).
_q(
    "q_windfarm_minute10",
    """
    SELECT ?hour ?minute_10
           (xsd:double(AVG(xsd:decimal(?val))) AS ?avg_val)
           (COUNT(?e) AS ?n_points)
    WHERE {
      ?e e:ts ?t .
      ?e e:value ?val .
      ?e e:event_type "click" .
      BIND(10 * FLOOR(MINUTES(?t) / 10.0) AS ?minute_10)
      BIND(HOURS(?t) AS ?hour)
      FILTER(?t >= "2024-01-01T00:00:00"^^xsd:dateTime
          && ?t <  "2024-01-02T00:00:00"^^xsd:dateTime)
    }
    GROUP BY ?hour ?minute_10
    ORDER BY ?hour ?minute_10
    """,
    [("hour", "long"), ("minute_10", "long"),
     ("avg_val", "double6"), ("n_points", "long")],
    f"""
    SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
           CAST(10 * FLOOR(EXTRACT(minute FROM ts) / 10.0) AS BIGINT)
             AS minute_10,
           ROUND(CAST(CAST(AVG({_dec('value')}) AS VARCHAR) AS DOUBLE), 6)
             AS avg_val,
           COUNT(*) AS n_points
    FROM events
    WHERE event_type = 'click'
      AND ts >= TIMESTAMP '2024-01-01'
      AND ts <  TIMESTAMP '2024-01-02'
    GROUP BY hour, minute_10
    ORDER BY hour, minute_10
    """,
)

# ---------------------------------------------------------------------------
# Round-5: the REST of the reference's golden benchmark workload
# (bench/tests/query_results/queries/ holds 28 pinned queries; rounds 3-4
# mirrored 8, these are the other 20). Same mapping as above: BSBM
# product→part, offer→lineitem, vendor→supplier, review→orders,
# reviewer→customer, producer country→supplier nation; WindFarm
# site→region, turbine→nation, datapoint→order.
# ---------------------------------------------------------------------------

# WindFarm production query 1 (single-turbine equality filter variant of
# the chain; wind-farm-production-query1.sparql).
_WINDFARM_CHAIN = """
      ?r a <x:class:region> .
      ?r r:r_name ?region_label .
      ?n n:n_regionkey ?r .
      ?n n:n_name ?nation_label .
      ?c a <x:class:customer> .
      ?c c:c_nationkey ?n .
      ?c c:c_name ?cust_label .
      ?ord o:o_custkey ?c .
      ?ord o:o_orderdate ?t .
      ?ord o:o_totalprice ?val .
"""

_WINDFARM_SQL = """
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey   = c_custkey
"""

_q(
    "q_windfarm_production1",
    f"""
    SELECT ?nation_label ?cust_label ?t ?val WHERE {{
      {_WINDFARM_CHAIN}
      FILTER(?nation_label = "NATION_2" && ?region_label = "ASIA")
    }}
    ORDER BY ?nation_label ?cust_label ?t ?val ?ord
    LIMIT 10
    """,
    [("nation_label", "str"), ("cust_label", "str"),
     ("t", "timestamp"), ("val", "double")],
    f"""
    SELECT n_name AS nation_label, c_name AS cust_label,
           o_orderdate AS t, o_totalprice AS val
    {_WINDFARM_SQL}
    WHERE r_name = 'ASIA' AND n_name = 'NATION_2'
    ORDER BY nation_label, cust_label, t, val,
             'x:o:' || CAST(o_orderkey AS VARCHAR)
    LIMIT 10
    """,
)

# WindFarm production query 3 (site-only filter; the turbine label is
# unconstrained — wind-farm-production-query3.sparql).
_q(
    "q_windfarm_production3",
    f"""
    SELECT ?nation_label ?cust_label ?t ?val WHERE {{
      {_WINDFARM_CHAIN}
      FILTER(?region_label = "ASIA")
    }}
    ORDER BY ?nation_label ?cust_label ?t ?val ?ord
    LIMIT 10
    """,
    [("nation_label", "str"), ("cust_label", "str"),
     ("t", "timestamp"), ("val", "double")],
    f"""
    SELECT n_name AS nation_label, c_name AS cust_label,
           o_orderdate AS t, o_totalprice AS val
    {_WINDFARM_SQL}
    WHERE r_name = 'ASIA'
    ORDER BY nation_label, cust_label, t, val,
             'x:o:' || CAST(o_orderkey AS VARCHAR)
    LIMIT 10
    """,
)

# WindFarm production query 4 (whole-farm scan: NO filter at all —
# wind-farm-production-query4.sparql; the top-k sort must still prune).
_q(
    "q_windfarm_production4",
    f"""
    SELECT ?nation_label ?cust_label ?t ?val WHERE {{
      {_WINDFARM_CHAIN}
    }}
    ORDER BY ?nation_label ?cust_label ?t ?val ?ord
    LIMIT 10
    """,
    [("nation_label", "str"), ("cust_label", "str"),
     ("t", "timestamp"), ("val", "double")],
    f"""
    SELECT n_name AS nation_label, c_name AS cust_label,
           o_orderdate AS t, o_totalprice AS val
    {_WINDFARM_SQL}
    ORDER BY nation_label, cust_label, t, val,
             'x:o:' || CAST(o_orderkey AS VARCHAR)
    LIMIT 10
    """,
)

_WINDFARM_GROUPED_BINDS = """
      BIND(MONTH(?t) AS ?month)
      BIND(YEAR(?t) AS ?year)
"""

# WindFarm grouped production query 1 (single turbine + time window —
# wind-farm-grouped-production-query1.sparql).
_q(
    "q_windfarm_grouped1",
    f"""
    SELECT ?nation_label ?year ?month
           (xsd:double(AVG(xsd:decimal(?val))) AS ?avg_val)
           (COUNT(?ord) AS ?n_points)
    WHERE {{
      {_WINDFARM_CHAIN}
      {_WINDFARM_GROUPED_BINDS}
      FILTER(?region_label = "ASIA" && ?nation_label = "NATION_2"
          && ?t >= "1996-01-01T00:00:00"^^xsd:dateTime
          && ?t <= "1997-12-31T00:00:00"^^xsd:dateTime)
    }}
    GROUP BY ?nation_label ?year ?month
    ORDER BY ?nation_label ?year ?month
    LIMIT 10
    """,
    [("nation_label", "str"), ("year", "long"), ("month", "long"),
     ("avg_val", "double6"), ("n_points", "long")],
    f"""
    SELECT n_name AS nation_label,
           CAST(EXTRACT(year  FROM o_orderdate) AS BIGINT) AS year,
           CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS month,
           ROUND(CAST(CAST(AVG({_dec('o_totalprice')}) AS VARCHAR)
                 AS DOUBLE), 6) AS avg_val,
           COUNT(*) AS n_points
    {_WINDFARM_SQL}
    WHERE r_name = 'ASIA' AND n_name = 'NATION_2'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <= TIMESTAMP '1997-12-31'
    GROUP BY n_name, year, month
    ORDER BY nation_label, year, month
    LIMIT 10
    """,
)

# WindFarm grouped production query 2 (turbine IN-list + window —
# wind-farm-grouped-production-query2.sparql).
_q(
    "q_windfarm_grouped2",
    f"""
    SELECT ?nation_label ?year ?month
           (xsd:double(AVG(xsd:decimal(?val))) AS ?avg_val)
           (COUNT(?ord) AS ?n_points)
    WHERE {{
      {_WINDFARM_CHAIN}
      {_WINDFARM_GROUPED_BINDS}
      FILTER(?region_label = "ASIA"
          && ?nation_label IN ("NATION_2", "NATION_7", "NATION_12",
                               "NATION_17", "NATION_22")
          && ?t >= "1996-01-01T00:00:00"^^xsd:dateTime
          && ?t <= "1997-12-31T00:00:00"^^xsd:dateTime)
    }}
    GROUP BY ?nation_label ?year ?month
    ORDER BY ?nation_label ?year ?month
    LIMIT 10
    """,
    [("nation_label", "str"), ("year", "long"), ("month", "long"),
     ("avg_val", "double6"), ("n_points", "long")],
    f"""
    SELECT n_name AS nation_label,
           CAST(EXTRACT(year  FROM o_orderdate) AS BIGINT) AS year,
           CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS month,
           ROUND(CAST(CAST(AVG({_dec('o_totalprice')}) AS VARCHAR)
                 AS DOUBLE), 6) AS avg_val,
           COUNT(*) AS n_points
    {_WINDFARM_SQL}
    WHERE r_name = 'ASIA'
      AND n_name IN ('NATION_2','NATION_7','NATION_12',
                     'NATION_17','NATION_22')
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <= TIMESTAMP '1997-12-31'
    GROUP BY n_name, year, month
    ORDER BY nation_label, year, month
    LIMIT 10
    """,
)

# WindFarm grouped production query 4 (window only, every site/turbine —
# wind-farm-grouped-production-query4.sparql; grouping keeps BOTH labels
# like the reference's site_label + wtur_label keys).
_q(
    "q_windfarm_grouped4",
    f"""
    SELECT ?region_label ?nation_label ?year ?month
           (xsd:double(AVG(xsd:decimal(?val))) AS ?avg_val)
           (COUNT(?ord) AS ?n_points)
    WHERE {{
      {_WINDFARM_CHAIN}
      {_WINDFARM_GROUPED_BINDS}
      FILTER(?t >= "1996-01-01T00:00:00"^^xsd:dateTime
          && ?t <= "1997-12-31T00:00:00"^^xsd:dateTime)
    }}
    GROUP BY ?region_label ?nation_label ?year ?month
    ORDER BY ?region_label ?nation_label ?year ?month
    LIMIT 10
    """,
    [("region_label", "str"), ("nation_label", "str"), ("year", "long"),
     ("month", "long"), ("avg_val", "double6"), ("n_points", "long")],
    f"""
    SELECT r_name AS region_label, n_name AS nation_label,
           CAST(EXTRACT(year  FROM o_orderdate) AS BIGINT) AS year,
           CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS month,
           ROUND(CAST(CAST(AVG({_dec('o_totalprice')}) AS VARCHAR)
                 AS DOUBLE), 6) AS avg_val,
           COUNT(*) AS n_points
    {_WINDFARM_SQL}
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <= TIMESTAMP '1997-12-31'
    GROUP BY r_name, n_name, year, month
    ORDER BY region_label, nation_label, year, month
    LIMIT 10
    """,
)

# WindFarm MultiGrouped1–4 ANALOGUES (not mirrors): the reference names
# these queries (bench/src/benchmarks/windfarm/queries.rs:26-29,43-46)
# but loads their .sparql text from a bench_files folder absent from the
# snapshot (benchmark.rs:190-192), so faithful mirroring is impossible.
# The chrontext workload they come from aggregates MULTIPLE timeseries
# per entity over multi-dimension group keys; these analogues reproduce
# that shape on the warehouse topology: TWO series per entity chain
# (orders.o_totalprice as the "Production" series, the order's lineitem
# extendedprice as the second series) under multi-key GROUP BY.

_WINDFARM_MULTI_CHAIN = _WINDFARM_CHAIN + """
      ?li l:l_orderkey ?ord .
      ?li l:l_extendedprice ?val2 .
"""

_WINDFARM_MULTI_SQL = _WINDFARM_SQL + """
    JOIN lineitem ON l_orderkey = o_orderkey
"""

_q(
    "q_windfarm_multi1",
    f"""
    SELECT ?nation_label ?year
           (xsd:double(AVG(xsd:decimal(?val))) AS ?avg_prod)
           (xsd:double(AVG(xsd:decimal(?val2))) AS ?avg_speed)
           (COUNT(?li) AS ?n_points)
    WHERE {{
      {_WINDFARM_MULTI_CHAIN}
      BIND(YEAR(?t) AS ?year)
      FILTER(?region_label = "ASIA"
          && ?t >= "1996-01-01T00:00:00"^^xsd:dateTime
          && ?t <= "1997-12-31T00:00:00"^^xsd:dateTime)
    }}
    GROUP BY ?nation_label ?year
    ORDER BY ?nation_label ?year
    LIMIT 10
    """,
    [("nation_label", "str"), ("year", "long"), ("avg_prod", "double6"),
     ("avg_speed", "double6"), ("n_points", "long")],
    f"""
    SELECT n_name AS nation_label,
           CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS year,
           ROUND(CAST(CAST(AVG({_dec('o_totalprice')}) AS VARCHAR)
                 AS DOUBLE), 6) AS avg_prod,
           ROUND(CAST(CAST(AVG({_dec('l_extendedprice')}) AS VARCHAR)
                 AS DOUBLE), 6) AS avg_speed,
           COUNT(*) AS n_points
    {_WINDFARM_MULTI_SQL}
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <= TIMESTAMP '1997-12-31'
    GROUP BY n_name, year
    ORDER BY nation_label, year
    LIMIT 10
    """,
)

_q(
    "q_windfarm_multi2",
    f"""
    SELECT ?nation_label ?year ?month
           (MIN(?val) AS ?min_prod) (MAX(?val) AS ?max_prod)
           (MIN(?val2) AS ?min_speed) (MAX(?val2) AS ?max_speed)
    WHERE {{
      {_WINDFARM_MULTI_CHAIN}
      BIND(YEAR(?t) AS ?year)
      BIND(MONTH(?t) AS ?month)
      FILTER(?nation_label = "NATION_2"
          && ?t >= "1996-01-01T00:00:00"^^xsd:dateTime
          && ?t <= "1996-12-31T00:00:00"^^xsd:dateTime)
    }}
    GROUP BY ?nation_label ?year ?month
    ORDER BY ?nation_label ?year ?month
    LIMIT 12
    """,
    [("nation_label", "str"), ("year", "long"), ("month", "long"),
     ("min_prod", "double"), ("max_prod", "double"),
     ("min_speed", "double"), ("max_speed", "double")],
    """
    SELECT n_name AS nation_label,
           CAST(EXTRACT(year  FROM o_orderdate) AS BIGINT) AS year,
           CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS month,
           MIN(o_totalprice) AS min_prod, MAX(o_totalprice) AS max_prod,
           MIN(l_extendedprice) AS min_speed,
           MAX(l_extendedprice) AS max_speed
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey   = c_custkey
    JOIN lineitem ON l_orderkey  = o_orderkey
    WHERE n_name = 'NATION_2'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <= TIMESTAMP '1996-12-31'
    GROUP BY n_name, year, month
    ORDER BY nation_label, year, month
    LIMIT 12
    """,
)

# MultiGrouped3 analogue: each series aggregated in its OWN sub-SELECT,
# joined on the group keys — the chrontext "one aggregation per series"
# plan shape, and the aggregate-subsumption-friendly form (both
# subqueries share the entity-chain core).
_q(
    "q_windfarm_multi3",
    f"""
    SELECT ?nation_label ?year ?avg_prod ?avg_speed WHERE {{
      {{
        SELECT ?nation_label ?year
               (xsd:double(AVG(xsd:decimal(?val))) AS ?avg_prod)
        WHERE {{
          {_WINDFARM_CHAIN}
          BIND(YEAR(?t) AS ?year)
          FILTER(?region_label = "ASIA"
              && ?t >= "1996-01-01T00:00:00"^^xsd:dateTime
              && ?t <= "1997-12-31T00:00:00"^^xsd:dateTime)
        }}
        GROUP BY ?nation_label ?year
      }}
      {{
        SELECT ?nation_label ?year
               (xsd:double(AVG(xsd:decimal(?val2))) AS ?avg_speed)
        WHERE {{
          {_WINDFARM_MULTI_CHAIN}
          BIND(YEAR(?t) AS ?year)
          FILTER(?region_label = "ASIA"
              && ?t >= "1996-01-01T00:00:00"^^xsd:dateTime
              && ?t <= "1997-12-31T00:00:00"^^xsd:dateTime)
        }}
        GROUP BY ?nation_label ?year
      }}
    }}
    ORDER BY ?nation_label ?year
    LIMIT 10
    """,
    [("nation_label", "str"), ("year", "long"), ("avg_prod", "double6"),
     ("avg_speed", "double6")],
    f"""
    WITH prod AS (
      SELECT n_name AS nation_label,
             CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS year,
             ROUND(CAST(CAST(AVG({_dec('o_totalprice')}) AS VARCHAR)
                   AS DOUBLE), 6) AS avg_prod
      {_WINDFARM_SQL}
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <= TIMESTAMP '1997-12-31'
      GROUP BY n_name, year
    ), speed AS (
      SELECT n_name AS nation_label,
             CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS year,
             ROUND(CAST(CAST(AVG({_dec('l_extendedprice')}) AS VARCHAR)
                   AS DOUBLE), 6) AS avg_speed
      {_WINDFARM_MULTI_SQL}
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <= TIMESTAMP '1997-12-31'
      GROUP BY n_name, year
    )
    SELECT prod.nation_label, prod.year, avg_prod, avg_speed
    FROM prod JOIN speed
      ON prod.nation_label = speed.nation_label AND prod.year = speed.year
    ORDER BY prod.nation_label, prod.year
    LIMIT 10
    """,
)

_q(
    "q_windfarm_multi4",
    f"""
    SELECT ?region_label ?nation_label ?cust_label
           (xsd:double(SUM(xsd:decimal(?val))) AS ?sum_prod)
           (COUNT(?li) AS ?n_points)
    WHERE {{
      {_WINDFARM_MULTI_CHAIN}
      FILTER(?region_label = "ASIA"
          && ?t >= "1997-01-01T00:00:00"^^xsd:dateTime
          && ?t <= "1997-06-30T00:00:00"^^xsd:dateTime)
    }}
    GROUP BY ?region_label ?nation_label ?cust_label
    HAVING (COUNT(?li) >= "20"^^xsd:integer)
    ORDER BY DESC(?sum_prod) ?cust_label
    LIMIT 10
    """,
    [("region_label", "str"), ("nation_label", "str"),
     ("cust_label", "str"), ("sum_prod", "double6"), ("n_points", "long")],
    f"""
    SELECT r_name AS region_label, n_name AS nation_label,
           c_name AS cust_label,
           ROUND(CAST(CAST(SUM({_dec('o_totalprice')}) AS VARCHAR)
                 AS DOUBLE), 6) AS sum_prod,
           COUNT(*) AS n_points
    {_WINDFARM_MULTI_SQL}
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <= TIMESTAMP '1997-06-30'
    GROUP BY r_name, n_name, c_name
    HAVING COUNT(*) >= 20
    ORDER BY sum_prod DESC, cust_label
    LIMIT 10
    """,
)

# BSBM Explore Q1: type anchor + two constant "features" + numeric range,
# DISTINCT + ORDER + LIMIT (explore-q1.sparql; the reference's two
# productFeature constants map to the two categorical part columns).
# ?product tiebreak: labels are non-unique here.
_q(
    "q_bsbm_explore_q1",
    """
    SELECT DISTINCT ?product ?label WHERE {
      ?product p:p_name ?label .
      ?product a <x:class:part> .
      ?product p:p_type "STANDARD" .
      ?product p:p_brand "Brand#3" .
      ?product p:p_size ?value1 .
      FILTER(?value1 > "10"^^xsd:integer)
    }
    ORDER BY ASC(?label) ?product
    LIMIT 10
    """,
    [("product", "str"), ("label", "str")],
    """
    SELECT DISTINCT 'x:p:' || CAST(p_partkey AS VARCHAR) AS product,
           p_name AS label
    FROM part
    WHERE p_type = 'STANDARD' AND p_brand = 'Brand#3' AND p_size > 10
    ORDER BY label, product
    LIMIT 10
    """,
)

# BSBM Explore Q3: negation-as-OPTIONAL+!BOUND — the OPTIONAL carries a
# second feature constant; surviving rows are those where it stayed
# unbound (explore-q3.sparql).
_q(
    "q_bsbm_explore_q3",
    """
    SELECT ?product ?label WHERE {
      ?product p:p_name ?label .
      ?product a <x:class:part> .
      ?product p:p_type "STANDARD" .
      ?product p:p_size ?p1 .
      ?product p:p_retailprice ?p3 .
      OPTIONAL {
        ?product p:p_brand "Brand#3" .
        ?product p:p_name ?testVar .
      }
      FILTER(?p1 > "15"^^xsd:integer && ?p3 < 1500.0 && !BOUND(?testVar))
    }
    ORDER BY ASC(?label) ?product
    LIMIT 10
    """,
    [("product", "str"), ("label", "str")],
    """
    SELECT 'x:p:' || CAST(p_partkey AS VARCHAR) AS product, p_name AS label
    FROM part
    WHERE p_type = 'STANDARD' AND p_size > 15 AND p_retailprice < 1500.0
      AND p_brand <> 'Brand#3'
    ORDER BY label, product
    LIMIT 10
    """,
)

# BSBM Explore Q10: offer chain with vendor-country anchor, two range
# filters, DISTINCT, ORDER BY a CAST THROUGH STRING of the price
# (explore-q10.sparql's xsd:double(STR(?price)) sort key) + LIMIT.
_q(
    "q_bsbm_explore_q10",
    """
    SELECT DISTINCT ?ord ?price WHERE {
      ?offer l:l_partkey <x:p:42> .
      ?offer l:l_suppkey ?vendor .
      ?vendor s:s_nationkey <x:n:4> .
      ?offer l:l_quantity ?deliveryDays .
      ?offer l:l_extendedprice ?price .
      ?offer l:l_shipdate ?date .
      ?offer l:l_orderkey ?ord .
      FILTER(?deliveryDays <= "30"^^xsd:integer
          && ?date > "1996-06-20T00:00:00"^^xsd:dateTime)
    }
    ORDER BY ASC(xsd:double(STR(?price))) ?ord
    LIMIT 10
    """,
    [("ord", "str"), ("price", "double")],
    """
    SELECT DISTINCT 'x:o:' || CAST(l_orderkey AS VARCHAR) AS ord,
           l_extendedprice AS price
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE l_partkey = 42 AND s_nationkey = 4
      AND l_quantity <= 30
      AND l_shipdate > TIMESTAMP '1996-06-20'
    ORDER BY price, ord
    LIMIT 10
    """,
)

# BSBM Explore Q11: VARIABLE-PREDICATE scans in both directions around a
# constant node — the classic "everything about X" union
# (explore-q11.sparql). Exercises the virtual store's whole-row predicate
# enumeration (no constant predicate to anchor on).
_q(
    "q_bsbm_explore_q11",
    """
    SELECT ?property ?hasValue ?isValueOf WHERE {
      { <x:n:5> ?property ?hasValue }
      UNION
      { ?isValueOf ?property <x:n:5> }
    }
    ORDER BY ?property ?hasValue ?isValueOf
    """,
    [("property", "str"), ("hasValue", "str"), ("isValueOf", "str")],
    """
    SELECT 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS property,
           'x:class:nation' AS hasValue, CAST(NULL AS VARCHAR) AS isValueOf
    UNION ALL
    SELECT 'x:n#n_nationkey', '5', NULL
    UNION ALL
    SELECT 'x:n#n_name', n_name, NULL FROM nation WHERE n_nationkey = 5
    UNION ALL
    SELECT 'x:n#n_regionkey', 'x:r:' || CAST(n_regionkey AS VARCHAR), NULL
    FROM nation WHERE n_nationkey = 5
    UNION ALL
    SELECT 'x:c#c_nationkey', NULL, 'x:c:' || CAST(c_custkey AS VARCHAR)
    FROM customer WHERE c_nationkey = 5
    UNION ALL
    SELECT 'x:s#s_nationkey', NULL, 'x:s:' || CAST(s_suppkey AS VARCHAR)
    FROM supplier WHERE s_nationkey = 5
    """,
)


# BSBM Explore Q2: wide constant-subject star (12 projected attributes in
# the reference) + FK label hops + three OPTIONALs. Two pinned variants:
# the reference pins one product whose optional properties exist and one
# where they don't (explore-q2-{non-,}empty-optional.sparql). Here the
# "empty" OPTIONALs reference predicates absent from the mapped schema,
# so they must compile to empty scans, not errors.
_EXPLORE_Q2_CORE = """
      <x:o:7> o:o_orderstatus ?status .
      <x:o:7> o:o_totalprice ?price .
      <x:o:7> o:o_orderdate ?date .
      <x:o:7> o:o_orderpriority ?prio .
      <x:o:7> o:o_custkey ?c .
      ?c c:c_name ?cust_name .
      ?c c:c_nationkey ?n .
      ?n n:n_name ?nat_name .
"""

_q(
    "q_bsbm_explore_q2_nonempty",
    f"""
    SELECT ?status ?price ?date ?prio ?cust_name ?nat_name
           ?opt_total ?opt_prio ?opt_seg WHERE {{
      {_EXPLORE_Q2_CORE}
      OPTIONAL {{ <x:o:7> o:o_totalprice ?opt_total . }}
      OPTIONAL {{ <x:o:7> o:o_orderpriority ?opt_prio . }}
      OPTIONAL {{ ?c c:c_mktsegment ?opt_seg . }}
    }}
    ORDER BY ?status ?price ?date ?prio ?cust_name ?nat_name
             ?opt_total ?opt_prio ?opt_seg
    """,
    [("status", "str"), ("price", "double"), ("date", "timestamp"),
     ("prio", "str"), ("cust_name", "str"), ("nat_name", "str"),
     ("opt_total", "double"), ("opt_prio", "str"), ("opt_seg", "str")],
    """
    SELECT o_orderstatus AS status, o_totalprice AS price,
           o_orderdate AS date, o_orderpriority AS prio,
           c_name AS cust_name, n_name AS nat_name,
           o_totalprice AS opt_total, o_orderpriority AS opt_prio,
           c_mktsegment AS opt_seg
    FROM orders
    JOIN customer ON c_custkey = o_custkey
    JOIN nation   ON n_nationkey = c_nationkey
    WHERE o_orderkey = 7
    """,
)

_q(
    "q_bsbm_explore_q2_empty",
    f"""
    SELECT ?status ?price ?date ?prio ?cust_name ?nat_name
           ?comment ?clerk ?shipprio WHERE {{
      {_EXPLORE_Q2_CORE}
      OPTIONAL {{ <x:o:7> o:o_comment ?comment . }}
      OPTIONAL {{ <x:o:7> o:o_clerk ?clerk . }}
      OPTIONAL {{ <x:o:7> o:o_shippriority ?shipprio . }}
    }}
    ORDER BY ?status ?price ?date ?prio ?cust_name ?nat_name
             ?comment ?clerk ?shipprio
    """,
    [("status", "str"), ("price", "double"), ("date", "timestamp"),
     ("prio", "str"), ("cust_name", "str"), ("nat_name", "str"),
     ("comment", "str"), ("clerk", "str"), ("shipprio", "str")],
    """
    SELECT o_orderstatus AS status, o_totalprice AS price,
           o_orderdate AS date, o_orderpriority AS prio,
           c_name AS cust_name, n_name AS nat_name,
           CAST(NULL AS VARCHAR) AS comment,
           CAST(NULL AS VARCHAR) AS clerk,
           CAST(NULL AS VARCHAR) AS shipprio
    FROM orders
    JOIN customer ON c_custkey = o_custkey
    JOIN nation   ON n_nationkey = c_nationkey
    WHERE o_orderkey = 7
    """,
)

# BSBM Explore Q7: one product's label + two INDEPENDENT optional chains
# (offers from one country's vendors with a date filter; reviews with
# nested per-rating OPTIONALs) — a left-deep tree whose optional sides
# multiply (explore-q7.sparql).
_q(
    "q_bsbm_explore_q7",
    """
    SELECT ?product_label ?price ?vendor_name ?ord_prio ?cust_name
           ?qty ?tax WHERE {
      <x:p:42> p:p_name ?product_label .
      OPTIONAL {
        ?offer l:l_partkey <x:p:42> .
        ?offer l:l_extendedprice ?price .
        ?offer l:l_suppkey ?vendor .
        ?vendor s:s_name ?vendor_name .
        ?vendor s:s_nationkey <x:n:4> .
        ?offer l:l_shipdate ?vdate .
        FILTER(?vdate > "1996-06-20T00:00:00"^^xsd:dateTime)
      }
      OPTIONAL {
        ?rli l:l_partkey <x:p:42> .
        ?rli l:l_orderkey ?rev .
        ?rev o:o_orderpriority ?ord_prio .
        ?rev o:o_custkey ?cust .
        ?cust c:c_name ?cust_name .
        OPTIONAL { ?rli l:l_quantity ?qty . FILTER(?qty >= 20.0) }
        OPTIONAL { ?rli l:l_tax ?tax . FILTER(?tax > 0.04) }
      }
    }
    ORDER BY ?product_label ?price ?vendor_name ?ord_prio ?cust_name
             ?qty ?tax
    """,
    [("product_label", "str"), ("price", "double"), ("vendor_name", "str"),
     ("ord_prio", "str"), ("cust_name", "str"), ("qty", "double"),
     ("tax", "double")],
    """
    WITH offers AS (
      SELECT l_extendedprice AS price, s_name AS vendor_name
      FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
      WHERE l_partkey = 42 AND s_nationkey = 4
        AND l_shipdate > TIMESTAMP '1996-06-20'
    ),
    reviews AS (
      SELECT o_orderpriority AS ord_prio, c_name AS cust_name,
             CASE WHEN l_quantity >= 20.0 THEN l_quantity END AS qty,
             CASE WHEN l_tax > 0.04 THEN l_tax END AS tax
      FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      WHERE l_partkey = 42
    )
    SELECT p_name AS product_label, offers.price, offers.vendor_name,
           reviews.ord_prio, reviews.cust_name, reviews.qty, reviews.tax
    FROM part
    LEFT JOIN offers  ON TRUE
    LEFT JOIN reviews ON TRUE
    WHERE p_partkey = 42
    """,
)

# BSBM BI Q1: review count per product type with producer-country and
# reviewer-country anchors, via the BI count-alias + BIND-rename subquery
# indirection (bi-q1.sparql).
_q(
    "q_bsbm_bi_q1",
    """
    SELECT ?ptype ?reviewCount WHERE {
      {
        SELECT ?ptype ?reviewCount WHERE {
          {
            SELECT (COUNT(?rev) AS ?cnt) ?ptype WHERE {
              ?product p:p_type ?ptype .
              ?li l:l_partkey ?product .
              ?li l:l_suppkey ?producer .
              ?producer s:s_nationkey <x:n:3> .
              ?li l:l_orderkey ?rev .
              ?rev o:o_custkey ?reviewer .
              ?reviewer c:c_nationkey <x:n:7> .
            }
            GROUP BY ?ptype
          }
          BIND(?cnt AS ?reviewCount)
        }
      }
    }
    ORDER BY DESC(?reviewCount) ASC(?ptype)
    LIMIT 10
    """,
    [("ptype", "str"), ("reviewCount", "long")],
    """
    SELECT p_type AS ptype, COUNT(*) AS reviewCount
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    WHERE s_nationkey = 3 AND c_nationkey = 7
    GROUP BY p_type
    ORDER BY reviewCount DESC, ptype ASC
    LIMIT 10
    """,
)

# BSBM BI Q2: products sharing the most "features" with a pinned product
# — feature-equality FILTER over a UNION of the two categorical columns,
# count per product, self-exclusion (bi-q2.sparql).
_q(
    "q_bsbm_bi_q2",
    """
    SELECT ?otherProduct ?sameFeatures WHERE {
      ?otherProduct a <x:class:part> .
      {
        SELECT ?otherProduct ?sameFeatures WHERE {
          {
            SELECT (COUNT(?otherFeature) AS ?cnt) ?otherProduct WHERE {
              {
                <x:p:42> p:p_brand ?feature .
                ?otherProduct p:p_brand ?otherFeature .
              }
              UNION
              {
                <x:p:42> p:p_type ?feature .
                ?otherProduct p:p_type ?otherFeature .
              }
              FILTER(?feature = ?otherFeature)
            }
            GROUP BY ?otherProduct
          }
          BIND(?cnt AS ?sameFeatures)
        }
      }
      FILTER(!(?otherProduct = <x:p:42>))
    }
    ORDER BY DESC(?sameFeatures) ASC(?otherProduct)
    LIMIT 10
    """,
    [("otherProduct", "str"), ("sameFeatures", "long")],
    """
    WITH x AS (SELECT p_brand, p_type FROM part WHERE p_partkey = 42)
    SELECT 'x:p:' || CAST(p.p_partkey AS VARCHAR) AS otherProduct,
           (CAST(p.p_brand = x.p_brand AS INT)
            + CAST(p.p_type = x.p_type AS INT))::BIGINT AS sameFeatures
    FROM part p, x
    WHERE p.p_partkey <> 42
      AND (p.p_brand = x.p_brand OR p.p_type = x.p_type)
    ORDER BY sameFeatures DESC, otherProduct ASC
    LIMIT 10
    """,
)

# BSBM BI Q7: top-1000 products of a type by offer count, then keep those
# with NO offer from a pinned country's vendors — ORDER+LIMIT inside a
# subselect feeding a correlated NOT EXISTS (bi-q7.sparql).
_q(
    "q_bsbm_bi_q7",
    """
    SELECT ?product WHERE {
      {
        SELECT ?product WHERE {
          {
            SELECT ?product ?offerCount WHERE {
              {
                SELECT (COUNT(?offer) AS ?cnt) ?product WHERE {
                  ?product p:p_type "MEDIUM" .
                  ?offer l:l_partkey ?product .
                }
                GROUP BY ?product
              }
              BIND(?cnt AS ?offerCount)
            }
          }
        }
        ORDER BY DESC(?offerCount) ?product
        LIMIT 1000
      }
      FILTER NOT EXISTS {
        ?offer2 l:l_partkey ?product .
        ?offer2 l:l_suppkey ?vendor .
        ?vendor s:s_nationkey ?country .
        FILTER(?country = <x:n:4>)
      }
    }
    ORDER BY ?product
    """,
    [("product", "str")],
    """
    WITH top_products AS (
      SELECT 'x:p:' || CAST(l_partkey AS VARCHAR) AS product,
             l_partkey, COUNT(*) AS cnt
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_type = 'MEDIUM'
      GROUP BY l_partkey
      ORDER BY cnt DESC, product
      LIMIT 1000
    )
    SELECT product FROM top_products t
    WHERE NOT EXISTS (
      SELECT 1 FROM lineitem l JOIN supplier s ON s_suppkey = l_suppkey
      WHERE l.l_partkey = t.l_partkey AND s.s_nationkey = 4
    )
    ORDER BY product
    """,
)


# BSBM BI Q4: price ratio of products WITH each feature vs products of
# the same type WITHOUT it — the without-side pairs every distinct
# feature against every offer and prunes with a correlated NOT EXISTS
# (bi-q4.sparql). Averages via the exact-decimal sum/count convention;
# ratio rounded for the cross-engine compare and used as the sort key.
_q(
    "q_bsbm_bi_q4",
    """
    SELECT ?feature ?priceRatio WHERE {
      {
        SELECT ?feature ?withFeaturePrice WHERE {
          {
            SELECT (xsd:double(SUM(xsd:decimal(?price))) / COUNT(?price)
                    AS ?wp) ?feature WHERE {
              ?product p:p_type "STANDARD" .
              ?product p:p_brand ?feature .
              ?offer l:l_partkey ?product .
              ?offer l:l_extendedprice ?price .
            }
            GROUP BY ?feature
          }
          BIND(?wp AS ?withFeaturePrice)
        }
      }
      {
        SELECT ?feature ?withoutFeaturePrice WHERE {
          {
            SELECT (xsd:double(SUM(xsd:decimal(?price2))) / COUNT(?price2)
                    AS ?wop) ?feature WHERE {
              {
                SELECT DISTINCT ?feature WHERE {
                  ?p2 p:p_type "STANDARD" .
                  ?p2 p:p_brand ?feature .
                }
              }
              ?product2 p:p_type "STANDARD" .
              ?offer2 l:l_partkey ?product2 .
              ?offer2 l:l_extendedprice ?price2 .
              FILTER NOT EXISTS { ?product2 p:p_brand ?feature . }
            }
            GROUP BY ?feature
          }
          BIND(?wop AS ?withoutFeaturePrice)
        }
      }
      BIND(ROUND(?withFeaturePrice / ?withoutFeaturePrice * 1000000.0)
           / 1000000.0 AS ?priceRatio)
    }
    ORDER BY DESC(?priceRatio) ASC(?feature)
    LIMIT 10
    """,
    [("feature", "str"), ("priceRatio", "double")],
    f"""
    WITH std AS (
      SELECT p_partkey, p_brand FROM part WHERE p_type = 'STANDARD'
    ),
    offers AS (
      SELECT s.p_brand, l.l_extendedprice
      FROM lineitem l JOIN std s ON s.p_partkey = l.l_partkey
    ),
    with_f AS (
      SELECT p_brand AS feature,
             CAST(CAST(SUM({_dec('l_extendedprice')}) AS VARCHAR) AS DOUBLE)
               / COUNT(*) AS wp
      FROM offers GROUP BY p_brand
    ),
    without_f AS (
      SELECT f.feature,
             CAST(CAST(SUM({_dec('o.l_extendedprice')}) AS VARCHAR) AS DOUBLE)
               / COUNT(*) AS wop
      FROM (SELECT DISTINCT p_brand AS feature FROM std) f
      JOIN offers o ON o.p_brand <> f.feature
      GROUP BY f.feature
    )
    SELECT w.feature,
           ROUND(w.wp / wo.wop * 1000000.0) / 1000000.0 AS priceRatio
    FROM with_f w JOIN without_f wo ON w.feature = wo.feature
    ORDER BY priceRatio DESC, w.feature ASC
    LIMIT 10
    """,
)

# BSBM BI Q6: reviewers whose average score beats 1.5x the global average
# — the global average enters as a cross-joined scalar subquery smuggled
# through MIN() past the GROUP BY, and the score source is a 3-level
# nested UNION of four rating predicates appearing IDENTICALLY in both
# aggregations (bi-q6.sparql; a common-subquery-elimination shape).
_BI_Q6_RATINGS = """
      {{ {{ {{ {li} l:l_quantity {v} }} UNION {{ {li} l:l_tax {v} }} }}
         UNION {{ {li} l:l_discount {v} }} }}
      UNION {{ {li} l:l_extendedprice {v} }}
"""

_q(
    "q_bsbm_bi_q6",
    f"""
    SELECT ?reviewer ?reviewerAvgScore WHERE {{
      {{
        SELECT ?reviewer
               (xsd:double(SUM(xsd:decimal(?score))) / COUNT(?score) AS ?ravg)
               (MIN(?gavg) AS ?g) WHERE {{
          {{
            SELECT (xsd:double(SUM(xsd:decimal(?score0))) / COUNT(?score0)
                    AS ?gavg) WHERE {{
              ?li0 l:l_suppkey <x:s:6> .
              {_BI_Q6_RATINGS.format(li="?li0", v="?score0")}
            }}
          }}
          ?li l:l_suppkey <x:s:6> .
          ?li l:l_orderkey ?rev .
          ?rev o:o_custkey ?reviewer .
          {_BI_Q6_RATINGS.format(li="?li", v="?score")}
        }}
        GROUP BY ?reviewer
      }}
      FILTER(?ravg > ?g * 1.5)
      BIND(ROUND(?ravg * 1000000.0) / 1000000.0 AS ?reviewerAvgScore)
    }}
    ORDER BY ?reviewer ?reviewerAvgScore
    """,
    [("reviewer", "str"), ("reviewerAvgScore", "double")],
    f"""
    WITH scores AS (
      SELECT o_custkey, v FROM (
        SELECT l_orderkey, l_quantity AS v FROM lineitem WHERE l_suppkey = 6
        UNION ALL
        SELECT l_orderkey, l_tax FROM lineitem WHERE l_suppkey = 6
        UNION ALL
        SELECT l_orderkey, l_discount FROM lineitem WHERE l_suppkey = 6
        UNION ALL
        SELECT l_orderkey, l_extendedprice FROM lineitem WHERE l_suppkey = 6
      ) JOIN orders ON o_orderkey = l_orderkey
    ),
    g AS (
      SELECT CAST(CAST(SUM({_dec('v')}) AS VARCHAR) AS DOUBLE) / COUNT(*)
        AS gavg
      FROM scores
    )
    SELECT 'x:c:' || CAST(o_custkey AS VARCHAR) AS reviewer,
           ROUND(CAST(CAST(SUM({_dec('v')}) AS VARCHAR) AS DOUBLE) / COUNT(*)
                 * 1000000.0) / 1000000.0 AS reviewerAvgScore
    FROM scores, g
    GROUP BY o_custkey, g.gavg
    HAVING CAST(CAST(SUM({_dec('v')}) AS VARCHAR) AS DOUBLE) / COUNT(*)
           > g.gavg * 1.5
    ORDER BY reviewer, reviewerAvgScore
    """,
)

# BSBM BI Q8: per vendor, the fraction of its offers priced below the
# per-product average — a per-product aggregate re-joined against the
# offer rows, then two vendor-level aggregates combined (bi-q8.sparql).
# The below-average comparison is exact: price * n < sum in DECIMAL on
# both engines (no double-rounding at the boundary).
#
# r12 (guide §2.4, r11 verdict "next round" #4): the two vendor-level
# subqueries (below-average COUNT over the FILTERed star, total COUNT
# over the same star) re-evaluated the identical PROMO offer star and
# joined on ?vendor — two extra lineitem+part scans and a join for what
# one pass computes. Rewritten as CONDITIONAL aggregation over one star:
# SUM(IF(below, 1, 0)) alongside COUNT(?offer) in a single GROUP BY
# ?vendor. Equivalence: the comparison operands are always-bound
# decimals (no errors), so SUM(IF(c,1,0)) = COUNT over FILTER(c) per
# group, and HAVING > 0 reproduces the original inner join's dropping
# of vendors with zero below-average offers. Oracle SQL unchanged;
# hash-verified at sf0.001/0.01/0.1.
_q(
    "q_bsbm_bi_q8",
    """
    SELECT ?vendor ?ratio WHERE {
      {
        SELECT ?vendor
               (SUM(IF(xsd:decimal(?price) * ?nP < ?sumP,
                       "1"^^xsd:integer, "0"^^xsd:integer)) AS ?belowAvg)
               (COUNT(?offer) AS ?offerCount) WHERE {
          ?product p:p_type "PROMO" .
          ?offer l:l_partkey ?product .
          ?offer l:l_suppkey ?vendor .
          ?offer l:l_extendedprice ?price .
          {
            SELECT ?product ?sumP ?nP WHERE {
              {
                SELECT (SUM(xsd:decimal(?price2)) AS ?sumP)
                       (COUNT(?price2) AS ?nP) ?product WHERE {
                  ?product p:p_type "PROMO" .
                  ?offer2 l:l_partkey ?product .
                  ?offer2 l:l_extendedprice ?price2 .
                }
                GROUP BY ?product
              }
            }
          }
        }
        GROUP BY ?vendor
        HAVING (SUM(IF(xsd:decimal(?price) * ?nP < ?sumP,
                       "1"^^xsd:integer, "0"^^xsd:integer))
                > "0"^^xsd:integer)
      }
      BIND(ROUND(xsd:double(?belowAvg) / ?offerCount * 1000000.0)
           / 1000000.0 AS ?ratio)
    }
    ORDER BY DESC(?ratio) ASC(?vendor)
    LIMIT 10
    """,
    [("vendor", "str"), ("ratio", "double")],
    f"""
    WITH promo_offers AS (
      SELECT l_partkey, l_suppkey, l_extendedprice
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_type = 'PROMO'
    ),
    per_product AS (
      SELECT l_partkey, SUM({_dec('l_extendedprice')}) AS sum_p,
             COUNT(*) AS n_p
      FROM promo_offers GROUP BY l_partkey
    ),
    below AS (
      SELECT o.l_suppkey, COUNT(*) AS below_avg
      FROM promo_offers o JOIN per_product p ON p.l_partkey = o.l_partkey
      WHERE {_dec('o.l_extendedprice')} * p.n_p < p.sum_p
      GROUP BY o.l_suppkey
    ),
    total AS (
      SELECT l_suppkey, COUNT(*) AS offer_count
      FROM promo_offers GROUP BY l_suppkey
    )
    SELECT 'x:s:' || CAST(t.l_suppkey AS VARCHAR) AS vendor,
           ROUND(CAST(b.below_avg AS DOUBLE) / t.offer_count * 1000000.0)
             / 1000000.0 AS ratio
    FROM below b JOIN total t ON b.l_suppkey = t.l_suppkey
    ORDER BY ratio DESC, vendor ASC
    LIMIT 10
    """,
)


# BSBM Explore Q9: DESCRIBE driven by a subselect (explore-q9.sparql —
# "describe the reviewer of a pinned review"; here: the customer of a
# pinned order).
def _run_bsbm_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = get_graph(spark, sf_dir)
    res = store.query(PROLOGUE + """
      DESCRIBE ?x WHERE { SELECT ?x WHERE { <x:o:7> o:o_custkey ?x } }
    """)
    from .functions.typed_ops import lexical_of
    return _owning(res.df.select(
        F.col("subject")["v"].alias("s"),
        F.col("predicate")["v"].alias("p"),
        lexical_of(F.col("object")).alias("o"),
    ), res)


BSBM_DESCRIBE_ORACLE = """
WITH c AS (
  SELECT * FROM customer
  WHERE c_custkey = (SELECT o_custkey FROM orders WHERE o_orderkey = 7)
)
SELECT 'x:c:' || CAST(c_custkey AS VARCHAR) AS s,
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS p,
       'x:class:customer' AS o
FROM c
UNION ALL
SELECT 'x:c:' || CAST(c_custkey AS VARCHAR), 'x:c#c_custkey',
       CAST(c_custkey AS VARCHAR) FROM c
UNION ALL
SELECT 'x:c:' || CAST(c_custkey AS VARCHAR), 'x:c#c_name', c_name FROM c
UNION ALL
SELECT 'x:c:' || CAST(c_custkey AS VARCHAR), 'x:c#c_nationkey',
       'x:n:' || CAST(c_nationkey AS VARCHAR) FROM c
UNION ALL
SELECT 'x:c:' || CAST(c_custkey AS VARCHAR), 'x:c#c_acctbal',
       CAST(c_acctbal AS VARCHAR) FROM c
UNION ALL
SELECT 'x:c:' || CAST(c_custkey AS VARCHAR), 'x:c#c_mktsegment',
       c_mktsegment FROM c
"""


# BSBM Explore Q12: CONSTRUCT an "export" record for one entity from a
# constant-subject star wrapped in SELECT * (explore-q12.sparql).
def _run_bsbm_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = get_graph(spark, sf_dir)
    res = store.query(PROLOGUE + """
      CONSTRUCT {
        <x:o:7> <x:export#customer>   ?cust .
        <x:o:7> <x:export#custname>   ?cust_name .
        <x:o:7> <x:export#nation>     ?nat_name .
        <x:o:7> <x:export#price>      ?price .
        <x:o:7> <x:export#status>     ?status .
        <x:o:7> <x:export#validuntil> ?date .
      }
      WHERE {
        SELECT * WHERE {
          <x:o:7> o:o_custkey ?cust .
          ?cust c:c_name ?cust_name .
          ?cust c:c_nationkey ?nat .
          ?nat n:n_name ?nat_name .
          <x:o:7> o:o_totalprice ?price .
          <x:o:7> o:o_orderstatus ?status .
          <x:o:7> o:o_orderdate ?date .
        }
      }
    """)
    from .functions.typed_ops import lexical_of
    return _owning(res.df.select(
        F.col("subject")["v"].alias("s"),
        F.col("predicate")["v"].alias("p"),
        lexical_of(F.col("object")).alias("o"),
    ), res)


BSBM_CONSTRUCT_ORACLE = """
WITH rec AS (
  SELECT * FROM orders
  JOIN customer ON c_custkey = o_custkey
  JOIN nation   ON n_nationkey = c_nationkey
  WHERE o_orderkey = 7
)
SELECT 'x:o:7' AS s, 'x:export#customer' AS p,
       'x:c:' || CAST(c_custkey AS VARCHAR) AS o FROM rec
UNION ALL
SELECT 'x:o:7', 'x:export#custname', c_name FROM rec
UNION ALL
SELECT 'x:o:7', 'x:export#nation', n_name FROM rec
UNION ALL
SELECT 'x:o:7', 'x:export#price', CAST(o_totalprice AS VARCHAR) FROM rec
UNION ALL
SELECT 'x:o:7', 'x:export#status', o_orderstatus FROM rec
UNION ALL
SELECT 'x:o:7', 'x:export#validuntil',
       REPLACE(CAST(o_orderdate AS VARCHAR), ' ', 'T') FROM rec
"""


def _pipe_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer→supplier trade graph (edges = distinct
    (o_custkey, l_suppkey) via lineitem⋈orders) — the pipeline-side graph
    analytics operator (pipeline/graphs.py). Node ids are namespaced
    ('c:'/'s:') since the key spaces overlap. Deterministic across
    engines: decimal-exact contribution sums, IEEE double steps in fixed
    order; the oracle unrolls one CTE per iteration."""
    from .pipeline.graphs import pagerank
    from .sources.relational import read_table
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    od = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e = (li.join(od, li["l_orderkey"] == od["o_orderkey"])
         .select(F.concat(F.lit("c:"), F.col("o_custkey").cast("string"))
                 .alias("src"),
                 F.concat(F.lit("s:"), F.col("l_suppkey").cast("string"))
                 .alias("dst")))
    r = pagerank(e)
    rank6 = F.round(F.col("rank"), 9)
    return (r.select(F.col("node"), rank6.alias("rank"))
            .orderBy(F.desc("rank"), F.asc("node")).limit(20))


def _pagerank_oracle() -> str:
    from .pipeline.graphs import PAGERANK_DAMPING, PAGERANK_ITERS
    d = PAGERANK_DAMPING
    # DOUBLE casts everywhere: DuckDB parses bare 1.0/0.85 as DECIMAL,
    # whose exact arithmetic diverges from the engine's IEEE doubles
    base = f"((CAST(1.0 AS DOUBLE) - CAST({d} AS DOUBLE)) / (SELECT n FROM params))"
    prev = "r0"
    iters_sql = []
    for i in range(1, PAGERANK_ITERS + 1):
        iters_sql.append(f"""r{i} AS (
  SELECT nodes.node,
         {base} + CAST({d} AS DOUBLE) *
           COALESCE(CAST(c.s AS DOUBLE), CAST(0.0 AS DOUBLE)) AS rank
  FROM nodes LEFT JOIN (
    SELECT e.dst AS node,
           SUM(CAST({prev}.rank / deg.deg AS DECIMAL(38,18))) AS s
    FROM e JOIN {prev} ON e.src = {prev}.node
           JOIN deg ON e.src = deg.src
    GROUP BY e.dst) c ON nodes.node = c.node
)""")
        prev = f"r{i}"
    return f"""
WITH e AS (
  SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS src,
                  's:' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
params AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM params) AS rank
       FROM nodes),
{",".join(iters_sql)}
SELECT node, ROUND(rank, 9) AS rank FROM {prev}
ORDER BY ROUND(rank, 9) DESC, node LIMIT 20
"""


def _pipe_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts over the supplier co-purchase graph (suppliers
    sharing an order are connected) — a co-occurrence density signal;
    integer-exact, so the oracle is a literal SQL mirror."""
    from .pipeline.graphs import triangles_per_node
    from .sources.relational import read_table
    li = read_table(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_suppkey")
    a, b = li.alias("a"), li.alias("b")
    e = (a.join(b, "l_orderkey")
         .where(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
         .select(F.col("a.l_suppkey").cast("string").alias("src"),
                 F.col("b.l_suppkey").cast("string").alias("dst")))
    t = triangles_per_node(e)
    return (t.select(F.col("node"), F.col("triangles").cast("long")
                     .alias("triangles"))
            .orderBy(F.desc("triangles"), F.asc("node")).limit(20))


TRIANGLES_ORACLE = """
WITH und AS (
  SELECT DISTINCT CAST(a.l_suppkey AS VARCHAR) AS a,
                  CAST(b.l_suppkey AS VARCHAR) AS b
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_suppkey < b.l_suppkey
),
-- engine-side canonicalization re-orders by STRING (least/greatest on
-- varchar); mirror it — numeric a<b does not imply string a<b
canon AS (
  SELECT DISTINCT LEAST(a, b) AS a, GREATEST(a, b) AS b FROM und
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM canon e1 JOIN canon e2 ON e1.b = e2.a
       JOIN canon e3 ON e3.a = e1.a AND e3.b = e2.b
),
corners AS (
  SELECT x AS node FROM tri UNION ALL
  SELECT y FROM tri UNION ALL
  SELECT z FROM tri
)
SELECT node, COUNT(*) AS triangles FROM corners
GROUP BY node ORDER BY triangles DESC, node LIMIT 20
"""


def _pipe_ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k over int8 scalar-quantized embeddings (the
    memory-bandwidth configuration of the ANN stack — 1/8th the scan
    bytes, dequantize-on-score). floor(+0.5) quantization is exact IEEE,
    so the oracle reproduces identical codes and identical cosines."""
    from .pipeline.similarity import quantized_cosine_topk
    embs = _embs(spark, sf_dir)
    out = quantized_cosine_topk(
        embs, embs.where(F.col("vec_id") < ANN_NUM_QUERIES), ANN_K)
    return out.select("query_id", F.col("rank").cast("long").alias("rank"),
                      "neighbor_id", F.round(F.col("cosine"), 9).alias("cosine"))


ANN_QUANTIZED_ORACLE = f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
  FROM embeddings
),
scaled AS (
  SELECT vec_id, e,
         CASE WHEN m > 0 THEN m / CAST(127.0 AS DOUBLE)
              ELSE CAST(1.0 AS DOUBLE) END AS scale
  FROM (SELECT vec_id, e,
               list_max(list_transform(e, x -> abs(x))) AS m
        FROM base)
),
deq AS (
  SELECT vec_id,
         list_transform(e, x -> floor(x / scale + CAST(0.5 AS DOUBLE))
                                * scale) AS d
  FROM scaled
),
q AS (SELECT vec_id AS query_id, d FROM deq
      WHERE vec_id < {ANN_NUM_QUERIES}),
c AS (SELECT vec_id AS neighbor_id, d FROM deq),
s AS (
  SELECT query_id, neighbor_id,
         list_dot_product(q.d, c.d)
         / (sqrt(list_dot_product(q.d, q.d))
            * sqrt(list_dot_product(c.d, c.d))) AS cosine
  FROM q JOIN c ON query_id <> neighbor_id
)
SELECT query_id, rnk::BIGINT AS rank, neighbor_id,
       ROUND(cosine, 9) AS cosine
FROM (SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM s)
WHERE rnk <= {ANN_K}
"""


def _pipe_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most repetitive documents by intra-doc bigram duplication
    (the boilerplate/decoding-loop quality signal)."""
    from .pipeline.text import with_repetition_ratio
    d = with_repetition_ratio(_docs(spark, sf_dir))
    return (d.select("doc_id", "repetition_ratio")
            .orderBy(F.desc("repetition_ratio"), F.asc("doc_id"))
            .limit(20))


BM25_QUERY = "spark hash join window"


def _pipe_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per document by smoothed TF-IDF
    (pipeline/text.py tfidf_top_terms), limited to the first 50 docs so
    the gate compares a bounded relation."""
    from .pipeline.text import tfidf_top_terms
    return tfidf_top_terms(
        _docs(spark, sf_dir).where(F.col("doc_id") < 50), k=5)


def _pipe_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 documents for a fixed query string (pipeline/text.py
    bm25_topk) — lexical retrieval, the non-embedding half of similarity
    search."""
    from .pipeline.text import bm25_topk
    return bm25_topk(_docs(spark, sf_dir), BM25_QUERY, k=10)


def _pipe_token_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard token-count distribution (p50/p90/p99) — the corpus
    length-profile report every training-data pipeline runs before
    packing/chunking decisions. Spark's exact interpolated `percentile`
    matches DuckDB's quantile_cont convention (index p·(n−1), linear)."""
    from .pipeline.text import with_text_stats
    d = with_text_stats(_docs(spark, sf_dir))
    t = F.col("n_tokens").cast("double")
    return (d.groupBy((F.col("doc_id") % 4).cast("long").alias("shard"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.percentile(t, F.lit(0.5)), 6).alias("p50"),
                 F.round(F.percentile(t, F.lit(0.9)), 6).alias("p90"),
                 F.round(F.percentile(t, F.lit(0.99)), 6).alias("p99"))
            .orderBy("shard"))


def _pipe_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/10 train/validation split by id hash, stratified
    report: per (split, length band) document counts and token means —
    the held-out-set construction every training pipeline needs, with a
    split that is reproducible across engines and runs (md5, no RNG)."""
    from .pipeline.curation import sample_hash
    from .pipeline.text import with_text_stats
    d = with_text_stats(_docs(spark, sf_dir))
    frac = sample_hash(F.col("doc_id")) / F.lit(float(1 << 32))
    split = F.when(frac < 0.9, F.lit("train")).otherwise(F.lit("val"))
    band = F.when(F.col("n_tokens") < 40, F.lit("short")) \
        .when(F.col("n_tokens") < 80, F.lit("medium")).otherwise(F.lit("long"))
    # decimal-exact sum → double division: order-independent mean that
    # both engines reproduce bit-for-bit (the q1 discipline)
    mean = (F.sum(F.col("n_tokens").cast("decimal(38,18)")).cast("double")
            / F.count(F.lit(1)))
    return (d.groupBy(split.alias("split"), band.alias("band"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(mean, 6).alias("avg_tokens"))
            .orderBy("split", "band"))


def _pipe_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline.text import top_words
    return top_words(_docs(spark, sf_dir), 20).select(
        "word", F.col("n_occurrences").cast("long").alias("n_occurrences"),
        F.col("n_docs").cast("long").alias("n_docs"))


SIMHASH_MAX_DISTANCE = 3


def _pipe_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash end-to-end: per-doc signatures (sig_a/sig_b oracle-check the
    signature computation) + banded candidate join + hamming verify."""
    from .pipeline.dedup import simhash_near_dup_pairs
    out = simhash_near_dup_pairs(_docs(spark, sf_dir), SIMHASH_MAX_DISTANCE)
    return out.select("id_a", "id_b",
                      F.col("sig_a").cast("long").alias("sig_a"),
                      F.col("sig_b").cast("long").alias("sig_b"),
                      F.col("hamming").cast("long").alias("hamming"))


SESSION_GAP_MINUTES = 30


def _pipe_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline.sessions import session_stats
    from .sources.relational import read_table
    ev = read_table(spark, sf_dir, "events")
    out = session_stats(ev, SESSION_GAP_MINUTES)
    return out.select("user_id", F.col("n_sessions").cast("long").alias("n_sessions"),
                      F.col("n_events").cast("long").alias("n_events"),
                      F.col("max_session_events").cast("long")
                      .alias("max_session_events"),
                      F.col("active_seconds").cast("long")
                      .alias("active_seconds"))


SESSIONIZE_SLICE_MINUTES = 180  # 6h slices: many sessions straddle boundaries


def _pipe_sessions_sliced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME per-user session statistics as q_events_sessionize, but
    through the `sessionize_sliced` hot-key escalation
    (pipeline/sessions.py:35) — the path a 100-TB deployment reaches
    for when one key owns 10^8 events. r11 gate (r10 verdict #3): the
    escalation itself meets the DuckDB oracle, not only the
    plain-variant equivalence property test. The 3h slice makes many
    sf0.01 sessions cross slice boundaries, exercising the stitch."""
    from .pipeline.sessions import session_stats
    from .sources.relational import read_table
    ev = read_table(spark, sf_dir, "events")
    out = session_stats(ev, SESSION_GAP_MINUTES,
                        slice_minutes=SESSIONIZE_SLICE_MINUTES)
    return out.select(
        "user_id", F.col("n_sessions").cast("long").alias("n_sessions"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("max_session_events").cast("long").alias("max_session_events"),
        F.col("active_seconds").cast("long").alias("active_seconds"))


ASOF_SLICE_MINUTES = 1440  # 1-day slices: the 2-day tolerance spans 2-3


def _pipe_events_asof_sliced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_events_asof's exact relation through `asof_join_sliced`
    (pipeline/temporal.py:119) — the hot-key escalation gated against
    the same DuckDB native ASOF JOIN oracle (r10 verdict #3). The 1-day
    slice under the 2-day tolerance forces carry-in seeds across slice
    boundaries (a match's error event is usually in an earlier slice
    than its click)."""
    from .pipeline.temporal import asof_join_sliced, micros
    from .sources.relational import read_table
    ev = read_table(spark, sf_dir, "events")
    ts_dt = dict(ev.dtypes)["ts"]
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value")
    errors = (ev.where(F.col("event_type") == "error")
              .groupBy("user_id", "ts")
              .agg(F.max("value").alias("err_value")))
    out = asof_join_sliced(clicks, errors, ts_col="ts", by=("user_id",),
                           tolerance_s=ASOF_TOLERANCE_S,
                           slice_minutes=ASOF_SLICE_MINUTES)
    return out.select(
        "user_id", "event_id", "ts", "value",
        F.col("ts_r").alias("err_ts"),
        F.col("err_value_r").alias("err_value"),
        (micros(F.col("ts"), ts_dt) - micros(F.col("ts_r"), ts_dt))
        .cast("long").alias("lag_us"))


TOPK_PER_SOURCE = 3


def _pipe_curation_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k curation (pipeline/curation.py top_k_per_group):
    the 3 highest-quality documents per source, doc_id tiebreak."""
    from .pipeline.curation import top_k_per_group
    from .pipeline.text import with_quality_score
    docs = with_quality_score(_docs(spark, sf_dir))
    out = top_k_per_group(docs, TOPK_PER_SOURCE, "source",
                          "quality_score", "doc_id")
    return out.select("source", "doc_id", "quality_score",
                      F.col("rank").cast("long").alias("rank"))


ASOF_TOLERANCE_S = 172_800  # 2 days: splits sf0.01 clicks ~55/45 match/drop


def _pipe_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (pipeline/temporal.py asof_join): attach to each click
    event the latest prior-or-equal error event of the same user within
    a 2-day tolerance — the feature-attach temporal join the brief lists
    as a first-class custom operator (the reference, an RDF engine, has
    no temporal joins). Errors are pre-aggregated per (user, ts) because
    asof ties on the right side are unspecified in any engine."""
    from .pipeline.temporal import asof_join, micros
    from .sources.relational import read_table
    ev = read_table(spark, sf_dir, "events")
    ts_dt = dict(ev.dtypes)["ts"]
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value")
    errors = (ev.where(F.col("event_type") == "error")
              .groupBy("user_id", "ts")
              .agg(F.max("value").alias("err_value")))
    out = asof_join(clicks, errors, ts_col="ts", by=("user_id",),
                    tolerance_s=ASOF_TOLERANCE_S)
    return out.select(
        "user_id", "event_id", "ts", "value",
        F.col("ts_r").alias("err_ts"),
        F.col("err_value_r").alias("err_value"),
        (micros(F.col("ts"), ts_dt) - micros(F.col("ts_r"), ts_dt))
        .cast("long").alias("lag_us"))


INTERVAL_WINDOW_S = 21_600  # ±6 h: 491 qualifying pairs at sf0.01


def _pipe_events_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (pipeline/temporal.py interval_join): every click
    within ±6 h of an error of the same user — the bucketized
    containment join (Spark's own plan for the BETWEEN predicate is a
    quadratic nested loop; this is one equi-shuffle). Bucket width =
    the full interval length, so each interval explodes to ≤2 buckets."""
    from .pipeline.temporal import interval_join, micros
    from .sources.relational import read_table
    ev = read_table(spark, sf_dir, "events")
    ts_dt = dict(ev.dtypes)["ts"]
    us = INTERVAL_WINDOW_S * 1_000_000
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts",
        micros(F.col("ts"), ts_dt).alias("p_us"))
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("err_id"),
        F.col("ts").alias("err_ts"),
        (micros(F.col("ts"), ts_dt) - us).alias("lo_us"),
        (micros(F.col("ts"), ts_dt) + us).alias("hi_us"))
    out = interval_join(clicks, errors, "p_us", "lo_us", "hi_us",
                        bucket_width=2 * us, by=("user_id",))
    return out.select(
        "user_id", "event_id", "ts",
        F.col("err_id_i").alias("err_id"),
        F.col("err_ts_i").alias("err_ts"),
        (F.col("p_us") - F.col("lo_us_i") - us).alias("lag_us"))


def _pipe_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector statistics: count and min/max L2 norm — the
    sanity-check pass every embedding corpus gets before indexing."""
    from .pipeline.similarity import norm
    e = _embs(spark, sf_dir)
    n = norm(F.transform("embedding", lambda x: x.cast("double")))
    return (e.select("label", n.alias("nrm"))
            .groupBy("label")
            .agg(F.count("*").cast("long").alias("n_vecs"),
                 F.min("nrm").alias("min_norm"),
                 F.max("nrm").alias("max_norm")))


def _pipe_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: the events stream's JSON props column
    parsed JVM-side (get_json_object — no Python in the row path) and
    aggregated per event type. The everyday shape of event-pipeline
    enrichment at any scale (one scan, one map-side-combined shuffle)."""
    from .sources.relational import read_table
    ev = read_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (ev.groupBy("event_type")
            .agg(F.count(k).cast("long").alias("n_with_k"),
                 F.sum(k).cast("long").alias("sum_k"),
                 F.min(k).cast("long").alias("min_k"),
                 F.max(k).cast("long").alias("max_k")))


def _pipe_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline.dedup import normalized_dedup_groups
    return normalized_dedup_groups(_docs(spark, sf_dir)).select(
        "norm_hash", F.col("n_docs").cast("long").alias("n_docs"),
        "canonical_id")


def _pipe_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: documents re-cast as binary media
    rows (payload = encoded text), byte-budget repartition, Arrow-batched
    mapInPandas feature extraction with the deterministic fake decoder.
    The exact-integer features (length, first byte, last byte) are
    oracle-checkable; real decoders drop in via register_decoder."""
    from .pipeline.multimodal import (
        deterministic_fake_decoder,
        extract_features,
        repartition_by_bytes,
    )
    media = _docs(spark, sf_dir).where(
        F.col("text").isNotNull() & (F.length("text") > 0)).select(
        F.col("doc_id").alias("media_id"), F.lit("image").alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit("image/x-fake").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("sample_rate"),
        F.lit(None).cast("long").alias("duration_ms"))
    media = repartition_by_bytes(media, target_bytes=1 << 20)
    feats = extract_features(media, deterministic_fake_decoder)
    return feats.select(
        "media_id", "kind", F.col("n_bytes").cast("long").alias("n_bytes"),
        F.element_at("feature", 1).cast("double").alias("f_len"),
        F.element_at("feature", 3).cast("double").alias("f_first"),
        F.element_at("feature", 4).cast("double").alias("f_last"))


def _pipe_stream_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming end-to-end: readStream(parquet) → watermarked
    1-hour windowed counts per event type → availableNow drain into a
    memory sink; on the driver's static input this is deterministic, so
    the SAME DuckDB oracle that checks batch queries checks the stream.
    """
    import tempfile
    import uuid

    from .sources.relational import _nanos_ts_columns, configure_session
    from .streaming.events import (
        EVENT_SCHEMA,
        run_to_memory,
        windowed_event_counts,
    )

    configure_session(spark)
    path = f"{sf_dir}/events.parquet"
    nanos = set(_nanos_ts_columns(path))
    from pyspark.sql import types as T
    fields = [
        T.StructField(f.name, T.LongType() if f.name in nanos else f.dataType)
        for f in EVENT_SCHEMA.fields
    ]
    # the file stream source requires a directory: stream the sf dir with
    # a glob filter selecting only the events file
    stream = (spark.readStream.schema(T.StructType(fields))
              .option("pathGlobFilter", "events.parquet")
              .option("recursiveFileLookup", "false")
              .parquet(sf_dir))
    for c in nanos:
        stream = stream.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    # exact decimal sum (string round-trip, same as the batch queries)
    stream = stream.withColumn(
        "value", F.col("value").cast("string").cast("decimal(38,18)"))
    out = windowed_event_counts(stream, "1 hour")
    name = f"stream_counts_{uuid.uuid4().hex[:8]}"
    run_to_memory(out, name, tempfile.mkdtemp(prefix="rfs_ckpt_"))
    return spark.table(name).select(
        "window_start", "window_end", "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("total_value").cast("string").cast("double")
        .alias("total_value"))


def _pipe_stream_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator end-to-end: readStream(parquet)
    → applyInPandasWithState running per-user totals (streaming/events.py
    running_user_totals: Arrow-batched GroupState, update mode) →
    availableNow drain into a memory sink. On the driver's static input
    the FINAL state per user equals the plain batch aggregate, so a
    DuckDB GROUP BY is the oracle — the applyInPandasWithState path gets
    a full hash gate, not just local tests. total_value is rounded to
    1e-6 on both sides: pandas and DuckDB sum the same float64 values in
    different orders (~1e-13 relative drift)."""
    import tempfile
    import uuid

    from .sources.relational import _nanos_ts_columns, configure_session
    from .streaming.events import (
        EVENT_SCHEMA,
        run_to_memory,
        running_user_totals,
    )

    configure_session(spark)
    path = f"{sf_dir}/events.parquet"
    nanos = set(_nanos_ts_columns(path))
    from pyspark.sql import types as T
    fields = [
        T.StructField(f.name, T.LongType() if f.name in nanos else f.dataType)
        for f in EVENT_SCHEMA.fields
    ]
    stream = (spark.readStream.schema(T.StructType(fields))
              .option("pathGlobFilter", "events.parquet")
              .option("recursiveFileLookup", "false")
              .parquet(sf_dir))
    for c in nanos:
        stream = stream.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    out = running_user_totals(stream.select("user_id", "ts", "value"))
    name = f"stream_totals_{uuid.uuid4().hex[:8]}"
    run_to_memory(out, name, tempfile.mkdtemp(prefix="rfs_ckpt_"),
                  output_mode="update")
    # update mode emits one row per (user, micro-batch); the FINAL state
    # is the emission with the highest running count
    final = (spark.table(name)
             .groupBy("user_id")
             .agg(F.max(F.struct("n_events", "total_value")).alias("m")))
    return final.select(
        "user_id", F.col("m.n_events").cast("long").alias("n_events"),
        F.round(F.col("m.total_value"), 6).alias("total_value"))


def _pipe_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming gap-sessionization end-to-end: readStream(parquet) →
    session_window(30 min) per user → availableNow drain (complete
    mode). session_window merges an event exactly `gap` after the
    previous one (verified empirically: diff == gap merges, > gap
    splits), which is the SAME rule as the batch sessionizer's
    `gap > 30 min` split — so the batch DuckDB session CTE is the
    oracle, with session_end = max(ts) + gap. session_value rounded to
    1e-6 on both sides (float64 summation order)."""
    import tempfile
    import uuid

    from .sources.relational import _nanos_ts_columns, configure_session
    from .streaming.events import EVENT_SCHEMA, run_to_memory, sessionize

    configure_session(spark)
    path = f"{sf_dir}/events.parquet"
    nanos = set(_nanos_ts_columns(path))
    from pyspark.sql import types as T
    fields = [
        T.StructField(f.name, T.LongType() if f.name in nanos else f.dataType)
        for f in EVENT_SCHEMA.fields
    ]
    stream = (spark.readStream.schema(T.StructType(fields))
              .option("pathGlobFilter", "events.parquet")
              .option("recursiveFileLookup", "false")
              .parquet(sf_dir))
    for c in nanos:
        stream = stream.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    out = sessionize(stream, gap=f"{SESSION_GAP_MINUTES} minutes")
    name = f"stream_sessions_{uuid.uuid4().hex[:8]}"
    run_to_memory(out, name, tempfile.mkdtemp(prefix="rfs_ckpt_"))
    return spark.table(name).select(
        "user_id", "session_start", "session_end",
        F.col("n_events").cast("long").alias("n_events"),
        F.round(F.col("session_value"), 6).alias("session_value"))


def _pipe_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-STREAM interval join end-to-end
    (streaming/events.py interval_join): view→purchase attribution —
    each view event paired with same-user purchases landing within 10
    minutes after it. Both sides are filters of one file stream (a
    stream self-join); watermarks bound the join state; inner-join
    append mode emits matches eagerly, so the availableNow drain over
    the driver's static input is deterministic and a plain DuckDB range
    join is the oracle."""
    import tempfile
    import uuid

    from .sources.relational import _nanos_ts_columns, configure_session
    from .streaming.events import EVENT_SCHEMA, interval_join, run_to_memory

    configure_session(spark)
    nanos = set(_nanos_ts_columns(f"{sf_dir}/events.parquet"))
    from pyspark.sql import types as T
    fields = [
        T.StructField(f.name, T.LongType() if f.name in nanos else f.dataType)
        for f in EVENT_SCHEMA.fields
    ]
    stream = (spark.readStream.schema(T.StructType(fields))
              .option("pathGlobFilter", "events.parquet")
              .option("recursiveFileLookup", "false")
              .parquet(sf_dir))
    for c in nanos:
        stream = stream.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    ev = stream.select("user_id", "ts", "event_id", "event_type")
    left = ev.where(F.col("event_type") == "view") \
        .select("user_id", "ts", "event_id")
    right = ev.where(F.col("event_type") == "purchase") \
        .select("user_id", "ts", "event_id")
    out = interval_join(left, right, key="user_id", time_col="ts",
                        tolerance="10 minutes", watermark="30 minutes")
    name = f"stream_ij_{uuid.uuid4().hex[:8]}"
    run_to_memory(out, name, tempfile.mkdtemp(prefix="rfs_ckpt_"),
                  output_mode="append")
    return spark.table(name).select(
        "user_id", "l_ts", F.col("l_event_id").cast("long").alias("view_id"),
        "r_ts", F.col("r_event_id").cast("long").alias("purchase_id"))


def _pipe_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup end-to-end (streaming/events.py
    dedup_stream = dropDuplicatesWithinWatermark on event_id): the
    events stream UNIONED WITH ITSELF (every event twice, identical ts,
    so every duplicate is inside any watermark horizon) must come out
    as exactly the original events — the oracle is a plain projection.
    A failed dedup doubles the row count; a dropped event loses rows."""
    import tempfile
    import uuid

    from .sources.relational import _nanos_ts_columns, configure_session
    from .streaming.events import EVENT_SCHEMA, dedup_stream, run_to_memory

    configure_session(spark)
    nanos = set(_nanos_ts_columns(f"{sf_dir}/events.parquet"))
    from pyspark.sql import types as T
    fields = [
        T.StructField(f.name, T.LongType() if f.name in nanos else f.dataType)
        for f in EVENT_SCHEMA.fields
    ]
    stream = (spark.readStream.schema(T.StructType(fields))
              .option("pathGlobFilter", "events.parquet")
              .option("recursiveFileLookup", "false")
              .parquet(sf_dir))
    for c in nanos:
        stream = stream.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    doubled = stream.unionByName(stream)
    out = dedup_stream(doubled.select("event_id", "ts", "user_id",
                                      "event_type", "value"))
    name = f"stream_dd_{uuid.uuid4().hex[:8]}"
    run_to_memory(out, name, tempfile.mkdtemp(prefix="rfs_ckpt_"),
                  output_mode="append")
    return spark.table(name).select(
        "event_id", "ts", "user_id", "event_type",
        F.round(F.col("value"), 6).alias("value"))


def _pipe_stream_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming RDF ingestion + continuous pattern match end-to-end
    (streaming/ingest.py stream_ntriples + match_pattern_stream): the
    nation table is serialized to an N-Triples landing directory (the
    shape a crawler/ingest pipeline drops), streamed back as quads, and
    a (?s <name> ?o) pattern matched continuously; the availableNow
    drain makes the result the full static match, so the oracle is a
    plain projection of the source table."""
    import tempfile
    import uuid

    from .streaming.events import run_to_memory
    from .streaming.ingest import match_pattern_stream, stream_ntriples
    from .terms import NamedNode

    from .sources.ntriples import _escape as _nt_escape

    landing = tempfile.mkdtemp(prefix="rfs_nt_landing_")
    # the literal is escaped per the N-Triples grammar (r11 ADVICE: raw
    # concatenation would emit corrupt lines for values containing '"'
    # or '\', which strict=False parsing silently drops — vacuous gate)
    nt = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        F.concat(F.lit("<http://example.org/nation/"),
                 F.col("n_nationkey").cast("string"),
                 F.lit("> <http://example.org/vocab#name> \""),
                 _nt_escape(F.col("n_name")), F.lit("\" .")).alias("value"))
    nt.coalesce(2).write.mode("overwrite").text(landing)
    quads = stream_ntriples(spark, landing)
    out = match_pattern_stream(
        quads, predicate=NamedNode("http://example.org/vocab#name"))
    name = f"stream_pm_{uuid.uuid4().hex[:8]}"
    run_to_memory(out, name, tempfile.mkdtemp(prefix="rfs_ckpt_"),
                  output_mode="append")
    return spark.table(name).select(
        F.col("subject")["v"].alias("nation_iri"),
        F.col("object")["v"].alias("name"))


PIPELINE_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_text_stats": _pipe_text_stats,
    "q_text_language_id": _pipe_language_id,
    "q_dedup_exact": _pipe_dedup_exact,
    "q_text_chunks": _pipe_text_chunks,
    "q_decontaminate": _pipe_decontaminate,
    "q_dedup_jaccard_pairs": _pipe_dedup_jaccard,
    "q_dedup_minhash_lsh": _pipe_dedup_minhash,
    "q_dedup_incremental": _pipe_dedup_incremental,
    "q_dedup_index_merge": _pipe_dedup_index_merge,
    "q_dedup_clusters": _pipe_dedup_clusters,
    "q_dedup_simhash": _pipe_simhash_pairs,
    "q_ann_cosine_topk": _pipe_ann_cosine,
    "q_ann_lsh": _pipe_ann_lsh,
    "q_ann_ivf": _pipe_ann_ivf,
    "q_dedup_embedding_cosine": _pipe_dedup_embedding,
    "q_dedup_semantic": _pipe_dedup_semantic,
    "q_text_top_words": _pipe_top_words,
    "q_pack_shards": _pipe_pack_shards,
    "q_mix_weighted": _pipe_mix_weighted,
    "q_events_sessionize": _pipe_sessions,
    "q_events_sessionize_sliced": _pipe_sessions_sliced,
    "q_events_asof": _pipe_events_asof,
    "q_events_asof_sliced": _pipe_events_asof_sliced,
    "q_events_interval_join": _pipe_events_interval,
    "q_curation_topk_quality": _pipe_curation_topk,
    "q_stream_event_counts": _pipe_stream_event_counts,
    "q_stream_running_totals": _pipe_stream_running_totals,
    "q_stream_sessions": _pipe_stream_sessions,
    "q_stream_interval_join": _pipe_stream_interval_join,
    "q_stream_pattern_match": _pipe_stream_pattern_match,
    "q_stream_dedup": _pipe_stream_dedup,
    "q_multimodal_features": _pipe_multimodal_features,
    "q_events_json_props": _pipe_events_json,
    "q_embedding_norms": _pipe_embedding_norms,
    "q_graph_pagerank": _pipe_pagerank,
    "q_graph_triangles": _pipe_triangles,
    "q_text_token_percentiles": _pipe_token_percentiles,
    "q_train_val_split": _pipe_train_val_split,
    "q_ann_quantized_topk": _pipe_ann_quantized,
    "q_text_repetition": _pipe_repetition,
    "q_text_tfidf_terms": _pipe_tfidf_terms,
    "q_text_bm25_topk": _pipe_bm25,
    "q_pii_scan": _pipe_pii,
    "q_dedup_substring": _pipe_shared_windows,
    "q_dedup_substring_removal": _pipe_substring_removal,
    "q_dedup_substring_corpus": _pipe_substring_corpus,
}


# Prepared-plan cache: repeating an identical (session, query, corpus)
# triple reuses the analyzed DataFrame instead of re-driving the whole
# parse → translate → Catalyst-analyze pipeline through py4j (measured
# 0.7–1.2 s of driver time per query — more than the sf0.1 EXECUTION of
# some chain queries). The cached DataFrame is lazy: every action
# re-executes the plan from the parquet sources, so for pure-plan
# queries a cached plan can never serve stale data. This is the
# prepared-statement / plan-cache behavior of any production engine; at
# cluster scale it makes repeated dashboard/benchmark queries pay
# translation exactly once.
#
# Queries whose BUILD phase executes data-dependent Spark jobs are
# excluded: caching them would reuse a materialization, not a plan
# (their second run would measure an index lookup, not the operator).
# Bounded LRU: a translated plan pins its localCheckpoint blocks (Kleene
# deltas, stream drains) and its SPARQL result's shared-subquery caches
# (see _owning) for as long as it is referenced — an unbounded
# cache walking the full 86-query registry pinned every query's blocks at
# once and OOMed a default 1g driver heap around query 60. 16 slots keep
# the bench's min-of-2 repeats translation-free while letting older
# plans' blocks be collected (the _GC_EVERY nudge below actually frees
# them).
from collections import OrderedDict as _OrderedDict
_PLAN_CACHE: "_OrderedDict" = _OrderedDict()
_PLAN_CACHE_MAX = 16

_NOT_CACHEABLE = {
    # semi-naive fixpoint: the closure loop (checkpointed deltas) runs at
    # build; a cached result is a materialized closure index, and its
    # bench time must reflect the iteration, not the index read
    "q_path_kleene_plus", "q_path_kleene_bound",
    # availableNow stream drain side-effects at build; each invocation
    # must re-drain the stream
    "q_stream_event_counts", "q_stream_running_totals",
    "q_stream_sessions", "q_stream_interval_join",
    "q_stream_pattern_match", "q_stream_dedup",
    # eager persist barrier (signature table) / label-propagation loop /
    # corpus-size guard count run Spark jobs at build — their bench time
    # must include that work every invocation
    "q_dedup_minhash_lsh", "q_dedup_clusters", "q_dedup_jaccard_pairs",
    "q_dedup_substring", "q_dedup_incremental",
    "q_dedup_index_merge",
    # SERVICE rows are fetched and materialized at build (and the local
    # endpoint is started/stopped around it) — caching would freeze the
    # federated bindings and skip the federation work entirely
    "q_service_federated",
    # power-iteration loop (node count + per-round checkpoints) runs at
    # build — a cached result is a materialized ranking, not a plan
    "q_graph_pagerank",
}


_GC_EVERY = 25
_gc_tick = [0]


def _prepared(name: str, fn: Callable[[SparkSession, str], DataFrame]
              ) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        # applicationId, not id(spark): object ids can be reused after a
        # stopped session is GC'd, which would serve a dead plan
        key = (spark.sparkContext.applicationId, name, sf_dir.rstrip("/"))
        df = _PLAN_CACHE.get(key)
        if df is None:
            df = fn(spark, sf_dir)
            _PLAN_CACHE[key] = df
            if len(_PLAN_CACHE) > _PLAN_CACHE_MAX:
                _PLAN_CACHE.popitem(last=False)
        else:
            _PLAN_CACHE.move_to_end(key)
        # ContextCleaner frees dropped localCheckpoint/broadcast blocks
        # only after a JVM GC notices the dead weak refs; a long single
        # session running the whole registry (the driver gate does) can
        # OOM a default 1g heap on accumulated blocks before the periodic
        # GC (30 min) ever fires. Nudge it every _GC_EVERY calls.
        _gc_tick[0] += 1
        if _gc_tick[0] % _GC_EVERY == 0:
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass
        return df
    return run


# Registry ordering: the correctness driver samples a PREFIX of the
# registry each round, so dict order is the sampling order. Rounds 5-7
# hand-curated a _GATE_FIRST list here; round 7 then rewrote three LSH
# operators AFTER their last driver gate without the list catching it
# (round-7 verdict #1). The order is now DERIVED (gate_order.py): a query
# whose implementing module changed in a later round than its last green
# driver row is stale and re-queued automatically, least-recently-gated
# first. _gate_modules maps each query to the files whose change
# invalidates its gate; _FORCE_REGATE is the manual escape hatch for
# edits git can't attribute (e.g. a SPEC/oracle text change inside THIS
# file — mapping queries to entry_queries.py itself would mark the whole
# registry stale every round). Rotation rule: edit an operator module →
# its queries re-queue next round with no bookkeeping; edit a SPEC or
# oracle string → add the query name to _FORCE_REGATE for one round.
_ENGINE_MODULES = (
    "rdf_fusion_spark/plans", "rdf_fusion_spark/functions",
    "rdf_fusion_spark/sources", "rdf_fusion_spark/sparql",
    "rdf_fusion_spark/store.py", "rdf_fusion_spark/terms.py",
)

_PIPELINE_MODULE_MAP = {
    "q_ann_cosine_topk": "similarity.py", "q_ann_lsh": "similarity.py",
    "q_ann_ivf": "similarity.py", "q_ann_quantized_topk": "similarity.py",
    "q_dedup_embedding_cosine": "similarity.py",
    "q_dedup_semantic": "similarity.py",
    "q_embedding_norms": "similarity.py",
    "q_dedup_exact": "dedup.py", "q_dedup_jaccard_pairs": "dedup.py",
    "q_dedup_minhash_lsh": "dedup.py", "q_dedup_clusters": "dedup.py",
    "q_dedup_incremental": "dedup.py",
    "q_dedup_index_merge": "dedup.py",
    "q_dedup_simhash": "dedup.py", "q_dedup_substring": "dedup.py",
    "q_dedup_substring_removal": "dedup.py",
    "q_dedup_substring_corpus": "dedup.py",
    "q_text_stats": "text.py", "q_text_language_id": "text.py",
    "q_text_top_words": "text.py", "q_text_chunks": "text.py",
    "q_text_token_percentiles": "text.py", "q_text_repetition": "text.py",
    "q_pii_scan": "pii.py",
    "q_pack_shards": "curation.py", "q_mix_weighted": "curation.py",
    "q_curation_topk_quality": "curation.py",
    "q_train_val_split": "curation.py", "q_decontaminate": "curation.py",
    "q_events_sessionize": "sessions.py",
    "q_events_sessionize_sliced": "sessions.py",
    "q_events_asof": "temporal.py",
    "q_events_asof_sliced": "temporal.py",
    "q_events_interval_join": "temporal.py",
    "q_text_tfidf_terms": "text.py", "q_text_bm25_topk": "text.py",
    "q_multimodal_features": "multimodal.py",
    "q_graph_pagerank": "graphs.py", "q_graph_triangles": "graphs.py",
    "q_events_json_props": None,   # pure-Column body in this file
}

# Force entries are {query_name: round_added} and live for ONE round:
# once the query has a green driver row in a round >= round_added the
# entry is consumed and must be deleted (tests/test_gate_order.py
# test_force_regate_entries_not_consumed enforces this mechanically —
# the r8 and r9 verdicts both had to flag stale entries by hand).
# r9's entries (q_events_interval_join, q_dedup_semantic, added for the
# clamp/cap plan changes) got their CORRECTNESS_r09 greens and were
# removed in round 10.
_FORCE_REGATE: dict[str, int] = {}


def _gate_modules(name: str) -> tuple[str, ...]:
    if name in ("q_stream_event_counts", "q_stream_running_totals",
                "q_stream_sessions", "q_stream_interval_join",
                "q_stream_pattern_match", "q_stream_dedup"):
        return ("rdf_fusion_spark/streaming",)
    if name in _PIPELINE_MODULE_MAP:
        mod = _PIPELINE_MODULE_MAP[name]
        return (f"rdf_fusion_spark/pipeline/{mod}",) if mod else ()
    # SPARQL queries: any engine-core change re-queues them (the driver
    # prefix then rotates through the least-recently-gated ones first)
    return _ENGINE_MODULES


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name, spec in SPECS.items():
        out[name] = (lambda sp: (lambda spark, sf: sp.run(spark, sf)))(spec)
    out["q_construct_triples"] = _run_construct
    out["q_ask_high_balance"] = _run_ask
    out["q_describe_nation"] = _run_describe
    out["q_service_federated"] = _run_service_federated
    out["q_bsbm_explore_q9"] = _run_bsbm_describe
    out["q_bsbm_explore_q12"] = _run_bsbm_construct
    out.update(PIPELINE_QUERIES)
    wrapped = {name: fn if name in _NOT_CACHEABLE else _prepared(name, fn)
               for name, fn in out.items()}
    from .gate_order import order_registry
    names = order_registry(list(wrapped), _gate_modules, _FORCE_REGATE)
    return {name: wrapped[name] for name in names}


_MIX_TYPES = ["STANDARD", "MEDIUM", "LARGE", "SMALL", "ECONOMY", "PROMO"]


def bsbm_mix_instances(n: int) -> dict[str, list[str]]:
    """N parameterized instances per BSBM Explore template, constants
    varied deterministically — mirrors the reference's query mixes
    (bench/bench_files/bsbm_queries/*.csv.bz2, 7 scales of generated
    constants per template). Used by `bench.py --mix N` to expose
    plan-cache-miss and constant-sensitivity regressions: every
    instance is a distinct query text, so each run takes the cold
    parse → translate → execute path. Returned texts include the
    prologue (pass straight to GraphStore.query). Partkeys stay within
    1..1999 so every instance is non-degenerate from sf0.01 up."""
    out: dict[str, list[str]] = {}

    q1 = SPECS["q_bsbm_explore_q1"].sparql
    out["explore_q1"] = [
        PROLOGUE + q1
        .replace('"Brand#3"', f'"Brand#{1 + (i * 7) % 25}"')
        .replace('"STANDARD"', f'"{_MIX_TYPES[i % len(_MIX_TYPES)]}"')
        .replace('"10"^^xsd:integer', f'"{5 + (i % 8) * 5}"^^xsd:integer')
        for i in range(n)
    ]

    q4 = SPECS["q_bsbm_explore_q4"].sparql
    out["explore_q4"] = [
        PROLOGUE + q4
        .replace('"MEDIUM"', f'"{_MIX_TYPES[(i * 5) % len(_MIX_TYPES)]}"')
        .replace('"45"^^xsd:integer', f'"{30 + (i % 5) * 5}"^^xsd:integer')
        .replace("995.0", f"{800 + (i % 10) * 50}.0")
        for i in range(n)
    ]

    q8 = SPECS["q_bsbm_explore_q8"].sparql
    out["explore_q8"] = [
        PROLOGUE + q8.replace("<x:p:42>", f"<x:p:{1 + (i * 37) % 1999}>")
        for i in range(n)
    ]

    q10 = SPECS["q_bsbm_explore_q10"].sparql
    out["explore_q10"] = [
        PROLOGUE + q10
        .replace("<x:p:42>", f"<x:p:{1 + (i * 61) % 1999}>")
        .replace("<x:n:4>", f"<x:n:{i % 25}>")
        for i in range(n)
    ]

    q11 = SPECS["q_bsbm_explore_q11"].sparql
    out["explore_q11"] = [
        PROLOGUE + q11.replace("<x:n:5>", f"<x:n:{i % 25}>")
        for i in range(n)
    ]
    return out


def oracle_sql() -> dict[str, str]:
    out = {name: spec.oracle for name, spec in SPECS.items()
           if spec.oracle is not None}
    out["q_construct_triples"] = CONSTRUCT_ORACLE
    out["q_ask_high_balance"] = ASK_ORACLE
    out["q_describe_nation"] = DESCRIBE_ORACLE
    out["q_service_federated"] = SERVICE_FEDERATED_ORACLE
    out["q_bsbm_explore_q9"] = BSBM_DESCRIBE_ORACLE
    out["q_bsbm_explore_q12"] = BSBM_CONSTRUCT_ORACLE
    out.update(_pipeline_oracles())
    out["q_graph_pagerank"] = _pagerank_oracle()
    out["q_ann_quantized_topk"] = ANN_QUANTIZED_ORACLE
    out["q_graph_triangles"] = TRIANGLES_ORACLE
    return out
