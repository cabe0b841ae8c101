"""Lifetime of shared-subquery caches (plans/translator.py
_persist_shared_subquery): each query result owns the frames its
translation persisted. They stay cached while the result is open, even
when other queries run, and are released by close(), by the end of a
`with` block, or when the result is garbage-collected. An endpoint
request and a SPARQL UPDATE leave nothing cached behind.

The witness is the session CacheManager, which holds persisted Datasets
strongly until they are unpersisted."""

from __future__ import annotations

import gc
import urllib.parse
import urllib.request

import pytest
from pyspark.sql import DataFrame

from rdf_fusion_spark.entry_queries import PROLOGUE, get_graph

from test_optimize_knob import QUERY, SF_DIR

OTHER = PROLOGUE + "SELECT ?n WHERE { ?nat n:n_name ?n }"


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _scans_cache(df: DataFrame) -> bool:
    # a fresh derived frame plans against the CacheManager as it is now
    plan = df.select("*")._jdf.queryExecution().executedPlan().toString()
    return "InMemoryTableScan" in plan


@pytest.fixture()
def store(spark):
    spark.catalog.clearCache()  # start from an empty CacheManager
    yield get_graph(spark, SF_DIR)
    spark.catalog.clearCache()


@pytest.fixture()
def persist_calls(spark, monkeypatch):
    """Counts DataFrame.persist calls, to show that the query under test
    did persist a shared subquery."""
    calls = []
    cls = type(spark.range(1))  # the concrete (classic) DataFrame class
    orig = cls.persist

    def counting(self, *a, **k):
        calls.append(self)
        return orig(self, *a, **k)

    monkeypatch.setattr(cls, "persist", counting)
    return calls


def test_open_result_keeps_caches_across_queries(spark, store,
                                                 persist_calls):
    a = store.query(QUERY)
    frames = list(persist_calls)
    assert frames, "the subsumption query persists its shared core"
    rows = a.df.count()
    store.query(OTHER).df.count()
    assert not _cache_empty(spark)
    assert all(df.is_cached for df in frames)
    assert _scans_cache(a.df)
    a.close()
    assert _cache_empty(spark)
    assert not any(df.is_cached for df in frames)
    a.close()  # idempotent
    # a closed result still executes, it only recomputes
    assert not _scans_cache(a.df)
    assert a.df.count() == rows


def test_dropped_result_releases_caches(spark, store, persist_calls):
    res = store.query(QUERY)
    frames = list(persist_calls)
    assert frames and not _cache_empty(spark)
    del res
    gc.collect()
    assert _cache_empty(spark)
    assert not any(df.is_cached for df in frames)


def test_endpoint_request_leaves_no_cache(spark, store, persist_calls):
    from rdf_fusion_spark.web import SparqlHttpServer

    server = SparqlHttpServer(store, "127.0.0.1", 0)
    server.start_background()
    try:
        url = (f"http://127.0.0.1:{server.port}/query?query="
               + urllib.parse.quote(QUERY))
        with urllib.request.urlopen(url) as r:
            assert r.status == 200 and r.read()
    finally:
        server.stop()
    assert persist_calls
    assert _cache_empty(spark)


def test_update_leaves_no_cache(spark, persist_calls):
    from rdf_fusion_spark import GraphStore
    from rdf_fusion_spark.terms import Literal, NamedNode

    spark.catalog.clearCache()
    ex = "http://example/"
    g = GraphStore.from_python_quads(spark, [
        (None, NamedNode(ex + s), NamedNode(ex + "p"), Literal(str(i)))
        for i, s in enumerate("aab")])
    # the same grouped subquery twice: its second use persists it
    sub = "{ SELECT ?s (COUNT(?o) AS ?c) WHERE { ?s :p ?o } GROUP BY ?s }"
    g.update(f"PREFIX : <{ex}>\n"
             f"INSERT {{ ?s :count ?c }} WHERE {{ {sub} {sub} }}")
    assert persist_calls
    assert _cache_empty(spark)
    res = g.query(f"PREFIX : <{ex}>\n"
                  "SELECT ?s ?c WHERE { ?s :count ?c }")
    with res:
        got = sorted((r["s"]["v"], r["c"]["v"]) for r in res.df.collect())
    assert got == [(ex + "a", "2"), (ex + "b", "1")]
