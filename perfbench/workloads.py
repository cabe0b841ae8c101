"""The three workloads. Each returns a Result: per-op records from the timed
phase, set-up times, and (with tracing) per-layer figures.

endpoint  HTTP POST SPARQL-JSON; mix cycles of 5 BSBM Explore lookups and
          4 analytic reports, one closed-loop client on one keep-alive
          connection to an in-process SparqlHttpServer.
export    the same endpoint; 6-month l_shipdate windows over lineitem
          (~43k rows, ~9.5 MB of JSON per response at sf0.1).
dedup     no SPARQL: minhash_index over a seeded corpus in set-up, then
          dedup_against_index on seeded batches read from parquet.
"""

from __future__ import annotations

import http.client
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Optional

import checks
import inputs
from procstats import Snapshot, peak_rss_mb
from tracing import union_s

DEDUP_THRESHOLD = 0.5
# full mix cycles / export requests / dedup batches run before timing
WARMUP = {"endpoint": 1, "export": 1, "dedup": 3}
# the timed phase runs at least this many ops, so proc.drift is defined
MIN_OPS = 3


@dataclass
class OpRecord:
    cls: str
    template: str
    latency_s: float
    units: int = 0              # result rows (SPARQL) or documents (dedup)
    error: Optional[str] = None
    traced: bool = False
    unit: int = 0               # index of the timed unit the op ran in
    layer: dict = field(default_factory=dict)


@dataclass
class Result:
    workload: str
    setup_s: float              # the run's one (cold) set-up
    ops: list[OpRecord]
    # wall seconds of each timed unit (mix cycle, request or batch) of the
    # untraced phase
    units_s: list[float] = field(default_factory=list)
    # median warm-up latency per template, in seconds
    warm_s: dict = field(default_factory=dict)
    extra: dict = field(default_factory=dict)
    proc: dict = field(default_factory=dict)


@dataclass
class Context:
    spark: object
    jvm_pid: int
    warehouse: Path
    run_dir: Path
    seed: int
    seconds: float
    sf: float
    tracer: object = None


def _warm_medians(recs: list[OpRecord]) -> dict:
    by: dict = {}
    for r in recs:
        by.setdefault(r.template, []).append(r.latency_s)
    return {t: statistics.median(xs) for t, xs in by.items()}


def _timed_phase(ctx: Context, units, run_one):
    """Run `units` in order until `ctx.seconds` have elapsed and at least
    MIN_OPS ops have run (a started unit always finishes). Returns
    (records, unit wall times, counters). The memory high-water marks are
    read here, before the output checks run DuckDB in this process."""
    before = Snapshot(ctx.spark, ctx.jvm_pid)
    recs, walls = [], []
    t_end = time.perf_counter() + ctx.seconds
    i = 0
    while time.perf_counter() < t_end or len(recs) < MIN_OPS:
        t0 = time.perf_counter()
        for rec in run_one(i, units[i % len(units)]):
            rec.unit = i
            recs.append(rec)
        walls.append(time.perf_counter() - t0)
        i += 1
    proc = Snapshot(ctx.spark, ctx.jvm_pid).since(before)
    proc["py_rss_mb"], proc["jvm_rss_mb"] = peak_rss_mb(ctx.jvm_pid)
    return recs, walls, proc


# ---------------------------------------------------------------------------
# SPARQL endpoint workloads
# ---------------------------------------------------------------------------

class Endpoint:
    """Store + in-process HTTP server + one keep-alive client."""

    def __init__(self, ctx: Context):
        from rdf_fusion_spark.sources.virtual import VirtualRelationalStore
        from rdf_fusion_spark.web.server import SparqlHttpServer
        self.ctx = ctx
        t0 = time.perf_counter()
        store = VirtualRelationalStore(ctx.spark, str(ctx.warehouse))
        t1 = time.perf_counter()
        self.server = SparqlHttpServer(store, port=0)
        if ctx.tracer is not None:
            self._trace_handler()
        self.thread = self.server.start_background()
        self.setup_s = time.perf_counter() - t0
        self.open_s = t1 - t0
        self.conn = http.client.HTTPConnection("127.0.0.1", self.server.port,
                                               timeout=170)

    def _trace_handler(self):
        tracer, make = self.ctx.tracer, self.server.make_handler

        def make_handler():
            base = make()

            class Traced(base):
                def do_POST(self):
                    if tracer.root is None:  # not inside a traced op
                        return base.do_POST(self)
                    with tracer.span("web.handler"):
                        tracer.tag_thread()
                        return base.do_POST(self)
            return Traced
        self.server.make_handler = make_handler

    def request(self, text: str):
        self.conn.request("POST", "/query", body=text.encode(), headers={
            "Content-Type": "application/sparql-query",
            "Accept": checks.JSON_CTYPE})
        resp = self.conn.getresponse()
        body = resp.read()
        return resp.status, resp.getheader("Content-Type", ""), body

    def run(self, op: inputs.QueryOp, sink: list,
            op_id: Optional[int] = None):
        """Send one request; with an `op_id`, as a traced op."""
        text = inputs.PROLOGUE + op.sparql
        if op_id is None:
            t0 = time.perf_counter()
            status, ctype, body = self.request(text)
            lat = time.perf_counter() - t0
        else:
            with self.ctx.tracer.op_span(op_id) as root:
                status, ctype, body = self.request(text)
            lat = root.end - root.start
        sink.append((op, status, ctype, body))
        return OpRecord(op.cls, op.template, lat, traced=op_id is not None)

    def close(self):
        self.conn.close()
        self.server.stop()
        self.thread.join(timeout=30)


def _install_sparql_tracing(tracer):
    import rdf_fusion_spark.plans.translator as translator
    import rdf_fusion_spark.results.serializers as serializers
    import rdf_fusion_spark.sparql.parser as parser
    from rdf_fusion_spark.store import GraphStore
    tracer.count_py4j()
    tracer.wrap(GraphStore, "query", "plans.query", count=True)
    tracer.wrap(parser, "parse_query", "sparql.parse")
    tracer.wrap(translator, "evaluate_query", "plans.translate")
    tracer.wrap(serializers, "to_json", "results.serialize",
                before=tracer.force_plan)


def _exec_layers(tracer, stats: dict, op_id: int) -> dict:
    """Spark-side figures of one traced op (see Tracer.collect_op)."""
    jobs = [(s.start, s.end) for s in tracer.spans
            if s.op == op_id and s.name == "exec.job"]
    return {"exec.ms": union_s(jobs) * 1000,
            "exec.jobs": stats["jobs"], "exec.tasks": stats["tasks"],
            "exec.executor_cpu_ms": stats["cpu_ms"],
            "exec.shuffle_bytes": stats["shuffle_bytes"],
            "exec.scan_rows": stats["scan_rows"]}


def _sparql_layers(tracer, body: bytes, stats: dict, op_id: int,
                   selfs: dict) -> dict:
    spans = [s for s in tracer.spans if s.op == op_id]

    def total(name):
        return sum(s.end - s.start for s in spans if s.name == name) * 1000

    def self_ms(name):
        return sum(selfs[s.sid] for s in spans if s.name == name) * 1000

    root = next(s for s in spans if s.name == "op")
    handler = total("web.handler")
    return {
        "web.handler_ms": handler,
        "web.overhead_ms": (root.end - root.start) * 1000 - handler,
        "sparql.parse_ms": total("sparql.parse"),
        "plans.translate_ms": self_ms("plans.translate"),
        "plans.py4j_calls": sum(s.attrs.get("py4j_calls", 0) for s in spans),
        "plans.analysis_ms": stats["analysis"],
        "plans.optimization_ms": stats["optimization"],
        "plans.planning_ms": stats["planning"],
        "plans.plan_nodes": stats["plan_nodes"],
        **_exec_layers(tracer, stats, op_id),
        "results.serialize_ms": self_ms("results.serialize"),
        "results.rows": checks.count_rows(body),
        "results.bytes": len(body),
        "trace.unattributed_ms": selfs[root.sid] * 1000,
    }


def _check_responses(ctx: Context, recs: list[OpRecord], sink: list):
    import duckdb
    duck = duckdb.connect()
    duck.execute(f"SET temp_directory = '{ctx.run_dir / 'duckdb'}'")
    for t in inputs.table_sizes(ctx.sf):
        duck.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                     f"'{ctx.warehouse / (t + '.parquet')}'")
    for rec, (op, status, ctype, body) in zip(recs, sink):
        rec.error = checks.check_sparql(op, status, ctype, body, duck)
        rec.units = checks.count_rows(body)
    duck.close()


def _run_sparql(ctx: Context, name: str, warm_units, timed_units) -> Result:
    """Warm up, run the timed phase untraced, then (with tracing) run the
    same units again traced; check every response afterwards."""
    ep = Endpoint(ctx)
    try:
        warm = [ep.run(op, []) for unit in warm_units for op in unit]
        sink: list = []
        recs, walls, proc = _timed_phase(
            ctx, timed_units,
            lambda i, unit: [ep.run(op, sink) for op in unit])
        res = Result(name, ep.setup_s, recs, units_s=walls,
                     warm_s=_warm_medians(warm), proc=proc)
        res.extra["store.open_s"] = ep.open_s
        if ctx.tracer is not None:
            tracer = ctx.tracer
            _install_sparql_tracing(tracer)
            trecs, stats = [], []
            for i in range(len(walls)):
                for op in timed_units[i % len(timed_units)]:
                    n = len(trecs)
                    trecs.append(ep.run(op, sink, n))
                    stats.append(tracer.collect_op(n))
            tracer.uninstall()
            tracer.link_jobs()
            selfs = tracer.self_times()
            for n, rec in enumerate(trecs):
                rec.layer = _sparql_layers(tracer, sink[len(recs) + n][3],
                                           stats[n], n, selfs)
            res.ops = recs + trecs
        _check_responses(ctx, res.ops, sink)
        status, _, body = ep.request(inputs.PROLOGUE + inputs.DEFECT_PROBE)
        res.extra["defect_probe"] = (status, *checks.null_values(body))
        return res
    finally:
        ep.close()


def run_endpoint(ctx: Context) -> Result:
    return _run_sparql(
        ctx, "endpoint",
        inputs.endpoint_cycles(ctx.seed, "warmup", WARMUP["endpoint"],
                               ctx.sf),
        inputs.endpoint_cycles(ctx.seed, "timed", max(3, int(ctx.seconds)),
                               ctx.sf))


def run_export(ctx: Context) -> Result:
    return _run_sparql(
        ctx, "export",
        [[op] for op in inputs.export_ops(ctx.seed, "warmup",
                                           WARMUP["export"])],
        [[op] for op in inputs.export_ops(ctx.seed, "timed",
                                          max(4, int(ctx.seconds)))])


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

def _candidate_pairs(spark, batch_df, idx) -> int:
    """Distinct (batch, corpus) pairs that share at least one LSH band of
    the public signature columns (the candidates dedup_against_index
    verifies)."""
    from pyspark.sql import functions as F
    from rdf_fusion_spark.pipeline.dedup import (NUM_BANDS, ROWS_PER_BAND,
                                                 minhash_index)
    sig = minhash_index(batch_df)
    pairs = None
    for b in range(NUM_BANDS):
        cols = [f"s{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
        j = sig.select(F.col("id").alias("new_id"), *cols).join(
            idx.select(F.col("id").alias("corpus_id"), *cols), cols) \
            .select("new_id", "corpus_id")
        pairs = j if pairs is None else pairs.union(j)
    return pairs.distinct().count()


def run_dedup(ctx: Context) -> Result:
    from pyspark import StorageLevel
    from rdf_fusion_spark.pipeline.dedup import (NUM_BANDS, ROWS_PER_BAND,
                                                 dedup_against_index,
                                                 minhash_index)
    spark = ctx.spark
    size = inputs.table_sizes(ctx.sf)["documents"]
    batch_size = max(20, min(250, size // 20))
    n_timed = max(8, int(ctx.seconds * 5))
    data = inputs.dedup_inputs(ctx.warehouse, ctx.run_dir / "dedup",
                               ctx.seed, "timed", n_timed, batch_size)
    warm = inputs.dedup_inputs(ctx.warehouse, ctx.run_dir / "dedup",
                               ctx.seed, "warmup", WARMUP["dedup"],
                               batch_size,
                               with_corpus=False)
    t0 = time.perf_counter()
    idx = minhash_index(spark.read.parquet(str(data.corpus_path))) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    idx.count()
    setup_s = time.perf_counter() - t0

    def batch(path):
        return spark.read.parquet(str(path))

    def run_plain(path):
        return [tuple(r) for r in dedup_against_index(
            batch(path), idx, DEDUP_THRESHOLD).collect()]

    def timed(path):
        t0 = time.perf_counter()
        pairs = run_plain(path)
        return pairs, time.perf_counter() - t0

    try:
        warm_recs = [OpRecord("batch", "dedup_against_index", timed(p)[1])
                     for p in warm.batch_paths]
        found: list = []

        def one(i, k):
            pairs, lat = timed(data.batch_paths[k])
            found.append((k, pairs))
            return [OpRecord("batch", "dedup_against_index", lat,
                             units=data.batch_size)]

        recs, walls, proc = _timed_phase(
            ctx, list(range(len(data.batch_paths))), one)
        res = Result("dedup", setup_s, recs, units_s=walls,
                     warm_s=_warm_medians(warm_recs), proc=proc)
        res.extra["pipeline.index_build_s"] = setup_s

        if ctx.tracer is not None:
            tracer = ctx.tracer
            trecs, extra = [], []
            for i in range(len(recs)):
                k = i % len(data.batch_paths)
                with tracer.op_span(i) as root:
                    tracer.tag_thread()
                    with tracer.span("pipeline.read_batch"):
                        df = batch(data.batch_paths[k])
                    with tracer.span("pipeline.dedup_against_index"):
                        out = dedup_against_index(df, idx, DEDUP_THRESHOLD)
                    with tracer.span("pipeline.collect"):
                        pairs = [tuple(r) for r in out.collect()]
                extra.append((tracer.collect_op(i), root.sid,
                              _candidate_pairs(spark, df, idx), len(pairs)))
                trecs.append(OpRecord("batch", "dedup_against_index",
                                      root.end - root.start,
                                      units=data.batch_size, traced=True))
                found.append((k, pairs))
            tracer.link_jobs()
            selfs = tracer.self_times()
            for i, (rec, (st, root_sid, cand, verified)) in enumerate(
                    zip(trecs, extra)):
                rec.layer = {**_exec_layers(tracer, st, i),
                             "pipeline.candidate_pairs": cand,
                             "pipeline.verified_pairs": verified,
                             "trace.unattributed_ms": selfs[root_sid] * 1000}
            res.ops = recs + trecs

        got = [{(a, b) for a, b, _ in pairs} for _, pairs in found]
        want = [data.planted[k] for k, _ in found]
        missing = checks.check_planted(got, want, data.texts,
                                       ROWS_PER_BAND, NUM_BANDS)
        for (k, pairs), rec, miss in zip(found, res.ops, missing):
            rec.error = checks.check_pairs(pairs, data.texts,
                                           DEDUP_THRESHOLD) or miss
        planted = sum(len(w) for w in want)
        hit = sum(len(w & g) for w, g in zip(want, got))
        res.extra["recall"] = hit / planted if planted else 1.0
        return res
    finally:
        idx.unpersist(blocking=True)


WORKLOADS = {"endpoint": run_endpoint, "export": run_export,
             "dedup": run_dedup}
