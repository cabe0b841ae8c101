"""Benchmark of rdf_fusion_spark from SPARQL text to result bytes.

    python3 perfbench/run.py --workload {endpoint,export,dedup} --seed N \
        --seconds S --trace {0,1}

Run from the root of a source checkout. The engine is imported from that
checkout (the parent of this directory); the run stops with a non-zero
exit code if it is not there. Every file the run writes goes under
`.perfbench_work/` in the checkout: the generated warehouse (kept and
reused), and a per-run directory with the seeded inputs and Spark's local
files (removed at exit).

Output: a human-readable report of every metric, then as the last line one
JSON object {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones of BENCHMARK.json, with --trace 1 the
per-layer ones. See README.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
HASH_SEED = "0"
CORES = 2
DRIVER_MEMORY = "1g"
# a fixed young generation: the eden G1 would size adaptively is always
# filled, so its size would move the JVM's memory high-water mark at random
YOUNG_GEN = "256m"


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["endpoint", "export", "dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=0.1,
                    help="warehouse scale factor (0.1 unless smoke-testing)")
    return ap.parse_args(argv)


def _pin_hash_seed():
    """Re-execute under a fixed PYTHONHASHSEED so set-ordered plan
    construction is the same in every run (exec keeps the process)."""
    if os.environ.get("PYTHONHASHSEED") != HASH_SEED:
        env = dict(os.environ, PYTHONHASHSEED=HASH_SEED)
        os.execve(sys.executable, [sys.executable, *sys.argv], env)


def _import_engine():
    sys.path.insert(0, str(ROOT))
    try:
        import rdf_fusion_spark
    except ImportError as e:
        sys.exit(f"perfbench: engine not importable from {ROOT}: {e}")
    where = Path(rdf_fusion_spark.__file__).resolve()
    if ROOT not in where.parents:
        sys.exit(f"perfbench: engine imported from {where}, "
                 f"not from the checkout at {ROOT}")


def _start_spark(run_dir: Path):
    from pyspark.sql import SparkSession
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions",
                f"-Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN} "
                f"-Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", str(tmp))
        .config("spark.sql.warehouse.dir", str(tmp / "warehouse"))
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.files.maxPartitionBytes", "1m")
        .config("spark.sql.files.openCostInBytes", "256k")
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark):
    """Stop Spark and wait for the JVM it launched to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the gateway may already be down
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - fall back to a hard stop
            proc.kill()
            proc.wait(timeout=30)


def _reap_children():
    """Wait for (then stop) any process still parented to this one."""
    me = str(os.getpid())
    deadline = time.time() + 20
    while True:
        kids = []
        for d in Path("/proc").iterdir():
            if not d.name.isdigit():
                continue
            try:
                st = (d / "stat").read_text().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if st[1] == me and st[0] != "Z":
                kids.append(int(d.name))
        if not kids:
            return
        if time.time() > deadline:
            for pid in kids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.2)
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _pct(xs, q):
    """Nearest-rank percentile."""
    return sorted(xs)[max(0, math.ceil(q * len(xs)) - 1)] if xs else 0.0


def _drift(ops, warm_s: dict) -> float:
    """Median of the last third of the timed ops' latencies over that of
    the first third. Each latency is taken relative to its template's
    warm-up latency, which puts a mix of templates (endpoint) on one
    scale; on one template this is the plain latency ratio."""
    rel = [o.latency_s / warm_s[o.template] for o in ops]
    k = len(rel) // 3
    return _median(rel[-k:]) / _median(rel[:k])


PRIMARY = {"endpoint": "lookup", "export": "export", "dedup": "batch"}


def end_to_end(res) -> tuple[dict, dict]:
    """(contract metrics, report-only metrics) from the untraced ops.

    p50_ms is the median over timed units of the mean primary-op latency
    in the unit, and work_per_s the median over units of work done per
    second: a unit is one mix cycle (endpoint), one request (export) or
    one batch (dedup)."""
    ops = [o for o in res.ops if not o.traced]
    prim_cls = PRIMARY[res.workload]
    prim = [o.latency_s * 1000 for o in ops if o.cls == prim_cls]
    unit_lat, work = [], []
    for u, wall in enumerate(res.units_s):
        in_unit = [o for o in ops if o.unit == u]
        lats = [o.latency_s * 1000 for o in in_unit if o.cls == prim_cls]
        unit_lat.append(sum(lats) / len(lats))
        work.append((len(in_unit) if res.workload == "endpoint"
                     else sum(o.units for o in in_unit)) / wall)
    e2e = {
        "setup_s": (res.setup_s, "s"),
        "p50_ms": (_median(unit_lat), "ms"),
        "work_per_s": (_median(work), "1/s"),
        "peak_rss_mb": (res.proc["py_rss_mb"] + res.proc["jvm_rss_mb"],
                        "MB"),
    }
    extra = {"error_rate": (sum(o.error is not None for o in ops)
                            / len(ops), "ratio"),
             "units": (len(res.units_s), "count"),
             "py_rss_mb": (res.proc["py_rss_mb"], "MB"),
             "jvm_rss_mb": (res.proc["jvm_rss_mb"], "MB")}
    if res.workload == "endpoint":
        reports = [o.latency_s * 1000 for o in ops if o.cls == "report"]
        extra.update({
            "lookup_p50_ms": (_median(prim), "ms"),
            "lookup_p90_ms": (_pct(prim, 0.9), "ms"),
            "report_p50_ms": (_median(reports), "ms"),
            "lookups": (len(prim), "count"),
            "reports": (len(reports), "count"),
        })
    elif res.workload == "export":
        extra["rows_per_s"] = (_median(work), "rows/s")
    else:
        extra.update({"docs_per_s": (_median(work), "docs/s"),
                      "recall": (res.extra["recall"], "ratio")})
    return e2e, extra


PER_LAYER = [
    ("web.handler_ms", "ms"), ("web.overhead_ms", "ms"),
    ("sparql.parse_ms", "ms"),
    ("plans.translate_ms", "ms"), ("plans.py4j_calls", "count"),
    ("plans.analysis_ms", "ms"), ("plans.optimization_ms", "ms"),
    ("plans.planning_ms", "ms"), ("plans.plan_nodes", "count"),
    ("exec.ms", "ms"), ("exec.jobs", "count"), ("exec.tasks", "count"),
    ("exec.executor_cpu_ms", "ms"), ("exec.shuffle_bytes", "bytes"),
    ("exec.scan_rows", "count"),
    ("exec.rows_examined_per_result_row", "ratio"),
    ("results.serialize_ms", "ms"), ("results.rows", "count"),
    ("results.bytes", "bytes"),
    ("store.open_s", "s"),
    ("pipeline.index_build_s", "s"), ("pipeline.candidate_pairs", "count"),
    ("pipeline.verified_pairs", "count"),
    ("pipeline.verified_per_candidate", "ratio"),
    ("pipeline.recall", "ratio"),
    ("proc.py_cpu_ms_per_op", "ms"), ("proc.jvm_cpu_ms_per_op", "ms"),
    ("proc.gc_ms", "ms"), ("proc.jit_ms", "ms"), ("proc.calib_ms", "ms"),
    ("proc.drift", "ratio"),
    ("trace.overhead_ms", "ms"), ("trace.unattributed_ms", "ms"),
]


def per_layer(res, calib_ms: float) -> dict:
    """Per-op means over the traced ops (0 where a layer does not run),
    plus set-up, pipeline and process figures."""
    plain = [o for o in res.ops if not o.traced]
    traced = [o for o in res.ops if o.traced]
    vals = {name: 0.0 for name, _ in PER_LAYER}
    for name in vals:
        xs = [o.layer[name] for o in traced if name in o.layer]
        if xs:
            vals[name] = sum(xs) / len(traced)
    if vals["exec.scan_rows"]:
        rows = sum(o.layer.get("results.rows",
                               o.layer.get("pipeline.verified_pairs", 0))
                   for o in traced)
        vals["exec.rows_examined_per_result_row"] = \
            vals["exec.scan_rows"] * len(traced) / max(1, rows)
    if vals["pipeline.candidate_pairs"]:
        vals["pipeline.verified_per_candidate"] = \
            vals["pipeline.verified_pairs"] / vals["pipeline.candidate_pairs"]
    vals["store.open_s"] = res.extra.get("store.open_s", 0.0)
    vals["pipeline.index_build_s"] = res.extra.get("pipeline.index_build_s",
                                                   0.0)
    vals["pipeline.recall"] = res.extra.get("recall", 0.0)
    vals["proc.py_cpu_ms_per_op"] = res.proc["py_cpu_ms"] / len(plain)
    vals["proc.jvm_cpu_ms_per_op"] = res.proc["jvm_cpu_ms"] / len(plain)
    vals["proc.gc_ms"] = res.proc["gc_ms"]
    vals["proc.jit_ms"] = res.proc["jit_ms"]
    vals["proc.calib_ms"] = calib_ms
    prim = PRIMARY[res.workload]
    lat = [o.latency_s * 1000 for o in plain if o.cls == prim]
    vals["proc.drift"] = _drift(plain, res.warm_s)
    vals["trace.overhead_ms"] = (
        _median([o.latency_s * 1000 for o in traced if o.cls == prim])
        - _median(lat))
    return {name: (vals[name], unit) for name, unit in PER_LAYER}


def main(argv=None) -> int:
    args = _parse(argv)
    _pin_hash_seed()
    _import_engine()
    import inputs
    import procstats
    import workloads
    from tracing import Tracer

    work = ROOT / ".perfbench_work"
    run_dir = work / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    spark = None
    try:
        warehouse = inputs.warehouse_dir(work, args.sf)
        if not (warehouse / "_SUCCESS").exists():
            # in a child process, so that the generated tables never count
            # toward this process's memory high-water mark
            subprocess.run([sys.executable, str(HERE / "inputs.py"),
                            str(work), str(args.sf)], check=True)
        calib = procstats.calibration_ms()
        spark = _start_spark(run_dir)
        jvm = spark.sparkContext._gateway.proc.pid
        ctx = workloads.Context(
            spark=spark, jvm_pid=jvm, warehouse=warehouse, run_dir=run_dir,
            seed=args.seed, seconds=args.seconds, sf=args.sf)
        if args.trace:
            ctx.tracer = Tracer(spark)
        res = workloads.WORKLOADS[args.workload](ctx)
        if ctx.tracer is not None:
            ctx.tracer.write(work / "traces" / f"{args.workload}.jsonl")
    finally:
        if spark is not None:
            _stop_spark(spark)
        _reap_children()
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e, extra = end_to_end(res)
    layers = per_layer(res, calib) if args.trace else {}
    print(f"perfbench {args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace} sf={args.sf:g}")
    for name, (v, unit) in {**e2e, **extra, **layers}.items():
        print(f"  {name:36s} {v:14.4f} {unit}")
    if "defect_probe" in res.extra:
        status, nulls, n = res.extra["defect_probe"]
        print(f"  known defect probe (raw double/dateTime columns, not an "
              f"op): HTTP {status}, {nulls} of {n} bindings without a "
              f"string value")
    errors = sorted({o.error for o in res.ops if o.error})
    for e in errors[:5]:
        print(f"  check failed: {e[:200]}")
    failed = sum(o.error is not None for o in res.ops)
    metrics = layers if args.trace else e2e
    print(json.dumps({
        "correct": failed == 0, "attempted": len(res.ops), "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
