"""Capture .explain("formatted") for every bench query into plans/r12/.

Usage: python tools/capture_plans.py [--out DIR] <suffix> [query ...]
Writes <DIR>/<query>_<suffix>.txt for each bench query (default: all;
DIR defaults to plans/r12/). Same session confs as bench.py so the
captured plans are the plans the bench actually executes.
"""

from __future__ import annotations

import argparse
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "plans", "r12")


def main() -> None:
    from pyspark.sql import SparkSession

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", default=OUT_DIR,
                    help="directory the captures go to (default plans/r12)")
    ap.add_argument("suffix", nargs="?", default="before")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    only = set(args.queries)

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("rdf-fusion-spark-plan-capture")
        .config("spark.sql.shuffle.partitions", str(max(int(CPUS), 8)))
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "1m")
        .config("spark.sql.files.openCostInBytes", "256k")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import bench
    from rdf_fusion_spark import entry_queries as EQ

    os.makedirs(args.out, exist_ok=True)
    qs = EQ.queries()
    names = [n for n in bench.BENCH_QUERIES if n in qs
             and (not only or n in only)]
    EQ.get_graph(spark, SF_DIR)
    for name in names:
        try:
            df = qs[name](spark, SF_DIR)
            buf = io.StringIO()
            stdout, sys.stdout = sys.stdout, buf
            try:
                df.explain("formatted")
            finally:
                sys.stdout = stdout
            path = os.path.join(args.out, f"{name}_{args.suffix}.txt")
            with open(path, "w") as f:
                f.write(buf.getvalue())
            print(f"wrote {path}")
        except Exception as exc:
            print(f"FAILED {name}: {exc}")
    spark.stop()


if __name__ == "__main__":
    main()
