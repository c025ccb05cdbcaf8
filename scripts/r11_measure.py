"""Round-11 optimization harness: isolate each headline query with the
noop sink (guide §1.4), time best-of-N inside ONE session, and dump
`.explain("formatted")` to plans/r11/<query>_<tag>.txt.

Usage:
    python scripts/r11_measure.py [--tag before|after] [--runs N]
                                  [--sf-dir DIR] [--plans-only] [query ...]

Defaults: tag=before, runs=5, sf0.1, all headliners from bench.py.
Timing is best of N with no untimed warm-up call: the first timed run
is cold (masked by best-of-N, but a --runs 1 number is a cold one).
The timed action is the noop sink so the computation, not the sink or
the count-prune, is what's measured; bench.py itself keeps df.count()
so round-over-round numbers stay comparable.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="before")
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--plans-only", action="store_true")
    ap.add_argument("--out", default=None, help="JSON results path")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from graphdb_spark.session import build_spark
    from graphdb_spark import workloads
    import bench

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = build_spark("r11_measure", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    queries = workloads.all_unpacked_queries()
    names = args.names or list(bench.HEADLINE)

    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", "r11")
    os.makedirs(plans_dir, exist_ok=True)

    # Warm-up identical to bench.py: page-cache prefetch + graph cache
    import glob as _glob
    for f in _glob.glob(f"{args.sf_dir}/*.parquet"):
        with open(f, "rb") as fh:
            while fh.read(1 << 24):
                pass
    from graphdb_spark.workloads.graph import graph_session
    g = graph_session(spark, args.sf_dir)
    g.vertex_count(), g.edge_count()

    def dump_plan(df, name):
        """Execute the DataFrame's own QueryExecution (collect — result
        sets here are small), then write explain("formatted") so AQE
        subtrees print their FINAL shape (isFinalPlan=true,
        ReusedExchange/AQEShuffleRead visible). A noop write would NOT
        do: it wraps the plan in its own QueryExecution and the df's
        stays initial."""
        df.collect()
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(os.path.join(plans_dir, f"{name}_{args.tag}.txt"), "w") as fh:
            fh.write(plan)

    results = {}
    for name in names:
        fn = queries[name]
        spark.sparkContext.setJobDescription(f"r11:{name}")
        df = fn(spark, args.sf_dir)
        if args.plans_only:
            dump_plan(df, name)
            print(f"# {name}: plan dumped", file=sys.stderr)
            continue
        best = None
        for i in range(args.runs):
            t0 = time.perf_counter()
            df = fn(spark, args.sf_dir)
            noop(df)
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        dump_plan(df, name)
        results[name] = round(best, 3)
        print(f"# {name}: {best:.3f}s", file=sys.stderr)
        spark.sparkContext.setJobDescription(None)

    payload = {"tag": args.tag, "runs": args.runs, "sf_dir": args.sf_dir,
               "cpus": cpus, "queries": results,
               "total": round(sum(results.values()), 3)}
    print(json.dumps(payload))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(payload, fh, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
