"""Isolated plain-vs-layout A/B for g_bfs_reachability at sf1 —
VERDICT r9 item 4: is the 2x-vs-twin weak mark at sf0.1/sf1 a Spark
job-floor artifact (frontier pushdown already optimal) or a
layout-routing overhead that only pays at large SF?

Runs the same GraphSession.bfs("c_1", depth<=2, out) N times on
(a) plain cached frames and (b) the adopted adjacency layout
(GraphSession.use_adjacency_layout), in the SAME process, reporting
per-run times, minima and the one-time layout cost.

Usage: python scripts/bfs_layout_ab.py [sf_dir] [runs]
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from graphdb_spark.session import GraphSession, build_spark  # noqa: E402
from graphdb_spark.sources.tpch import tpch_graph  # noqa: E402


def run_bfs(g):
    t0 = time.perf_counter()
    n = (
        g.bfs("c_1", max_depth=2, direction="out")
        .select("id", F.col("depth").cast("int").alias("depth"))
        .count()
    )
    return time.perf_counter() - t0, n


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1synth"
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = build_spark("bfs_ab", master=f"local[{cpus}]",
                        shuffle_partitions=int(cpus))
    v, e = tpch_graph(spark, sf_dir)

    plain = GraphSession(spark, v.cache(), e.cache(),
                         assume_integrity=True)
    plain.vertices.count(), plain.edges.count()  # materialize cache
    plain_times, n_plain = [], None
    for _ in range(runs):
        t, n_plain = run_bfs(plain)
        plain_times.append(round(t, 3))

    lay = GraphSession(spark, v, e, assume_integrity=True)
    t0 = time.perf_counter()
    lay.use_adjacency_layout()
    layout_s = round(time.perf_counter() - t0, 3)
    lay_times, n_lay = [], None
    for _ in range(runs):
        t, n_lay = run_bfs(lay)
        lay_times.append(round(t, 3))
    assert n_plain == n_lay, (n_plain, n_lay)

    print(json.dumps({
        "sf_dir": sf_dir, "rows": n_plain,
        "plain": plain_times, "plain_min": min(plain_times),
        "layout_s": layout_s,
        "layout": lay_times, "layout_min": min(lay_times),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
