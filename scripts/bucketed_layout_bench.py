"""Bucketed-layout demonstration (VERDICT r6 item 4, extended per
VERDICT r7 items 1 & 6 with the graph heads) — bench-only.

SCALE.md claims "layout does the indexing": tables bucketed on their
join key let repeated fact joins skip the shuffle entirely (bucket
join — zero Exchange). partitioning.py proves the zero-Exchange plan
in a unit test; this script measures what that is WORTH at sf10, on
the same data the scale bench uses:

1. the relational fact join (60M lineitem ⋈ 15M orders on orderkey):
   plain parquet vs pre-bucketed tables, plus the one-time bucketing
   write cost (the honest denominator — layout pays off only across
   repeated joins).
2. the GRAPH HEADS on the dual src/dst adjacency layout held in
   Spark's cache (GraphSession.use_adjacency_layout — the Spark twin
   of the reference's forward + reversed edge indexes): g_one_hop,
   g_two_hop_count, g_degree_topk, g_bfs_reachability run through the
   EXACT workload code paths, plain cached frames vs adopted layout,
   with result-equality asserted between the phases. ``buckets``
   applies to the warehouse tables of sections 1 and 3 only; the
   layout partitions into ``defaultParallelism``.
3. the adamic pair-generation A/B reading dst-bucketed int edges
   (VERDICT r7 item 6 — recorded either way; the pair exchange, not
   the dst-keyed stages, is expected to dominate).

Usage: python scripts/bucketed_layout_bench.py [sf_dir] [buckets]
       (defaults /tmp/sf10synth, 32)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# graph cache + layout frames + adamic pair exchange on one JVM
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "64g")

RUNS = 2


def fact_join(orders, lineitem, F):
    """q5-shaped fact join + grouped aggregate (no dimension side)."""
    return (
        orders.select("o_orderkey", "o_orderpriority")
        .join(
            lineitem.select(
                "l_orderkey",
                (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .alias("rev"),
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(F.sum("rev").alias("revenue"), F.count(F.lit(1)).alias("n"))
    )


def timed(label, fn, reps=RUNS):
    best = None
    for _ in range(reps):
        t0 = time.perf_counter()
        n = fn()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    print(f"# {label:40s} {best:7.2f}s  -> {n}", file=sys.stderr, flush=True)
    return best


def main(sf_dir: str = "/tmp/sf10synth", buckets: int = 32) -> int:
    from pyspark.sql import functions as F

    from graphdb_spark.partitioning import write_bucketed
    from graphdb_spark.session import build_spark

    buckets = int(buckets)
    spark = build_spark("bucketed_layout")
    spark.sparkContext.setLogLevel("ERROR")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")

    plain = timed(
        "plain parquet fact join",
        lambda: fact_join(orders, lineitem, F).count(),
    )
    plan_txt = fact_join(orders, lineitem, F)._jdf.queryExecution() \
        .executedPlan().toString()
    plain_exchanges = plan_txt.count("Exchange")

    t0 = time.perf_counter()
    write_bucketed(orders, "ord_bucketed", "o_orderkey", buckets)
    write_bucketed(lineitem, "li_bucketed", "l_orderkey", buckets)
    write_cost = time.perf_counter() - t0
    print(f"# one-time bucketing write: {write_cost:.2f}s",
          file=sys.stderr, flush=True)

    ob = spark.table("ord_bucketed")
    lb = spark.table("li_bucketed")
    bucketed = timed(
        "bucketed-table fact join",
        lambda: fact_join(ob, lb, F).count(),
    )
    bplan = fact_join(ob, lb, F)._jdf.queryExecution() \
        .executedPlan().toString()
    # the join itself must be exchange-free; the grouped agg above it
    # still exchanges on its own (different) key
    bucketed_exchanges = bplan.count("Exchange")

    fact = {
        "plain_join_sec": round(plain, 3),
        "bucketed_join_sec": round(bucketed, 3),
        "speedup": round(plain / bucketed, 2),
        "one_time_bucketing_write_sec": round(write_cost, 3),
        "break_even_joins": (
            round(write_cost / (plain - bucketed), 1)
            if plain > bucketed else None
        ),
        "plain_plan_exchanges": plain_exchanges,
        "bucketed_plan_exchanges": bucketed_exchanges,
    }
    for t in ("ord_bucketed", "li_bucketed"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")

    graph = graph_heads_section(spark, sf_dir)
    adamic = adamic_pair_gen_section(spark, sf_dir, buckets, F)

    payload = {
        "metric": "bucketed_layout_bench",
        "unit": "sec",
        "sf_dir": sf_dir,
        "buckets": buckets,
        "runs_per_query": RUNS,
        "fact_join": fact,
        "graph_heads": graph,
        "adamic_pair_gen": adamic,
    }
    print(json.dumps(payload))
    spark.stop()
    return 0


def _exchanges(df) -> int:
    """Exchange nodes in a frame's physical plan. The walk follows
    children only, so the plan that filled a cached relation (an inner
    child, printed by toString()) does not count: its exchanges do not
    run at query time."""
    def walk(node):
        if node.nodeName() == "AdaptiveSparkPlan":
            node = node.executedPlan()
        kids = node.children()
        return ("Exchange" in node.nodeName()) + sum(
            walk(kids.apply(i)) for i in range(kids.size()))

    return walk(df._jdf.queryExecution().executedPlan())


def _fingerprint(df) -> tuple:
    """(row count, order-independent content hash) — result equality
    without collecting millions of rows to the driver (a 2.9M-row
    sorted collect between timed heads polluted the first artifact
    run's JVM: bfs measured 1.34 s in-bench vs 0.62-0.77 s isolated)."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in df.columns])
    # ANSI mode: a plain SUM over 64-bit hashes overflows long —
    # aggregate in overflow-free domains (xor + modular sum)
    row = df.select(
        h.alias("h"), F.pmod(h, F.lit(1_000_000_007)).alias("hm")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(h)").alias("hx"),
        F.sum("hm").alias("hs"),
    ).collect()[0]
    return (row["n"], row["hx"], row["hs"])


def graph_heads_section(spark, sf_dir: str) -> dict:
    """Run the graph headliners through their EXACT workload code —
    the module session cache is primed with our GraphSession so
    g_one_hop / g_two_hop_count / g_degree_topk / g_bfs_reachability
    execute unmodified — first on plain cached frames, then after
    use_adjacency_layout() flips the SAME session in place. Result
    equality between phases is asserted per head."""
    from graphdb_spark.session import GraphSession
    from graphdb_spark.sources.tpch import tpch_graph
    from graphdb_spark.workloads import graph as GW

    v, e = tpch_graph(spark, sf_dir)
    gs = GraphSession(spark, v.cache(), e.cache(), assume_integrity=True)
    GW._GRAPH_CACHE[(id(spark.sparkContext), sf_dir)] = gs

    heads = {
        "g_one_hop": GW.g_one_hop,
        "g_two_hop_count": GW.g_two_hop_count,
        "g_degree_topk": GW.g_degree_topk,
        "g_bfs_reachability": GW.g_bfs_reachability,
    }
    # exchange counts only where the head returns the live plan
    # (two_hop/bfs materialize internally — their returned frames
    # don't expose the traversal plan)
    plan_heads = {"g_one_hop", "g_degree_topk"}
    out: dict = {"heads": {}}
    checks: dict = {}
    for name, fn in heads.items():
        out["heads"][name] = {
            "plain_sec": round(
                timed(f"plain   {name}",
                      lambda fn=fn: fn(spark, sf_dir).count()), 3),
        }
        if name in plan_heads:
            out["heads"][name]["plain_exchanges"] = _exchanges(
                fn(spark, sf_dir))
        checks[name] = _fingerprint(fn(spark, sf_dir))

    t0 = time.perf_counter()
    gs.use_adjacency_layout()
    out["write_adjacency_sec"] = round(time.perf_counter() - t0, 3)
    print(f"# one-time adjacency layout: {out['write_adjacency_sec']:.2f}s",
          file=sys.stderr, flush=True)
    # plain frames no longer referenced by the session
    v.unpersist(), e.unpersist()

    for name, fn in heads.items():
        r = out["heads"][name]
        r["layout_sec"] = round(
            timed(f"layout  {name}",
                  lambda fn=fn: fn(spark, sf_dir).count()), 3)
        if name in plan_heads:
            r["layout_exchanges"] = _exchanges(fn(spark, sf_dir))
        r["speedup"] = round(r["plain_sec"] / r["layout_sec"], 2)
        got = _fingerprint(fn(spark, sf_dir))
        # explicit raise, not assert: the equality gate must survive
        # `python -O` (r8 ADVICE) — results_identical may never be
        # published unchecked
        if got != checks[name]:
            raise SystemExit(f"{name}: plain != layout results "
                             f"({checks[name]} vs {got})")
    out["results_identical"] = True
    return out


def adamic_pair_gen_section(spark, sf_dir: str, buckets: int, F) -> dict:
    """adamic_adar's input stages are dst-keyed (degree groupBy +
    weight join + pair self-join all on dst); A/B the whole operator
    reading plain parquet ints vs a dst-bucketed edge table."""
    from graphdb_spark.operators.analytics import adamic_adar
    from graphdb_spark.partitioning import write_bucketed

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    e = li.select(F.col("l_orderkey").alias("src"),
                  F.col("l_partkey").alias("dst"))
    plain = timed(
        "adamic pair-gen plain",
        lambda: adamic_adar(e, max_degree=1000, top_k=20).count(),
    )
    t0 = time.perf_counter()
    write_bucketed(e, "adj_int_dst", "dst", buckets)
    write_cost = time.perf_counter() - t0
    eb = spark.table("adj_int_dst")
    bucketed = timed(
        "adamic pair-gen dst-bucketed",
        lambda: adamic_adar(eb, max_degree=1000, top_k=20).count(),
    )
    spark.sql("DROP TABLE IF EXISTS adj_int_dst")
    return {
        "plain_sec": round(plain, 3),
        "dst_bucketed_sec": round(bucketed, 3),
        "speedup": round(plain / bucketed, 2),
        "one_time_bucketing_write_sec": round(write_cost, 3),
    }


if __name__ == "__main__":
    raise SystemExit(main(*sys.argv[1:]))
