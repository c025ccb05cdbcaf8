"""Graph workload: the pipe algebra exercised on the FIXTURES.md F6
graph (customers/orders/parts from the driver tables), each query
oracle-checked by reconstructing the same traversal as SQL joins in
DuckDB.

This is the driver-checkable projection of the reference's *tested*
capability layer — the IndraDB pipe algebra (SURVEY.md §2.1/2.3/2.4)
— running through GraphSession + Translator, not hand-written joins.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from graphdb_spark.algebra import Q
from graphdb_spark.session import GraphSession
from graphdb_spark.sources.tpch import tpch_graph
from graphdb_spark.datamodel import local_df

_GRAPH_CACHE: dict = {}

#: adopt the dual adjacency layout (the reference's always-on forward
#: + reversed edge indexes, rdb/managers.rs:233-240) for resident
#: graphs at or above this edge count. Below it every hop's frontier
#: broadcasts anyway and the layout's extra edge copy buys nothing.
#: sf0.1 (~750k edges) adopts; the sf0.01 gate and unit-test graphs
#: (7k-75k) stay on plain cached frames.
AUTO_LAYOUT_MIN_EDGES = 500_000


def _resident(spark, v, e) -> GraphSession:
    """Plain resident session: both frames cached in (at most) one
    partition per core."""
    n = spark.sparkContext.defaultParallelism
    return GraphSession(spark, v.coalesce(n).cache(), e.coalesce(n).cache(),
                        assume_integrity=True)


def graph_session(spark, sf_dir) -> GraphSession:
    """Memoized per sf_dir; vertices/edges resident for repeated
    queries (the reference keeps the graph resident in its daemons —
    our equivalent is a cached DataFrame pair).

    Layout policy: at or above AUTO_LAYOUT_MIN_EDGES edges the session
    adopts the dual adjacency layout (``use_adjacency_layout``): the
    vertices and two edge copies cached hash-partitioned and sorted on
    id, src and dst, in ``defaultParallelism`` partitions. Below the
    threshold the plain cached frames remain (their hops broadcast the
    frontier; the layout buys nothing).

    The plain cache is core-sized (:func:`_resident`): each frame is
    coalesced to ``defaultParallelism`` partitions before caching, so
    a full scan is one task wave at any core count. Left alone, the
    edge cache kept its lineage's partitioning — 1 PLACED partition
    plus ``spark.sql.shuffle.partitions`` CONTAINS partitions (cached
    plans are exempt from AQE coalescing) — a 33-task scan, 9 waves on
    4 cores, whatever the data size. Fewer partitions than cores would
    go the other way: measured at sf0.1, byte-sized partitioning made
    every compute query 3-4× slower."""
    key = (id(spark.sparkContext), sf_dir)
    if key not in _GRAPH_CACHE:
        v, e = tpch_graph(spark, sf_dir)
        # the threshold count fills the resident edge cache, and the
        # layout is built from the cached frames: the edge lineage
        # runs once either way
        g = _resident(spark, v, e)
        if g.edges.count() >= AUTO_LAYOUT_MIN_EDGES:
            resident = (g.vertices, g.edges)
            g.use_adjacency_layout()
            for df in resident:
                df.unpersist()
        _GRAPH_CACHE[key] = g
    return _GRAPH_CACHE[key]


# Oracle-side view of the F6 vertex table.
_V_SQL = """
  SELECT 'c_' || CAST(c_custkey AS VARCHAR) AS id, 'customer' AS label FROM customer
  UNION ALL
  SELECT 'o_' || CAST(o_orderkey AS VARCHAR) AS id, 'order' AS label FROM orders
  UNION ALL
  SELECT 'p_' || CAST(p_partkey AS VARCHAR) AS id, 'part' AS label FROM part
"""


def g_vertex_counts(spark, sf_dir):
    """AllVertexQuery + grouped counts (rdb/datastore.rs:62-65)."""
    g = graph_session(spark, sf_dir)
    return (
        g.df(Q.vertices())
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("label")
    )


G_VERTEX_COUNTS_SQL = f"""
SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM ({_V_SQL}) GROUP BY label ORDER BY label
"""


def g_edge_counts(spark, sf_dir):
    """AllEdgeQuery + count by relationship (rdb/datastore.rs:102-110).
    CONTAINS edges dedup lineitem on (order, part) — edge identity is
    the triple (inmemory_storage.rs:16)."""
    g = graph_session(spark, sf_dir)
    return (
        g.df(Q.edges())
        .groupBy("relationship")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("relationship")
    )


G_EDGE_COUNTS_SQL = """
SELECT relationship, CAST(COUNT(*) AS BIGINT) AS n FROM (
  SELECT 'PLACED' AS relationship FROM orders
  UNION ALL
  SELECT 'CONTAINS' AS relationship
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
) GROUP BY relationship ORDER BY relationship
"""


def g_label_scan(spark, sf_dir):
    """RangeVertexQuery with label filter + limit + deterministic id
    order (queries.rs:267-332; byte-ordered iteration
    rdb/managers.rs:90-110)."""
    g = graph_session(spark, sf_dir)
    return g.df(Q.range_vertices(t="customer", limit=25)).select("id", "label")


G_LABEL_SCAN_SQL = """
SELECT 'c_' || CAST(c_custkey AS VARCHAR) AS id, 'customer' AS label
FROM customer ORDER BY id LIMIT 25
"""


def g_keyset_pagination(spark, sf_dir):
    """start_id resume-after pagination (queries.rs:275-277,
    util.rs next_uuid:85-96): lexicographic id order like the
    reference's UUID byte order."""
    g = graph_session(spark, sf_dir)
    return g.df(
        Q.range_vertices(t="customer", start_id="c_500", limit=20)
    ).select("id")


G_KEYSET_SQL = """
SELECT id FROM (
  SELECT 'c_' || CAST(c_custkey AS VARCHAR) AS id FROM customer
) WHERE id > 'c_500' ORDER BY id LIMIT 20
"""


def g_point_lookup(spark, sf_dir):
    """SpecificVertexQuery point lookups (queries.rs:335-360) with a
    property projected out of the map."""
    g = graph_session(spark, sf_dir)
    return (
        g.df(Q.specific_vertices("c_1", "c_7", "o_32", "p_42"))
        .select(
            "id",
            "label",
            F.col("properties").getItem("mktsegment").alias("segment"),
        )
        .orderBy("id")
    )


G_POINT_LOOKUP_SQL = """
SELECT id, label, segment FROM (
  SELECT 'c_' || CAST(c_custkey AS VARCHAR) AS id, 'customer' AS label,
         c_mktsegment AS segment FROM customer
  UNION ALL
  SELECT 'o_' || CAST(o_orderkey AS VARCHAR), 'order', NULL FROM orders
  UNION ALL
  SELECT 'p_' || CAST(p_partkey AS VARCHAR), 'part', NULL FROM part
) WHERE id IN ('c_1', 'c_7', 'o_32', 'p_42') ORDER BY id
"""


def g_one_hop(spark, sf_dir):
    """The flagship pipe traversal (queries.rs:497-521): BUILDING
    customers → outbound PLACED edges → order endpoint vertices."""
    g = graph_session(spark, sf_dir)
    q = (
        Q.vertices_with_property_value("mktsegment", "BUILDING")
        .outbound(t="PLACED")
        .inbound()
    )
    return g.df(q).select("id").orderBy("id")


G_ONE_HOP_SQL = """
SELECT 'o_' || CAST(o_orderkey AS VARCHAR) AS id
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING' ORDER BY id
"""


def g_two_hop_count(spark, sf_dir):
    """Chained pipes (tests/vertex.rs:101-148 chains): BUILDING
    customers → orders → CONTAINS → distinct parts, counted."""
    g = graph_session(spark, sf_dir)
    q = (
        Q.vertices_with_property_value("mktsegment", "BUILDING")
        .outbound(t="PLACED")
        .inbound()
        .outbound(t="CONTAINS")
        .inbound()
        .count()
    )
    n = g.get(q)[-1].count
    return local_df(spark, [(n,)], "n bigint")


G_TWO_HOP_SQL = """
SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
"""


def g_reverse_hop(spark, sf_dir):
    """Reversed-index traversal (range_reversed_edges,
    rdb/datastore.rs:112-124): orders → inbound PLACED edges →
    src customer endpoints."""
    g = graph_session(spark, sf_dir)
    q = (
        Q.specific_vertices("o_1", "o_2", "o_3", "o_4", "o_5", "o_6", "o_7")
        .inbound(t="PLACED")
        .outbound()
    )
    return g.df(q).select("id").orderBy("id")


G_REVERSE_HOP_SQL = """
SELECT DISTINCT 'c_' || CAST(o_custkey AS VARCHAR) AS id
FROM orders WHERE o_orderkey IN (1,2,3,4,5,6,7) ORDER BY id
"""


def g_degree_topk(spark, sf_dir):
    """Grouped degree count (SURVEY §2.4 edge-count row;
    queries_examples.txt:120-123 grouped count + ORDER BY + LIMIT):
    top 10 customers by PLACED out-degree."""
    g = graph_session(spark, sf_dir)
    return (
        g.df(Q.edges())
        .filter(F.col("relationship") == "PLACED")
        .groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("degree"))
        .orderBy(F.desc("degree"), F.asc("id"))
        .limit(10)
    )


G_DEGREE_TOPK_SQL = """
SELECT 'c_' || CAST(o_custkey AS VARCHAR) AS id, CAST(COUNT(*) AS BIGINT) AS degree
FROM orders GROUP BY o_custkey ORDER BY degree DESC, id ASC LIMIT 10
"""


def g_property_presence(spark, sf_dir):
    """VertexWithPropertyPresence / piped presence negation
    (queries.rs:363-379, 548-587): orders have no 'mktsegment'."""
    g = graph_session(spark, sf_dir)
    with_seg = g.get(Q.vertices_with_property("mktsegment").count())[-1].count
    without_seg = g.get(
        Q.range_vertices(t="order").without_property("mktsegment").count()
    )[-1].count
    return local_df(
        spark,
        [("with_segment", with_seg), ("orders_without_segment", without_seg)],
        "bucket string, n bigint",
    )


G_PROPERTY_PRESENCE_SQL = """
SELECT 'with_segment' AS bucket, CAST(COUNT(*) AS BIGINT) AS n FROM customer
UNION ALL
SELECT 'orders_without_segment', CAST(COUNT(*) AS BIGINT) FROM orders
ORDER BY bucket
"""


def g_edge_membership(spark, sf_dir):
    """SpecificEdgeQuery membership (queries.rs:422-446): probe 3
    (src, relationship, dst) triples, 2 real + 1 fabricated."""
    g = graph_session(spark, sf_dir)
    t = spark.read.parquet(f"{sf_dir}/orders.parquet")
    real = [
        (f"c_{r['o_custkey']}", "PLACED", f"o_{r['o_orderkey']}")
        for r in t.orderBy("o_orderkey").limit(2).collect()
    ]
    probes = real + [("c_1", "PLACED", "o_99999999")]
    return (
        g.df(Q.specific_edges(*probes))
        .select("src", "relationship", "dst")
        .orderBy("dst")
    )


G_EDGE_MEMBERSHIP_SQL = """
SELECT 'c_' || CAST(o_custkey AS VARCHAR) AS src, 'PLACED' AS relationship,
       'o_' || CAST(o_orderkey AS VARCHAR) AS dst
FROM orders WHERE o_orderkey IN (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 2)
ORDER BY dst
"""


def g_properties_explode(spark, sf_dir):
    """PipePropertyQuery all-properties expansion
    (queries.rs:524-545; rdb/datastore.rs:175-194)."""
    g = graph_session(spark, sf_dir)
    return (
        g.get(Q.specific_vertices("c_1", "c_2").properties())[-1]
        .df.select("id", "prop_name", "prop_value")
        .orderBy("id", "prop_name")
    )


G_PROPERTIES_EXPLODE_SQL = """
WITH c AS (SELECT * FROM customer WHERE c_custkey IN (1, 2))
SELECT id, prop_name, prop_value FROM (
  SELECT 'c_' || CAST(c_custkey AS VARCHAR) AS id, 'name' AS prop_name, c_name AS prop_value FROM c
  UNION ALL
  SELECT 'c_' || CAST(c_custkey AS VARCHAR), 'mktsegment', c_mktsegment FROM c
  UNION ALL
  SELECT 'c_' || CAST(c_custkey AS VARCHAR), 'acctbal', CAST(c_acctbal AS VARCHAR) FROM c
  UNION ALL
  SELECT 'c_' || CAST(c_custkey AS VARCHAR), 'nationkey', CAST(c_nationkey AS VARCHAR) FROM c
) ORDER BY id, prop_name
"""


def g_bidirectional_degree(spark, sf_dir):
    """Orders are mid-chain: in-degree (PLACED) + out-degree
    (CONTAINS) per order vertex, top 10 by total — the bidirectional
    pattern of queries_examples.txt:89-92 as degree arithmetic."""
    g = graph_session(spark, sf_dir)
    # each degree half aggregates on its own key: the adopted layout's
    # own-key copy makes both groupBys exchange-free
    out_d = (
        g.edges_for("out").filter(F.col("relationship") == "CONTAINS")
        .groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("out_degree"))
    )
    in_d = (
        g.edges_for("in").filter(F.col("relationship") == "PLACED")
        .groupBy(F.col("dst").alias("id"))
        .agg(F.count(F.lit(1)).alias("in_degree"))
    )
    return (
        out_d.join(in_d, "id", "outer")
        .select(
            "id",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
        .withColumn("total", F.col("out_degree") + F.col("in_degree"))
        .orderBy(F.desc("total"), F.asc("id"))
        .limit(10)
    )


G_BIDIR_SQL = """
WITH out_d AS (
  SELECT 'o_' || CAST(l_orderkey AS VARCHAR) AS id,
         CAST(COUNT(*) AS BIGINT) AS out_degree
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) GROUP BY 1
), in_d AS (
  SELECT 'o_' || CAST(o_orderkey AS VARCHAR) AS id,
         CAST(COUNT(*) AS BIGINT) AS in_degree
  FROM orders GROUP BY 1
)
SELECT id, out_degree, in_degree, total FROM (
  SELECT COALESCE(out_d.id, in_d.id) AS id,
         CAST(COALESCE(out_degree, 0) AS BIGINT) AS out_degree,
         CAST(COALESCE(in_degree, 0) AS BIGINT) AS in_degree,
         CAST(COALESCE(out_degree, 0) + COALESCE(in_degree, 0) AS BIGINT) AS total
  FROM out_d FULL OUTER JOIN in_d ON out_d.id = in_d.id
) ORDER BY total DESC, id ASC LIMIT 10
"""


def g_bfs_reachability(spark, sf_dir):
    """BFS from one customer over PLACED+CONTAINS, depth <= 2
    (operators/traversal.bfs, oracle-checked against a recursive CTE).
    Via GraphSession.bfs so the memoized max-branch bound lets the
    hops run as frontier-pushdown IN-predicate scans; graphs where
    the bound is too big fall back to the distributed probe loop."""
    g = graph_session(spark, sf_dir)
    return (
        g.bfs("c_1", max_depth=2, direction="out")
        .select("id", F.col("depth").cast("int").alias("depth"))
        .orderBy("depth", "id")
    )


G_BFS_SQL = """
WITH RECURSIVE edges_all AS (
  SELECT 'c_' || CAST(o_custkey AS VARCHAR) AS src,
         'o_' || CAST(o_orderkey AS VARCHAR) AS dst FROM orders
  UNION ALL
  SELECT 'o_' || CAST(l_orderkey AS VARCHAR),
         'p_' || CAST(l_partkey AS VARCHAR)
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
), reach(id, depth) AS (
  SELECT 'c_1', 0
  UNION ALL
  SELECT e.dst, r.depth + 1
  FROM reach r JOIN edges_all e ON e.src = r.id
  WHERE r.depth < 2
)
SELECT id, CAST(MIN(depth) AS INT) AS depth
FROM reach GROUP BY id ORDER BY depth, id
"""


def g_var_length_count(spark, sf_dir):
    """Variable-length expansion 1..2 hops from 5 customers
    (operators/traversal.var_length_expand), counted per start."""
    from graphdb_spark.operators.traversal import var_length_expand

    g = graph_session(spark, sf_dir)
    starts = local_df(
        spark, [(f"c_{i}",) for i in range(1, 6)], "id string"
    )
    return (
        var_length_expand(g.edges_for("out"), starts, 1, 2, direction="out")
        .groupBy("start_id")
        .agg(F.count(F.lit(1)).alias("reachable"))
        .orderBy("start_id")
    )


G_VAR_LENGTH_SQL = """
WITH RECURSIVE edges_all AS (
  SELECT 'c_' || CAST(o_custkey AS VARCHAR) AS src,
         'o_' || CAST(o_orderkey AS VARCHAR) AS dst FROM orders
  UNION ALL
  SELECT 'o_' || CAST(l_orderkey AS VARCHAR),
         'p_' || CAST(l_partkey AS VARCHAR)
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
), starts(start_id) AS (
  SELECT 'c_' || CAST(x AS VARCHAR) FROM (SELECT unnest(range(1, 6)) AS x)
), reach(start_id, id, hops) AS (
  SELECT start_id, start_id, 0 FROM starts
  UNION ALL
  SELECT r.start_id, e.dst, r.hops + 1
  FROM reach r JOIN edges_all e ON e.src = r.id
  WHERE r.hops < 2
), minimal AS (
  SELECT start_id, id, MIN(hops) AS hops FROM reach GROUP BY start_id, id
)
SELECT start_id, CAST(COUNT(*) AS BIGINT) AS reachable
FROM minimal WHERE hops BETWEEN 1 AND 2
GROUP BY start_id ORDER BY start_id
"""


def g_pagerank_top(spark, sf_dir):
    """PageRank over the F6 graph (operators/analytics.pagerank) —
    iterative power method, deterministic for fixed iterations; the
    oracle unrolls the same 5 iterations as chained DuckDB CTEs (the
    LPA trick) with matching IEEE expression shapes, and both sides
    round to 6 decimals to absorb float-sum ordering ULPs."""
    from graphdb_spark.operators.analytics import pagerank

    g = graph_session(spark, sf_dir)
    return (
        pagerank(g.edges, iterations=5)
        .select("id", F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("id"))
        .limit(20)
    )


def _pagerank_sql(iterations: int = 5) -> str:
    """DuckDB twin of analytics.pagerank on the F6 edge list: rank0=1,
    rank_{i+1} = ((1 - 0.85d) + 0.85d * contrib) * n / total, with the
    damping literals CAST to DOUBLE so both engines compute the same
    IEEE constants (DuckDB decimal literals would differ by 1 ULP)."""
    sql = """WITH edges_all AS (
  SELECT 'c_' || CAST(o_custkey AS VARCHAR) AS src,
         'o_' || CAST(o_orderkey AS VARCHAR) AS dst FROM orders
  UNION ALL
  SELECT 'o_' || CAST(l_orderkey AS VARCHAR),
         'p_' || CAST(l_partkey AS VARCHAR)
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
), verts AS (
  SELECT DISTINCT id FROM (
    SELECT src AS id FROM edges_all UNION ALL SELECT dst FROM edges_all
  )
), nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts
), outd AS (
  SELECT src, COUNT(*) AS out_degree FROM edges_all GROUP BY src
), r0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS rank FROM verts)"""
    for i in range(iterations):
        sql += f""",
c{i + 1} AS (
  SELECT e.dst AS id, SUM(r.rank / o.out_degree) AS contrib
  FROM edges_all e
  JOIN outd o ON e.src = o.src
  JOIN r{i} r ON e.src = r.id
  GROUP BY e.dst
), u{i + 1} AS (
  SELECT v.id,
         (1.0 - CAST(0.85 AS DOUBLE))
           + CAST(0.85 AS DOUBLE) * COALESCE(c.contrib, 0.0) AS rank
  FROM verts v LEFT JOIN c{i + 1} c ON v.id = c.id
), r{i + 1} AS (
  SELECT id, rank * (SELECT n FROM nn) / (SELECT SUM(rank) FROM u{i + 1}) AS rank
  FROM u{i + 1}
)"""
    sql += f"""
SELECT id, ROUND(rank, 6) AS rank FROM r{iterations}
ORDER BY rank DESC, id ASC LIMIT 20"""
    return sql


PPR_SOURCES = ("c_1", "c_19", "c_31")


def g_ppr_top(spark, sf_dir):
    """Personalized PageRank (random walk with restart) from a 3-
    customer seed set over the F6 graph — proximity ranking for
    recommendation-style queries. Same oracle discipline as
    g_pagerank_top: the DuckDB twin unrolls the identical 4 iterations
    with matching IEEE expression shapes; both sides round to 6
    decimals and drop the untouched zero-rank tail."""
    from graphdb_spark.operators.analytics import personalized_pagerank

    g = graph_session(spark, sf_dir)
    return (
        personalized_pagerank(g.edges, list(PPR_SOURCES), iterations=4)
        .select("id", F.round("rank", 6).alias("rank"))
        .filter(F.col("rank") > 0)
        .orderBy(F.desc("rank"), F.asc("id"))
        .limit(20)
    )


def _ppr_sql(iterations: int = 4) -> str:
    """DuckDB twin of analytics.personalized_pagerank on the F6 edge
    list: r0 = [id in S], r_{i+1} = (1-d)*[id in S] + d*contrib, no
    renormalization (RWR form). Damping literals CAST to DOUBLE so both
    engines compute the same IEEE constants."""
    srcs = ", ".join(f"'{s}'" for s in PPR_SOURCES)
    ind = f"CASE WHEN {{v}}.id IN ({srcs}) THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END"
    sql = f"""WITH edges_all AS (
  SELECT 'c_' || CAST(o_custkey AS VARCHAR) AS src,
         'o_' || CAST(o_orderkey AS VARCHAR) AS dst FROM orders
  UNION ALL
  SELECT 'o_' || CAST(l_orderkey AS VARCHAR),
         'p_' || CAST(l_partkey AS VARCHAR)
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
), verts AS (
  SELECT DISTINCT id FROM (
    SELECT src AS id FROM edges_all UNION ALL SELECT dst FROM edges_all
  )
), outd AS (
  SELECT src, COUNT(*) AS out_degree FROM edges_all GROUP BY src
), r0 AS (SELECT id, {ind.format(v='verts')} AS rank FROM verts)"""
    for i in range(iterations):
        sql += f""",
c{i + 1} AS (
  SELECT e.dst AS id, SUM(r.rank / o.out_degree) AS contrib
  FROM edges_all e
  JOIN outd o ON e.src = o.src
  JOIN r{i} r ON e.src = r.id
  GROUP BY e.dst
), r{i + 1} AS (
  SELECT v.id,
         (1.0 - CAST(0.85 AS DOUBLE)) * {ind.format(v='v')}
           + CAST(0.85 AS DOUBLE) * COALESCE(c.contrib, 0.0) AS rank
  FROM verts v LEFT JOIN c{i + 1} c ON v.id = c.id
)"""
    sql += f"""
SELECT id, ROUND(rank, 6) AS rank FROM r{iterations}
WHERE ROUND(rank, 6) > 0
ORDER BY rank DESC, id ASC LIMIT 20"""
    return sql


def g_hits_top(spark, sf_dir):
    """HITS hubs/authorities on the F6 graph (analytics.hits) — top 20
    authorities with both scores. Oracle: the same 3 sum-normalized
    iterations unrolled as chained CTEs with matching IEEE expression
    shapes; both sides round to 6 decimals."""
    from graphdb_spark.operators.analytics import hits

    g = graph_session(spark, sf_dir)
    return (
        hits(g.edges, iterations=3)
        .select(
            "id",
            F.round("hub", 6).alias("hub"),
            F.round("auth", 6).alias("auth"),
        )
        .orderBy(F.desc("auth"), F.asc("id"))
        .limit(20)
    )


def _hits_sql(iterations: int = 3) -> str:
    """DuckDB twin of analytics.hits on the F6 edge list: per
    iteration auth = sum of in-neighbor hubs then sum-normalize to n,
    hub = sum of out-neighbor (new) auths then normalize. Every CTE a
    later level references twice is MATERIALIZED — DuckDB inlines CTEs
    by default, and un-materialized the chain re-evaluates upstream
    levels exponentially (measured 21.6 s -> sub-second at sf0.01)."""
    sql = """WITH edges_all AS MATERIALIZED (
  SELECT 'c_' || CAST(o_custkey AS VARCHAR) AS src,
         'o_' || CAST(o_orderkey AS VARCHAR) AS dst FROM orders
  UNION ALL
  SELECT 'o_' || CAST(l_orderkey AS VARCHAR),
         'p_' || CAST(l_partkey AS VARCHAR)
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
), verts AS MATERIALIZED (
  SELECT DISTINCT id FROM (
    SELECT src AS id FROM edges_all UNION ALL SELECT dst FROM edges_all
  )
), nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts
), h0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS hub FROM verts)"""
    for i in range(1, iterations + 1):
        sql += f""",
ar{i} AS (
  SELECT e.dst AS id, SUM(h.hub) AS auth
  FROM edges_all e JOIN h{i - 1} h ON e.src = h.id GROUP BY e.dst
), af{i} AS MATERIALIZED (
  SELECT v.id, COALESCE(a.auth, 0.0) AS auth
  FROM verts v LEFT JOIN ar{i} a ON v.id = a.id
), a{i} AS MATERIALIZED (
  SELECT id, auth * (SELECT n FROM nn) / (SELECT SUM(auth) FROM af{i}) AS auth
  FROM af{i}
), hr{i} AS (
  SELECT e.src AS id, SUM(a.auth) AS hub
  FROM edges_all e JOIN a{i} a ON e.dst = a.id GROUP BY e.src
), hf{i} AS MATERIALIZED (
  SELECT v.id, COALESCE(h.hub, 0.0) AS hub
  FROM verts v LEFT JOIN hr{i} h ON v.id = h.id
), h{i} AS MATERIALIZED (
  SELECT id, hub * (SELECT n FROM nn) / (SELECT SUM(hub) FROM hf{i}) AS hub
  FROM hf{i}
)"""
    sql += f"""
SELECT h.id, ROUND(h.hub, 6) AS hub, ROUND(a.auth, 6) AS auth
FROM h{iterations} h JOIN a{iterations} a ON h.id = a.id
ORDER BY auth DESC, h.id ASC LIMIT 20"""
    return sql


def g_closeness_seeds(spark, sf_dir):
    """Depth-bounded closeness centrality for the PPR seed set
    (traversal.closeness_seeds): one multi-source BFS (undirected,
    <=3 hops) + one aggregate. Oracle: recursive CTE with UNION
    dedup (bounds the recursion at |seeds| x |V| x depths — UNION ALL
    would enumerate paths and explode), then min-depth per (seed,id)."""
    from graphdb_spark.operators.traversal import closeness_seeds

    g = graph_session(spark, sf_dir)
    return closeness_seeds(
        g.edges_for("out"), list(PPR_SOURCES), max_depth=3,
        direction="both", edges_in=g.reversed_edges(),
    ).orderBy("seed")


CLOSENESS_SQL = f"""
WITH RECURSIVE edges_dir AS (
  SELECT 'c_' || CAST(o_custkey AS VARCHAR) AS src,
         'o_' || CAST(o_orderkey AS VARCHAR) AS dst FROM orders
  UNION ALL
  SELECT 'o_' || CAST(l_orderkey AS VARCHAR),
         'p_' || CAST(l_partkey AS VARCHAR)
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
), edges_all AS (
  SELECT src, dst FROM edges_dir
  UNION ALL
  SELECT dst, src FROM edges_dir
), reach(seed, id, depth) AS (
  SELECT seed, seed, 0 FROM (
    VALUES {", ".join(f"('{s}')" for s in PPR_SOURCES)}
  ) AS seeds(seed)
  UNION
  SELECT r.seed, e.dst, r.depth + 1
  FROM reach r JOIN edges_all e ON e.src = r.id
  WHERE r.depth < 3
), m AS (
  SELECT seed, id, MIN(depth) AS d FROM reach GROUP BY 1, 2
)
SELECT seed, CAST(COUNT(*) AS BIGINT) AS n_reached,
  CAST(SUM(d) AS BIGINT) AS total_depth,
  ROUND(AVG(d), 6) AS mean_depth
FROM m WHERE d > 0 GROUP BY seed ORDER BY seed
"""


def _cooccur_edges(spark, sf_dir):
    """Part co-occurrence graph: undirected edge between parts that
    appear in the same order (canonical string-ordered pair).

    The self-join runs co-partitioned on an explicit l_orderkey
    repartition: AQE sizes the pair-explosion stage by the small
    lineitem INPUT bytes and would run it at scan-task width (3 tasks
    at sf0.1), starving every triangle/assortativity consumer."""
    n_part = max(spark.sparkContext.defaultParallelism, 8)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey",
        F.concat(F.lit("p_"), F.col("l_partkey").cast("string")).alias("pid"),
    ).repartition(n_part, "l_orderkey")
    a = li.alias("a")
    b = li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.pid") < F.col("b.pid")),
    ).select(
        F.col("a.pid").alias("src"),
        F.lit("CO").alias("relationship"),
        F.col("b.pid").alias("dst"),
        F.create_map().cast("map<string,string>").alias("properties"),
    )
    return pairs.dropDuplicates(["src", "dst"])


_COOCCUR_UND: dict = {}


def _cooccur_und_int(spark, sf_dir):
    """Memoized canonical undirected simple co-occurrence edge set —
    the resident DERIVED graph, same lifecycle as _GRAPH_CACHE /
    text._SIG_CACHE (keyed per SparkContext + sf_dir; a fresh session
    recomputes from the parquet). Five wedge-family consumers
    (triangle_top, clustering_coeff, assortativity, edge_support,
    ktruss) all start from exactly this relation; before r10 each
    re-ran the lineitem pair explosion + distinct (the dominant cost
    of the cheap ones) and eagerly materialized its own copy."""
    key = (id(spark.sparkContext), sf_dir)
    if key not in _COOCCUR_UND:
        from graphdb_spark.operators.analytics import _canonical_und

        _COOCCUR_UND[key] = _canonical_und(_cooccur_edges_int(spark, sf_dir))
    return _COOCCUR_UND[key]


_COOCCUR_TRIS: dict = {}


def _cooccur_tris_int(spark, sf_dir):
    """Memoized oriented triangle stream over the memoized und — the
    wedge join behind it is the dominant cost of the whole wedge
    family (~10 s / 41M wedges at sf0.1), and triangle_top,
    clustering_coeff, edge_support and ktruss's first peel otherwise
    each re-run it. 1.9M (p,x,y) long-triples at sf0.1 — compact, and
    recomputed from parquet by every fresh session like the other
    resident caches."""
    key = (id(spark.sparkContext), sf_dir)
    if key not in _COOCCUR_TRIS:
        from graphdb_spark.operators.analytics import (
            _oriented_triangles,
            _und_degrees,
        )

        und = _cooccur_und_int(spark, sf_dir)
        _COOCCUR_TRIS[key] = _oriented_triangles(
            und, _und_degrees(und)
        ).localCheckpoint(eager=False)
    return _COOCCUR_TRIS[key]


def _cooccur_edges_int(spark, sf_dir):
    """Integer-keyed co-occurrence pairs (src/dst = raw l_partkey
    longs, duplicates left in — every consumer dedupes anyway and a
    second dedupe here would just double the shuffle). Long keys hash
    and compare several times faster than the 'p_N' strings through
    the wedge/degree machinery (same ids-stay-integers-in-flight trick
    as adamic_adar); consumers string-prefix at OUTPUT, where the
    oracle's 'p_' || key ordering applies."""
    n_part = max(spark.sparkContext.defaultParallelism, 8)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", F.col("l_partkey").cast("long").alias("pid")
    ).repartition(n_part, "l_orderkey")
    a = li.alias("a")
    b = li.alias("b")
    return a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.pid") < F.col("b.pid")),
    ).select(F.col("a.pid").alias("src"), F.col("b.pid").alias("dst"))


def g_triangle_top(spark, sf_dir):
    """Triangle counts on the part co-occurrence graph
    (operators/analytics.triangle_count), top 10 corners."""
    from graphdb_spark.operators.analytics import triangle_count

    return (
        triangle_count(_cooccur_edges_int(spark, sf_dir),
                       und=_cooccur_und_int(spark, sf_dir),
                       tris=_cooccur_tris_int(spark, sf_dir))
        .select(
            F.concat(F.lit("p_"), F.col("id").cast("string")).alias("id"),
            F.col("triangles").cast("long").alias("triangles"),
        )
        .orderBy(F.desc("triangles"), F.asc("id"))
        .limit(10)
    )


G_TRIANGLE_SQL = """
WITH und AS (
  SELECT DISTINCT
    'p_' || CAST(LEAST(a.l_partkey, b.l_partkey) AS VARCHAR) AS sa,
    'p_' || CAST(GREATEST(a.l_partkey, b.l_partkey) AS VARCHAR) AS sb
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
), canon AS (
  -- canonical STRING ordering to mirror the engine's least/greatest
  SELECT DISTINCT LEAST(sa, sb) AS a, GREATEST(sa, sb) AS b FROM und
), wedges AS (
  SELECT e1.a AS p, e1.b AS x, e2.b AS y
  FROM canon e1 JOIN canon e2 ON e1.a = e2.a AND e1.b < e2.b
), tris AS (
  SELECT p, x, y FROM wedges
  WHERE EXISTS (SELECT 1 FROM canon c WHERE c.a = wedges.x AND c.b = wedges.y)
), corners AS (
  SELECT p AS id FROM tris
  UNION ALL SELECT x FROM tris
  UNION ALL SELECT y FROM tris
)
SELECT id, CAST(COUNT(*) AS BIGINT) AS triangles
FROM corners GROUP BY id
ORDER BY triangles DESC, id ASC LIMIT 10
"""


def g_label_prop_communities(spark, sf_dir):
    """Deterministic label propagation (2 synchronous iterations,
    min-id tie-break) on the F6 graph; community sizes, top 10.
    Oracle: the same two iterations unrolled as SQL (grouped votes +
    windowed argmax per round)."""
    from graphdb_spark.operators.analytics import label_propagation

    g = graph_session(spark, sf_dir)
    return (
        label_propagation(g.edges, max_iter=2)
        .groupBy("community")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "community")
        .limit(10)
    )


G_LABEL_PROP_SQL = """
WITH e AS (
  SELECT 'c_' || CAST(o_custkey AS VARCHAR) AS src,
         'o_' || CAST(o_orderkey AS VARCHAR) AS dst FROM orders
  UNION ALL
  SELECT 'o_' || CAST(l_orderkey AS VARCHAR),
         'p_' || CAST(l_partkey AS VARCHAR)
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
), und AS (
  SELECT DISTINCT id, nbr FROM (
    SELECT src AS id, dst AS nbr FROM e UNION ALL SELECT dst, src FROM e
  ) WHERE id <> nbr
), l0 AS (
  SELECT DISTINCT id AS vid, id AS comm FROM und
), v1 AS (
  SELECT u.id, l.comm, COUNT(*) AS c FROM und u JOIN l0 l ON u.nbr = l.vid
  GROUP BY 1, 2
), l1 AS (
  SELECT id AS vid, comm FROM (
    SELECT id, comm,
           ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, comm) AS rn
    FROM v1
  ) WHERE rn = 1
), v2 AS (
  SELECT u.id, l.comm, COUNT(*) AS c FROM und u JOIN l1 l ON u.nbr = l.vid
  GROUP BY 1, 2
), l2 AS (
  SELECT id AS vid, comm FROM (
    SELECT id, comm,
           ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, comm) AS rn
    FROM v2
  ) WHERE rn = 1
)
SELECT comm AS community, COUNT(*) AS n FROM l2
GROUP BY 1 ORDER BY n DESC, community LIMIT 10
"""



def g_clustering_coeff(spark, sf_dir):
    """Local clustering coefficient on the part co-occurrence graph
    (operators/analytics.local_clustering): 2*tri(v)/(deg(v)*(deg(v)-1))
    per vertex with deg >= 2, top 10 (coeff desc, id asc)."""
    from graphdb_spark.operators.analytics import local_clustering

    return (
        local_clustering(_cooccur_edges_int(spark, sf_dir),
                         und=_cooccur_und_int(spark, sf_dir),
                         tris=_cooccur_tris_int(spark, sf_dir))
        .select(
            F.concat(F.lit("p_"), F.col("id").cast("string")).alias("id"),
            "degree", "triangles", "coeff",
        )
        .orderBy(F.desc("coeff"), F.asc("id"))
        .limit(10)
    )


# und/canon/wedges/tris replicate G_TRIANGLE_SQL; deg counts canonical
# endpoints; the coeff expression shape matches the Spark side exactly
G_CLUSTERING_SQL = """
WITH und AS (
  SELECT DISTINCT
    'p_' || CAST(LEAST(a.l_partkey, b.l_partkey) AS VARCHAR) AS sa,
    'p_' || CAST(GREATEST(a.l_partkey, b.l_partkey) AS VARCHAR) AS sb
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
), canon AS (
  SELECT DISTINCT LEAST(sa, sb) AS a, GREATEST(sa, sb) AS b FROM und
), deg AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
    SELECT a AS id FROM canon UNION ALL SELECT b AS id FROM canon
  ) GROUP BY id
), wedges AS (
  SELECT e1.a AS p, e1.b AS x, e2.b AS y
  FROM canon e1 JOIN canon e2 ON e1.a = e2.a AND e1.b < e2.b
), tris AS (
  SELECT p, x, y FROM wedges
  WHERE EXISTS (SELECT 1 FROM canon c WHERE c.a = wedges.x AND c.b = wedges.y)
), corners AS (
  SELECT p AS id FROM tris
  UNION ALL SELECT x FROM tris
  UNION ALL SELECT y FROM tris
), tri AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS triangles
  FROM corners GROUP BY id
)
SELECT d.id, d.degree,
       CAST(COALESCE(t.triangles, 0) AS BIGINT) AS triangles,
       ROUND((2.0 * CAST(COALESCE(t.triangles, 0) AS DOUBLE))
             / (CAST(d.degree AS DOUBLE) * (CAST(d.degree AS DOUBLE) - 1.0)),
             6) AS coeff
FROM deg d LEFT JOIN tri t USING (id)
WHERE d.degree >= 2
ORDER BY coeff DESC, id ASC LIMIT 10
"""


def g_assortativity(spark, sf_dir):
    """Degree assortativity (Newman r) of the part co-occurrence graph
    (operators/analytics.degree_assortativity): one (m_edges, r) row;
    exact integer moments, one shared-shape double expression."""
    from graphdb_spark.operators.analytics import degree_assortativity

    return degree_assortativity(_cooccur_edges_int(spark, sf_dir),
                                und=_cooccur_und_int(spark, sf_dir))


G_ASSORT_SQL = """
WITH und AS (
  SELECT DISTINCT
    'p_' || CAST(LEAST(a.l_partkey, b.l_partkey) AS VARCHAR) AS sa,
    'p_' || CAST(GREATEST(a.l_partkey, b.l_partkey) AS VARCHAR) AS sb
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
), canon AS (
  SELECT DISTINCT LEAST(sa, sb) AS a, GREATEST(sa, sb) AS b FROM und
), deg AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT a AS id FROM canon UNION ALL SELECT b AS id FROM canon
  ) GROUP BY id
), oriented AS (
  SELECT da.d AS x, db.d AS y
  FROM canon e JOIN deg da ON e.a = da.id JOIN deg db ON e.b = db.id
), sym AS (
  SELECT x, y FROM oriented UNION ALL SELECT y AS x, x AS y FROM oriented
), mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM sym
)
SELECT CAST(m // 2 AS BIGINT) AS m_edges,
       ROUND((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS r
FROM mom
"""


EDGE_SUPPORT_TOPK = 15


def g_edge_support(spark, sf_dir):
    """Per-edge triangle support (k-truss building block) on the part
    co-occurrence graph (operators/analytics.edge_support): the top-15
    most-embedded edges — the ties a truss decomposition keeps last."""
    from graphdb_spark.operators.analytics import edge_support

    pa = F.concat(F.lit("p_"), F.col("a").cast("string"))
    pb = F.concat(F.lit("p_"), F.col("b").cast("string"))
    return (
        edge_support(_cooccur_edges_int(spark, sf_dir),
                     und=_cooccur_und_int(spark, sf_dir),
                     tris=_cooccur_tris_int(spark, sf_dir))
        # integer-canonical pairs re-canonicalize under STRING order at
        # output ('p_10' < 'p_9' lexicographically)
        .select(
            F.least(pa, pb).alias("a"),
            F.greatest(pa, pb).alias("b"),
            "support",
        )
        .orderBy(F.desc("support"), F.asc("a"), F.asc("b"))
        .limit(EDGE_SUPPORT_TOPK)
    )


# und/canon/wedges/tris replicate G_CLUSTERING_SQL; each triangle
# (p,x,y) with p<x<y credits its three canonical sides
G_EDGE_SUPPORT_SQL = f"""
WITH und AS (
  SELECT DISTINCT
    'p_' || CAST(LEAST(a.l_partkey, b.l_partkey) AS VARCHAR) AS sa,
    'p_' || CAST(GREATEST(a.l_partkey, b.l_partkey) AS VARCHAR) AS sb
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
), canon AS (
  SELECT DISTINCT LEAST(sa, sb) AS a, GREATEST(sa, sb) AS b FROM und
), wedges AS (
  SELECT e1.a AS p, e1.b AS x, e2.b AS y
  FROM canon e1 JOIN canon e2 ON e1.a = e2.a AND e1.b < e2.b
), tris AS (
  SELECT p, x, y FROM wedges
  JOIN canon c ON c.a = wedges.x AND c.b = wedges.y
), sides AS (
  SELECT p AS a, x AS b FROM tris
  UNION ALL SELECT p AS a, y AS b FROM tris
  UNION ALL SELECT x AS a, y AS b FROM tris
), sup AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS support
  FROM sides GROUP BY a, b
)
SELECT canon.a, canon.b,
       CAST(COALESCE(sup.support, 0) AS BIGINT) AS support
FROM canon LEFT JOIN sup USING (a, b)
ORDER BY support DESC, a ASC, b ASC LIMIT {EDGE_SUPPORT_TOPK}
"""


KTRUSS_K = 12          # support >= 10 inside the surviving subgraph
KTRUSS_ORACLE_LAYERS = 6  # fixpoint reached by layer 5 at sf0.01; +1 margin


def g_ktruss(spark, sf_dir):
    """k-truss decomposition of the part co-occurrence graph
    (operators/analytics.ktruss, k=12): the cohesive core where every
    surviving edge closes >= 10 triangles WITHIN the core — 115.7k
    edges peel to 1,127 at sf0.01 over 4 effective iterations. The
    iterative-peel sibling of g_kcore, one cohesion level stronger."""
    from graphdb_spark.operators.analytics import ktruss

    pa = F.concat(F.lit("p_"), F.col("a").cast("string"))
    pb = F.concat(F.lit("p_"), F.col("b").cast("string"))
    return (
        ktruss(_cooccur_edges_int(spark, sf_dir), KTRUSS_K,
               und=_cooccur_und_int(spark, sf_dir),
               tris=_cooccur_tris_int(spark, sf_dir))
        .select(
            F.least(pa, pb).alias("a"),
            F.greatest(pa, pb).alias("b"),
            "support",
        )
        .orderBy(F.desc("support"), F.asc("a"), F.asc("b"))
    )


def _ktruss_sql() -> str:
    """Bounded-unroll twin (the g_modularity technique): each layer
    recomputes edge support over the previous layer's edge set and
    keeps support >= k-2; the Spark side iterates to fixpoint, so the
    unroll count only needs to reach it (5 layers at sf0.01; 6 for
    margin — a stable set is a fixed point of the peel, so extra
    layers are harmless)."""
    min_sup = KTRUSS_K - 2

    # AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
    # each layer references the previous one THREE times (two wedge
    # sides + the closing join) — un-materialized, the base co-occur
    # self-join would be inlined 3^layers (= 729) times, which
    # exhausted the process fd limit before doing any real work.
    def support_layer(prev: str, i: int) -> str:
        return f"""w{i} AS MATERIALIZED (
  SELECT e1.a AS p, e1.b AS x, e2.b AS y
  FROM {prev} e1 JOIN {prev} e2 ON e1.a = e2.a AND e1.b < e2.b
), t{i} AS MATERIALIZED (
  SELECT p, x, y FROM w{i}
  JOIN {prev} c ON c.a = w{i}.x AND c.b = w{i}.y
), s{i} AS MATERIALIZED (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS support FROM (
    SELECT p AS a, x AS b FROM t{i}
    UNION ALL SELECT p AS a, y AS b FROM t{i}
    UNION ALL SELECT x AS a, y AS b FROM t{i}
  ) GROUP BY a, b
), e{i} AS MATERIALIZED (
  SELECT a, b, support FROM s{i} WHERE support >= {min_sup}
)"""

    layers = ",\n".join(
        support_layer(f"e{i - 1}" if i > 1 else "e0", i)
        for i in range(1, KTRUSS_ORACLE_LAYERS + 1)
    )
    last = f"e{KTRUSS_ORACLE_LAYERS}"
    prev = f"e{KTRUSS_ORACLE_LAYERS - 1}"
    # Fixpoint assertion: the unroll count is data-dependent (5 layers
    # at sf0.01), so at a bigger SF an under-unrolled oracle would
    # silently diverge from the fixpoint-iterating Spark side. The
    # lazy CASE raises inside DuckDB (error() is only evaluated on the
    # ELSE branch) iff the last two layers differ — a loud oracle
    # error instead of a false gate failure.
    fixpoint_guard = (
        f"WHERE CASE WHEN (SELECT COUNT(*) FROM {prev}) = "
        f"(SELECT COUNT(*) FROM {last}) THEN TRUE "
        f"ELSE error('ktruss oracle under-unrolled: raise "
        f"KTRUSS_ORACLE_LAYERS past {KTRUSS_ORACLE_LAYERS}') END"
    )
    return f"""
WITH und AS MATERIALIZED (
  SELECT DISTINCT
    LEAST(a.l_partkey, b.l_partkey) AS ia,
    GREATEST(a.l_partkey, b.l_partkey) AS ib
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
), e0 AS MATERIALIZED (
  SELECT ia AS a, ib AS b FROM und
),
{layers}
SELECT LEAST('p_' || CAST(a AS VARCHAR), 'p_' || CAST(b AS VARCHAR)) AS a,
       GREATEST('p_' || CAST(a AS VARCHAR), 'p_' || CAST(b AS VARCHAR)) AS b,
       support
FROM {last}
{fixpoint_guard}
ORDER BY support DESC, a ASC, b ASC
"""


QUERIES = {
    "g_bfs_reachability": (g_bfs_reachability, G_BFS_SQL),
    "g_label_prop_communities": (g_label_prop_communities, G_LABEL_PROP_SQL),
    "g_var_length_count": (g_var_length_count, G_VAR_LENGTH_SQL),
    "g_pagerank_top": (g_pagerank_top, _pagerank_sql()),
    # g_ppr_top registers in admin_gate.QUERIES (its gate suite packs
    # from that module; the unpacked registry forbids duplicates)
    "g_triangle_top": (g_triangle_top, G_TRIANGLE_SQL),
    "g_vertex_counts": (g_vertex_counts, G_VERTEX_COUNTS_SQL),
    "g_edge_counts": (g_edge_counts, G_EDGE_COUNTS_SQL),
    "g_label_scan": (g_label_scan, G_LABEL_SCAN_SQL),
    "g_keyset_pagination": (g_keyset_pagination, G_KEYSET_SQL),
    "g_point_lookup": (g_point_lookup, G_POINT_LOOKUP_SQL),
    "g_one_hop": (g_one_hop, G_ONE_HOP_SQL),
    "g_two_hop_count": (g_two_hop_count, G_TWO_HOP_SQL),
    "g_reverse_hop": (g_reverse_hop, G_REVERSE_HOP_SQL),
    "g_degree_topk": (g_degree_topk, G_DEGREE_TOPK_SQL),
    "g_property_presence": (g_property_presence, G_PROPERTY_PRESENCE_SQL),
    "g_edge_membership": (g_edge_membership, G_EDGE_MEMBERSHIP_SQL),
    "g_properties_explode": (g_properties_explode, G_PROPERTIES_EXPLODE_SQL),
    "g_bidirectional_degree": (g_bidirectional_degree, G_BIDIR_SQL),
}


def g_adamic_adar(spark, sf_dir):
    """Adamic–Adar link prediction (analytics.adamic_adar) on the
    CONTAINS edges: top-20 order pairs most likely to be 'related' by
    their shared parts, each shared part weighted 1/ln(its order
    count). Pairs meet only through the dst equi-join (per-part deg²
    bound, hubs pruned above max_degree) — no all-pairs anywhere."""
    from graphdb_spark.operators.analytics import adamic_adar
    from graphdb_spark.sources.tpch import load_tables

    # Feed the operator INTEGER keys (the raw order/part keys behind
    # the CONTAINS edges) and prefix the graph-style ids only on the
    # final rows: the 9M-pair self-join and aggregate then shuffle
    # narrow longs instead of concatenated strings (measured 2x at
    # sf0.1), which is also the right plan at 100 TB. Ordering happens
    # AFTER prefixing so ties break on the same strings as the oracle.
    li = load_tables(spark, sf_dir)["lineitem"]
    e = li.select(F.col("l_orderkey").alias("src"),
                  F.col("l_partkey").alias("dst"))
    # top-k BEFORE prefixing: TakeOrdered over 9M (long, long, double)
    # rows instead of a total order over 9M concatenated strings
    # (measured ~2x on the whole query at sf0.1). Ties break on the
    # integer keys; the oracle ranks on the same integers.
    pairs = adamic_adar(e, max_degree=1000, top_k=20)
    return (
        pairs.select(
            F.concat(F.lit("o_"), F.col("src_a").cast("string"))
            .alias("src_a"),
            F.concat(F.lit("o_"), F.col("src_b").cast("string"))
            .alias("src_b"),
            "common", "score",
        )
        .orderBy(F.desc("score"), "src_a", "src_b")
    )


# pairs canonicalize on the INTEGER keys (matching the Spark side,
# which keeps longs in flight and prefixes only the final rows);
# ordering happens after prefixing so ties break on the same strings
G_ADAMIC_ADAR_SQL = """
WITH e AS (
  SELECT DISTINCT l_orderkey AS src, l_partkey AS dst FROM lineitem
), deg AS (
  SELECT dst, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY dst
), w AS (
  SELECT e.src, e.dst, CAST(ROUND(1.0 / ln(deg.deg), 6) AS DECIMAL(18,6)) AS w
  FROM e JOIN deg ON e.dst = deg.dst WHERE deg.deg BETWEEN 2 AND 1000
), pairs AS (
  SELECT a.src AS ka, b.src AS kb,
         CAST(COUNT(*) AS BIGINT) AS common,
         CAST(ROUND(SUM(a.w), 6) AS DOUBLE) AS score
  FROM w a JOIN w b ON a.dst = b.dst AND a.src < b.src
  GROUP BY 1, 2
), topk AS (
  -- rank on the INTEGER keys (matching the Spark top_k), prefix after
  SELECT * FROM pairs ORDER BY score DESC, ka, kb LIMIT 20
)
SELECT 'o_' || CAST(ka AS VARCHAR) AS src_a,
       'o_' || CAST(kb AS VARCHAR) AS src_b, common, score
FROM topk ORDER BY score DESC, src_a, src_b
"""


def g_jaccard_links(spark, sf_dir):
    """Common-neighbor Jaccard link prediction
    (analytics.jaccard_links) on the same CONTAINS edge set as
    g_adamic_adar: top-20 order pairs by |shared parts| / |union of
    parts|. Integer keys in flight, graph-style ids prefixed only on
    the final 20 rows; candidate pairs meet only through the dst
    equi-join with the hub cap, while the denominator uses FULL
    source degrees."""
    from graphdb_spark.operators.analytics import jaccard_links
    from graphdb_spark.sources.tpch import load_tables

    li = load_tables(spark, sf_dir)["lineitem"]
    e = li.select(F.col("l_orderkey").alias("src"),
                  F.col("l_partkey").alias("dst"))
    pairs = jaccard_links(e, max_degree=1000)
    return (
        pairs.select(
            F.concat(F.lit("o_"), F.col("src_a").cast("string"))
            .alias("src_a"),
            F.concat(F.lit("o_"), F.col("src_b").cast("string"))
            .alias("src_b"),
            "common", "jaccard",
        )
        .orderBy(F.desc("jaccard"), "src_a", "src_b")
        .limit(20)
    )


G_JACCARD_SQL = """
WITH e AS (
  SELECT DISTINCT l_orderkey AS src, l_partkey AS dst FROM lineitem
), ddeg AS (
  SELECT dst, CAST(COUNT(*) AS BIGINT) AS ddeg FROM e GROUP BY dst
), shared AS (
  SELECT e.src, e.dst
  FROM e JOIN ddeg ON e.dst = ddeg.dst WHERE ddeg.ddeg BETWEEN 2 AND 1000
), common AS (
  SELECT a.src AS src_a, b.src AS src_b, CAST(COUNT(*) AS BIGINT) AS common
  FROM shared a JOIN shared b ON a.dst = b.dst AND a.src < b.src
  GROUP BY 1, 2
), sdeg AS (
  SELECT src, CAST(COUNT(*) AS BIGINT) AS sdeg FROM e GROUP BY src
), pairs AS (
  SELECT 'o_' || CAST(c.src_a AS VARCHAR) AS src_a,
         'o_' || CAST(c.src_b AS VARCHAR) AS src_b,
         c.common,
         ROUND(CAST(c.common AS DOUBLE)
               / CAST(da.sdeg + db.sdeg - c.common AS DOUBLE), 6) AS jaccard
  FROM common c
  JOIN sdeg da ON c.src_a = da.src
  JOIN sdeg db ON c.src_b = db.src
)
SELECT src_a, src_b, common, jaccard FROM pairs
ORDER BY jaccard DESC, src_a, src_b LIMIT 20
"""


def g_random_walks(spark, sf_dir):
    """Deterministic graph-walk sampling (analytics.deterministic_walks)
    on the events-derived user graph (u -> (u + event_id) % 1000, the
    same synthetic edge rule stream_fold_degrees uses): 4-step walks
    from every seed user (u % 25 == 0), next hop = argmin of
    h64('<node>_<step>_<dst>') over out-neighbors — a replayable
    uniform-draw stand-in, so the oracle unrolls the exact same walks.
    One (walk_id, step, node) row per visited node."""
    from graphdb_spark.operators.analytics import deterministic_walks
    from graphdb_spark.sources.tpch import load_tables

    ev = load_tables(spark, sf_dir)["events"]
    e = (
        ev.select(
            F.col("user_id").alias("src"),
            ((F.col("user_id") + F.col("event_id")) % 1000).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    seeds = (
        e.select(F.col("src").alias("walk_id"))
        .distinct()
        .filter(F.col("walk_id") % 25 == 0)
    )
    return deterministic_walks(e, seeds, n_steps=4).orderBy(
        "walk_id", "step"
    )


def _random_walks_sql(n_steps: int = 4, seed_mod: int = 25) -> str:
    """DuckDB twin: each step unrolled as a ROW_NUMBER pick over the
    same h64 ranking (ties broken by dst, matching min(struct)).
    ``seed_mod=1`` seeds every source (the walk-pairs corpus)."""
    h64 = "CAST(('0x' || substr(md5({x}), 1, 8)) AS BIGINT)"
    steps = []
    prev = "w0"
    for s in range(1, n_steps + 1):
        h = h64.format(
            x=f"CAST(w.node AS VARCHAR) || '_{s}_' || CAST(e.dst AS VARCHAR)"
        )
        steps.append(f"""s{s} AS (
  SELECT walk_id, dst AS node FROM (
    SELECT w.walk_id, e.dst,
      ROW_NUMBER() OVER (PARTITION BY w.walk_id
                         ORDER BY {h}, e.dst) AS rn
    FROM {prev} w JOIN e ON w.node = e.src) WHERE rn = 1
)""")
        prev = f"s{s}"
    unions = "\nUNION ALL ".join(
        [f"SELECT walk_id, CAST(0 AS INT) AS step, node FROM w0"]
        + [f"SELECT walk_id, CAST({s} AS INT), node FROM s{s}"
           for s in range(1, n_steps + 1)]
    )
    return f"""
WITH e AS (
  SELECT DISTINCT user_id AS src, (user_id + event_id) % 1000 AS dst
  FROM events WHERE user_id != (user_id + event_id) % 1000
), w0 AS (
  SELECT DISTINCT src AS walk_id, src AS node FROM e WHERE src % {seed_mod} = 0
), {", ".join(steps)}
{unions}
ORDER BY walk_id, step
"""


def g_modularity(spark, sf_dir):
    """Community-quality audit: Newman modularity of the 2-iteration
    LPA partition on the undirected F6 graph — per-community internal
    edges, degree mass, and contribution m_c/m - (d_c/2m)^2, plus the
    whole-partition Q (same value on every row), top 10 communities by
    size. The measure-don't-guess companion to
    g_label_prop_communities: a community detector you can't score is
    a community detector you can't trust.

    Scale shape: labels come from the audited LPA plan; the canonical
    edge set is one distinct; every aggregate below is keyed by vertex
    or community (no all-pairs); m is a scalar both engines compute
    from the same table. Contributions are exact integer ratios cast
    to double (bit-identical cross-engine), rounded then summed as
    decimal for the order-independent Q."""
    from graphdb_spark.operators.analytics import label_propagation

    g = graph_session(spark, sf_dir)
    labels = label_propagation(g.edges, max_iter=2)  # (id, community)
    canon = (
        g.edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    m = canon.count()
    deg = (
        canon.select(F.col("a").alias("id"))
        .unionByName(canon.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    nn = labels.groupBy("community").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )
    dc = (
        labels.join(deg, "id")
        .groupBy("community")
        .agg(F.sum("degree").cast("bigint").alias("deg_sum"))
    )
    la = labels.select(F.col("id").alias("a"), F.col("community").alias("ca"))
    lb = labels.select(F.col("id").alias("b"), F.col("community").alias("cb"))
    mc = (
        canon.join(la, "a").join(lb, "b")
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("m_in"))
    )
    half = F.col("deg_sum").cast("double") / F.lit(2 * m)
    per = (
        nn.join(dc, "community")
        .join(mc, "community", "left")
        .select(
            "community",
            "n_nodes",
            F.coalesce("m_in", F.lit(0)).cast("bigint").alias("m_in"),
            "deg_sum",
            F.round(
                F.coalesce("m_in", F.lit(0)).cast("double") / F.lit(m)
                - half * half,
                6,
            ).alias("contrib"),
        )
    )
    qt = per.agg(
        F.round(F.sum(F.col("contrib").cast("decimal(18,6)")), 6)
        .cast("double")
        .alias("q_total")
    )
    return (
        per.crossJoin(F.broadcast(qt))
        .orderBy(F.desc("n_nodes"), "community")
        .limit(10)
    )


def _modularity_sql() -> str:
    # reuse the unrolled-LPA CTE chain (everything before the final
    # SELECT of G_LABEL_PROP_SQL), then add the modularity aggregates
    body = G_LABEL_PROP_SQL.rsplit("SELECT comm AS community", 1)[0]
    return f"""{body}, canon AS (
  SELECT DISTINCT LEAST(id, nbr) AS a, GREATEST(id, nbr) AS b FROM und
), deg AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
    SELECT a AS id FROM canon UNION ALL SELECT b AS id FROM canon
  ) GROUP BY id
), mt AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m FROM canon
), nn AS (
  SELECT comm, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM l2 GROUP BY comm
), dc AS (
  SELECT l.comm, CAST(SUM(d.degree) AS BIGINT) AS deg_sum
  FROM l2 l JOIN deg d ON l.vid = d.id GROUP BY l.comm
), mc AS (
  SELECT la.comm, CAST(COUNT(*) AS BIGINT) AS m_in
  FROM canon c JOIN l2 la ON c.a = la.vid JOIN l2 lb ON c.b = lb.vid
  WHERE la.comm = lb.comm GROUP BY la.comm
), per AS (
  SELECT nn.comm AS community, n_nodes,
    CAST(COALESCE(m_in, 0) AS BIGINT) AS m_in, deg_sum,
    ROUND(CAST(COALESCE(m_in, 0) AS DOUBLE) / mt.m
      - (CAST(deg_sum AS DOUBLE) / (2 * mt.m))
        * (CAST(deg_sum AS DOUBLE) / (2 * mt.m)), 6) AS contrib
  FROM nn JOIN dc ON nn.comm = dc.comm
  LEFT JOIN mc ON nn.comm = mc.comm, mt
), qt AS (
  SELECT CAST(ROUND(SUM(CAST(contrib AS DECIMAL(18,6))), 6) AS DOUBLE)
    AS q_total
  FROM per
)
SELECT community, n_nodes, m_in, deg_sum, contrib, q_total
FROM per, qt ORDER BY n_nodes DESC, community LIMIT 10
"""


def _modularity_arith_sql(labels_glob: str) -> str:
    """Modularity-ARITHMETIC twin over a Spark-materialized label
    assignment: identical to ``_modularity_sql`` except the l2 CTE
    reads the (vid, comm) parquet the Spark side wrote instead of
    re-deriving LPA as an unrolled recursive closure. Splits the
    sf1 verification into (a) LPA labels — gate-proven exact at
    sf0.01 via the full unrolled oracle — and (b) the degree /
    internal-edge / contribution aggregates, which THIS query checks
    at any SF as pure aggregation (no closure, no 80 GB spill; the
    full oracle exhausted container disk at sf1, NOTES r5s4). Both
    CTE texts are sliced from the canonical strings, so the edge set
    and arithmetic can never drift from the gate oracle."""
    head = G_LABEL_PROP_SQL.split("), l0 AS (")[0] + ")"
    tail = _modularity_sql().split(", canon AS (", 1)[1]
    return (
        f"{head}, l2 AS (\n"
        f"  SELECT vid, comm FROM read_parquet('{labels_glob}')\n"
        f"), canon AS ({tail}"
    )


WALK_CTX = 2      # skip-gram context window (steps each side)
WALK_PAIR_TOPK = 30


def g_walk_pairs(spark, sf_dir):
    """Skip-gram training pairs from the deterministic walks — the
    step after g_random_walks in a node2vec/DeepWalk pipeline: every
    (node, context-node) co-occurrence within WALK_CTX steps inside a
    walk, canonicalized (least, greatest) and counted corpus-wide;
    top-30 pairs. This is the table an embedding trainer consumes.

    Scale shape: the self-join is keyed by walk_id (each walk has
    n_steps+1 rows, so fan-out per key is the constant
    (n_steps+1)·WALK_CTX), then one hash aggregate on the pair; walks
    never leave their key, no all-pairs."""
    from graphdb_spark.operators.analytics import deterministic_walks
    from graphdb_spark.sources.tpch import load_tables

    ev = load_tables(spark, sf_dir)["events"]
    e = (
        ev.select(
            F.col("user_id").alias("src"),
            ((F.col("user_id") + F.col("event_id")) % 1000).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    seeds = e.select(F.col("src").alias("walk_id")).distinct()
    walks = deterministic_walks(e, seeds, n_steps=4)
    a, b = walks.alias("a"), walks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.walk_id") == F.col("b.walk_id"))
            & (F.col("b.step") > F.col("a.step"))
            & (F.col("b.step") <= F.col("a.step") + WALK_CTX),
        )
        .select(
            F.least(F.col("a.node"), F.col("b.node")).alias("u"),
            F.greatest(F.col("a.node"), F.col("b.node")).alias("v"),
        )
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.desc("n"), "u", "v")
        .limit(WALK_PAIR_TOPK)
    )


def _walk_pairs_sql() -> str:
    walks = _random_walks_sql(seed_mod=1).rsplit(
        "ORDER BY walk_id, step", 1)[0]
    return f"""
WITH walks AS ({walks})
SELECT u, v, CAST(COUNT(*) AS BIGINT) AS n
FROM (
  SELECT LEAST(a.node, b.node) AS u, GREATEST(a.node, b.node) AS v
  FROM walks a JOIN walks b
    ON a.walk_id = b.walk_id AND b.step > a.step
   AND b.step <= a.step + {WALK_CTX}
)
GROUP BY u, v
ORDER BY n DESC, u, v LIMIT {WALK_PAIR_TOPK}
"""
