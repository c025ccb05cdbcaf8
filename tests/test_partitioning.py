"""Partitioning/skew utilities: correctness of salted joins, bucket
tables and the cached adjacency layout actually eliminating exchanges,
degree diagnostics."""

import pytest

from pyspark.sql import functions as F

from graphdb_spark import partitioning as PT


@pytest.fixture()
def skewed(spark):
    # one hot key (k0 x 500) + uniform tail
    rows = [("k0", i) for i in range(500)] + [
        (f"k{i}", i) for i in range(1, 101)
    ]
    big = spark.createDataFrame(rows, "key string, payload int")
    small = spark.createDataFrame(
        [(f"k{i}", f"dim{i}") for i in range(0, 101)], "key string, dim string"
    )
    return big, small


def test_salted_join_matches_plain_join(skewed):
    big, small = skewed
    plain = big.join(small, "key").select("key", "payload", "dim")
    salted = PT.salted_join(big, small, "key", salt=4).select(
        "key", "payload", "dim"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_salted_left_join(skewed):
    big, small = skewed
    big2 = big.unionByName(
        big.sparkSession.createDataFrame([("orphan", 1)], "key string, payload int")
    )
    plain = big2.join(small, "key", "left").select("key", "payload", "dim")
    salted = PT.salted_join(big2, small, "key", salt=4, how="left").select(
        "key", "payload", "dim"
    )
    assert sorted(map(tuple, plain.collect()), key=str) == sorted(
        map(tuple, salted.collect()), key=str
    )


def test_degree_stats(spark):
    edges = spark.createDataFrame(
        [("hub", "E", f"v{i}", {}) for i in range(50)]
        + [("a", "E", "b", {}), ("b", "E", "c", {})],
        "src string, relationship string, dst string, properties map<string,string>",
    )
    stats = PT.degree_stats(edges)
    assert stats["n_keys"] == 3
    assert stats["max_degree"] == 50
    assert stats["skew_ratio"] > 2


def test_bucketed_join_skips_shuffle(spark, tmp_path):
    """Bucketed tables joined on the bucket key must not shuffle —
    the co-located-join layout for the 100 TB edges table."""
    a = spark.range(0, 1000).withColumn("k", F.col("id") % 100)
    b = spark.range(0, 100).withColumn("k", F.col("id")).withColumn(
        "dim", F.col("id") * 2
    )
    PT.write_bucketed(a, "t_bucketed_a", "k", buckets=8)
    PT.write_bucketed(b.select("k", "dim"), "t_bucketed_b", "k", buckets=8)
    ta = spark.table("t_bucketed_a")
    tb = spark.table("t_bucketed_b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = ta.join(tb, "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert joined.count() == 1000
        # bucket join: no Exchange on either side
        assert "Exchange hashpartitioning" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS t_bucketed_a")
        spark.sql("DROP TABLE IF EXISTS t_bucketed_b")


def test_repartition_by_key(spark):
    df = spark.range(0, 10000).withColumn("k", F.col("id") % 7)
    out = PT.repartition_by_key(df, "k", target_rows_per_partition=100)
    assert out.count() == 10000
    assert out.rdd.getNumPartitions() >= 4


def test_partitioned_write_prunes_directories(spark, tmp_path):
    """A filter on the partition column must land in the scan's
    PartitionFilters (directory pruning before IO), and the partition
    column round-trips its values."""
    from pyspark.sql import functions as F

    from graphdb_spark.partitioning import write_partitioned
    from graphdb_spark.sources.tpch import load_tables

    ev = load_tables(spark, "/root/testdata/sf0.001")["events"]
    path = str(tmp_path / "ev_part")
    write_partitioned(ev, path, "event_type")

    back = spark.read.parquet(path)
    one_type = ev.select("event_type").first()[0]
    q = back.filter(F.col("event_type") == one_type)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert f"event_type = {one_type}" in plan or "isnotnull(event_type" in plan
    want = ev.filter(F.col("event_type") == one_type).count()
    assert q.count() == want


# ---------------------------------------------------------------- adjacency


@pytest.fixture()
def adj_graph(spark):
    """Small random-ish graph: 60 customers -> 300 orders -> parts."""
    from graphdb_spark.session import GraphSession

    verts = (
        [(f"c_{i}", "customer",
          {"mktsegment": "BUILDING" if i % 3 == 0 else "AUTO"})
         for i in range(60)]
        + [(f"o_{i}", "order", {}) for i in range(300)]
        + [(f"p_{i}", "part", {}) for i in range(40)]
    )
    edges = (
        [(f"c_{i % 60}", "PLACED", f"o_{i}", {}) for i in range(300)]
        + [(f"o_{i}", "CONTAINS", f"p_{(i * 7) % 40}", {}) for i in range(300)]
    )
    v = spark.createDataFrame(
        verts, "id string, label string, properties map<string,string>"
    )
    e = spark.createDataFrame(
        edges,
        "src string, relationship string, dst string, "
        "properties map<string,string>",
    )
    return GraphSession(spark, v, e, assume_integrity=True)


_E_SCHEMA = ("src string, relationship string, dst string, "
             "properties map<string,string>")


def test_adjacency_layout_preserves_results(spark, adj_graph):
    """use_adjacency_layout is a pure layout change: every pipe query
    (out-hop, in-hop, 2-hop count, degree groupBy) returns exactly the
    plain-layout answer; a mutation drops the layout (its frames hold
    the old state)."""
    from graphdb_spark.algebra import Q

    g = adj_graph
    two_hop = (
        Q.vertices_with_property_value("mktsegment", "BUILDING")
        .outbound(t="PLACED").inbound().outbound(t="CONTAINS").inbound()
        .count()
    )
    one_hop = (
        Q.vertices_with_property_value("mktsegment", "BUILDING")
        .outbound(t="PLACED").inbound()
    )
    rev_hop = Q.specific_vertices("o_1", "o_2", "o_3").inbound(
        t="PLACED").outbound()

    plain_two = g.get(two_hop)[-1].count
    plain_one = sorted(r["id"] for r in g.df(one_hop).collect())
    plain_rev = sorted(r["id"] for r in g.df(rev_hop).collect())
    plain_deg = sorted(
        map(tuple, g.df(Q.edges()).groupBy("src").count().collect())
    )
    plain_bfs = sorted(map(tuple, g.bfs("c_0", max_depth=2).collect()))
    g.use_adjacency_layout()
    assert g._e_by_key  # adopted
    assert g.get(two_hop)[-1].count == plain_two
    assert sorted(r["id"] for r in g.df(one_hop).collect()) == plain_one
    assert sorted(r["id"] for r in g.df(rev_hop).collect()) == plain_rev
    assert sorted(
        map(tuple, g.df(Q.edges()).groupBy("src").count().collect())
    ) == plain_deg
    # bfs over the layout matches too (forward copy, depth map)
    assert sorted(map(tuple, g.bfs("c_0", max_depth=2).collect())) == plain_bfs

    # mutation invalidates: the layout frames describe the old state
    g.set_state(edges=g.edges.limit(0))
    assert not g._e_by_key
    assert g.get(Q.edges().count())[-1].count == 0


def test_ensure_layout_detects_count_preserving_mutation(spark, adj_graph):
    """A mutation that changes content but not cardinality (a
    set_properties upsert) drops an adopted layout, and re-adoption
    lays out the post-mutation state: the session serves the new
    values, not the laid-out old ones."""
    from graphdb_spark.algebra import Q
    from graphdb_spark.operators.mutations import set_properties

    g = adj_graph
    g.use_adjacency_layout()
    adopted = g._e_by_key
    assert adopted
    before = g.vertices.count()
    # flip every BUILDING customer's segment (same rows, new values)
    set_properties(
        g, Q.vertices_with_property_value("mktsegment", "BUILDING"),
        "mktsegment", "MACHINERY",
    )
    assert not g._e_by_key and g.vertices.count() == before
    g.use_adjacency_layout()
    assert g._e_by_key and g._e_by_key is not adopted
    assert g.df(Q.vertices_with_property_value(
        "mktsegment", "BUILDING")).count() == 0
    assert g.df(Q.vertices_with_property_value(
        "mktsegment", "MACHINERY")).count() == 20


def _plan_nodes(node):
    """Nodes of a physical plan, following children only: the plan that
    filled a cached relation is an inner child of its scan, so its own
    REPARTITION_BY_NUM exchange (which toString() prints) is not
    reached — it does not run at query time."""
    if node.nodeName() == "AdaptiveSparkPlan":
        node = node.executedPlan()
    yield node
    kids = node.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def _query_exchanges(df) -> int:
    """Exchanges a frame runs at query time."""
    return sum(
        "Exchange" in n.nodeName()
        for n in _plan_nodes(df._jdf.queryExecution().executedPlan())
    )


def _edge_side_exchanges(df) -> int:
    """Exchanges fed straight by a cached edge scan, through unary
    nodes only (filters, projections): a join's edge side moving. A
    frontier computed from an earlier hop passes a join first and does
    not count."""
    def feeds_edge_scan(ex):
        node = ex.children().apply(0)
        while node.children().size() == 1:
            node = node.children().apply(0)
        return (node.nodeName() == "InMemoryTableScan"
                and "relationship#" in node.output().toString())

    return sum(
        "Exchange" in n.nodeName() and feeds_edge_scan(n)
        for n in _plan_nodes(df._jdf.queryExecution().executedPlan())
    )


def test_adjacency_layout_elides_edge_exchange(spark, adj_graph):
    """The layout's reason to exist: a NON-broadcast hop over the
    partitioned copy must not exchange the edge relation — at most the
    frontier ids move — and a groupBy(src) degree aggregate over the
    forward copy plans with no exchange at query time. Plain frames
    plan more exchanges for the identical query."""
    from graphdb_spark.algebra import Q
    from graphdb_spark.translator import Translator

    g = adj_graph
    plain_v, plain_e = g.vertices, g.edges
    g.use_adjacency_layout()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        def hop(v, e, by_key, q):
            tr = Translator(v, e, informed_broadcast=False,
                            edges_by_key=by_key)
            return tr.df(q)

        out_hop = Q.vertices().outbound(t="PLACED")
        plain = hop(plain_v, plain_e, None, out_hop)
        laid_out = hop(g.vertices, g.edges, g._e_by_key, out_hop)
        # plain: both sides exchange; layout: at most the frontier,
        # never the edge relation
        assert _query_exchanges(plain) >= 2
        assert _query_exchanges(laid_out) <= 1
        assert _edge_side_exchanges(laid_out) == 0
        # a second hop's frontier (the first hop's dst ids) is keyed
        # on the wrong column and moves; the edge side still does not
        two_hop = out_hop.inbound().outbound(t="CONTAINS")
        laid_out_two = hop(g.vertices, g.edges, g._e_by_key, two_hop)
        assert _query_exchanges(laid_out_two) < _query_exchanges(
            hop(plain_v, plain_e, None, two_hop))
        assert _edge_side_exchanges(laid_out_two) == 0
        deg = g.edges.groupBy("src").count()
        # the cached relation's own exchange shows in the plan text;
        # none runs at query time
        assert "REPARTITION_BY_NUM" in (
            deg._jdf.queryExecution().executedPlan().toString())
        assert _query_exchanges(deg) == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def _private_sf(tmp_path):
    """A copy of the sf0.001 tables under its own path. Spark keys its
    cache by plan, so frames read from the copy share no cache entry
    with the session-wide resident graph, which a layout adoption
    releasing its resident frames would otherwise drop."""
    import shutil

    return str(shutil.copytree("/root/testdata/sf0.001", tmp_path / "sf"))


def test_graph_session_auto_layout_policy(spark, monkeypatch, tmp_path):
    """graph_session adopts the layout at cache time when the edge
    count clears AUTO_LAYOUT_MIN_EDGES (threshold forced to 1 here),
    results matching the plain session, and writes no table; below
    the threshold (default, at sf0.001) it stays on plain cached
    frames."""
    import os
    from urllib.parse import urlparse

    from graphdb_spark.workloads import graph as G

    sf = _private_sf(tmp_path)
    saved = dict(G._GRAPH_CACHE)
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path

    def stored():
        tables = {t.name for t in spark.catalog.listTables()
                  if not t.isTemporary}
        files = set(os.listdir(warehouse)) if os.path.isdir(
            warehouse) else set()
        return tables, files

    try:
        G._GRAPH_CACHE.clear()
        plain = G.graph_session(spark, sf)
        assert not plain._e_by_key  # 7442 edges < default threshold
        plain_rows = sorted(
            map(tuple, G.g_degree_topk(spark, sf).collect())
        )

        G._GRAPH_CACHE.clear()
        monkeypatch.setattr(G, "AUTO_LAYOUT_MIN_EDGES", 1)
        before = stored()
        adopted = G.graph_session(spark, sf)
        assert adopted._e_by_key
        assert sorted(
            map(tuple, G.g_degree_topk(spark, sf).collect())
        ) == plain_rows
        assert stored() == before
    finally:
        G._GRAPH_CACHE.clear()
        G._GRAPH_CACHE.update(saved)


@pytest.mark.parametrize("layout", [False, True], ids=["plain", "layout"])
def test_graph_session_runs_edge_lineage_once(spark, monkeypatch, tmp_path,
                                             layout):
    """Setting up the resident graph evaluates the edge lineage once,
    below the layout threshold and above it: the threshold count fills
    the resident edge cache and the layout is laid out from it. A
    counting filter on the edges runs one pass over them."""
    from pyspark.sql.functions import udf

    from graphdb_spark.workloads import graph as G

    seen = spark.sparkContext.accumulator(0)

    def tap(_src):
        seen.add(1)
        return True

    tapped = udf(tap, "boolean")
    load = G.tpch_graph

    def probed(spark_, sf_dir):
        v, e = load(spark_, sf_dir)
        return v, e.filter(tapped("src"))

    sf = _private_sf(tmp_path)
    # one pass's worth: the filter may be pushed below the edges'
    # dedup, so it can see more rows than the edges hold
    assert probed(spark, sf)[1].count() == 7442
    one_pass = seen.value
    monkeypatch.setattr(G, "tpch_graph", probed)
    monkeypatch.setattr(G, "_GRAPH_CACHE", {})
    if layout:
        monkeypatch.setattr(G, "AUTO_LAYOUT_MIN_EDGES", 0)
    g = G.graph_session(spark, sf)
    try:
        assert bool(g._e_by_key) == layout
        # read after a scan of the resident edges, which must not run
        # the lineage again
        assert g.edge_count() == 7442
        assert seen.value == 2 * one_pass
    finally:
        for df in (g.vertices, g.edges, *g._e_by_key.values()):
            df.unpersist()


def test_traversals_route_through_layout(spark, adj_graph):
    """shortest_path / var-length / undirected Cypher hops on an
    adopted layout return exactly the plain-path answers (the in-half
    of both-direction hops reads the reversed copy — edges_in)."""
    g = adj_graph
    sp_plain = g.shortest_path("c_0", "p_0", max_depth=4)
    cy = ("MATCH (a)-[r:PLACED]-(b) WHERE a.mktsegment = 'BUILDING' "
          "RETURN count(*) AS n")
    cy_plain = g.cypher(cy).collect()
    vl = ("MATCH (c)-[:PLACED*1..2]->(x) WHERE c.mktsegment = 'BUILDING' "
          "RETURN count(*) AS n")
    vl_plain = g.cypher(vl).collect()
    g.use_adjacency_layout()
    assert g._cypher_plan_cache == {}
    assert g.shortest_path("c_0", "p_0", max_depth=4) == sp_plain
    assert sp_plain is not None
    assert g.cypher(cy).collect() == cy_plain
    assert g.cypher(vl).collect() == vl_plain


def test_kv_mutation_keeps_layout(spark, adj_graph):
    """A KV-only mutation (kv_insert/kv_delete) does not touch graph
    state, so it must NOT divorce an adopted layout — kv writes losing
    the session its exchange-elision contract would be a pure
    regression. Graph mutations still divorce (the set_state tail of
    test_adjacency_layout_preserves_results)."""
    from graphdb_spark.algebra import Q

    g = adj_graph
    g.use_adjacency_layout()
    adopted = g._e_by_key
    assert adopted
    deg = sorted(
        map(tuple, g.df(Q.edges()).groupBy("src").count().collect())
    )
    g.kv_insert("a", "1").kv_insert("b", "2").kv_delete("a")
    # KV semantics intact...
    assert g.kv_retrieve("b") == "2"
    assert g.kv_retrieve("a") is None
    # ...and the layout adoption survived, frames and all
    assert g._e_by_key is adopted
    assert g.edges is adopted["src"]
    assert sorted(
        map(tuple, g.df(Q.edges()).groupBy("src").count().collect())
    ) == deg
    # a GRAPH mutation still divorces
    g.set_state(edges=g.edges.limit(0))
    assert not g._e_by_key


def test_append_state_respects_shared_layout(spark, adj_graph):
    """One write path: a row-add on an adopted layout unions the row
    onto the session's frames and divorces the layout; frames handed
    out before the write still read the state they described. A later
    adoption lays out the new state (hops see the new row) and
    releases the previous layout's cache."""
    from graphdb_spark.algebra import Q
    from graphdb_spark.datamodel import local_df

    g = adj_graph
    g.use_adjacency_layout()
    old = g._layout_frames
    shared_edges = g.edges
    n0 = g.get(Q.edges().count())[-1].count
    hop = Q.specific_vertices("c_0").outbound(t="PLACED").inbound()
    assert "o_299" not in {r["id"] for r in g.df(hop).collect()}
    g = g.append_state(edges=local_df(
        spark, [("c_0", "PLACED", "o_299", {})], _E_SCHEMA))
    # the session sees the new row, the frames handed out do NOT
    assert g.get(Q.edges().count())[-1].count == n0 + 1
    assert shared_edges.count() == n0
    assert not g._e_by_key
    g.use_adjacency_layout()
    assert g._e_by_key and all(df.is_cached for df in g._layout_frames)
    assert not any(df.is_cached for df in old)
    assert g.get(Q.edges().count())[-1].count == n0 + 1
    assert "o_299" in {r["id"] for r in g.df(hop).collect()}
    assert shared_edges.count() == n0
