"""Partitioning/skew utilities: correctness of salted joins, bucket
tables actually eliminating exchanges, degree diagnostics."""

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


def test_degree_stats_and_hot_keys(spark):
    edges = spark.createDataFrame(
        [("hub", "E", f"v{i}", {}) for i in range(50)]
        + [("a", "E", "b", {}), ("b", "E", "c", {})],
        "src string, relationship string, dst string, properties map<string,string>",
    )
    stats = PT.degree_stats(edges)
    assert stats["n_keys"] == 3
    assert stats["max_degree"] == 50
    assert stats["skew_ratio"] > 2
    hot = PT.hot_keys(edges, threshold=10).collect()
    assert [r["src"] for r in hot] == ["hub"]


def test_bucketed_join_skips_shuffle(spark, tmp_path):
    """Bucketed tables joined on the bucket key must not shuffle —
    the co-located-join layout for the 100 TB edges table."""
    a = spark.range(0, 1000).withColumn("k", F.col("id") % 100)
    b = spark.range(0, 100).withColumn("k", F.col("id")).withColumn(
        "dim", F.col("id") * 2
    )
    PT.write_bucketed(a, "t_bucketed_a", "k", buckets=8)
    PT.write_bucketed(b.select("k", "dim"), "t_bucketed_b", "k", buckets=8)
    ta = PT.read_bucketed(spark, "t_bucketed_a")
    tb = PT.read_bucketed(spark, "t_bucketed_b")
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


def test_skew_salted_hop_plan_and_results(spark):
    """VERDICT r1 item 7: with enable_skew_salting, a pipe hop over a
    super-node graph splits hot keys onto a broadcast semi-join while
    the cold tail keeps the shuffle join — and results are identical
    to the unsalted hop."""
    from graphdb_spark.algebra import Q
    from graphdb_spark.session import GraphSession

    hub_edges = [("hub", "E", f"t{i}") for i in range(5000)]
    tail_edges = [(f"s{i}", "E", f"t{i % 50}") for i in range(200)]
    e = spark.createDataFrame(
        [(s, r, d, {}) for s, r, d in hub_edges + tail_edges],
        "src string, relationship string, dst string, properties map<string,string>",
    )
    ids = {x for s, _r, d in hub_edges + tail_edges for x in (s, d)}
    v = spark.createDataFrame(
        [(i, "N", {}) for i in sorted(ids)],
        "id string, label string, properties map<string,string>",
    )
    g = GraphSession(spark, v, e)
    q = Q.vertices().outbound().inbound().count()
    plain = g.get(q)[-1].count

    g.enable_skew_salting(threshold=1000)
    assert set(getattr(g, "_hot_endpoints", {})) == {"src"}
    salted = g.get(q)[-1].count
    assert salted == plain

    hop_df = g.df(Q.vertices().outbound())
    plan = hop_df._jdf.queryExecution().executedPlan().toString()
    assert "Union" in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_partitioned_write_prunes_directories(spark, tmp_path):
    """A filter on the partition column must land in the scan's
    PartitionFilters (directory pruning before IO), and the partition
    column round-trips its values."""
    from pyspark.sql import functions as F

    from graphdb_spark.partitioning import read_partitioned, write_partitioned
    from graphdb_spark.sources.tpch import load_tables

    ev = load_tables(spark, "/root/testdata/sf0.001")["events"]
    path = str(tmp_path / "ev_part")
    write_partitioned(ev, path, "event_type")

    back = read_partitioned(spark, path)
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


def _drop_adj(spark, name):
    for suffix in ("_v", "_e_out", "_e_in"):
        spark.sql(f"DROP TABLE IF EXISTS {name}{suffix}")


def test_adjacency_layout_preserves_results(spark, adj_graph):
    """use_bucketed_layout is a pure layout change: every pipe query
    (out-hop, in-hop, 2-hop count, degree groupBy) returns exactly the
    plain-layout answer, and a mutation drops the layout (stale tables
    must not serve the new state)."""
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
    try:
        g.use_bucketed_layout("t_adj_test", buckets=4)
        assert g._e_by_key  # adopted
        assert g.get(two_hop)[-1].count == plain_two
        assert sorted(r["id"] for r in g.df(one_hop).collect()) == plain_one
        assert sorted(r["id"] for r in g.df(rev_hop).collect()) == plain_rev
        assert sorted(
            map(tuple, g.df(Q.edges()).groupBy("src").count().collect())
        ) == plain_deg
        # bfs over the layout matches too (forward copy, depth map)
        assert (
            sorted(map(tuple, g.bfs("c_0", max_depth=2).collect()))
            == sorted(map(tuple, adj_graph.bfs("c_0", max_depth=2).collect()))
        )
        # mutation invalidates: layout tables describe the old state
        g.set_state(edges=g.edges.limit(0))
        assert not g._e_by_key
        assert g.get(Q.edges().count())[-1].count == 0
    finally:
        _drop_adj(spark, "t_adj_test")


def test_adjacency_layout_elides_edge_exchange(spark, adj_graph):
    """The layout's reason to exist: a NON-broadcast hop over the
    bucketed copy must not exchange the edge relation — only the
    frontier ids move — and a groupBy(src) degree aggregate over the
    forward copy plans with zero Exchange. Plain parquet frames plan
    more exchanges for the identical query."""
    from graphdb_spark.algebra import Q
    from graphdb_spark.translator import Translator

    g = adj_graph
    try:
        g.use_bucketed_layout("t_adj_plan", buckets=4)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        def hop_plan(v, e, by_key):
            tr = Translator(v, e, informed_broadcast=False,
                            edges_by_key=by_key)
            df = tr.df(Q.vertices().outbound(t="PLACED"))
            return df._jdf.queryExecution().executedPlan().toString()

        plain = hop_plan(adj_graph_plain_v(spark), adj_graph_plain_e(spark),
                         None)
        bucketed = hop_plan(g.vertices, g.edges, g._e_by_key)
        # plain: both sides exchange; bucketed: at most the frontier
        assert plain.count("Exchange") >= 2, plain
        assert bucketed.count("Exchange") < plain.count("Exchange"), bucketed
        # the edges scan feeds the join with NO exchange in between:
        # every Exchange in the bucketed plan sits on the vertex side
        deg_plan = (
            g.edges.groupBy("src").count()
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in deg_plan, deg_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        _drop_adj(spark, "t_adj_plan")


def adj_graph_plain_v(spark):
    verts = (
        [(f"c_{i}", "customer", {}) for i in range(60)]
        + [(f"o_{i}", "order", {}) for i in range(300)]
    )
    return spark.createDataFrame(
        verts, "id string, label string, properties map<string,string>"
    )


def adj_graph_plain_e(spark):
    edges = [(f"c_{i % 60}", "PLACED", f"o_{i}", {}) for i in range(300)]
    return spark.createDataFrame(
        edges,
        "src string, relationship string, dst string, "
        "properties map<string,string>",
    )


def test_ensure_bucketed_layout_attaches_and_guards(spark, adj_graph):
    """ensure_bucketed_layout reuses existing layout tables (attach,
    no rewrite) when they match the session state, re-registers them
    after a catalog loss (the cross-process case, simulated by copying
    the table dirs to a fresh name and calling attach_adjacency), and
    REWRITES when the row counts disagree (stale-table guard)."""
    import os
    import shutil

    from graphdb_spark import partitioning as P
    from graphdb_spark.algebra import Q
    from graphdb_spark.session import GraphSession

    g = adj_graph
    name, name2 = "t_adj_ensure", "t_adj_reattach"
    try:
        g.ensure_bucketed_layout(name, buckets=4)
        assert g._e_by_key
        want = g.get(Q.edges().count())[-1].count

        # attach path: same state, second ensure must NOT rewrite —
        # prove it by mtime of the written files staying put
        loc = P.adjacency_table_location(spark, f"{name}_e_out")
        mtime = os.path.getmtime(loc)
        g.ensure_bucketed_layout(name, buckets=4)
        assert os.path.getmtime(loc) == mtime
        assert g.get(Q.edges().count())[-1].count == want

        # cross-process re-attach: copy files to a name the catalog
        # has never seen; attach_adjacency must register bucketed
        # external tables over them with identical rows
        for sfx in ("_v", "_e_out", "_e_in"):
            shutil.copytree(
                P.adjacency_table_location(spark, f"{name}{sfx}"),
                P.adjacency_table_location(spark, f"{name2}{sfx}"),
            )
        assert P.attach_adjacency(spark, name2, buckets=4)
        assert spark.table(f"{name2}_e_out").count() == want
        plan = (
            spark.table(f"{name2}_e_out").groupBy("src").count()
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan, plan  # bucketing contract restored

        # stale guard: a session with FEWER edges must rewrite, not
        # attach the old tables
        g2 = GraphSession(
            spark, adj_graph.vertices,
            adj_graph.edges.filter("relationship = 'PLACED'"),
            assume_integrity=True,
        )
        g2.ensure_bucketed_layout(name, buckets=4)
        got = g2.get(Q.edges().count())[-1].count
        assert got == 300 and got != want
    finally:
        P.drop_adjacency(spark, name)
        P.drop_adjacency(spark, name2)


def test_graph_session_auto_layout_policy(spark, monkeypatch):
    """graph_session adopts the layout at cache time when the edge
    count clears AUTO_LAYOUT_MIN_EDGES (threshold forced to 1 here),
    results matching the plain session; below the threshold (default,
    at sf0.001) it stays on plain cached frames."""
    from graphdb_spark import partitioning as P
    from graphdb_spark.workloads import graph as G

    sf = "/root/testdata/sf0.001"
    key = (id(spark.sparkContext), sf)
    saved = dict(G._GRAPH_CACHE)
    try:
        G._GRAPH_CACHE.clear()
        plain = G.graph_session(spark, sf)
        assert not plain._e_by_key  # 7442 edges < default threshold
        plain_rows = sorted(
            map(tuple, G.g_degree_topk(spark, sf).collect())
        )

        G._GRAPH_CACHE.clear()
        monkeypatch.setattr(G, "AUTO_LAYOUT_MIN_EDGES", 1)
        adopted = G.graph_session(spark, sf)
        assert adopted._e_by_key
        assert sorted(
            map(tuple, G.g_degree_topk(spark, sf).collect())
        ) == plain_rows
    finally:
        name = G._adjacency_name(sf, G.ADJ_BUCKETS)
        P.drop_adjacency(spark, name)
        G._GRAPH_CACHE.clear()
        G._GRAPH_CACHE.update(saved)


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
    try:
        g.use_bucketed_layout("t_adj_route", buckets=4)
        g._cypher_plan_cache = {}
        assert g.shortest_path("c_0", "p_0", max_depth=4) == sp_plain
        assert sp_plain is not None
        assert g.cypher(cy).collect() == cy_plain
        assert g.cypher(vl).collect() == vl_plain
    finally:
        _drop_adj(spark, "t_adj_route")


def test_ensure_layout_detects_count_preserving_mutation(spark, adj_graph):
    """VERDICT r9 item 1 mirror test (the count-changing twin lives in
    test_ensure_bucketed_layout_attaches_and_guards): a mutation that
    changes CONTENT but not cardinality (set_properties upsert,
    mutations.py:162) followed by a re-ensure under the same name must
    REWRITE the layout and serve the post-mutation values. The old
    row-count-only guard attached the pre-mutation tables here —
    and, because adoption replaces the canonical frames, silently
    reverted the session."""
    import os

    from graphdb_spark import partitioning as P
    from graphdb_spark.algebra import Q
    from graphdb_spark.operators.mutations import set_properties

    g = adj_graph
    name = "t_adj_cpm"
    try:
        g.ensure_bucketed_layout(name, buckets=4)
        before = g.vertices.count()
        # count-preserving content mutation: flip every BUILDING
        # customer's segment (same rows, new property values)
        set_properties(
            g, Q.vertices_with_property_value("mktsegment", "BUILDING"),
            "mktsegment", "MACHINERY",
        )
        assert g.vertices.count() == before
        loc = P.adjacency_table_location(spark, f"{name}_v")
        mtime = os.path.getmtime(loc)
        g.ensure_bucketed_layout(name, buckets=4)
        # the layout was REWRITTEN, not attached ...
        assert os.path.getmtime(loc) != mtime
        # ... and the session serves the POST-mutation state
        assert g.df(Q.vertices_with_property_value(
            "mktsegment", "BUILDING")).count() == 0
        assert g.df(Q.vertices_with_property_value(
            "mktsegment", "MACHINERY")).count() == 20
    finally:
        P.drop_adjacency(spark, name)


def test_kv_mutation_keeps_layout(spark, adj_graph):
    """A KV-only mutation (kv_insert/kv_delete) does not touch graph
    state, so it must NOT divorce an adopted layout or bump the graph
    state version — kv writes losing the session its exchange-elision
    contract (and forcing a fingerprint compare on the next ensure)
    would be a pure regression. Graph mutations still divorce (the
    set_state tail of test_adjacency_layout_preserves_results)."""
    from graphdb_spark import partitioning as P
    from graphdb_spark.algebra import Q

    g = adj_graph
    name = "t_adj_kv"
    try:
        g.use_bucketed_layout(name, buckets=4)
        assert g._e_by_key and g._layout_name == name
        ver = g._state_version
        deg = sorted(
            map(tuple, g.df(Q.edges()).groupBy("src").count().collect())
        )
        g.kv_insert("a", "1").kv_insert("b", "2").kv_delete("a")
        # KV semantics intact...
        assert g.kv_retrieve("b") == "2"
        assert g.kv_retrieve("a") is None
        # ...and the layout adoption + graph version survived
        assert g._layout_name == name and g._e_by_key
        assert g._state_version == ver
        assert sorted(
            map(tuple, g.df(Q.edges()).groupBy("src").count().collect())
        ) == deg
        # re-ensure after the KV writes hits the no-scan tier-1 path:
        # the table files are untouched (no rewrite)
        import os

        loc = P.adjacency_table_location(spark, f"{name}_v")
        mtime = os.path.getmtime(loc)
        g.ensure_bucketed_layout(name, buckets=4)
        assert os.path.getmtime(loc) == mtime
        # a GRAPH mutation still divorces and bumps the version
        g.set_state(edges=g.edges.limit(0))
        assert not g._e_by_key and g._state_version == ver + 1
    finally:
        P.drop_adjacency(spark, name)


def test_attach_adjacency_rejects_bucket_and_meta_mismatch(spark, adj_graph):
    """ADVICE r9: declaring CLUSTERED BY INTO N BUCKETS over files
    written with a different count would make the planner elide
    exchanges that ARE needed (silently dropped join matches). attach
    must refuse when the files' stamped spec disagrees with the
    declaration — and when the spec is missing entirely."""
    import os
    import shutil

    from graphdb_spark import partitioning as P

    g = adj_graph
    name, name2 = "t_adj_bsrc", "t_adj_bmm"
    try:
        g.use_bucketed_layout(name, buckets=4)
        for sfx in ("_v", "_e_out", "_e_in"):
            shutil.copytree(
                P.adjacency_table_location(spark, f"{name}{sfx}"),
                P.adjacency_table_location(spark, f"{name2}{sfx}"),
            )
        # wrong declared bucket count vs the files' spec: refuse
        assert not P.attach_adjacency(spark, name2, buckets=8)
        assert not spark.catalog.tableExists(f"{name2}_v")
        # spec missing: refuse (pre-meta layouts are not trustworthy)
        meta = P.layout_meta_path(spark, name2)
        os.rename(meta, meta + ".bak")
        assert not P.attach_adjacency(spark, name2, buckets=4)
        os.rename(meta + ".bak", meta)
        # matching spec: re-register with the full bucketing contract
        assert P.attach_adjacency(spark, name2, buckets=4)
        assert (
            spark.table(f"{name2}_e_out").count()
            == spark.table(f"{name}_e_out").count()
        )
    finally:
        P.drop_adjacency(spark, name)
        P.drop_adjacency(spark, name2)


def test_adjacency_name_injective_and_gc_scoped(spark, adj_graph, tmp_path):
    """ADVICE r9: distinct sf_dirs must never share a layout-name
    slug (/x/sf0.1 vs /x/sf0/1 collapse under the lossy regex alone),
    and GC must be scoped to the current bucket count so a same-
    dataset layout written with different buckets stays alive."""
    import os

    from graphdb_spark import partitioning as P
    from graphdb_spark.workloads import graph as G

    assert G._dataset_slug("/x/sf0.1") != G._dataset_slug("/x/sf0/1")
    assert G._adjacency_name("/x/sf0.1", 32) != G._adjacency_name(
        "/x/sf0/1", 32)

    sf = str(tmp_path / "sf0.1")
    n4, n8 = G._adjacency_name(sf, 4), G._adjacency_name(sf, 8)
    try:
        adj_graph.use_bucketed_layout(n4, buckets=4)
        adj_graph.use_bucketed_layout(n8, buckets=8)
        # GC at 4 buckets keeping nothing: the 8-bucket layout of the
        # SAME dataset must survive, the 4-bucket one goes
        G._gc_stale_adjacency(spark, sf, 4, keep="__none__")
        assert not os.path.isdir(
            P.adjacency_table_location(spark, f"{n4}_v"))
        assert os.path.isdir(
            P.adjacency_table_location(spark, f"{n8}_v"))
    finally:
        P.drop_adjacency(spark, n4)
        P.drop_adjacency(spark, n8)


_V_SCHEMA = "id string, label string, properties map<string,string>"
_E_SCHEMA = ("src string, relationship string, dst string, "
             "properties map<string,string>")


def _dir_state(spark, table):
    """(filename, mtime) set of a layout table dir — identity check
    for 'these files were not rewritten'."""
    import os

    from graphdb_spark import partitioning as P

    loc = P.adjacency_table_location(spark, table)
    return {
        (f, os.stat(os.path.join(loc, f)).st_mtime)
        for f in os.listdir(loc) if f.endswith(".parquet")
    }


def test_partial_reindex_rewrites_only_stale_relation(spark, adj_graph):
    """Per-relation fingerprints make REINDEX partial: a vertex-only
    content mutation must rewrite the ONE vertex table and leave the
    two (larger) edge tables byte-identical — the ops gap VERDICT r9
    item 2 names (a property-only bulk upsert forcing a full edge
    re-bucket)."""
    from graphdb_spark import partitioning as P
    from graphdb_spark.algebra import Q
    from graphdb_spark.operators.mutations import set_properties

    g, name = adj_graph, "t_adj_part"
    try:
        g.ensure_bucketed_layout(name, buckets=4)
        e_out_before = _dir_state(spark, f"{name}_e_out")
        e_in_before = _dir_state(spark, f"{name}_e_in")
        v_before = _dir_state(spark, f"{name}_v")
        set_properties(
            g, Q.vertices_with_property_value("mktsegment", "AUTO"),
            "mktsegment", "RAIL",
        )
        g.ensure_bucketed_layout(name, buckets=4)
        assert _dir_state(spark, f"{name}_e_out") == e_out_before
        assert _dir_state(spark, f"{name}_e_in") == e_in_before
        assert _dir_state(spark, f"{name}_v") != v_before
        assert g.df(Q.vertices_with_property_value(
            "mktsegment", "RAIL")).count() == 40
        assert g.df(Q.vertices_with_property_value(
            "mktsegment", "AUTO")).count() == 0
    finally:
        P.drop_adjacency(spark, name)


def test_assume_immutable_shortcut_voided_by_mutation(spark, adj_graph):
    """assume_immutable downgrades the attach guard to row counts,
    but ONLY for an unmutated session: after a count-preserving
    mutation the fingerprint compare must re-arm and rewrite — the
    shortcut must never reopen the r9 latent bug."""
    import os

    from graphdb_spark import partitioning as P
    from graphdb_spark.algebra import Q
    from graphdb_spark.operators.mutations import set_properties
    from graphdb_spark.session import GraphSession

    g, name = adj_graph, "t_adj_imm"
    plain_v, plain_e = g.vertices, g.edges
    try:
        g.ensure_bucketed_layout(name, buckets=4)
        loc = P.adjacency_table_location(spark, f"{name}_v")
        mtime = os.path.getmtime(loc)
        # fresh unmutated session, same content: shortcut attaches
        g2 = GraphSession(spark, plain_v, plain_e, assume_integrity=True)
        g2.ensure_bucketed_layout(name, buckets=4, assume_immutable=True)
        assert os.path.getmtime(loc) == mtime, "shortcut must attach"
        # mutated session: assume_immutable is VOID, fingerprint
        # mismatch forces the rewrite
        g3 = GraphSession(spark, plain_v, plain_e, assume_integrity=True)
        set_properties(
            g3, Q.vertices_with_property_value("mktsegment", "BUILDING"),
            "mktsegment", "FURNITURE",
        )
        g3.ensure_bucketed_layout(name, buckets=4, assume_immutable=True)
        assert os.path.getmtime(loc) != mtime, "mutation must rewrite"
        assert g3.df(Q.vertices_with_property_value(
            "mktsegment", "FURNITURE")).count() == 20
    finally:
        P.drop_adjacency(spark, name)


def test_append_state_respects_shared_layout(spark, adj_graph):
    """One write path: a row-add on an adopted layout unions the row
    onto the session's frames and divorces the layout, leaving every
    layout table's files as they were, so other sessions that attach
    the same tables still read the state those tables describe. A
    later ensure re-indexes only the relation the row made stale (the
    two edge copies here), and hops over the re-adopted layout see the
    new row."""
    from graphdb_spark import partitioning as P
    from graphdb_spark.algebra import Q
    from graphdb_spark.datamodel import local_df

    g, name = adj_graph, "t_adj_shared"
    tables = ("_v", "_e_out", "_e_in")
    try:
        g.ensure_bucketed_layout(name, buckets=4)
        before = {t: _dir_state(spark, f"{name}{t}") for t in tables}
        n0 = g.get(Q.edges().count())[-1].count
        hop = Q.specific_vertices("c_0").outbound(t="PLACED").inbound()
        assert "o_299" not in {r["id"] for r in g.df(hop).collect()}
        g = g.append_state(edges=local_df(
            spark, [("c_0", "PLACED", "o_299", {})], _E_SCHEMA))
        # the session sees the new row, the layout tables do NOT
        assert g.get(Q.edges().count())[-1].count == n0 + 1
        assert {t: _dir_state(spark, f"{name}{t}") for t in tables} == before
        assert g._layout_name is None and not g._e_by_key
        g.ensure_bucketed_layout(name, buckets=4)
        assert g._layout_name == name and g._e_by_key
        assert _dir_state(spark, f"{name}_v") == before["_v"]
        for t in ("_e_out", "_e_in"):
            assert _dir_state(spark, f"{name}{t}") != before[t], t
        assert g.get(Q.edges().count())[-1].count == n0 + 1
        assert "o_299" in {r["id"] for r in g.df(hop).collect()}
    finally:
        P.drop_adjacency(spark, name)


def test_fingerprint_sum_breaks_xor_pair_collision(spark):
    """XOR alone is blind to PAIRS of identical rows (h ^ h = 0):
    {A, A, B} and {B, C, C} share row count AND xor. The hash-sum
    term must split them — without it a mutation swapping duplicated
    rows for different duplicated rows would pass the stale guard."""
    from graphdb_spark import partitioning as P

    schema = "id string, label string"
    df1 = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("b", "y")], schema)
    df2 = spark.createDataFrame(
        [("b", "y"), ("c", "z"), ("c", "z")], schema)
    fp1, fp2 = P.content_fingerprint(df1), P.content_fingerprint(df2)
    assert fp1["n"] == fp2["n"]
    assert fp1["x"] == fp2["x"], "premise: the XOR collision is real"
    assert fp1["s"] != fp2["s"]
    assert fp1 != fp2


def test_gc_stale_stages_age_gated(spark, adj_graph):
    """Abandoned staging generations (crashed REINDEX) are collected;
    a FRESH stage — possibly a live concurrent writer's — is not."""
    import os
    import time

    from graphdb_spark import partitioning as P

    name = "t_adj_gcstage"
    dead = f"{name}__stagedead_1_v"
    live = f"{name}__stagelive_2_v"
    dead_loc = P.adjacency_table_location(spark, dead)
    live_loc = P.adjacency_table_location(spark, live)
    os.makedirs(dead_loc, exist_ok=True)
    os.makedirs(live_loc, exist_ok=True)
    old = time.time() - 7200
    os.utime(dead_loc, (old, old))
    try:
        P.gc_stale_stages(spark, name)
        assert not os.path.exists(dead_loc)
        assert os.path.exists(live_loc)
    finally:
        import shutil

        shutil.rmtree(live_loc, ignore_errors=True)
        shutil.rmtree(dead_loc, ignore_errors=True)


def test_reindex_swap_race_accepts_identical_winner(spark, adj_graph,
                                                    monkeypatch):
    """Two drivers REINDEXing the same name over a shared warehouse:
    the loser's rename fails because the winner's generation landed
    first. When the winner's stamped fingerprints describe EXACTLY
    the loser's state (always true for signature-keyed names), the
    loser must accept the winner's tables — not crash, not clobber.
    Simulated by pre-installing the 'winner' layout and making the
    loser's pre-swap drop a no-op for the target name (in the real
    cross-process race the winner lands between drop and rename; the
    rename failure itself is genuine — the target exists)."""
    from graphdb_spark import partitioning as P
    from graphdb_spark.algebra import Q
    from graphdb_spark.session import GraphSession

    g, name = adj_graph, "t_adj_race"
    try:
        # the winner: identical state, already swapped in
        winner = GraphSession(spark, g.vertices, g.edges,
                              assume_integrity=True)
        winner.ensure_bucketed_layout(name, buckets=4)
        winner_files = _dir_state(spark, f"{name}_e_out")

        real_drop = P.drop_adjacency

        def selective_drop(s, n):
            if n == name:
                return  # the winner's tables stay — rename will fail
            real_drop(s, n)

        monkeypatch.setattr(P, "drop_adjacency", selective_drop)
        g._reindex(name, 4, {"v", "e"})  # must accept, not raise
        monkeypatch.setattr(P, "drop_adjacency", real_drop)
        assert _dir_state(spark, f"{name}_e_out") == winner_files
        # no stray staging tables survive the accepted race
        import glob

        stray = glob.glob(
            P.adjacency_table_location(spark, f"{name}__stage*"))
        assert stray == [], stray
        g2 = g.use_bucketed_layout(name, 4, write=False)
        got = {r["id"] for r in g2.df(
            Q.specific_vertices("c_0").outbound(t="PLACED").inbound()
        ).collect()}
        assert got, "accepted layout must serve hops"
    finally:
        P.drop_adjacency(spark, name)


def test_partial_reindex_crash_leaves_no_valid_sidecar(spark, adj_graph):
    """The partial swap is multi-step and non-transactional: a crash
    between the _e_out and _e_in swaps must NOT leave mixed-generation
    edge copies behind a valid-looking sidecar (out-hops and in-hops
    would silently disagree). The sidecar is invalidated before the
    first rename, so the interrupted state cannot attach — the next
    ensure rewrites fully."""
    import pytest

    from graphdb_spark import partitioning as P
    from graphdb_spark.algebra import Q

    g, name = adj_graph, "t_adj_crash"

    class _FlakySql:
        """Delegates everything to the real session; fails the SECOND
        edge-table rename (simulating a crash mid-partial-swap)."""

        def __init__(self, real):
            self._real = real

        def __getattr__(self, a):
            return getattr(self._real, a)

        def sql(self, q, *a, **k):
            if "RENAME TO `t_adj_crash_e_in`" in q:
                raise RuntimeError("simulated crash mid-partial-swap")
            return self._real.sql(q, *a, **k)

    try:
        g.ensure_bucketed_layout(name, buckets=4)
        # edge-only content mutation (same cardinality) → stale={"e"}
        e2 = g.edges.withColumn(
            "properties",
            F.create_map(F.lit("touched"), F.lit("1")),
        )
        g.set_state(edges=e2)
        e2_rows = [tuple(r) for r in e2.collect()]  # survives the crash
        v_rows = [tuple(r) for r in g.vertices.collect()]
        g.spark = _FlakySql(spark)
        with pytest.raises(Exception):
            g.ensure_bucketed_layout(name, buckets=4)
        g.spark = spark
        # the interrupted generation must not be attachable
        assert P.read_layout_meta(spark, name) is None
        assert P.attach_adjacency(spark, name, 4) is False
        # recovery is a NEW session over the source-of-truth state
        # (after a crash the old session's layout-backed frames pin
        # listings of the swapped-away files — documented REINDEX
        # semantics: the layout is lost, the next ensure rewrites):
        # the fresh ensure must full-rewrite and serve hops
        from graphdb_spark.session import GraphSession

        g2 = GraphSession(
            spark,
            spark.createDataFrame(v_rows, _V_SCHEMA),
            spark.createDataFrame(e2_rows, _E_SCHEMA),
            assume_integrity=True,
        )
        g2.ensure_bucketed_layout(name, buckets=4)
        assert P.read_layout_meta(spark, name) is not None
        ids = {r["id"] for r in g2.df(
            Q.specific_vertices("c_0").outbound(t="PLACED").inbound()
        ).collect()}
        assert ids, "recovered layout must serve hops"
    finally:
        g.spark = spark
        P.drop_adjacency(spark, name)


def test_ensure_different_buckets_rewrites(spark, adj_graph):
    """Tier-1 fast path must not hand back tables written with a
    DIFFERENT bucket count: the planner trusts the declared bucketing,
    so attaching 4-bucket files as 64 buckets would silently drop join
    matches. Re-ensuring with new buckets on an unmutated session
    rewrites (attach refuses via the stamped spec; the in-session
    shortcut is keyed on (state_version, buckets))."""
    from graphdb_spark import partitioning as P

    g, name = adj_graph, "t_adj_rebkt"
    try:
        g.ensure_bucketed_layout(name, buckets=4)
        assert (P.read_layout_meta(spark, name) or {}).get("buckets") == 4
        g.ensure_bucketed_layout(name, buckets=8)
        meta = P.read_layout_meta(spark, name)
        assert meta and meta.get("buckets") == 8, meta
        files = _dir_state(spark, f"{name}_e_out")
        assert files, "rewritten layout must have files"
    finally:
        P.drop_adjacency(spark, name)
