"""Translator conformance tests — ports of the IndraDB datastore suite
semantics (SURVEY.md §5.1; reference lib/src/tests/)."""

import pytest

from graphdb_spark import algebra as A
from graphdb_spark.algebra import Q
from graphdb_spark.session import NotIndexedError


def ids(df):
    return sorted(r[0] for r in df.select("id").collect())


def test_all_vertex_scan(mini_graph):
    assert mini_graph.vertex_count() == 6
    assert mini_graph.df(Q.vertices()).count() == 6


def test_range_vertex_label_and_limit(mini_graph):
    df = mini_graph.df(Q.range_vertices(t="test_inbound_vertex_type"))
    assert ids(df) == [f"in_{i}" for i in range(1, 6)]
    df = mini_graph.df(Q.range_vertices(t="test_inbound_vertex_type", limit=2))
    assert ids(df) == ["in_1", "in_2"]
    # zero limit (tests/vertex.rs:33-38)
    assert mini_graph.df(Q.range_vertices(limit=0)).count() == 0


def test_range_vertex_start_id_pagination(mini_graph):
    """keyset pagination resumes after start_id (tests/vertex.rs:40-48)."""
    df = mini_graph.df(Q.range_vertices(start_id="in_3", t="test_inbound_vertex_type"))
    assert ids(df) == ["in_4", "in_5"]
    # out-of-range start id -> empty
    df = mini_graph.df(Q.range_vertices(start_id="zzz"))
    assert df.count() == 0


def test_specific_vertex(mini_graph):
    df = mini_graph.df(Q.specific_vertices("in_1", "out_1", "missing"))
    assert ids(df) == ["in_1", "out_1"]


def test_pipe_traversal_chain(mini_graph):
    """vertex -> outbound edges -> inbound endpoint vertices
    (tests/vertex.rs:101-148 .outbound()?.inbound()? chains)."""
    q = Q.specific_vertices("out_1").outbound(t="test_edge_type")
    edges = mini_graph.df(q)
    assert edges.count() == 5
    verts = mini_graph.df(q.inbound())
    assert ids(verts) == [f"in_{i}" for i in range(1, 6)]
    # reverse: inbound vertex -> inbound edges -> outbound endpoints
    q2 = Q.specific_vertices("in_2").inbound().outbound()
    assert ids(mini_graph.df(q2)) == ["out_1"]


def test_pipe_limit_and_type_filter(mini_graph):
    q = Q.specific_vertices("out_1").outbound(limit=3)
    assert mini_graph.df(q).count() == 3
    q = Q.specific_vertices("out_1").outbound(t="no_such_type")
    assert mini_graph.df(q).count() == 0


def test_specific_edge_membership(mini_graph):
    q = Q.specific_edges(
        ("out_1", "test_edge_type", "in_1"),
        ("out_1", "test_edge_type", "missing"),
    )
    df = mini_graph.df(q)
    rows = df.select("src", "relationship", "dst").collect()
    assert len(rows) == 1 and rows[0][2] == "in_1"
    assert mini_graph.df(Q.specific_edges()).count() == 0


def test_count_queries(mini_graph):
    out = mini_graph.get(Q.vertices().count())
    assert out[-1].count == 6
    assert mini_graph.get(Q.edges().count())[-1].count == 5
    assert mini_graph.edge_count() == 5
    # degree count via pipe (tests/util.rs:47-67)
    q = Q.specific_vertices("out_1").outbound(t="test_edge_type").count()
    assert mini_graph.get(q)[-1].count == 5


def test_property_queries(person_graph):
    df = person_graph.df(Q.vertices_with_property("score"))
    assert ids(df) == ["alice", "bob"]
    df = person_graph.df(Q.vertices_with_property_value("active", True))
    assert ids(df) == ["alice", "bob"]
    df = person_graph.df(Q.edges_with_property("project"))
    assert df.count() == 1
    df = person_graph.df(Q.edges_with_property_value("since", 2018))
    assert df.collect()[0]["dst"] == "bob"


def test_piped_property_filters(person_graph):
    base = Q.range_vertices(t="Person")
    assert ids(person_graph.df(base.with_property("score"))) == ["alice", "bob"]
    assert ids(person_graph.df(base.without_property("score"))) == ["charlie", "diana"]
    assert ids(person_graph.df(base.with_property_equal_to("age", 30))) == ["alice"]
    # != drops rows lacking the property (value-index semantics)
    assert ids(person_graph.df(base.with_property_not_equal_to("age", 30))) == [
        "bob", "charlie", "diana",
    ]


def test_pipe_property_outputs(person_graph):
    out = person_graph.get(Q.specific_vertices("alice").properties("age"))
    assert out[-1].kind == A.OutputType.VERTEX_PROPERTIES
    rows = out[-1].df.select("prop_name", "prop_value").collect()
    assert rows == [("age", "30")] or [tuple(r) for r in rows] == [("age", "30")]
    # all-properties explode
    out = person_graph.get(Q.specific_vertices("charlie").properties())
    names = sorted(r["prop_name"] for r in out[-1].df.collect())
    assert names == ["active", "age", "name"]
    # properties count (tests/properties.rs:201-218)
    n = person_graph.get(Q.specific_vertices("charlie").properties().count())[-1].count
    assert n == 3


def test_include_intermediate_outputs(mini_graph):
    """Include returns intermediate stages alongside final
    (lib/src/tests/include_query.rs:7-32)."""
    q = Q.specific_vertices("out_1").include().outbound().include().count()
    outs = mini_graph.get(q)
    assert len(outs) == 3
    assert outs[0].kind == A.OutputType.VERTICES and outs[0].df.count() == 1
    assert outs[1].kind == A.OutputType.EDGES and outs[1].df.count() == 5
    assert outs[2].kind == A.OutputType.COUNT and outs[2].count == 5


def test_strict_indexing_mode(spark, person_graph):
    """NotIndexed conformance (tests/indexing.rs:32-48): strict mode
    errors on unindexed property queries; index_property fixes it."""
    from graphdb_spark.session import GraphSession

    g = GraphSession(spark, person_graph.vertices, person_graph.edges,
                     strict_indexing=True)
    with pytest.raises(NotIndexedError):
        g.df(Q.vertices_with_property("score")).count()
    g.index_property("score")
    assert g.df(Q.vertices_with_property("score")).count() == 2


def test_load_validates_edges(spark):
    """Edge dedup on (src,relationship,dst) + endpoint validation
    (rdb/datastore.rs:272-281, inmemory_storage.rs:16)."""
    from graphdb_spark.session import GraphSession

    v = spark.createDataFrame(
        [("a", "T", {}), ("b", "T", {})],
        "id string, label string, properties map<string,string>",
    )
    e = spark.createDataFrame(
        [("a", "E", "b", {}), ("a", "E", "b", {"dup": "1"}), ("a", "E", "ghost", {})],
        "src string, relationship string, dst string, properties map<string,string>",
    )
    g = GraphSession.from_dataframes(spark, v, e)
    assert g.edge_count() == 1


def test_kv_store(spark):
    from graphdb_spark.session import GraphSession

    g = GraphSession(spark)
    g.kv_insert("k1", "v1").kv_insert("k2", "v2").kv_insert("k1", "v1b")
    assert g.kv_retrieve("k1") == "v1b"
    assert g.kv_retrieve("k2") == "v2"
    g.kv_delete("k1")
    assert g.kv_retrieve("k1") is None
    g.kv_flush()


def test_frontier_memo_invalidated_by_mutation(spark):
    """Pipe frontiers memoize per query subtree on the session
    (translator._frontier_memo); set_state mutates the session IN
    PLACE, so the memo must be dropped or a repeated traversal would
    replay a frontier computed on pre-mutation state."""
    from graphdb_spark import Q
    from graphdb_spark.operators.mutations import bulk_insert
    from graphdb_spark.session import GraphSession

    v = spark.createDataFrame(
        [("a", "hub", {"k": "1"}), ("b", "T", {}), ("c", "T", {})],
        "id string, label string, properties map<string,string>",
    )
    e = spark.createDataFrame(
        [("a", "E", "b", {})],
        "src string, relationship string, dst string, properties map<string,string>",
    )
    g = GraphSession.from_dataframes(spark, v, e)
    # property-filtered root -> NOT the static small-frontier path
    q = Q.vertices_with_property_value("k", "1").outbound().inbound()
    assert {r["id"] for r in g.df(q).collect()} == {"b"}
    assert g._frontier_cache, "probe path should have memoized a frontier"
    g2 = bulk_insert(g, edges=[("a", "E", "c", {})])
    assert {r["id"] for r in g2.df(q).collect()} == {"b", "c"}


def test_big_frontier_not_broadcast(spark):
    """Frontiers above traversal.BROADCAST_MAX_ROWS keep the shuffle join —
    the scale-safe path for 10^9-row frontiers."""
    from graphdb_spark import Q
    from graphdb_spark.operators import traversal
    from graphdb_spark.session import GraphSession

    n = 500
    v = spark.createDataFrame(
        [(f"v{i}", "T", {"k": "1"}) for i in range(n)],
        "id string, label string, properties map<string,string>",
    )
    e = spark.createDataFrame(
        [(f"v{i}", "E", f"v{(i + 1) % n}", {}) for i in range(n)],
        "src string, relationship string, dst string, properties map<string,string>",
    )
    g = GraphSession.from_dataframes(spark, v, e)
    old = traversal.BROADCAST_MAX_ROWS
    traversal.BROADCAST_MAX_ROWS = 10  # force the big-frontier path
    try:
        q = Q.vertices_with_property_value("k", "1").outbound().inbound()
        df = g.df(q)
        assert df.count() == n
        # no explicit broadcast HINT above the threshold (AQE may still
        # choose a local broadcast from runtime sizes — that's fine)
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        assert "ResolvedHint" not in optimized
    finally:
        traversal.BROADCAST_MAX_ROWS = old
