import os
import uuid

import pytest

os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def count_jobs(spark, fn):
    """(fn(), number of Spark jobs it ran), counted by job group."""
    sc = spark.sparkContext
    group = f"t{uuid.uuid4().hex[:12]}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed by the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    from graphdb_spark.session import build_spark

    s = build_spark("graphdb_spark_tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ["SPARK_GRAFT_SF_DIR"]


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    from graphdb_spark.sources.tpch import load_tables

    return load_tables(spark, sf_dir)


@pytest.fixture(scope="session")
def graph(spark, sf_dir):
    """F6 graph as a GraphSession (session-scoped; tests must not mutate —
    mutation tests build their own small graphs)."""
    from graphdb_spark.session import GraphSession
    from graphdb_spark.sources.tpch import tpch_graph

    v, e = tpch_graph(spark, sf_dir)
    return GraphSession(spark, v.cache(), e.cache())


@pytest.fixture()
def mini_graph(spark):
    """The conformance-suite mini-graph (FIXTURES.md F1, reference
    lib/src/tests/util.rs:7-30): 1 outbound vertex, 5 inbound vertices,
    5 test_edge_type edges."""
    from graphdb_spark.session import GraphSession

    verts = [("out_1", "test_outbound_vertex_type", {})] + [
        (f"in_{i}", "test_inbound_vertex_type", {}) for i in range(1, 6)
    ]
    edges = [("out_1", "test_edge_type", f"in_{i}", {}) for i in range(1, 6)]
    v = spark.createDataFrame(
        verts, "id string, label string, properties map<string,string>"
    )
    e = spark.createDataFrame(
        edges, "src string, relationship string, dst string, properties map<string,string>"
    )
    return GraphSession(spark, v, e)


@pytest.fixture()
def person_graph(spark):
    """F2 Person/KNOWS social graph (queries_examples.txt:53-69):
    alice(30,true,95.5), bob(35,true,87.2), charlie(28,false), diana(32);
    KNOWS alice->bob, alice->charlie; WORKS_WITH bob->diana."""
    from graphdb_spark.session import GraphSession

    verts = [
        ("alice", "Person", {"name": "Alice", "age": "30", "active": "true", "score": "95.5"}),
        ("bob", "Person", {"name": "Bob", "age": "35", "active": "true", "score": "87.2"}),
        ("charlie", "Person", {"name": "Charlie", "age": "28", "active": "false"}),
        ("diana", "Person", {"name": "Diana", "age": "32"}),
    ]
    edges = [
        ("alice", "KNOWS", "bob", {"since": "2018", "strength": "0.9"}),
        ("alice", "KNOWS", "charlie", {"since": "2020", "strength": "0.7"}),
        ("bob", "WORKS_WITH", "diana", {"project": "GraphDB"}),
    ]
    v = spark.createDataFrame(
        verts, "id string, label string, properties map<string,string>"
    )
    e = spark.createDataFrame(
        edges, "src string, relationship string, dst string, properties map<string,string>"
    )
    return GraphSession(spark, v, e)
