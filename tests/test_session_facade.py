"""GraphSession facade: language-detecting execute() (QueryExecEngine
equivalent) + analytics method surface."""

import datetime

import pytest
from conftest import count_jobs


def test_execute_detects_cypher(person_graph):
    df = person_graph.execute("MATCH (p:Person) WHERE p.age > 30 RETURN p.name ORDER BY p.name")
    assert [r[0] for r in df.collect()] == ["Bob", "Diana"]


def test_execute_detects_sql(person_graph):
    df = person_graph.execute(
        "SELECT label, count(*) AS n FROM vertices GROUP BY label"
    )
    assert df.collect()[0]["n"] == 4


def test_execute_rejects_unknown(person_graph):
    with pytest.raises(ValueError):
        person_graph.execute("FROBNICATE ALL THE THINGS")


def test_facade_analytics(person_graph):
    assert person_graph.bfs("alice", direction="out").count() == 4
    assert person_graph.shortest_path("alice", "diana") == ["alice", "bob", "diana"]
    degs = {r["id"]: r["degree"] for r in person_graph.degrees().collect()}
    assert degs["alice"] == 2
    ranks = person_graph.pagerank(iterations=5)
    assert ranks.count() == 4
    comps = {r["id"]: r["component"] for r in person_graph.connected_components().collect()}
    assert len(set(comps.values())) == 1  # one connected component
    assert person_graph.find("(a)-[e:KNOWS]->(b)").count() == 2


def test_execute_detects_graphql(person_graph):
    """GraphQL detection parity: the reference detects GraphQL
    (query_parser.rs:33-51) but never executes it (REST mock) — we
    return the structured detection result."""
    res = person_graph.execute("query { person { name } }")
    assert res["language"] == "graphql" and res["status"] == "parse_only"
    res = person_graph.execute("{ person { name } }")
    assert res["language"] == "graphql"


def test_cypher_plan_cache_hits_and_invalidates(spark):
    """Read statements are plan-cached per query text; mutations are
    not cached and set_state invalidates, so reads after DML see the
    new state."""
    from graphdb_spark.datamodel import local_df
    from graphdb_spark.session import GraphSession

    g = GraphSession(
        spark,
        local_df(spark, [("a", "N", {})],
                 "id string, label string, properties map<string,string>"),
        local_df(spark, [],
                 "src string, relationship string, dst string, "
                 "properties map<string,string>"),
    )
    q = "MATCH (n:N) RETURN n.id AS id"
    d1 = g.cypher(q)
    d2 = g.cypher(q)
    assert d1 is d2  # plan-cache hit (same lazy DataFrame object)
    assert d1.count() == 1
    # DML returns a summary (not cached), and invalidates the cache
    out = g.cypher("CREATE (:N {id: 'b'})")
    assert out["created_vertices"] == 1
    d3 = g.cypher(q)
    assert d3 is not d1
    assert d3.count() == 2


def test_cypher_plan_cache_is_lru_not_fifo(spark):
    """A cache hit must refresh recency: after filling the cache to
    capacity, re-using the OLDEST entry and then inserting one more
    must evict the second-oldest, not the just-hit one."""
    from graphdb_spark.datamodel import local_df
    from graphdb_spark.session import GraphSession

    g = GraphSession(
        spark,
        local_df(spark, [("a", "N", {})],
                 "id string, label string, properties map<string,string>"),
        local_df(spark, [],
                 "src string, relationship string, dst string, "
                 "properties map<string,string>"),
    )
    old_max = GraphSession.CYPHER_PLAN_CACHE_MAX
    GraphSession.CYPHER_PLAN_CACHE_MAX = 2
    try:
        q1 = "MATCH (n:N) RETURN n.id AS id"
        q2 = "MATCH (n:N) RETURN n.id AS id2"
        q3 = "MATCH (n:N) RETURN n.id AS id3"
        d1 = g.cypher(q1)
        g.cypher(q2)
        assert g.cypher(q1) is d1   # hit refreshes q1's recency
        g.cypher(q3)                # at capacity: evicts q2, NOT q1
        assert g.cypher(q1) is d1   # q1 survived (LRU); FIFO would evict it
        assert q2 not in g._cypher_plan_cache
    finally:
        GraphSession.CYPHER_PLAN_CACHE_MAX = old_max


@pytest.mark.parametrize("phys_gib, heap", [
    (2, "1024m"), (15, "7680m"), (32, "16384m"), (256, "16384m"),
])
def test_default_driver_memory_is_half_of_ram_capped(phys_gib, heap):
    from graphdb_spark.session import default_driver_memory

    assert default_driver_memory(phys_gib << 30) == heap


def test_build_spark_sizes_heap_from_ram_unless_pinned(monkeypatch):
    """build_spark derives the driver heap from physical memory; the
    SPARK_GRAFT_DRIVER_MEM deployment setting still overrides it. A
    recording builder stands in for Spark, so no JVM starts."""
    import os
    import types

    from pyspark.sql import SparkSession

    from graphdb_spark import session as S

    class Builder:
        def __init__(self):
            self.conf = {}

        def appName(self, _name):  # noqa: N802 (PySpark naming)
            return self

        def master(self, _master):
            return self

        def config(self, key, value):
            self.conf[key] = value
            return self

        def getOrCreate(self):  # noqa: N802
            return types.SimpleNamespace(
                conf=types.SimpleNamespace(set=lambda *_: None),
                sparkContext=types.SimpleNamespace(defaultParallelism=4),
            )

    def conf(**env):
        b = Builder()
        monkeypatch.setattr(SparkSession, "builder", b)
        for k, v in env.items():
            monkeypatch.setenv(k, v)
        S.build_spark("t", master="local[1]")
        return b.conf

    def heap(**env):
        c = conf(**env)
        return c["spark.driver.memory"], c["spark.driver.maxResultSize"]

    pages = {"SC_PHYS_PAGES": (12 << 30) // 4096, "SC_PAGE_SIZE": 4096}
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    # the result cap is half of the heap, pinned or derived
    assert heap() == ("6144m", "3072m")
    assert heap(SPARK_GRAFT_DRIVER_MEM="3g") == ("3g", "1536m")
    assert heap(SPARK_GRAFT_DRIVER_MEM="2048") == ("2048", "1024m")
    assert conf()["spark.sql.codegen.cache.maxEntries"] == "1000"


@pytest.mark.parametrize("mem, cap", [
    ("2g", "1024m"), ("7680m", "3840m"), ("1T", "524288m"),
    ("4096k", "2m"), ("2gb", "1024m"), ("1m", "1m"),
])
def test_max_result_size_is_half_the_heap(mem, cap):
    from graphdb_spark.session import max_result_size

    assert max_result_size(mem) == cap


def test_max_result_size_rejects_a_non_memory_string():
    from graphdb_spark.session import max_result_size

    with pytest.raises(ValueError):
        max_result_size("lots")


def test_live_session_holds_the_codegen_cache_size(spark):
    """The cache size is a static conf: it only takes effect if the
    session was built with it."""
    from graphdb_spark.session import CODEGEN_CACHE_ENTRIES

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == \
        str(CODEGEN_CACHE_ENTRIES)


_TS = datetime.datetime(2020, 1, 2, 3, 4, 5)


@pytest.mark.parametrize("rows, schema, expected, types", [
    ([("a", 1, 1 << 40), (None, None, None)], "s string, i int, b bigint",
     [("a", 1, 1 << 40), (None, None, None)], ["string", "int", "bigint"]),
    ([("v", {"k": "x"}), ("w", None)], "id string, p map<string,string>",
     [("v", {"k": "x"}), ("w", None)], ["string", "map<string,string>"]),
    ([(["x", None],), (None,)], "a array<string>",
     [(["x", None],), (None,)], ["array<string>"]),
    ([], "id string, depth int", [], ["string", "int"]),
    ([(1,), (2,)], ["x"], [(1,), (2,)], ["bigint"]),
    ([("a",)], ["y"], [("a",)], ["string"]),
    # a naive datetime is local wall-clock time, as createDataFrame
    # reads it; an aware one is its instant
    ([(_TS,), (_TS.replace(tzinfo=datetime.timezone.utc),),
      (None,)], "ts timestamp",
     [(int(_TS.timestamp()),), (1577934245,), (None,)], ["timestamp"]),
], ids=["scalars", "map", "array", "empty", "names_long", "names_string",
        "timestamp"])
def test_local_df_is_a_local_relation(spark, rows, schema, expected, types):
    """Driver-local rows become a LocalRelation leaf with exactly the
    given rows, and collecting them runs no Spark job (an RDD-backed
    frame, or a silent fallback to one, runs at least one)."""
    from graphdb_spark.datamodel import local_df

    df = local_df(spark, rows, schema)
    leaf = df._jdf.queryExecution().analyzed()
    assert leaf.getClass().getSimpleName() == "LocalRelation"
    assert [f.dataType.simpleString() for f in df.schema.fields] == types
    if types == ["timestamp"]:
        df = df.selectExpr("CAST(ts AS BIGINT) AS ts")
    got, jobs = count_jobs(spark, df.collect)
    assert [tuple(r) for r in got] == expected
    assert jobs == 0
