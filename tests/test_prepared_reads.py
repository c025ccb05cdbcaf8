"""Serving path: plan-cached reads served from their kept rows, the
core-sized resident graph cache, the one-pass bounded collect, and
serialized writes under concurrent callers."""

from __future__ import annotations

import threading
import time

import pytest
from conftest import count_jobs as _jobs

from graphdb_spark.rest import _df_payload
from graphdb_spark.session import GraphSession

LOOKUP = "MATCH (c:customer {id: 'c_7'}) RETURN c.id, c.mktsegment"


def _ungrouped_jobs(spark, fn):
    """(fn(), number of Spark jobs run in no job group meanwhile): the
    REST server's handler threads run theirs in none."""
    sc = spark.sparkContext
    bus, tracker = sc._jsc.sc().listenerBus(), sc.statusTracker()
    bus.waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup(None))
    out = fn()
    bus.waitUntilEmpty()
    return out, len(set(tracker.getJobIdsForGroup(None)) - before)


def _py4j_calls(monkeypatch, fn):
    """(fn(), py4j round trips this thread made in it)."""
    from py4j.clientserver import ClientServerConnection

    send, calls, me = ClientServerConnection.send_command, [0], \
        threading.get_ident()

    def counting(conn, command):
        if threading.get_ident() == me:
            calls[0] += 1
        return send(conn, command)

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", counting)
        out = fn()
    return out, calls[0]


@pytest.fixture(scope="module")
def resident(spark, sf_dir):
    from graphdb_spark.workloads.graph import graph_session

    return graph_session(spark, sf_dir)


def _small(spark):
    from graphdb_spark.datamodel import local_df

    return GraphSession(
        spark,
        local_df(spark, [("a", "N", {})],
                 "id string, label string, properties map<string,string>"),
        local_df(spark, [],
                 "src string, relationship string, dst string, "
                 "properties map<string,string>"),
    )


@pytest.mark.parametrize("query, steps", [
    # a repeat of a cached 1-hop read is served from its kept rows
    pytest.param("MATCH (c:customer {id: 'c_1'})-[:PLACED]->(o) "
                 "RETURN count(o) AS kept_n",
                 [(1000, False), (1000, True)], id="repeat"),
    # a new limit re-collects, and its rows replace the kept ones
    pytest.param("MATCH (c:customer) RETURN c.id AS kept_c ORDER BY kept_c",
                 [(1000, False), (5, False), (5, True), (1000, False)],
                 id="new_limit"),
    # more than DEFAULT_ROW_LIMIT rows (of 1850 vertices) are not kept
    pytest.param("MATCH (n) RETURN n.id AS kept_id ORDER BY kept_id",
                 [(1500, False), (1500, False), (1000, False), (1000, True)],
                 id="over_limit"),
])
def test_repeated_read_is_served_from_kept_rows(spark, resident, monkeypatch,
                                                query, steps):
    df = resident.execute(query)
    total = df.count()
    for limit, served in steps:
        want = df.columns, [list(r) for r in df.limit(limit).collect()]
        (got, calls), jobs = _jobs(spark, lambda: _py4j_calls(
            monkeypatch, lambda: _df_payload(resident.execute(query), limit)))
        assert got == want and len(got[1]) == min(limit, total)
        if served:  # no Spark job, no py4j call
            assert (jobs, calls) == (0, 0)
        else:
            assert jobs >= 1


def test_clock_read_is_never_served_from_kept_rows(spark, resident):
    df = resident.execute(
        "MATCH (c:customer {id: 'c_7'}) RETURN timestamp() AS kept_t")
    first = _df_payload(df, 10)[1][0][0]
    time.sleep(0.01)
    (_, rows), jobs = _jobs(spark, lambda: _df_payload(df, 10))
    assert jobs >= 1 and rows[0][0] > first


def test_rest_write_drops_kept_rows(spark):
    import json
    import urllib.request

    from graphdb_spark.rest import QueryServer

    def post(query):
        req = urllib.request.Request(
            srv.url + "/api/v1/query", method="POST",
            data=json.dumps({"query": query}).encode())
        with urllib.request.urlopen(req, timeout=120) as r:
            return json.loads(r.read())["results"]

    read = "MATCH (n:N) RETURN count(n) AS cnt"
    srv = QueryServer(_small(spark)).start()
    try:
        assert post(read) == [[1]]
        assert _ungrouped_jobs(spark, lambda: post(read)) == ([[1]], 0)
        post("CREATE (:N {id: 'b'})")
        assert post(read) == [[2]]
        assert _ungrouped_jobs(spark, lambda: post(read)) == ([[2]], 0)
    finally:
        srv.stop()


def test_rows_kept_before_a_swap_are_not_served_after_it(spark):
    from graphdb_spark.operators import mutations as M

    g = _small(spark)
    q = "MATCH (n:N) RETURN n.id AS id ORDER BY id"
    old = g.execute(q)
    assert _df_payload(old, 10)[1] == [["a"]]
    M.create_vertex(g, "b", "N")
    # a reader still holding the old frame collects it after the swap
    assert _df_payload(old, 10)[1] == [["a"]]
    new = g.execute(q)
    assert new is not old
    assert _df_payload(new, 10)[1] == [["a"], ["b"]]
    (_, rows), jobs = _jobs(spark, lambda: _df_payload(g.execute(q), 10))
    assert (rows, jobs) == ([["a"], ["b"]], 0)


def test_bounded_lookup_on_resident_vertices_is_one_job(spark, resident):
    # a fresh limit over the resident vertex cache: the first probe
    # covers every partition, so no incremental follow-up jobs
    df = resident.cypher(LOOKUP)
    rows, jobs = _jobs(spark, lambda: df.limit(1000).collect())
    assert jobs == 1
    assert rows == df.collect() and len(rows) == 1


def test_point_lookup_carries_no_broadcast_hint(resident):
    # a hint on a node side that joins nothing makes Spark warn on
    # every plan-cache miss ("A join hint (strategy=broadcast) is
    # specified but it is not part of a join relation")
    plan = resident.cypher(LOOKUP)._jdf.queryExecution().analyzed()
    assert "ResolvedHint" not in plan.toString()


def test_one_hop_count_broadcasts_its_start_node(spark, resident):
    # size-based broadcasts off: at this scale they would hide the hint
    key, conf = "spark.sql.autoBroadcastJoinThreshold", spark.conf
    threshold = conf.get(key)
    conf.set(key, "-1")
    try:
        df = resident.cypher("MATCH (c:customer {id: 'c_9'})-[:PLACED]->(o)"
                             " RETURN count(o) AS hint_n")
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        conf.set(key, threshold)
    assert "BroadcastHashJoin" in plan and "BuildLeft" in plan


def test_plain_graph_cache_is_core_sized(spark, resident):
    n = spark.sparkContext.defaultParallelism
    assert resident.edges.rdd.getNumPartitions() == n
    assert resident.vertices.rdd.getNumPartitions() <= n


def test_sql_reads_hit_cache_and_set_state_invalidates(spark):
    from graphdb_spark.operators import mutations as M

    g = _small(spark)
    q = "SELECT id FROM vertices ORDER BY id"
    d1 = g.sql(q)
    assert g.sql(q) is d1
    assert g.execute(q) is d1
    assert [r.id for r in d1.collect()] == ["a"]
    M.create_vertex(g, "b", "N")
    d2 = g.execute(q)
    assert d2 is not d1
    assert [r.id for r in d2.collect()] == ["a", "b"]
    # commands run eagerly and are never cached
    assert g.sql("SHOW TABLES") is not g.sql("SHOW TABLES")
    # inline rows, CTEs and subqueries over the graph views replay
    for q in ("SELECT 1 AS one", "VALUES (1), (2)",
              "WITH x AS (SELECT id FROM vertices) SELECT * FROM x",
              "SELECT id FROM vertices WHERE id IN "
              "(SELECT src FROM edges)"):
        assert g.sql(q) is g.sql(q), q


def test_sql_reads_beyond_the_graph_views_are_not_cached(spark, tmp_path):
    g = _small(spark)
    for q in ("SELECT current_timestamp() AS t", "SELECT now() AS t",
              "SELECT id, uuid() AS u FROM vertices",
              "SELECT id FROM vertices WHERE rand() < 2"):
        assert g.sql(q) is not g.sql(q), q
    # another view: a replaced view is read afresh
    spark.range(2).createOrReplaceTempView("documents")
    q = "SELECT count(*) AS n FROM documents"
    assert g.sql(q).collect()[0].n == 2
    spark.range(5).createOrReplaceTempView("documents")
    assert g.sql(q).collect()[0].n == 5
    # a file path: rewritten files are listed afresh
    path = str(tmp_path / "t")
    spark.range(3).write.parquet(path)
    q = f"SELECT count(*) AS n FROM parquet.`{path}`"
    assert g.sql(q).collect()[0].n == 3
    spark.range(7).write.mode("overwrite").parquet(path)
    assert g.sql(q).collect()[0].n == 7
    # a subquery over another relation disqualifies the whole read
    q = "SELECT id FROM vertices WHERE id IN (SELECT 'a' FROM documents)"
    assert g.sql(q) is not g.sql(q)


def test_cypher_clock_reads_are_not_cached(spark):
    g = _small(spark)
    q = "MATCH (n:N) RETURN n.id AS id, timestamp() AS t"
    assert g.cypher(q) is not g.cypher(q)
    q = "MATCH (n:N) RETURN n.id AS id"
    assert g.cypher(q) is g.cypher(q)


def test_read_planned_across_a_swap_is_not_cached(spark):
    g = _small(spark)
    q = "MATCH (n:N) RETURN n.id AS id"

    def plan_then_swap():
        from graphdb_spark.cypher.executor import execute_cypher

        out = execute_cypher(g, q)
        g.set_state(vertices=g.vertices)  # a writer swaps mid-plan
        return out

    stale = g._cached_read(q, plan_then_swap, lambda df: True)
    assert q not in g._cypher_plan_cache
    assert g.cypher(q) is not stale
    assert q in g._cypher_plan_cache


def test_read_planned_during_a_swap_is_not_cached(spark, monkeypatch):
    # a read that runs after set_state has swapped the frames but
    # before it re-registers the views plans against the OLD views
    from graphdb_spark.operators import mutations as M

    g = _small(spark)
    q = "SELECT id FROM vertices ORDER BY id"
    register, during = g._register_views, []

    def read_then_register():
        during.append(g.sql(q))
        register()

    monkeypatch.setattr(g, "_register_views", read_then_register)
    M.create_vertex(g, "b", "N")
    monkeypatch.undo()
    assert [r.id for r in during[0].collect()] == ["a"]
    assert [r.id for r in g.sql(q).collect()] == ["a", "b"]


def test_statistics_computed_across_a_swap_are_dropped(spark, monkeypatch):
    # a reader computes a statistic on the old frames, a writer swaps
    # state before the reader stores it: the store must not survive
    from graphdb_spark.cypher.executor import _Executor
    from graphdb_spark.operators import mutations as M

    g = _small(spark)
    DataFrame = type(g.vertices)  # the concrete (classic) frame class
    collect = DataFrame.collect

    def racing(write):
        def collect_then_write(df):
            monkeypatch.setattr(DataFrame, "collect", collect)
            rows = collect(df)
            write()
            return rows

        monkeypatch.setattr(DataFrame, "collect", collect_then_write)

    racing(lambda: M.create_edge(g, "a", "R", "a"))
    assert g.max_branch("out") == 0  # the racing reader's own answer
    assert g.max_branch("out") == 1

    racing(lambda: M.create_vertex(g, "b", "N"))
    assert _Executor(g)._label_counts() == {"N": 1}
    assert _Executor(g)._label_counts() == {"N": 2}


def test_concurrent_reads_of_one_cached_entry_agree(spark, resident):
    q = ("MATCH (c:customer)-[:PLACED]->(o) WHERE c.mktsegment = 'BUILDING' "
         "RETURN c.id AS c, count(o) AS n ORDER BY c")
    df = resident.execute(q)  # cached, but never collected yet
    got, errors = [None] * 4, []

    def read(i):
        try:
            got[i] = _df_payload(resident.execute(q), 50)
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    threads = [threading.Thread(target=read, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    want = (df.columns, [list(r) for r in df.limit(50).collect()])
    assert got == [want] * 4 and len(want[1]) > 0


def test_concurrent_creates_are_not_lost(spark):
    g = _small(spark)
    errors = []

    def create(i):
        try:
            g.execute(f"CREATE (:W {{id: 'w{i}'}})")
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    threads = [threading.Thread(target=create, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    rows = g.execute("MATCH (n:W) RETURN n.id AS id ORDER BY id").collect()
    assert [r.id for r in rows] == ["w0", "w1", "w2", "w3"]


def test_plan_cache_miss_py4j_budget(resident, monkeypatch):
    # a miss is planned on the driver; its cost is py4j round trips.
    # PySpark's per-call call-site capture alone made 3-4 per Column
    # call (373 for a point lookup, 607 for a 1-hop count)
    from py4j.clientserver import ClientServerConnection
    from pyspark.errors.utils import is_debugging_enabled

    assert not is_debugging_enabled()
    lookup = "MATCH (c:customer {{id: 'c_{}'}}) RETURN c.id AS budget_id"
    one_hop = ("MATCH (c:customer {{id: 'c_{}'}})-[:PLACED]->(o) "
               "RETURN count(o) AS budget_n")
    for q in (lookup, one_hop):  # warm this state's memos
        resident.cypher(q.format(30)).collect()
    send, calls = ClientServerConnection.send_command, [0]
    me = threading.get_ident()

    def counting(conn, command):
        # this thread's round trips only: py4j's finalizer thread sends
        # the releases of earlier, unrelated objects on its own
        # connection, in batches, at any time
        if threading.get_ident() == me:
            calls[0] += 1
        return send(conn, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)

    def round_trips(q):
        calls[0] = 0
        resident.cypher(q)
        return calls[0]

    assert 0 < round_trips(lookup.format(31)) <= 120
    assert 0 < round_trips(one_hop.format(31)) <= 160


def test_fresh_one_hop_count_miss_runs_three_jobs(spark, resident):
    # a plan-cache miss of the serving path's 1-hop count: the customer
    # broadcast, the count's shuffle map and its result; `o` is read by
    # id only, so no broadcast of the whole vertex table
    q = ("MATCH (c:customer {{id: 'c_{}'}})-[:PLACED]->(o) "
         "RETURN count(o) AS jobs_n")
    _df_payload(resident.execute(q.format(60)), 1000)  # warm label counts
    df = resident.execute(q.format(61))
    (_, got), jobs = _jobs(spark, lambda: _df_payload(df, 1000))
    assert jobs == 3
    want = resident.edges.filter(
        "src = 'c_61' AND relationship = 'PLACED'").count()
    assert got == [[want]] and want > 0
