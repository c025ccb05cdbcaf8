"""Traversal tests: BFS (fixing the reference's broken
traversal.rs:31-36), shortestPath and var-length expansion
(queries_examples.txt:109-118), connected components."""

import pytest
from conftest import count_jobs as _jobs

from graphdb_spark.operators import traversal as T


@pytest.fixture()
def chain_graph(spark):
    """a -> b -> c -> d -> e, plus a side branch b -> x, and a cycle
    e -> a."""
    edges = [
        ("a", "N", "b"), ("b", "N", "c"), ("c", "N", "d"), ("d", "N", "e"),
        ("b", "N", "x"), ("e", "N", "a"),
    ]
    return spark.createDataFrame(
        [(s, r, d, {}) for s, r, d in edges],
        "src string, relationship string, dst string, properties map<string,string>",
    )


def test_bfs_depths(chain_graph):
    got = {r["id"]: r["depth"] for r in T.bfs(chain_graph, "a", max_depth=5).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "x": 2, "d": 3, "e": 4}


def test_bfs_pushdown_matches_distributed(chain_graph):
    """The phase-1 frontier-predicate pushdown (driver-side visited
    set, IN-list hops) must be result-identical to the distributed
    loop, including cycle termination and early frontier exhaustion."""
    for depth in (1, 2, 3, 5, 10):
        push = {(r["id"], r["depth"])
                for r in T.bfs(chain_graph, "a", max_depth=depth,
                               max_branch=2).collect()}
        dist = {(r["id"], r["depth"])
                for r in T.bfs(chain_graph, "a", max_depth=depth,
                               frontier_pushdown=False).collect()}
        assert push == dist, f"pushdown BFS diverged at max_depth={depth}"


def test_bfs_pushdown_respects_direction_and_type(spark, chain_graph):
    """Pushdown hops must apply the direction flip and relationship
    filter exactly like the distributed step (both route through
    _edges_step, but the IN-filter path is the one that would silently
    widen results if it filtered after the hop instead of before)."""
    got_in = {(r["id"], r["depth"])
              for r in T.bfs(chain_graph, "c", max_depth=2,
                             direction="in", max_branch=2).collect()}
    exp_in = {(r["id"], r["depth"])
              for r in T.bfs(chain_graph, "c", max_depth=2,
                             direction="in",
                             frontier_pushdown=False).collect()}
    assert got_in == exp_in
    e = spark.createDataFrame(
        [("a", "KNOWS", "b", {}), ("b", "WORKS", "c", {}),
         ("b", "KNOWS", "d", {})],
        "src string, relationship string, dst string, "
        "properties map<string,string>",
    )
    got_t = {(r["id"], r["depth"])
             for r in T.bfs(e, "a", max_depth=3, t="KNOWS",
                            max_branch=2).collect()}
    assert got_t == {("a", 0), ("b", 1), ("d", 2)}


def test_bfs_pushdown_hands_off_mid_traversal(spark):
    """When the branch bound outgrows ISIN_FRONTIER_MAX mid-traversal,
    phase 1 must hand its visited/frontier state to the distributed
    loop without dropping or double-counting a layer."""
    import graphdb_spark.operators.traversal as tr

    edges = [("a", "N", f"b{i}") for i in range(3)]
    edges += [(f"b{i}", "N", f"c{j}") for i in range(3) for j in range(4)]
    edges += [(f"c{j}", "N", "d") for j in range(4)]
    df = spark.createDataFrame(
        [(s, r, d, {}) for s, r, d in edges],
        "src string, relationship string, dst string, "
        "properties map<string,string>",
    )
    expected = {(r["id"], r["depth"])
                for r in T.bfs(df, "a", max_depth=3,
                               frontier_pushdown=False).collect()}
    orig = tr.ISIN_FRONTIER_MAX
    tr.ISIN_FRONTIER_MAX = 8   # hop1 fits (1*4 <= 8), hop2 doesn't (3*4)
    try:
        got = {(r["id"], r["depth"])
               for r in T.bfs(df, "a", max_depth=3, max_branch=4).collect()}
    finally:
        tr.ISIN_FRONTIER_MAX = orig
    assert got == expected


def test_bfs_max_depth_caps(chain_graph):
    got = {r["id"]: r["depth"] for r in T.bfs(chain_graph, "a", max_depth=2).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "x": 2}


def test_bfs_cycle_terminates(chain_graph):
    # cycle e->a must not loop forever or re-add a at depth 5
    got = T.bfs(chain_graph, "a", max_depth=10).collect()
    assert len(got) == 6


def test_bfs_direction_in(chain_graph):
    got = {r["id"]: r["depth"] for r in T.bfs(chain_graph, "c", max_depth=2, direction="in").collect()}
    assert got == {"c": 0, "b": 1, "a": 2}


def test_bfs_type_filter(spark):
    edges = [("a", "KNOWS", "b"), ("b", "WORKS_WITH", "c")]
    e = spark.createDataFrame(
        [(s, r, d, {}) for s, r, d in edges],
        "src string, relationship string, dst string, properties map<string,string>",
    )
    got = {r["id"]: r["depth"] for r in T.bfs(e, "a", max_depth=3, t="KNOWS").collect()}
    assert got == {"a": 0, "b": 1}


def test_shortest_path(chain_graph):
    assert T.shortest_path(chain_graph, "a", "e", direction="out") == [
        "a", "b", "c", "d", "e",
    ]
    # undirected: e->a edge makes it 1 hop
    assert T.shortest_path(chain_graph, "a", "e", direction="both") == ["a", "e"]
    assert T.shortest_path(chain_graph, "a", "a") == ["a"]
    assert T.shortest_path(chain_graph, "x", "e", direction="out") is None


def test_shortest_path_max_depth(chain_graph):
    assert T.shortest_path(chain_graph, "a", "e", max_depth=3, direction="out") is None


def test_var_length_expand(spark, chain_graph):
    starts = spark.createDataFrame([("a",)], "id string")
    got = {
        (r["start_id"], r["id"]): r["hops"]
        for r in T.var_length_expand(chain_graph, starts, 1, 3).collect()
    }
    assert got == {
        ("a", "b"): 1, ("a", "c"): 2, ("a", "x"): 2, ("a", "d"): 3,
    }
    # min_hops=2 drops the 1-hop neighbors
    got2 = {
        r["id"] for r in T.var_length_expand(chain_graph, starts, 2, 3).collect()
    }
    assert got2 == {"c", "x", "d"}


def test_var_length_expand_diamond_min_hops(spark):
    """ADVICE r1: with min_hops>1, an endpoint ALSO reachable in fewer
    hops must still match via its longer path (a->b, a->x->b, [*2..3]
    returns b); minimal-hop pruning alone would drop it."""
    e = spark.createDataFrame(
        [("a", "E", "b", {}), ("a", "E", "x", {}), ("x", "E", "b", {})],
        "src string, relationship string, dst string, properties map<string,string>",
    )
    starts = spark.createDataFrame([("a",)], "id string")
    got = {
        (r["id"]): r["hops"]
        for r in T.var_length_expand(e, starts, 2, 3).collect()
    }
    assert got == {"b": 2}
    # and with direction=both, the single edge a-b may NOT be bounced
    # back over (relationship-isomorphism): a-[*2..2]-(b) for lone a->b
    lone = spark.createDataFrame(
        [("a", "E", "b", {})],
        "src string, relationship string, dst string, properties map<string,string>",
    )
    assert (
        T.var_length_expand(lone, starts, 2, 2, direction="both").count() == 0
    )


def test_connected_components(spark):
    edges = [("a", "E", "b"), ("b", "E", "c"), ("p", "E", "q")]
    e = spark.createDataFrame(
        [(s, r, d, {}) for s, r, d in edges],
        "src string, relationship string, dst string, properties map<string,string>",
    )
    got = {r["id"]: r["component"] for r in T.connected_components_small(e).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "p": "p", "q": "p"}


def test_connected_components_large_matches_small(spark):
    """large-star/small-star CC agrees with min-label propagation on a
    long chain (the diameter killer), two bridged cliques, and a star."""
    from graphdb_spark.operators.traversal import (
        connected_components_large,
        connected_components_small,
    )

    chain = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(15)]
    cliques = [("a1", "a2"), ("a2", "a3"), ("a1", "a3"),
               ("b1", "b2"), ("b2", "b3"), ("b1", "b3"), ("a3", "b1")]
    star = [("hub", f"s{i}") for i in range(5)]
    for name, pairs in [("chain", chain), ("cliques", cliques), ("star", star)]:
        e = spark.createDataFrame(
            [(s, "E", d, {}) for s, d in pairs],
            "src string, relationship string, dst string, "
            "properties map<string,string>",
        )
        small = {r["id"]: r["component"]
                 for r in connected_components_small(e, max_iter=30).collect()}
        large = {r["id"]: r["component"]
                 for r in connected_components_large(e).collect()}
        assert small == large, name


@pytest.fixture()
def weighted_graph(spark):
    """a->b costs 10 direct, but 3 via c (1+2); d hangs off b."""
    edges = [
        ("a", "N", "b", 10), ("a", "N", "c", 1),
        ("c", "N", "b", 2), ("b", "N", "d", 5),
    ]
    return spark.createDataFrame(
        edges, "src string, relationship string, dst string, w bigint"
    )


def test_weighted_sssp_prefers_cheaper_longer_path(weighted_graph):
    got = {
        r["id"]: r["dist"]
        for r in T.weighted_sssp(weighted_graph, "a", max_hops=4).collect()
    }
    assert got == {"a": 0, "c": 1, "b": 3, "d": 8}


def test_weighted_sssp_hop_bound(weighted_graph):
    # with only 1 relaxation round, b is reachable only via the direct
    # (expensive) edge
    got = {
        r["id"]: r["dist"]
        for r in T.weighted_sssp(weighted_graph, "a", max_hops=1).collect()
    }
    assert got == {"a": 0, "b": 10, "c": 1}


def test_weighted_sssp_undirected(spark):
    e = spark.createDataFrame(
        [("a", "N", "b", 7)],
        "src string, relationship string, dst string, w bigint",
    )
    got = {
        r["id"]: r["dist"]
        for r in T.weighted_sssp(e, "b", max_hops=2, direction="both").collect()
    }
    assert got == {"b": 0, "a": 7}


def test_weighted_sssp_type_filter(spark):
    e = spark.createDataFrame(
        [("a", "CHEAP", "b", 1), ("a", "EXPENSIVE", "b", 100)],
        "src string, relationship string, dst string, w bigint",
    )
    got = {
        r["id"]: r["dist"]
        for r in T.weighted_sssp(e, "a", max_hops=2, t="EXPENSIVE").collect()
    }
    assert got == {"a": 0, "b": 100}


class TestMultiSourceBfs:
    def _edges(self, spark):
        rows = [("a", "E", "b"), ("b", "E", "c"), ("c", "E", "d"),
                ("x", "E", "y")]
        return spark.createDataFrame(
            [(s, r, d, {}) for s, r, d in rows],
            "src string, relationship string, dst string, properties map<string,string>",
        )

    def test_per_seed_min_depths(self, spark):
        from graphdb_spark.operators.traversal import bfs, multi_source_bfs

        e = self._edges(spark)
        got = {(r["seed"], r["id"]): r["depth"]
               for r in multi_source_bfs(e, ["a", "b", "x"], max_depth=3).collect()}
        assert got[("a", "d")] == 3 and got[("b", "d")] == 2
        assert got[("x", "y")] == 1
        assert ("a", "y") not in got and ("x", "b") not in got
        # must agree with k independent single-source runs
        for s in ["a", "b", "x"]:
            single = {r["id"]: r["depth"] for r in bfs(e, s, max_depth=3).collect()}
            multi = {i: d for (sd, i), d in got.items() if sd == s}
            assert multi == single, s

    def test_closeness_aggregates(self, spark):
        from graphdb_spark.operators.traversal import closeness_seeds

        got = {r["seed"]: (r["n_reached"], r["total_depth"], r["mean_depth"])
               for r in closeness_seeds(
                   self._edges(spark), ["a", "x"], max_depth=3
               ).collect()}
        assert got["a"] == (3, 6, 2.0)   # b@1 c@2 d@3
        assert got["x"] == (1, 1, 1.0)   # y@1


def test_bfs_unrolled_matches_iterative(spark):
    """A branch-bounded BFS (pushdown fast path) must return exactly
    the iterative loop's (id, min-depth) rows — including on a cyclic
    graph."""
    from graphdb_spark.datamodel import local_df
    from graphdb_spark.operators.traversal import bfs

    edges = local_df(
        spark,
        [("a", "R", "b", {}), ("b", "R", "c", {}), ("c", "R", "a", {}),
         ("b", "R", "d", {}), ("d", "R", "e", {})],
        "src string, relationship string, dst string, "
        "properties map<string,string>",
    )
    for depth in (1, 2, 3):
        it = {(r["id"], r["depth"])
              for r in bfs(edges, "a", max_depth=depth).collect()}
        un = {(r["id"], r["depth"])
              for r in bfs(edges, "a", max_depth=depth,
                           max_branch=2).collect()}
        assert it == un, f"depth={depth}"


def test_session_bfs_uses_memoized_branch_bound(spark):
    """GraphSession.bfs passes the memoized max-branch stat; the stat
    is computed once per state and invalidated by set_state."""
    from graphdb_spark.datamodel import local_df
    from graphdb_spark.session import GraphSession

    v = local_df(
        spark, [(x, "N", {}) for x in "abc"],
        "id string, label string, properties map<string,string>",
    )
    e = local_df(
        spark, [("a", "R", "b", {}), ("a", "R", "c", {})],
        "src string, relationship string, dst string, "
        "properties map<string,string>",
    )
    g = GraphSession(spark, v, e)
    assert g.max_branch("out") == 2
    assert g.max_branch("out") == 2  # memo hit
    got = {(r["id"], r["depth"]) for r in g.bfs("a", max_depth=2).collect()}
    assert got == {("a", 0), ("b", 1), ("c", 1)}
    # mutation invalidates the bound
    g.set_state(edges=e.limit(1))
    assert g.max_branch("out") == 1


@pytest.fixture(scope="module")
def cyclic_graph(spark):
    """Two cycles (a->b->c->a, b->d->e->b), a tail e->f and an
    unreachable-from-a source x->a."""
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("b", "d"), ("d", "e"),
             ("e", "b"), ("e", "f"), ("x", "a")]
    return spark.createDataFrame(
        [(s, "N", d, {}) for s, d in edges],
        "src string, relationship string, dst string, "
        "properties map<string,string>",
    )


@pytest.mark.parametrize("keyed_in", [False, True], ids=["one_copy", "dst_copy"])
@pytest.mark.parametrize("direction", ["out", "in", "both"])
def test_reachability_traversals_agree(spark, cyclic_graph, direction,
                                       keyed_in):
    """bfs's distributed loop, single-seed multi_source_bfs and
    var_length_expand(1..d) plus the start row share one frontier loop:
    the same (id, depth) rows, with or without a dst-keyed edges_in."""
    edges_in = (cyclic_graph.repartition(3, "dst").sortWithinPartitions("dst")
                if keyed_in else None)
    d = 4
    one = sorted(
        (r["id"], r["depth"])
        for r in T.bfs(cyclic_graph, "a", max_depth=d, direction=direction,
                       frontier_pushdown=False, edges_in=edges_in).collect()
    )
    multi = sorted(
        (r["id"], r["depth"])
        for r in T.multi_source_bfs(cyclic_graph, ["a"], max_depth=d,
                                    direction=direction,
                                    edges_in=edges_in).collect()
    )
    starts = spark.createDataFrame([("a",)], "id string")
    expand = sorted(
        [("a", 0)] + [
            (r["id"], r["hops"])
            for r in T.var_length_expand(cyclic_graph, starts, 1, d,
                                         direction=direction,
                                         edges_in=edges_in).collect()
        ]
    )
    assert one == multi == expand
    assert len({i for i, _ in one}) == len(one)  # one row per vertex
    assert ("a", 0) in one and len(one) > 3


def test_var_length_expand_last_hop_stays_lazy(spark, cyclic_graph):
    """With max_hops=1 building the expansion runs only the jobs of
    counting its start frame: the one hop has no probe."""
    starts = spark.createDataFrame([("a",)], "id string")
    _, start_jobs = _jobs(
        spark, lambda: T.var_length_expand(cyclic_graph, starts, 1, 0))
    reach, jobs = _jobs(
        spark, lambda: T.var_length_expand(cyclic_graph, starts, 1, 1))
    assert start_jobs > 0
    assert jobs == start_jobs
    assert sorted((r["id"], r["hops"]) for r in reach.collect()) == [("b", 1)]
