"""Graph analytics: PageRank, triangle counting, degrees, motif find."""

import pytest

from pyspark.sql import functions as F

from graphdb_spark.operators import analytics as AN


@pytest.fixture()
def diamond(spark):
    """a->b, a->c, b->d, c->d (+ d->a to make it strongly connected)."""
    rows = [("a", "E", "b"), ("a", "E", "c"), ("b", "E", "d"),
            ("c", "E", "d"), ("d", "E", "a")]
    return spark.createDataFrame(
        [(s, r, d, {}) for s, r, d in rows],
        "src string, relationship string, dst string, properties map<string,string>",
    )


def test_degrees(diamond):
    got = {r["id"]: (r["in_degree"], r["out_degree"], r["degree"])
           for r in AN.degrees(diamond).collect()}
    assert got == {
        "a": (1, 2, 3), "b": (1, 1, 2), "c": (1, 1, 2), "d": (2, 1, 3),
    }


def test_pagerank_sums_to_n_and_orders_sensibly(diamond):
    ranks = {r["id"]: r["rank"] for r in AN.pagerank(diamond, iterations=15).collect()}
    assert abs(sum(ranks.values()) - 4.0) < 1e-6
    # d receives from two nodes, b/c from one each (split) -> d > b == c
    assert ranks["d"] > ranks["b"]
    assert abs(ranks["b"] - ranks["c"]) < 1e-9  # symmetric positions


def test_pagerank_dangling_mass(spark):
    """Sink vertex (no out-edges) must not leak rank mass."""
    rows = [("a", "E", "b"), ("b", "E", "c")]  # c is a sink
    e = spark.createDataFrame(
        [(s, r, d, {}) for s, r, d in rows],
        "src string, relationship string, dst string, properties map<string,string>",
    )
    ranks = {r["id"]: r["rank"] for r in AN.pagerank(e, iterations=10).collect()}
    assert abs(sum(ranks.values()) - 3.0) < 1e-6


def test_pagerank_plan_grows_linearly_with_iterations(diamond, monkeypatch):
    """Every materialized plan pagerank builds, summed, must grow by a
    constant per iteration. Reading the un-materialized ranks twice
    (total + divide) used to double the plan each iteration."""
    from pyspark.sql.classic.dataframe import DataFrame

    exchanges = []
    checkpoint = DataFrame.localCheckpoint

    def counting(self, *args, **kwargs):
        plan = self._jdf.queryExecution().executedPlan().toString()
        exchanges.append(plan.count("Exchange"))
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", counting)
    totals = []
    for iterations in range(1, 5):
        exchanges.clear()
        final = AN.pagerank(diamond, iterations=iterations)
        exchanges.append(
            final._jdf.queryExecution().executedPlan().toString()
            .count("Exchange"))
        totals.append(sum(exchanges))
    steps = {b - a for a, b in zip(totals, totals[1:])}
    assert len(steps) == 1, totals


def test_triangle_count(spark):
    """K3 plus a pendant edge: triangle corners get 1, pendant 0."""
    rows = [("a", "E", "b"), ("b", "E", "c"), ("c", "E", "a"), ("c", "E", "d")]
    e = spark.createDataFrame(
        [(s, r, d, {}) for s, r, d in rows],
        "src string, relationship string, dst string, properties map<string,string>",
    )
    got = {r["id"]: r["triangles"] for r in AN.triangle_count(e).collect()}
    assert got == {"a": 1, "b": 1, "c": 1}
    # reciprocal edges must not fabricate triangles
    rows2 = rows + [("b", "E", "a")]
    e2 = spark.createDataFrame(
        [(s, r, d, {}) for s, r, d in rows2],
        "src string, relationship string, dst string, properties map<string,string>",
    )
    got2 = {r["id"]: r["triangles"] for r in AN.triangle_count(e2).collect()}
    assert got2 == got


def test_motif_find(person_graph):
    df = AN.motif_find(person_graph, "(a)-[e:KNOWS]->(b); (b)-[e2:WORKS_WITH]->(c)")
    rows = df.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["a"]["id"] == "alice" and r["b"]["id"] == "bob" and r["c"]["id"] == "diana"
    assert r["e"]["relationship"] == "KNOWS"
    assert r["e2"]["relationship"] == "WORKS_WITH"


def test_motif_find_untyped(person_graph):
    df = AN.motif_find(person_graph, "(a)-[e]->(b)")
    assert df.count() == 3


def test_aggregate_messages(person_graph):
    """Sum of neighbor ages sent along both directions (the GraphFrames
    aggregateMessages doc example)."""
    from pyspark.sql import functions as F

    res = person_graph.aggregate_messages(
        F.sum(F.col("msg").cast("double")).alias("age_sum"),
        msg_to_dst=F.col("src.properties")["age"],
        msg_to_src=F.col("dst.properties")["age"],
    )
    got = {r["id"]: r["age_sum"] for r in res.collect()}
    # alice(30)->bob(35), alice->charlie(28), bob->diana(32)
    assert got == {
        "alice": 35.0 + 28.0,  # from bob + charlie (dst side)
        "bob": 30.0 + 32.0,    # from alice (src side) + diana (dst side)
        "charlie": 30.0,
        "diana": 35.0,
    }


def test_aggregate_messages_degree(person_graph):
    """msg=1 to both endpoints + count == undirected degree."""
    from pyspark.sql import functions as F

    res = person_graph.aggregate_messages(
        F.count(F.lit(1)).alias("deg"),
        msg_to_dst=F.lit(1),
        msg_to_src=F.lit(1),
    )
    got = {r["id"]: r["deg"] for r in res.collect()}
    assert got == {"alice": 2, "bob": 2, "charlie": 1, "diana": 1}


def test_label_propagation_two_cliques(spark):
    """Two triangles bridged by one edge: LPA with deterministic
    min-id tie-break separates the communities."""
    from graphdb_spark.operators.analytics import label_propagation

    tri1 = [("a1", "a2"), ("a2", "a3"), ("a1", "a3")]
    tri2 = [("b1", "b2"), ("b2", "b3"), ("b1", "b3")]
    bridge = [("a3", "b1")]
    e = spark.createDataFrame(
        [(s, "E", d, {}) for s, d in tri1 + tri2 + bridge],
        "src string, relationship string, dst string, properties map<string,string>",
    )
    labels = {r["id"]: r["community"] for r in
              label_propagation(e, max_iter=4).collect()}
    assert labels["a1"] == labels["a2"] == labels["a3"]
    assert labels["b1"] == labels["b2"] == labels["b3"]
    assert labels["a1"] != labels["b1"]


class TestKCore:
    def test_peels_pendant_chain(self, spark):
        # triangle a-b-c plus pendant chain c-d-e: 2-core = the triangle
        from graphdb_spark.operators.analytics import k_core

        e = spark.createDataFrame(
            [("a", "N", "b"), ("b", "N", "c"), ("c", "N", "a"),
             ("c", "N", "d"), ("d", "N", "e")],
            "src string, relationship string, dst string",
        )
        got = {(r.id, r.degree) for r in k_core(e, k=2, rounds=8).collect()}
        assert got == {("a", 2), ("b", 2), ("c", 2)}

    def test_k3_empty_on_triangle(self, spark):
        from graphdb_spark.operators.analytics import k_core

        e = spark.createDataFrame(
            [("a", "N", "b"), ("b", "N", "c"), ("c", "N", "a")],
            "src string, relationship string, dst string",
        )
        assert k_core(e, k=3, rounds=4).count() == 0

    def test_extra_rounds_are_noop(self, spark):
        from graphdb_spark.operators.analytics import k_core

        e = spark.createDataFrame(
            [("a", "N", "b"), ("b", "N", "c"), ("c", "N", "a"),
             ("c", "N", "d")],
            "src string, relationship string, dst string",
        )
        r4 = {(r.id, r.degree) for r in k_core(e, k=2, rounds=4).collect()}
        r9 = {(r.id, r.degree) for r in k_core(e, k=2, rounds=9).collect()}
        assert r4 == r9 == {("a", 2), ("b", 2), ("c", 2)}


def test_personalized_pagerank_localizes_to_sources(spark):
    """RWR semantics: teleport returns mass only to the seed set, so a
    component unreachable FROM the sources must score exactly 0, and
    rank decays with distance from the seeds."""
    rows = [("a", "E", "b"), ("b", "E", "c"),   # chain from seed a
            ("x", "E", "y")]                     # disconnected component
    e = spark.createDataFrame(
        [(s, r, d, {}) for s, r, d in rows],
        "src string, relationship string, dst string, properties map<string,string>",
    )
    ranks = {r["id"]: r["rank"]
             for r in AN.personalized_pagerank(e, ["a"], iterations=8).collect()}
    assert ranks["x"] == 0.0 and ranks["y"] == 0.0
    # seed keeps only the teleport term (no in-edges): (1-d) = 0.15
    assert abs(ranks["a"] - 0.15) < 1e-12
    # monotone decay along the chain, all positive
    assert ranks["a"] > ranks["b"] > ranks["c"] > 0


def test_personalized_pagerank_vs_reference_iteration(spark):
    """Hand-rolled RWR power iteration must agree value-for-value."""
    rows = [("a", "E", "b"), ("b", "E", "a"), ("b", "E", "c")]
    e = spark.createDataFrame(
        [(s, r, d, {}) for s, r, d in rows],
        "src string, relationship string, dst string, properties map<string,string>",
    )
    d = 0.85
    ref = {"a": 1.0, "b": 0.0, "c": 0.0}
    out = {"a": 1, "b": 2}  # out-degrees
    for _ in range(6):
        contrib = {"b": ref["a"] / 1, "a": ref["b"] / 2, "c": ref["b"] / 2}
        ref = {v: (1 - d) * (1.0 if v == "a" else 0.0)
               + d * contrib.get(v, 0.0) for v in "abc"}
    got = {r["id"]: r["rank"]
           for r in AN.personalized_pagerank(e, ["a"], iterations=6).collect()}
    for v in "abc":
        assert abs(got[v] - ref[v]) < 1e-12, (v, got[v], ref[v])


def test_hits_hubs_and_authorities(spark):
    """Star-in: b absorbs authority from two hubs; d's authority flows
    only through b. Pure sources have zero authority, pure sinks zero
    hub score."""
    rows = [("a", "E", "b"), ("c", "E", "b"), ("b", "E", "d")]
    e = spark.createDataFrame(
        [(s, r, d, {}) for s, r, d in rows],
        "src string, relationship string, dst string, properties map<string,string>",
    )
    got = {r["id"]: (r["hub"], r["auth"])
           for r in AN.hits(e, iterations=4).collect()}
    assert got["a"][1] == 0.0 and got["c"][1] == 0.0   # sources: no auth
    assert got["d"][0] == 0.0                          # sink: no hub
    assert got["b"][1] > got["d"][1] > 0               # b is the top authority
    assert got["b"][0] > 0 and abs(got["a"][0] - got["c"][0]) < 1e-12
    # sum-normalized to n on both scores
    assert abs(sum(h for h, _ in got.values()) - 4.0) < 1e-9
    assert abs(sum(a for _, a in got.values()) - 4.0) < 1e-9


class TestAdamicAdar:
    def _edges(self, spark, rows):
        return spark.createDataFrame(rows, "src string, dst string")

    def test_scores_and_ordering(self, spark):
        """Hand-computed: orders a,b share parts p1 (deg 2) and p2
        (deg 3); a,c share only p2. AA(a,b) = 1/ln2 + 1/ln3 >
        AA(a,c) = 1/ln3."""
        import math

        from graphdb_spark.operators.analytics import adamic_adar

        e = self._edges(spark, [
            ("a", "p1"), ("b", "p1"),
            ("a", "p2"), ("b", "p2"), ("c", "p2"),
        ])
        got = {(r["src_a"], r["src_b"]): (r["common"], r["score"])
               for r in adamic_adar(e).collect()}
        assert got[("a", "b")][0] == 2
        assert abs(got[("a", "b")][1]
                   - round(round(1 / math.log(2), 6)
                           + round(1 / math.log(3), 6), 6)) < 1e-9
        assert got[("a", "c")] == got[("b", "c")]
        assert got[("a", "b")][1] > got[("a", "c")][1]

    def test_hub_pruning_and_dedup(self, spark):
        """dst above max_degree contributes nothing (hub pruning);
        duplicate edges collapse before counting."""
        from graphdb_spark.operators.analytics import adamic_adar

        rows = [(s, "hub") for s in "abcde"] + [
            ("a", "p1"), ("b", "p1"), ("a", "p1"),  # dup edge
        ]
        e = self._edges(spark, rows)
        got = {(r["src_a"], r["src_b"]): r["common"]
               for r in adamic_adar(e, max_degree=4).collect()}
        # only p1 survives the cap (hub deg=5 > 4)
        assert got == {("a", "b"): 1}
        # without the cap the hub connects all 10 pairs
        assert adamic_adar(e, max_degree=100).count() == 10


def test_jaccard_links_hand_graph(spark):
    """Hand-checkable graph: a,b share 2 of 3 union; b,c share 1 of 4;
    hub destination excluded by max_degree."""
    from pyspark.sql import functions as F  # noqa: F401

    from graphdb_spark.operators.analytics import jaccard_links

    edges = spark.createDataFrame(
        [
            ("a", "x"), ("a", "y"),
            ("b", "x"), ("b", "y"), ("b", "z"),
            ("c", "z"),
            # hub destination shared by everyone, deg 3 > max_degree=2
            ("a", "hub"), ("b", "hub"), ("c", "hub"),
        ],
        "src string, dst string",
    )
    got = {
        (r["src_a"], r["src_b"]): (r["common"], r["jaccard"])
        for r in jaccard_links(edges, max_degree=2).collect()
    }
    # degrees INCLUDE the hub (full |N(src)|): a=3, b=4, c=2
    assert got == {
        ("a", "b"): (2, round(2 / (3 + 4 - 2), 6)),
        ("b", "c"): (1, round(1 / (4 + 2 - 1), 6)),
    }
    for common, j in got.values():
        assert 0 < j <= 1


def test_deterministic_walks_follow_edges_and_replay(spark):
    """Every consecutive (node, next) pair in a walk must be a real
    edge; re-running produces the identical corpus (no RNG)."""
    from graphdb_spark.operators.analytics import deterministic_walks

    edges = spark.createDataFrame(
        [(i, (i * 3 + 1) % 10) for i in range(10)]
        + [(i, (i * 7 + 2) % 10) for i in range(10)],
        "src bigint, dst bigint",
    ).filter("src != dst")
    seeds = spark.createDataFrame([(0,), (5,)], "walk_id bigint")
    out = deterministic_walks(edges, seeds, n_steps=5)
    rows = sorted(
        ((r["walk_id"], r["step"], r["node"]) for r in out.collect())
    )
    by_walk = {}
    for w, s, n in rows:
        by_walk.setdefault(w, []).append((s, n))
    eset = {(r["src"], r["dst"]) for r in edges.collect()}
    for w, path in by_walk.items():
        assert path[0] == (0, w)  # step 0 is the seed
        for (s1, n1), (s2, n2) in zip(path, path[1:]):
            assert s2 == s1 + 1
            assert (n1, n2) in eset
    rows2 = sorted(
        ((r["walk_id"], r["step"], r["node"])
         for r in deterministic_walks(edges, seeds, n_steps=5).collect())
    )
    assert rows == rows2


def test_modularity_invariants(spark):
    """Q-total identical on every row, bounded in [-1, 1], rows sorted
    by community size; contributions never exceed the community's
    possible edge share."""
    from graphdb_spark.workloads.graph import g_modularity

    rows = g_modularity(spark, "/root/testdata/sf0.001").collect()
    assert rows
    qt = {r["q_total"] for r in rows}
    assert len(qt) == 1
    assert -1.0 <= qt.pop() <= 1.0
    sizes = [r["n_nodes"] for r in rows]
    assert sizes == sorted(sizes, reverse=True)
    for r in rows:
        assert r["m_in"] >= 0 and r["deg_sum"] >= r["m_in"]
        assert r["contrib"] <= 1.0


def test_walk_pairs_within_walks(spark):
    """Every emitted pair must actually co-occur within 2 steps in
    some walk (checked by reconstructing the walks), and pairs are
    canonical (u <= v)."""
    from pyspark.sql import functions as F

    from graphdb_spark.operators.analytics import deterministic_walks
    from graphdb_spark.sources.tpch import load_tables
    from graphdb_spark.workloads.graph import g_walk_pairs

    sf = "/root/testdata/sf0.001"
    rows = g_walk_pairs(spark, sf).collect()
    assert rows
    ev = load_tables(spark, sf)["events"]
    e = (
        ev.select(
            F.col("user_id").alias("src"),
            ((F.col("user_id") + F.col("event_id")) % 1000).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    seeds = e.select(F.col("src").alias("walk_id")).distinct()
    walks = {}
    for r in deterministic_walks(e, seeds, n_steps=4).collect():
        walks.setdefault(r["walk_id"], {})[r["step"]] = r["node"]
    ok_pairs = set()
    for steps in walks.values():
        for s1, n1 in steps.items():
            for s2, n2 in steps.items():
                if 0 < s2 - s1 <= 2:
                    ok_pairs.add((min(n1, n2), max(n1, n2)))
    for r in rows:
        assert r["u"] <= r["v"]
        assert (r["u"], r["v"]) in ok_pairs


def test_edge_support_hand_graph(spark):
    """Triangle a-b-c plus pendant c-d: the three triangle sides have
    support 1, the pendant edge 0; two stacked triangles sharing side
    (a,b) push that side to support 2."""
    from graphdb_spark.operators.analytics import edge_support

    tri = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")],
        "src string, dst string",
    )
    got = {(r["a"], r["b"]): r["support"] for r in edge_support(tri).collect()}
    assert got == {("a", "b"): 1, ("b", "c"): 1, ("a", "c"): 1, ("c", "d"): 0}

    stacked = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"), ("d", "b")],
        "src string, dst string",
    )
    got2 = {
        (r["a"], r["b"]): r["support"] for r in edge_support(stacked).collect()
    }
    assert got2[("a", "b")] == 2
    assert sum(got2.values()) == 3 * 2  # each triangle credits 3 sides


def test_edge_support_consistent_with_triangle_count(spark):
    """Σ support over edges == 3 × total triangles == Σ per-vertex
    triangles (corner credit) on the real co-occurrence graph."""
    from pyspark.sql import functions as F

    from graphdb_spark.operators.analytics import edge_support, triangle_count
    from graphdb_spark.workloads.graph import _cooccur_edges

    edges = _cooccur_edges(spark, "/root/testdata/sf0.001")
    sup_sum = (
        edge_support(edges).agg(F.sum("support")).collect()[0][0]
    )
    tri_sum = (
        triangle_count(edges).agg(F.sum("triangles")).collect()[0][0]
    )
    assert sup_sum == tri_sum  # both equal 3 × n_triangles
    assert sup_sum > 0


def test_ktruss_hand_graph_and_subset(spark):
    """Two triangles sharing edge (a,b): the 3-truss keeps all five
    edges (every edge closes >= 1 triangle, stable); the 4-truss is
    EMPTY — after peeling the support-1 edges, the shared edge loses
    both its triangles (peel must recompute support INSIDE the
    survivor set, not keep first-pass values)."""
    from graphdb_spark.operators.analytics import ktruss

    stacked = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"), ("d", "b")],
        "src string, dst string",
    )
    t3 = {(r["a"], r["b"]) for r in ktruss(stacked, 3).collect()}
    assert t3 == {("a", "b"), ("b", "c"), ("a", "c"), ("a", "d"),
                  ("b", "d")}
    assert ktruss(stacked, 4).count() == 0

    # truss edges are a subset of the input with in-truss support
    from pyspark.sql import functions as F

    from graphdb_spark.operators.analytics import _canonical_und
    from graphdb_spark.workloads.graph import _cooccur_edges_int

    edges = _cooccur_edges_int(spark, "/root/testdata/sf0.001")
    truss = ktruss(edges, 6)
    rows = truss.collect()
    assert rows
    assert all(r["support"] >= 4 for r in rows)
    und = {(r["a"], r["b"]) for r in _canonical_und(edges).collect()}
    assert {(r["a"], r["b"]) for r in rows} <= und


def test_adamic_topk_tiebreak_matches_string_order(spark):
    """Score ties at the top-k boundary must resolve by (src_a, src_b)
    order, identically to the SQL oracle's ORDER BY. Graph: three
    disjoint wedges with identical scores; top-2 must be the two
    smallest pairs."""
    from graphdb_spark.operators.analytics import adamic_adar

    rows = []
    for stem in ("x", "b", "m"):  # deliberately unsorted stems
        rows += [(f"{stem}1", f"d_{stem}"), (f"{stem}2", f"d_{stem}")]
    e = spark.createDataFrame(rows, "src string, dst string")
    got = [(r["src_a"], r["src_b"])
           for r in adamic_adar(e, max_degree=10, top_k=2).collect()]
    assert got == [("b1", "b2"), ("m1", "m2")], got


def test_adamic_packed_int_path_matches_string_plan(spark):
    """Integral srcs within 31 bits take the packed-pair fast path
    (single-long group key). Its output — values, orientation, top-k
    tiebreak, dtypes — must be identical to the same graph run through
    the string plan; negative/oversized keys must fall back."""
    from graphdb_spark.operators.analytics import adamic_adar

    rows = [(i % 7, f"d_{(i * 3) % 5}") for i in range(40)] + [
        (100, "d_0"), (101, "d_0"),
    ]
    e_int = spark.createDataFrame(rows, "src int, dst string")
    e_str = e_int.select(
        # zero-pad so string order == numeric order for the comparison
        F.lpad(F.col("src").cast("string"), 3, "0").alias("src"), "dst"
    )
    got_int = [(int(r["src_a"]), int(r["src_b"]), r["common"], r["score"])
               for r in adamic_adar(e_int, 100, top_k=5).collect()]
    got_str = [(int(r["src_a"]), int(r["src_b"]), r["common"], r["score"])
               for r in adamic_adar(e_str, 100, top_k=5).collect()]
    assert got_int == got_str
    assert dict(adamic_adar(e_int, 100).dtypes)["src_a"] == "int"
    # negative key → unpackable → falls back, still correct
    e_neg = spark.createDataFrame(
        [(-1, "d_0"), (2, "d_0"), (3, "d_0")], "src int, dst string"
    )
    got = sorted((r["src_a"], r["src_b"])
                 for r in adamic_adar(e_neg, 100).collect())
    assert got == [(-1, 2), (-1, 3), (2, 3)]
