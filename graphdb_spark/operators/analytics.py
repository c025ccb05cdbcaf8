"""Graph analytics — the GraphX/GraphFrames-class algorithms, expressed
on the engine's vertices/edges DataFrames (BASELINE.json north star:
'GraphX for analytics queries'; GraphX itself is Scala/RDD — these are
the DataFrame-native equivalents, so Catalyst/AQE apply).

- ``pagerank``: iterative power method. Each iteration = one join
  (ranks ⋈ edges) + one groupBy sum, whose raw ranks are materialized
  (localCheckpoint) before the in-plan normalizer reads them twice, so
  the plan stays one iteration deep. Dangling-node mass is
  redistributed uniformly so ranks sum to N like GraphX's
  implementation.
- ``triangle_count``: edge-iterator algorithm on the undirected
  projection — join edges with edges on shared endpoint, then semi-join
  the closing edge. Three shuffles total, no driver loops.
- ``degrees``: in/out/total degree per vertex (GraphFrames .degrees).
- ``motif_find``: GraphFrames-style motif strings
  ``"(a)-[e]->(b); (b)-[e2]->(c)"`` lowered onto the Cypher executor's
  binding-table machinery — returns one column per named element.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

CHECKPOINT_EVERY = 5


def degrees(edges: DataFrame) -> DataFrame:
    """(id, in_degree, out_degree, degree) for every endpoint."""
    out_d = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    in_d = edges.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return (
        out_d.join(in_d, "id", "outer")
        .select(
            "id",
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
        )
        .withColumn("degree", F.col("in_degree") + F.col("out_degree"))
    )


def _contribs(links: DataFrame, ranks: DataFrame, verts: DataFrame,
              n: int) -> DataFrame:
    """(id, contrib) for every vertex: the sum over its in-links of
    rank/out_degree, 0.0 where it has none. One ``(id, 0.0)`` row per
    vertex is unioned into the contributions, so a single aggregate
    covers every vertex without a join back to ``verts``; exact,
    because x + 0.0 == x.

    ``links`` and ``ranks`` are checkpoint RDDs without size stats, so
    Spark would shuffle the whole link table every iteration; the rank
    table is exactly ``n`` rows, so it is broadcast while provably
    small."""
    from graphdb_spark.operators.traversal import _maybe_broadcast

    return (
        links.join(
            _maybe_broadcast(ranks.withColumnRenamed("id", "src"), n), "src"
        )
        .select(
            F.col("dst").alias("id"),
            (F.col("rank") / F.col("out_degree")).alias("c"),
        )
        .unionByName(verts.select("id", F.lit(0.0).alias("c")))
        .groupBy("id")
        .agg(F.sum("c").alias("contrib"))
    )


def pagerank(edges: DataFrame, iterations: int = 10,
             damping: float = 0.85) -> DataFrame:
    """(id, rank) with ranks summing to the vertex count (GraphX
    convention). Deterministic for fixed iterations up to FP rounding;
    callers hashing results should round."""
    verts = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = verts.count()
    out_deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    ranks = verts.withColumn("rank", F.lit(1.0))
    links = (
        edges.select("src", "dst")
        .join(out_deg.withColumnRenamed("id", "src"), "src")
        .localCheckpoint(eager=True)
    )
    for _ in range(iterations):
        # materialize BEFORE the normalizer (as hits()._norm does): the
        # raw ranks feed both the 1-row total and the row-wise divide;
        # unmaterialized, each iteration doubles the plan of all the
        # earlier ones
        raw = _contribs(links, ranks, verts, n).select(
            "id",
            (F.lit(1 - damping) + F.lit(damping) * F.col("contrib"))
            .alias("rank"),
        ).localCheckpoint(eager=True)
        # dangling mass: renormalize so sum(rank) == n (GraphX-like).
        # The 1-row total stays IN the plan (broadcast crossJoin) — no
        # driver round-trip per iteration.
        total = raw.agg(F.sum("rank").alias("__total"))
        ranks = raw.crossJoin(F.broadcast(total)).select(
            "id",
            (F.col("rank") * F.lit(float(n)) / F.col("__total")).alias("rank"),
        )
    return ranks


def _canonical_und(edges: DataFrame) -> DataFrame:
    """Undirected simple edge set, canonical (a < b), deduped, lineage
    cut (it feeds 2-3 downstream passes).

    The distinct keeps its map-side partial dedupe (pre-shuffle
    combine of the pair explosion), then an explicit repartition fans
    the RESULT back out: AQE coalesces the tiny-bytes distinct to one
    partition, and a 1-partition checkpoint bottlenecks every
    downstream wedge/degree pass that starts from it (measured: the
    co-occurrence und materialized as parts=1 at sf0.1). Repartition
    BEFORE the dedupe would defeat the partial aggregation and shuffle
    the raw pair explosion instead (measured slower)."""
    spark = edges.sparkSession
    n_part = max(spark.sparkContext.defaultParallelism, 8)
    return (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .repartition(n_part, "a", "b")
        .localCheckpoint(eager=True)
    )


def _und_degrees(und: DataFrame) -> DataFrame:
    """(id, degree) over the canonical undirected edge set."""
    return (
        und.select(F.col("a").alias("id"))
        .unionByName(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )


def _oriented_triangles(und: DataFrame, deg: DataFrame) -> DataFrame:
    """(p, x, y): every triangle of the undirected simple graph exactly
    once, apex p = the minimum endpoint under the (degree, id) total
    order ≺.

    This is the degree-ordered edge-iterator (Schank–Wagner / the
    MapReduce NodeIterator++): orient each edge low≺high, enumerate
    wedges only from each arc tail, close against the oriented arc
    set. Out-degree under ≺ is O(√m) for ANY graph, so wedge count is
    Σ d⁺(u)² ≤ m^1.5 — the naive canonical-string pivot has no such
    bound and melts on hub vertices (measured 46.7 s → see NOTES at
    sf0.1 co-occurrence). The three joins are all equi-joins; deg is
    vertex-granular (broadcastable at any realistic scale)."""
    wd = (
        und.join(deg.select(F.col("id").alias("a"),
                            F.col("degree").alias("da")), "a")
        .join(deg.select(F.col("id").alias("b"),
                         F.col("degree").alias("db")), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    arcs = wd.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    ).localCheckpoint(eager=True)
    e1 = arcs.select(F.col("u").alias("p"), F.col("v").alias("x"),
                     F.col("dv").alias("dx"))
    e2 = arcs.select(F.col("u").alias("p"), F.col("v").alias("y"),
                     F.col("dv").alias("dy"))
    # Two measured decisions here (sf0.1 co-occurrence, 1.2M arcs,
    # ~41M wedges):
    # 1. pin the explosion-stage parallelism — AQE sizes the wedge
    #    join by its small INPUT bytes and coalesces the exploding
    #    stage to a handful of tasks (measured 3 tasks / 47 s); a user
    #    repartition it leaves alone (same fix as _shared_dst_weights).
    # 2. informed broadcast for the CLOSING side only — the wedge
    #    stream (the big intermediate) then never shuffles; e2 stays a
    #    co-partitioned shuffle because it is arc-sized anyway and a
    #    second broadcast build costs more than it saves (A/B: both
    #    bcast 7.2 s, closing-only 6.0 s, neither 7.1 s). Above the
    #    row cap the closing join falls back to shuffling the wedge
    #    stream — correct but heavy, exactly when the graph is big
    #    enough that a broadcast table would not fit either.
    from graphdb_spark.operators.traversal import _maybe_broadcast

    n_part = max(und.sparkSession.sparkContext.defaultParallelism, 8)
    m_arcs = arcs.count()  # free: arcs is checkpointed
    closing = _maybe_broadcast(
        arcs.select(F.col("u").alias("x"), F.col("v").alias("y")), m_arcs
    )
    wedges = e1.repartition(n_part, "p").join(e2, "p").filter(
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    )
    return wedges.join(closing, ["x", "y"], "left_semi").select("p", "x", "y")


def triangle_count(edges: DataFrame,
                   und: DataFrame | None = None,
                   tris: DataFrame | None = None) -> DataFrame:
    """(id, triangles) per vertex over the undirected simple graph.

    Degree-ordered edge-iterator (``_oriented_triangles``): every
    triangle found exactly once, then each of its 3 corners credited.
    No cross joins; wedge cost bounded by Σ d⁺² ≤ m^1.5.

    ``und``: optionally the precomputed canonical undirected edge set
    (``_canonical_und`` of ``edges``) — the sketch-store pattern: the
    wedge-family operators (triangle/clustering/support/truss/
    assortativity) all start from the same deduped edge set, and a
    caller running several over one graph should materialize it once
    (r10: the five co-occurrence consumers each re-ran the pair
    explosion + distinct). ``tris``: optionally the precomputed
    oriented triangle stream over that same ``und``
    (``_oriented_triangles(und, _und_degrees(und))``) — the wedge
    join is the dominant cost of the whole family (~10 s at sf0.1
    co-occurrence, 41M wedges), and triangle/clustering/support/
    truss-peel-0 otherwise each re-run it."""
    if tris is None:
        und = und if und is not None else _canonical_und(edges)
        tris = _oriented_triangles(und, _und_degrees(und))
    corners = (
        tris.select(F.col("p").alias("id"))
        .unionByName(tris.select(F.col("x").alias("id")))
        .unionByName(tris.select(F.col("y").alias("id")))
    )
    return corners.groupBy("id").agg(F.count(F.lit(1)).alias("triangles"))


_MOTIF_EDGE = re.compile(
    r"\((\w*)\)\s*-\s*\[(\w*)(?::(\w+))?\]\s*->\s*\((\w*)\)"
)


def motif_find(g, motif: str) -> DataFrame:
    """GraphFrames-style motif finding: ``"(a)-[e]->(b); (b)-[e2]->(c)"``
    → DataFrame with struct columns a, e, b, e2, c. Lowered onto the
    Cypher executor's pattern machinery (shared vars become join
    constraints)."""
    from graphdb_spark import plans as P
    from graphdb_spark.cypher.executor import _Executor

    ex = _Executor(g)
    for part in motif.split(";"):
        part = part.strip()
        if not part:
            continue
        m = _MOTIF_EDGE.fullmatch(part)
        if not m:
            raise ValueError(f"unsupported motif fragment: {part!r}")
        av, ev, etype, bv = m.groups()
        pat = P.PathPattern(
            nodes=[P.NodePattern(var=av or None), P.NodePattern(var=bv or None)],
            rels=[P.RelPattern(var=ev or None, types=(etype,) if etype else ())],
        )
        df, nvars, evars = ex._pattern_df(pat)
        ex._merge(df, nvars, evars, optional=False)
    items = []
    for v in sorted(ex.node_vars | ex.edge_vars):
        if v.startswith("_"):
            continue
        items.append(P.ReturnItem(P.Var(v), alias=v))
    return ex._exec_return(P.ReturnClause(items=items))


def aggregate_messages(vertices: DataFrame, edges: DataFrame, agg,
                       msg_to_dst=None, msg_to_src=None) -> DataFrame:
    """GraphFrames ``aggregateMessages`` equivalent on plain DataFrames:
    build the triplet view (struct columns ``src``/``edge``/``dst``),
    evaluate the message expressions per triplet, send to the chosen
    endpoint(s), and aggregate per receiving vertex.

    - ``msg_to_dst`` / ``msg_to_src``: Columns over the triplet structs,
      e.g. ``F.col("src.properties")["age"]`` or ``F.lit(1)``.
    - ``agg``: aggregate Column over ``F.col("msg")``, e.g.
      ``F.sum("msg").alias("total")``.

    Scale shape: two equi-joins to attach vertex structs (AQE may
    broadcast the vertex side) + one grouped aggregation — the same
    shuffle profile GraphX's aggregateMessages has. No reference
    analogue (the reference has no message-passing API); this is the
    north-star analytics surface from BASELINE.json.
    """
    if msg_to_dst is None and msg_to_src is None:
        raise ValueError("at least one of msg_to_dst/msg_to_src is required")
    vstruct = F.struct(*[F.col(c) for c in vertices.columns])
    estruct = F.struct(*[F.col(c) for c in edges.columns])
    vsrc = vertices.select(F.col("id").alias("__src_id"), vstruct.alias("src"))
    vdst = vertices.select(F.col("id").alias("__dst_id"), vstruct.alias("dst"))
    trip = (
        edges.select(
            estruct.alias("edge"),
            F.col("src").alias("__src_id"),
            F.col("dst").alias("__dst_id"),
        )
        .join(vsrc, "__src_id")
        .join(vdst, "__dst_id")
    )
    parts = []
    if msg_to_dst is not None:
        parts.append(
            trip.select(F.col("__dst_id").alias("id"), msg_to_dst.alias("msg"))
        )
    if msg_to_src is not None:
        parts.append(
            trip.select(F.col("__src_id").alias("id"), msg_to_src.alias("msg"))
        )
    msgs = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    return msgs.groupBy("id").agg(agg)


def label_propagation(edges: DataFrame, max_iter: int = 5) -> DataFrame:
    """(id, community) via synchronous label propagation with a
    deterministic tie-break: adopt the most frequent community among
    undirected neighbors, smallest community id on ties (so results are
    oracle-able, unlike GraphX's hash-partition-dependent LPA).

    Votes are over DISTINCT neighbor pairs — parallel multi-type edges
    don't double-vote. Each iteration is one shuffle join + grouped
    count + windowed argmax; lineage is cut per iteration (the frontier
    lesson from bfs())."""
    from pyspark.sql import Window

    und = (
        edges.select(F.col("src").alias("id"), F.col("dst").alias("nbr"))
        .unionByName(
            edges.select(F.col("dst").alias("id"), F.col("src").alias("nbr"))
        )
        .filter(F.col("id") != F.col("nbr"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    from graphdb_spark.operators.traversal import _maybe_broadcast

    labels = (
        und.select("id").distinct().withColumn("community", F.col("id"))
        .localCheckpoint(eager=False)
    )
    n_labels = labels.count()
    w = Window.partitionBy("id").orderBy(
        F.desc("votes"), F.asc("community")
    )
    for _ in range(max_iter):
        votes = (
            und.join(
                _maybe_broadcast(
                    labels.withColumnRenamed("id", "nbr"), n_labels
                ),
                "nbr",
            )
            .groupBy("id", "community")
            .agg(F.count(F.lit(1)).alias("votes"))
        )
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("id", "community")
            .localCheckpoint(eager=True)
        )
    return labels


def k_core(edges: DataFrame, k: int = 3, rounds: int = 8) -> DataFrame:
    """Vertices surviving ``rounds`` rounds of k-core peeling on the
    undirected projection: each round drops every vertex whose degree
    (over surviving edges) is below k. With enough rounds this is THE
    k-core (the fixpoint is order-independent); a fixed round count
    keeps the operator deterministic AND replayable as unrolled SQL.
    Returns (id, degree) with the vertex's degree inside the core.

    Scale: each round is one degree groupBy plus two semi-joins
    (edge-endpoint filtering) — all keyed on vertex id, no all-pairs;
    survivors localCheckpoint per round to bound lineage. Early exit
    when a round removes nothing (the fixpoint test rides the same
    count job the checkpoint needs)."""
    from graphdb_spark.operators.traversal import _maybe_broadcast

    und = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionByName(
            edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    live = und
    # surviving-vertex count is bounded by the surviving-edge count,
    # which the per-round checkpoint job measures exactly — the
    # informed-broadcast pattern (checkpointed frames carry no stats,
    # so the static planner would shuffle the full edge set per peel)
    n_prev = live.count()
    n_bound = n_prev
    for _ in range(rounds):
        deg = live.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.filter(F.col("d") >= k).select("u")
        live = (
            live.join(_maybe_broadcast(keep, n_bound), "u", "left_semi")
            .join(
                _maybe_broadcast(keep.withColumnRenamed("u", "v"), n_bound),
                "v",
                "left_semi",
            )
            .localCheckpoint(eager=False)
        )
        n = live.count()
        if n == n_prev:
            break
        n_prev = n
        n_bound = n
    return (
        live.groupBy("u")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
        .filter(F.col("degree") >= k)
        .select(F.col("u").alias("id"), "degree")
    )


def personalized_pagerank(edges: DataFrame, source_ids: list[str],
                          iterations: int = 10,
                          damping: float = 0.85) -> DataFrame:
    """Personalized PageRank / random walk with restart: the teleport
    term returns mass ONLY to ``source_ids``, so rank measures
    proximity to the source set (recommendation / similar-entity
    queries). rank0 = 1 on each source, 0 elsewhere;
    rank_{i+1}(v) = (1-d)*[v in S] + d * sum_in(rank_i/out_deg).
    No renormalization — dangling mass decays, the classic RWR form,
    which also keeps the unrolled-SQL oracle expression shape exact.

    Scale notes are pagerank's: per-iteration join is rank-side
    broadcast while provably small (n known exactly), links table
    checkpointed once; the source indicator is an isin literal —
    O(|S|) in the plan, so keep S small (it is: a query seed set).
    """
    verts = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = verts.count()
    out_deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    links = (
        edges.select("src", "dst")
        .join(out_deg.withColumnRenamed("id", "src"), "src")
        .localCheckpoint(eager=True)
    )
    is_src = F.col("id").isin(list(source_ids)).cast("double")
    ranks = verts.withColumn("rank", is_src)
    for i in range(iterations):
        new_ranks = _contribs(links, ranks, verts, n).select(
            "id",
            (F.lit(1 - damping) * is_src + F.lit(damping) * F.col("contrib"))
            .alias("rank"),
        )
        ranks = (
            new_ranks.localCheckpoint(eager=True)
            if (i + 1) % CHECKPOINT_EVERY == 0 or i == iterations - 1
            else new_ranks
        )
    return ranks


def hits(edges: DataFrame, iterations: int = 5) -> DataFrame:
    """HITS hubs & authorities (Kleinberg) — (id, hub, auth), each
    iteration auth := sum of in-neighbor hubs, hub := sum of
    out-neighbor auths, both sum-normalized to n (the pagerank
    convention here; classic HITS L2-normalizes — sum keeps the
    cross-engine oracle expression shapes exactly replayable).

    Scale: same skeleton as pagerank — per-iteration join is
    score-side broadcast while provably small, the 1-row normalizer
    stays in-plan (broadcast crossJoin, no driver round trip), edge
    table checkpointed once."""
    verts = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = verts.count()
    links = edges.select("src", "dst").localCheckpoint(eager=True)
    from graphdb_spark.operators.traversal import _maybe_broadcast

    def _norm(scores: DataFrame, col: str) -> DataFrame:
        # materialize BEFORE the normalizer: the raw scores feed both
        # the 1-row total and the row-wise divide — unmaterialized,
        # each normalization doubles the upstream DAG and 3 iterations
        # x 2 phases recompute it ~4^3 times (measured: 32 s -> 2 s at
        # sf0.01 with this checkpoint)
        scores = scores.localCheckpoint(eager=True)
        total = scores.agg(F.sum(col).alias("__t"))
        return scores.crossJoin(F.broadcast(total)).select(
            "id", (F.col(col) * F.lit(float(n)) / F.col("__t")).alias(col)
        )

    hub = verts.withColumn("hub", F.lit(1.0))
    auth = verts.withColumn("auth", F.lit(1.0))
    for i in range(iterations):
        auth = _norm(
            verts.join(
                _maybe_broadcast(
                    links.join(
                        _maybe_broadcast(hub.withColumnRenamed("id", "src"), n),
                        "src",
                    )
                    .groupBy(F.col("dst").alias("id"))
                    .agg(F.sum("hub").alias("auth")),
                    n,
                ),
                "id",
                "left",
            ).select("id", F.coalesce("auth", F.lit(0.0)).alias("auth")),
            "auth",
        )
        hub = _norm(
            verts.join(
                _maybe_broadcast(
                    links.join(
                        _maybe_broadcast(auth.withColumnRenamed("id", "dst"), n),
                        "dst",
                    )
                    .groupBy(F.col("src").alias("id"))
                    .agg(F.sum("auth").alias("hub")),
                    n,
                ),
                "id",
                "left",
            ).select("id", F.coalesce("hub", F.lit(0.0)).alias("hub")),
            "hub",
        )
        if (i + 1) % CHECKPOINT_EVERY == 0 or i == iterations - 1:
            hub = hub.localCheckpoint(eager=True)
            auth = auth.localCheckpoint(eager=True)
    return hub.join(auth, "id").select("id", "hub", "auth")


def local_clustering(edges: DataFrame,
                     und: DataFrame | None = None,
                     tris: DataFrame | None = None) -> DataFrame:
    """(id, degree, triangles, coeff) — local clustering coefficient
    per vertex over the undirected simple graph: coeff = closed wedges
    at v / possible wedges = 2·tri(v) / (deg(v)·(deg(v)−1)).

    Same degree-ordered edge-iterator core as ``triangle_count``
    (``_oriented_triangles``; one canonical edge materialization shared
    by the degree and wedge passes); vertices with degree < 2 have no
    wedges and are excluded (coeff undefined). Scale shape: two
    groupBys + the triangle semi-join — no all-pairs, no per-vertex
    neighborhood collection (the classic scale killer at 100 TB is
    grouping neighbor SETS per vertex; credit-counting triangles
    avoids materializing any neighborhood)."""
    und = und if und is not None else _canonical_und(edges)
    deg = _und_degrees(und)
    if tris is None:
        tris = _oriented_triangles(und, deg)
    corners = (
        tris.select(F.col("p").alias("id"))
        .unionByName(tris.select(F.col("x").alias("id")))
        .unionByName(tris.select(F.col("y").alias("id")))
    )
    tri = corners.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("triangles")
    )
    return (
        deg.filter(F.col("degree") >= 2)
        .join(tri, "id", "left")
        .na.fill({"triangles": 0})
        .select(
            "id",
            "degree",
            "triangles",
            F.round(
                F.lit(2.0) * F.col("triangles").cast("double")
                / (F.col("degree").cast("double")
                   * (F.col("degree").cast("double") - F.lit(1.0))),
                6,
            ).alias("coeff"),
        )
    )


def edge_support(edges: DataFrame,
                 und: DataFrame | None = None,
                 tris: DataFrame | None = None) -> DataFrame:
    """(a, b, support) — per-EDGE triangle count (k-truss support) on
    the undirected simple graph: support(a,b) = |N(a) ∩ N(b)|. An edge
    with support ≥ k-2 survives the first peel of the k-truss
    decomposition — this is the building block cohesion metric used to
    prune weak ties before community detection.

    Same degree-ordered edge-iterator core as ``local_clustering``/
    ``triangle_count`` (``_oriented_triangles``) — but each found
    triangle (p,x,y) credits all THREE of its sides (re-canonicalized
    to string order for the output key) instead of its corners, so
    support counts per-edge rather than per-vertex.

    Scale shape: one distinct, one self-equi-join keyed by the arc
    tail (fan-out bounded by the ≺-out-degree ≤ O(√m)), one
    semi-closing join, one groupBy on the edge key — no all-pairs, no
    neighborhood sets materialized per vertex."""
    und = und if und is not None else _canonical_und(edges)
    if tris is None:
        tris = _oriented_triangles(und, _und_degrees(und))
    # orientation order (degree,id) ≠ canonical string order: map each
    # side back to (least, greatest) before crediting
    sides = (
        tris.select(F.col("p").alias("s"), F.col("x").alias("t"))
        .unionByName(tris.select(F.col("p").alias("s"), F.col("y").alias("t")))
        .unionByName(tris.select(F.col("x").alias("s"), F.col("y").alias("t")))
        .select(F.least("s", "t").alias("a"), F.greatest("s", "t").alias("b"))
    )
    sup = sides.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("support")
    )
    return (
        und.join(sup, ["a", "b"], "left")
        .na.fill({"support": 0})
        .select("a", "b", "support")
    )


def ktruss(edges: DataFrame, k: int, max_iter: int = 25,
           und: DataFrame | None = None,
           tris: DataFrame | None = None) -> DataFrame:
    """(a, b, support): the k-truss of the undirected simple graph —
    the maximal subgraph where EVERY edge closes ≥ k-2 triangles
    within the subgraph. Iterative peel: recompute ``edge_support`` on
    the surviving edge set, drop edges below k-2, repeat to fixpoint
    (support is monotone non-increasing under edge removal, so the
    peel converges; the classic cohesion decomposition one level
    stronger than k-core, which it upper-bounds).

    Scale shape per iteration = edge_support's (degree-ordered wedge
    join, closing broadcast under the row cap); the surviving set
    shrinks monotonically, so iterations get CHEAPER — the opposite of
    frontier expansion. localCheckpoint cuts lineage per peel; the
    convergence probe is one count on the already-materialized set
    (nxt ⊆ cur, so equal counts ⇔ equal sets)."""
    cur = und if und is not None else _canonical_und(edges)
    sup = None
    converged = False
    for it in range(max_iter):
        sup = edge_support(
            cur.select(F.col("a").alias("src"), F.col("b").alias("dst")),
            # cur is canonical at every peel (each nxt is a filtered
            # subset of the previous canonical set, checkpointed), so
            # edge_support's re-canonicalization (distinct + exchange
            # + checkpoint per peel) is redundant — feed it directly.
            # The caller's triangle stream is exact for peel 0 only
            # (computed over the unpeeled set); every later peel MUST
            # recompute support on the shrunken subgraph — that is the
            # definition of the truss.
            und=cur,
            tris=tris if it == 0 else None,
        )
        nxt = (
            sup.filter(F.col("support") >= k - 2)
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        if nxt.count() == cur.count():
            converged = True
            break
        cur = nxt
    if not converged:
        # max_iter exhausted before fixpoint: the supports in `sup`
        # were computed on the PRE-peel edge set and would overstate
        # the final layer. Recompute once on the surviving set so the
        # returned supports are accurate, and warn that the result is
        # a partial peel (a superset of the true truss), not a truss.
        import warnings

        warnings.warn(
            f"ktruss(k={k}): max_iter={max_iter} exhausted before the "
            "peel reached fixpoint — returning the partial peel with "
            "supports recomputed on the surviving edge set",
            RuntimeWarning,
            stacklevel=2,
        )
        sup = edge_support(
            cur.select(F.col("a").alias("src"), F.col("b").alias("dst")),
            und=cur,
        )
    return sup.filter(F.col("support") >= k - 2)


def degree_assortativity(edges: DataFrame,
                         und: DataFrame | None = None) -> DataFrame:
    """One-row (m_edges, r): Newman degree assortativity — the Pearson
    correlation of endpoint degrees over every edge, both orientations
    (so the statistic is symmetric on the undirected projection).

    Cross-engine determinism: all five moments are EXACT integer sums
    (degrees are ints); the only floating-point work is one final
    expression with identical shape in Spark and the DuckDB oracle, so
    the doubles are bit-identical before the ROUND. At scale this is
    two shuffles (degree groupBy + one aggregate); the double-orient
    union is a projection, not a second scan."""
    if und is None:
        und = (
            edges.select(
                F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
    deg = (
        und.select(F.col("a").alias("id"))
        .unionByName(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    da = deg.select(F.col("id").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("id").alias("b"), F.col("d").alias("db"))
    both = (
        und.join(da, "a").join(db, "b")
        .select(F.col("da").alias("x"), F.col("db").alias("y"))
    )
    both = both.unionByName(both.select(F.col("y").alias("x"), F.col("x").alias("y")))
    mom = both.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    m = F.col("m").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    return mom.select(
        (F.col("m") / F.lit(2)).cast("bigint").alias("m_edges"),
        F.round((m * sxy - sx * sx) / (m * sxx - sx * sx), 6).alias("r"),
    )


def _shared_dst_weights(edges: DataFrame, max_degree: int) -> DataFrame:
    """ONE-shuffle candidate prep shared by adamic_adar/jaccard_links:
    hash-repartition the edge set by dst, then dedupe AND compute
    dst-degrees inside those partitions (dropDuplicates needs only a
    subset-clustering, and the count window sees the whole dst group
    locally). The naive distinct → groupBy-deg → join-back → repartition
    chain shuffles the edge set three times for the same result
    (measured 2x slower end-to-end at sf0.1). The explicit repartition
    also pins the explosion-stage parallelism: AQE sizes the downstream
    self-join by the small INPUT bytes and would coalesce the exploding
    stage to a handful of tasks (measured: 3 tasks, 22 s → 32, ~2 s);
    user-specified partitioning it leaves alone.

    The window's per-dst task is the same skew unit as a groupBy(dst)
    — a hub dst lands in one task either way, and hubs above
    max_degree are dropped right here before any pair is generated.

    decimal(18,6) not (28,10) for the weight: it is ≤ 1/ln 2 at 6 dp
    and per-pair sums are bounded by max_degree, so 12 integer digits
    can never overflow — and ≤18-digit decimals stay LONG-backed in
    Tungsten (an order of magnitude faster to hash-aggregate over
    millions of pairs than the BigDecimal-backed (28,10))."""
    from pyspark.sql.window import Window

    n_part = max(edges.sparkSession.sparkContext.defaultParallelism, 8)
    d = (
        edges.select("src", "dst")
        .repartition(n_part, "dst")
        .dropDuplicates(["src", "dst"])
    )
    return (
        d.withColumn(
            "deg", F.count(F.lit(1)).over(Window.partitionBy("dst"))
        )
        .filter((F.col("deg") >= 2) & (F.col("deg") <= max_degree))
        .withColumn(
            "w",
            F.round(F.lit(1.0) / F.log(F.col("deg")), 6)
            .cast("decimal(18,6)"),
        )
        .select("src", "dst", "w")
    )


def adamic_adar(edges: DataFrame, max_degree: int = 1000,
                top_k: int | None = None) -> DataFrame:
    """Adamic–Adar link prediction over a directed src->dst edge set:
    for every pair of sources sharing at least one destination, score
    = Σ_shared-dst 1/ln(deg(dst)) — common-neighbors weighted so that
    rare shared neighbors count more. Returns (src_a, src_b, common,
    score) with src_a < src_b.

    Scale shape: pairs meet ONLY through the equi-join on dst (the
    same candidate-generation bound as item_cooccur/triangles — per-dst
    work is deg², never corpus²). Hub destinations are excluded above
    ``max_degree``: a dst shared by thousands of sources contributes
    ~1/ln(1000) ≈ 0.14 per pair while exploding the pair count
    quadratically, so skipping it is the standard accuracy/cost trade
    (same pruning as GraphFrames' broadcast-threshold and Lucene's
    maxDoc cutoffs). Per-pair contributions are rounded then summed as
    DECIMAL so the result is independent of summation order across
    partitions.
    """
    # micro-unit weights: (w * 1e6)::bigint is EXACT on the
    # decimal(18,6) w, and a LONG sum over the ~15x-exploded pair
    # rows replaces the decimal sum whose accumulator promotes to the
    # non-long-backed decimal(28,6) (measured at sf1: 8.3 s -> 6.7 s
    # end-to-end). score = round(sum/1e6, 6) reconstructs the same
    # 6-dp value the decimal sum yields: the true total has exactly
    # six decimal places, so the nearest-double round is identical.
    # INT, not BIGINT: wu = w*1e6 <= 1e6/ln(2) = 1,442,695 by
    # construction (w = 1/ln(deg), deg >= 2 for any shared dst), so a
    # 4-byte int is exact and the dominating ~900M-row pair exchange
    # drops another 4 B/row (r10; r9's packed key took it 24->16 B,
    # this takes it to 12 B). The aggregate's SUM over int promotes
    # to long — identical totals to the bigint plan.
    shared = _shared_dst_weights(edges, max_degree).select(
        "src", "dst", (F.col("w") * 1000000).cast("int").alias("wu")
    )
    n_part = max(edges.sparkSession.sparkContext.defaultParallelism, 8)
    # r9 pair-exchange reduction (VERDICT r8 item 3): when src is an
    # integral key that fits 31 bits (one cheap MAX probe; negative
    # keys excluded), PACK the oriented pair into ONE bigint -- the
    # dominating exchange (~900M rows at sf10) then carries two
    # fixed-width longs (16 B) instead of three (24 B), and the hash
    # aggregate runs over a single long key. Exactness is free here:
    # pk order == (src_a, src_b) order, so orientation and the top-k
    # tiebreak are bit-identical to the unpacked plan and the SQL
    # oracle. Strings keep the direct plan: an order-isomorphic
    # dictionary encode was built and measured (sf1: pair stage -32%
    # but dictionary build + 1.5M-row broadcast +5 s net; scales with
    # |V|) -- a net loss, recorded in NOTES r9.
    src_type = dict(edges.dtypes)["src"]
    packable = False
    if src_type in ("int", "bigint", "smallint", "tinyint"):
        bounds = edges.agg(
            F.max("src").alias("mx"), F.min("src").alias("mn")
        ).collect()[0]
        packable = (
            bounds["mx"] is not None
            and 0 <= bounds["mn"]
            and bounds["mx"] < (1 << 31)
        )
    a, b = shared.alias("a"), shared.alias("b")
    joined = a.join(
        b,
        (F.col("a.dst") == F.col("b.dst"))
        & (F.col("a.src") < F.col("b.src")),
    )
    if packable:
        exploded = joined.select(
            (F.shiftleft(F.col("a.src").cast("bigint"), 32)
             + F.col("b.src").cast("bigint")).alias("pk"),
            F.col("a.wu").alias("wu"),
        )
        keys = ["pk"]
    else:
        exploded = joined.select(
            F.col("a.src").alias("src_a"), F.col("b.src").alias("src_b"),
            F.col("a.wu").alias("wu"),
        )
        keys = ["src_a", "src_b"]
    # Explosion blindness on the aggregate: pairs are mostly unique,
    # so partial aggregation barely shrinks the shuffle and AQE
    # coalesces the post-join exchange by stale pre-join size
    # estimates. Pin the aggregate's partitioning explicitly --
    # groupBy over data already hash-partitioned on exactly its keys
    # adds no further exchange. 2x the base width: the pair fan-out
    # is ~15x the posting rows (90M at sf1), so per-task hash tables
    # at 1x width blow the cache (width sweep at sf1: 32 parts
    # 11.4 s, 64 parts 6.6 s, 128 parts 7.4 s; sf0.1 is flat 32-64).
    pairs = (
        exploded.repartition(n_part * 2, *keys)
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.round(F.sum("wu").cast("double") / 1000000.0, 6)
            .alias("score"),
        )
    )
    if packable:
        pairs = pairs.select(
            F.shiftright(F.col("pk"), 32).cast(src_type).alias("src_a"),
            F.col("pk").bitwiseAND(F.lit((1 << 32) - 1))
            .cast(src_type).alias("src_b"),
            "common", "score",
        )
    if top_k is not None:
        pairs = pairs.orderBy(
            F.desc("score"), F.asc("src_a"), F.asc("src_b")
        ).limit(top_k)
    return pairs


def jaccard_links(edges: DataFrame, max_degree: int = 1000,
                  top_k: int | None = None,
                  broadcast_degrees: bool = True) -> DataFrame:
    """Common-neighbor Jaccard link prediction: for every source pair
    sharing >= 1 destination, jaccard = |N(a) ∩ N(b)| / |N(a) ∪ N(b)|
    (union via deg_a + deg_b - common; all-integer until one final
    division, so the score is bit-stable across engines).

    Same candidate-generation bound as ``adamic_adar``: pairs meet ONLY
    through the dst equi-join, hub destinations above ``max_degree``
    are pruned from candidate generation (the quadratic term), while
    source degrees |N(src)| count ALL destinations — the hub cap
    bounds cost, not the denominator semantics. The degree table
    scales with |V| (not |E|); ``broadcast_degrees`` joins it
    broadcast when the vertex set fits (right at bench SFs), shuffle
    otherwise — flip it off on a billion-vertex graph."""
    e = edges.select("src", "dst").distinct()
    # same one-shuffle candidate prep as adamic_adar (the w column is
    # simply unused here); explosion partitioning pinned inside it
    shared = _shared_dst_weights(edges, max_degree).select("src", "dst")
    n_part = max(e.sparkSession.sparkContext.defaultParallelism, 8)
    a, b = shared.alias("a"), shared.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.dst") == F.col("b.dst"))
            & (F.col("a.src") < F.col("b.src")),
        )
        .select(
            F.col("a.src").alias("src_a"), F.col("b.src").alias("src_b")
        )
        .repartition(n_part, "src_a", "src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("common"))
    )
    sdeg = e.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("sdeg")
    )
    deg_a = sdeg.select(
        F.col("src").alias("src_a"), F.col("sdeg").alias("deg_a")
    )
    deg_b = sdeg.select(
        F.col("src").alias("src_b"), F.col("sdeg").alias("deg_b")
    )
    if broadcast_degrees:
        deg_a, deg_b = F.broadcast(deg_a), F.broadcast(deg_b)
    pairs = (
        common.join(deg_a, "src_a")
        .join(deg_b, "src_b")
        .select(
            "src_a",
            "src_b",
            "common",
            F.round(
                F.col("common").cast("double")
                / (
                    F.col("deg_a") + F.col("deg_b") - F.col("common")
                ).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
    if top_k is not None:
        pairs = pairs.orderBy(
            F.desc("jaccard"), F.asc("src_a"), F.asc("src_b")
        ).limit(top_k)
    return pairs


def deterministic_walks(edges: DataFrame, seeds: DataFrame,
                        n_steps: int = 4) -> DataFrame:
    """Graph-ML walk sampling (node2vec/DeepWalk corpus generation)
    with DETERMINISTIC pseudo-random neighbor choice: at step s from
    node v, the next hop is argmin over out-neighbors d of
    h64('<v>_<s>_<d>') — a replayable stand-in for a uniform draw
    (the hash varies per (node, step), so revisits at later steps take
    different branches; no RNG, so the DuckDB oracle replays walks
    exactly). Walks stop early at sinks.

    ``seeds``: one column ``walk_id`` (also the start node). Returns
    (walk_id, step, node) with step 0 = the seed.

    Scale shape: each step is one equi-join of the O(|walks|) frontier
    against the edge set plus an argmin aggregate expressed as
    min(struct(h, dst)) — partial-agg friendly, no window sort. State
    is the frontier itself; at 1000 executors a billion concurrent
    walks are just a billion-row frontier hash-joined per step (the
    same plan GraphFrames' aggregateMessages would give), and the
    walk corpus streams out as (walk, step) rows without ever
    materializing adjacency lists per walker."""
    from graphdb_spark.operators.text import h64

    e = edges.select("src", "dst").distinct()
    frontier = seeds.select(
        F.col("walk_id"), F.col("walk_id").alias("node")
    )
    out = frontier.select(
        "walk_id", F.lit(0).cast("int").alias("step"), "node"
    )
    for s in range(1, n_steps + 1):
        h = h64(
            F.concat_ws(
                "_",
                F.col("node").cast("string"),
                F.lit(str(s)),
                F.col("dst").cast("string"),
            )
        )
        nxt = (
            frontier.join(e, frontier["node"] == e["src"])
            .select("walk_id", h.alias("h"), "dst")
            .groupBy("walk_id")
            .agg(F.min(F.struct("h", "dst")).alias("m"))
            .select("walk_id", F.col("m.dst").alias("node"))
        )
        frontier = nxt
        out = out.unionByName(
            frontier.select(
                "walk_id", F.lit(s).cast("int").alias("step"), "node"
            )
        )
    return out
