"""Translator: pipe-algebra Query tree → DataFrame chains.

This replaces the reference's per-backend query interpreters
(lib/src/rdb/datastore.rs:56-363, inmemory_storage.rs:133-185) with a
single compiler onto the DataFrame API. Catalyst then does what the
reference has no optimizer for (SURVEY.md §4): predicate pushdown,
column pruning, join selection (broadcast for small vertex frontiers),
and AQE runtime re-planning.

Scale notes (100 TB):
- A traversal hop is an equi-join ``frontier ⋈ edges`` on src/dst.
  Small frontiers (point lookups, filtered sets) are broadcast —
  we hint it explicitly when the frontier came from SpecificVertex,
  otherwise AQE converts to broadcast at runtime from observed sizes.
- Property filters are map probes; translate to `element_at` which
  stays in whole-stage codegen. For hot properties, promote to typed
  columns at ingest (datamodel.promote_properties) so the filter
  pushes down to parquet row groups.
- limit-per-step translates to a global `limit` (the reference's
  single-node iterator truncation, queries.rs:269-271); we sort by id
  first for determinism, matching the reference's byte-ordered KV
  iteration (rdb/managers.rs:90-110).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from graphdb_spark import algebra as A
from graphdb_spark.datamodel import stringify_value
from graphdb_spark.datamodel import local_df
from graphdb_spark.operators.traversal import _maybe_broadcast


@dataclass
class QueryOutput:
    """Port of QueryOutputValue (models/src/queries.rs:15-25)."""

    kind: A.OutputType
    df: DataFrame | None = None  # vertices/edges/properties outputs
    count: int | None = None  # count outputs

    def collect(self):
        if self.kind == A.OutputType.COUNT:
            return self.count
        return self.df.collect()


class NotIndexedError(LookupError):
    """Port of Error::NotIndexed (rdb/datastore.rs:82-100): raised for
    property queries on unindexed properties in strict mode only."""


class Translator:
    """Compiles Query trees against a (vertices, edges) DataFrame pair."""

    def __init__(self, vertices: DataFrame, edges: DataFrame,
                 strict_indexing: bool = False, indexed: set | None = None,
                 informed_broadcast: bool = True,
                 frontier_cache: dict | None = None,
                 edges_by_key: dict | None = None):
        self.v = vertices
        self.e = edges
        # dual adjacency layout (partitioning.write_adjacency): maps
        # join key -> edge frame pre-partitioned on that key. A hop that
        # joins on "src" reads the forward copy, "dst" the reversed —
        # the Spark twin of the reference's forward/reversed edge
        # indexes (rdb/managers.rs:233-240). Same rows either way;
        # absent keys fall back to the canonical edge frame.
        self.edges_by_key = edges_by_key or {}
        self.strict_indexing = strict_indexing
        self.indexed = indexed if indexed is not None else set()
        self.informed_broadcast = informed_broadcast
        # (key, query-subtree) -> materialized frontier; owned by the
        # GraphSession so repeated queries on the same immutable state
        # skip the probe job AND the frontier recompute entirely
        self.frontier_cache = frontier_cache if frontier_cache is not None else {}

    # ------------------------------------------------------------ public

    def run(self, q: A.Query) -> list[QueryOutput]:
        """Evaluate, returning one QueryOutput per stage like the
        reference's Vec<QueryOutputValue> (Include adds stages)."""
        outs: list[QueryOutput] = []
        final = self._compile(q, outs)
        outs.append(final)
        return outs

    def df(self, q: A.Query) -> DataFrame:
        """Final stage as a DataFrame (Count becomes a 1-row DF)."""
        out = self.run(q)[-1]
        if out.kind == A.OutputType.COUNT:
            spark = self.v.sparkSession
            return local_df(spark, [(out.count,)], "count bigint")
        return out.df

    # ------------------------------------------------------------ core

    def _check_indexed(self, name: str):
        if self.strict_indexing and name not in self.indexed:
            raise NotIndexedError(
                f"property {name!r} is not indexed "
                "(reference rdb/datastore.rs:82-100)"
            )

    def _frontier(self, ids: DataFrame) -> DataFrame:
        """Materialize a hop frontier (lazy localCheckpoint + one count
        job) and broadcast it when its EXACT size allows.

        Why: chained pipes over the cached graph otherwise plan
        SortMergeJoins — the static planner can't size a
        filtered/joined frontier, and AQE can't re-plan across cached
        scans with canChangeCachedPlanOutputPartitioning=false (which
        graph-cache reuse requires; measured r2). At sf1 that meant
        every hop exchanged+sorted the multi-million-row edge table:
        the 2-hop count took 33 s warm. With the probe, every hop is a
        BroadcastHashJoin over a pruned in-memory scan — no exchange of
        the big side at all — and the checkpoint stops deep chains
        from recomputing every upstream hop once per stage.

        Cost: one job per hop (~50 ms at gate SFs). Frontiers above
        traversal.BROADCAST_MAX_ROWS stay un-broadcast shuffle joins —
        the scale-safe fallback (a 10^9-row frontier must not be
        collected to the driver)."""
        if not self.informed_broadcast:
            return ids
        ids = ids.localCheckpoint(eager=False)
        return _maybe_broadcast(ids, ids.count())

    def _frontier_memo(self, key, ids_thunk):
        """Memoized _frontier keyed on the query subtree (algebra nodes
        are frozen dataclasses — hashable unless a property value is).
        First evaluation pays the probe job; every later query over the
        same immutable session state reuses the materialized frontier."""
        try:
            hit = self.frontier_cache.get(key)
        except TypeError:  # unhashable property value in the subtree
            return self._frontier(ids_thunk())
        if hit is None:
            hit = self._frontier(ids_thunk())
            try:
                self.frontier_cache[key] = hit
            except TypeError:
                pass
        return hit

    def _compile(self, q: A.Query, outs: list[QueryOutput]) -> QueryOutput:
        V, E = self.v, self.e
        prop = lambda name: F.col("properties").getItem(name)  # noqa: E731

        if isinstance(q, A.AllVertex):
            return QueryOutput(A.OutputType.VERTICES, V)

        if isinstance(q, A.RangeVertex):
            df = V
            if q.start_id is not None:
                # exclusive resume-after like next_uuid (util.rs:85-96)
                df = df.filter(F.col("id") > F.lit(q.start_id))
            if q.t is not None:
                df = df.filter(F.col("label") == F.lit(q.t))
            if q.limit is not None:
                # deterministic keyset pagination = ordered limit
                df = df.orderBy("id").limit(q.limit)
            return QueryOutput(A.OutputType.VERTICES, df)

        if isinstance(q, A.SpecificVertex):
            df = V.filter(F.col("id").isin(list(q.ids)))
            return QueryOutput(A.OutputType.VERTICES, df)

        if isinstance(q, A.VertexWithPropertyPresence):
            self._check_indexed(q.name)
            return QueryOutput(
                A.OutputType.VERTICES, V.filter(prop(q.name).isNotNull())
            )

        if isinstance(q, A.VertexWithPropertyValue):
            self._check_indexed(q.name)
            return QueryOutput(
                A.OutputType.VERTICES,
                V.filter(prop(q.name) == F.lit(stringify_value(q.value))),
            )

        if isinstance(q, A.AllEdge):
            return QueryOutput(A.OutputType.EDGES, E)

        if isinstance(q, A.SpecificEdge):
            spark = E.sparkSession
            probe = local_df(
                spark,
                list(q.edges) or [("", "", "")],
                "src string, relationship string, dst string",
            )
            if not q.edges:
                probe = probe.limit(0)
            df = E.join(
                F.broadcast(probe), ["src", "relationship", "dst"], "left_semi"
            )
            return QueryOutput(A.OutputType.EDGES, df)

        if isinstance(q, A.EdgeWithPropertyPresence):
            self._check_indexed(q.name)
            return QueryOutput(A.OutputType.EDGES, E.filter(prop(q.name).isNotNull()))

        if isinstance(q, A.EdgeWithPropertyValue):
            self._check_indexed(q.name)
            return QueryOutput(
                A.OutputType.EDGES,
                E.filter(prop(q.name) == F.lit(stringify_value(q.value))),
            )

        if isinstance(q, A.Pipe):
            up = self._compile(q.inner, outs)
            if up.kind == A.OutputType.VERTICES:
                # vertices -> incident edges. Join on the frontier's ids;
                # select only ids pre-join so the shuffle carries 1 column.
                ids = up.df.select(F.col("id"))
                small_frontier = isinstance(
                    q.inner, (A.SpecificVertex, A.RangeVertex)
                )
                key = "src" if q.direction == A.Direction.OUT else "dst"
                # direction-appropriate partitioned copy: the hop join's
                # required distribution is satisfied by the scan, so a
                # non-broadcast hop exchanges only the frontier ids
                E = self.edges_by_key.get(key, E)
                if small_frontier:
                    ids = F.broadcast(ids)
                else:
                    ids = self._frontier_memo(("v2e", q.inner), lambda: ids)
                df = E.join(ids, E[key] == ids["id"], "left_semi")
                if q.t is not None:
                    df = df.filter(F.col("relationship") == F.lit(q.t))
                if q.limit is not None:
                    df = df.orderBy("src", "relationship", "dst").limit(q.limit)
                return QueryOutput(A.OutputType.EDGES, df)
            else:
                # edges -> endpoint vertices (OUT = src side, IN = dst side).
                # No distinct() on the probe side: left_semi dedups by
                # construction, and the distinct would cost an extra
                # shuffle + aggregate per hop.
                key = "src" if q.direction == A.Direction.OUT else "dst"
                ids = self._frontier_memo(
                    ("e2v", key, q.inner),
                    lambda: up.df.select(F.col(key).alias("id")),
                )
                df = V.join(ids, "id", "left_semi")
                if q.t is not None:
                    df = df.filter(F.col("label") == F.lit(q.t))
                if q.limit is not None:
                    df = df.orderBy("id").limit(q.limit)
                return QueryOutput(A.OutputType.VERTICES, df)

        if isinstance(q, A.PipeProperty):
            up = self._compile(q.inner, outs)
            df = up.df
            if q.name is not None:
                # single named property: (entity, name, value); rows lacking
                # the property are dropped (rdb/datastore.rs:175-194)
                df = (
                    df.withColumn("prop_name", F.lit(q.name))
                    .withColumn("prop_value", prop(q.name))
                    .filter(F.col("prop_value").isNotNull())
                )
            else:
                # all properties exploded: one row per (entity, name, value)
                df = df.select(
                    "*", F.explode_outer("properties").alias("prop_name", "prop_value")
                )
            kind = (
                A.OutputType.VERTEX_PROPERTIES
                if up.kind == A.OutputType.VERTICES
                else A.OutputType.EDGE_PROPERTIES
            )
            return QueryOutput(kind, df)

        if isinstance(q, A.PipeWithPropertyPresence):
            self._check_indexed(q.name)
            up = self._compile(q.inner, outs)
            cond = prop(q.name).isNotNull()
            df = up.df.filter(cond if q.present else ~F.coalesce(cond, F.lit(False)))
            return QueryOutput(up.kind, df)

        if isinstance(q, A.PipeWithPropertyValue):
            self._check_indexed(q.name)
            up = self._compile(q.inner, outs)
            eq = prop(q.name) == F.lit(stringify_value(q.value))
            if q.equal:
                df = up.df.filter(eq)
            else:
                # != keeps rows lacking the property? Reference drops them:
                # the value-index scan only yields rows *with* the property
                # (queries.rs:590-635) — not-equal means "has property, value
                # differs".
                df = up.df.filter(prop(q.name).isNotNull() & ~eq)
            return QueryOutput(up.kind, df)

        if isinstance(q, A.Include):
            up = self._compile(q.inner, outs)
            # the stage is consumed twice (emitted + downstream):
            # materialize via lazy localCheckpoint, NOT .cache() — cache
            # entries live in the CacheManager until explicitly
            # unpersisted, so repeated Include queries on a long-lived
            # session would accumulate executor storage without bound
            # (ADVICE r1); checkpoint RDDs are GC-cleaned once the
            # DataFrame is dropped
            df = up.df
            if df is not None:
                df = df.localCheckpoint(eager=False)
            up = QueryOutput(up.kind, df, up.count)
            outs.append(up)
            return QueryOutput(up.kind, df, up.count)

        if isinstance(q, A.Count):
            up = self._compile(q.inner, outs)
            n = up.count if up.kind == A.OutputType.COUNT else up.df.count()
            return QueryOutput(A.OutputType.COUNT, None, n)

        raise TypeError(f"unknown query node {type(q).__name__}")
