"""GraphSession — the engine's state holder and public facade.

Replaces the reference's Database facade + daemon plumbing
(lib/src/memory/datastore_old.rs:45-201 Database; the ZMQ daemon pools,
WAL replication, and storage-backend zoo of SURVEY.md §2.11 collapse
into a SparkSession + two DataFrames persisted as Parquet).

State model: the session holds the *current* vertices/edges/kv
DataFrames. Mutations (operators/mutations.py) produce new DataFrames;
the session swaps them in and re-registers temp views — read-your-writes
without mutable storage. Persistence = `save()` to parquet
(at production scale: Delta, where MERGE/OPTIMIZE apply).

Concurrency: writers serialize on one session lock held across their
whole read-modify-``set_state``; readers take no lock — they plan over
whichever immutable snapshot is current. Every swap ENDS by replacing
the read memos (plan cache, frontiers, statistics) with empty ones, and
a reader takes its memo before it reads any frame, so anything derived
from a pre-swap frame lands in a memo that the swap discards: no read
planned before or during a swap is served after it. A read that
overlaps a swap may itself see a mix of the two states; it is not
cached.
"""

from __future__ import annotations

import functools
import re
import threading

from pyspark.sql import DataFrame, SparkSession, functions as F

from graphdb_spark import algebra as A
from graphdb_spark.datamodel import (
    EDGE_SCHEMA,
    VERTEX_SCHEMA,
    empty_edges,
    empty_vertices,
    local_df,
)
from graphdb_spark.translator import NotIndexedError, QueryOutput, Translator


def default_driver_memory(phys_bytes: int) -> str:
    """Driver heap for a machine with ``phys_bytes`` of physical
    memory: half of it, capped at 16g, in whole MiB (a JVM memory
    string). The other half stays with Python workers, the page cache
    and the JVM's off-heap memory; a heap sized past the machine grows
    until the kernel kills something."""
    return f"{min(phys_bytes // 2, 16 << 30) >> 20}m"


def max_result_size(driver_mem: str) -> str:
    """``spark.driver.maxResultSize`` for a driver heap given as a JVM
    memory string (``"2g"``, ``"7680m"``; a bare number is MiB, as
    Spark reads ``spark.driver.memory``): half of the heap, in whole
    MiB. A cap above the heap lets one oversized collect exhaust the
    heap instead of failing its job."""
    m = re.fullmatch(r"(\d+)([kmgtp]?)b?", driver_mem.strip().lower())
    if m is None:
        raise ValueError(f"not a JVM memory string: {driver_mem!r}")
    exp = "kmgtp".index(m[2]) + 1 if m[2] else 2
    return f"{max(int(m[1]) << (10 * exp) >> 21, 1)}m"


#: entries of Spark's generated-class cache (a static conf; Spark's
#: default is 100). One analytics_batch pass over the benchmark graph
#: generates 300-315 distinct classes, so at 100 every warm pass
#: evicted and Janino-compiled 260-264 of them again (CodegenMetrics,
#: 4-core VM); at 1000 the second warm pass compiles none, and
#: metaspace stays within the default's run-to-run range
CODEGEN_CACHE_ENTRIES = 1000


def build_spark(app_name: str = "graphdb_spark", master: str | None = None,
                shuffle_partitions: int | None = None) -> SparkSession:
    """Opinionated SparkSession for this engine.

    AQE on (runtime broadcast/skew handling), UTC session timezone
    (determinism for the DuckDB oracle), Arrow enabled for the
    pandas-UDF operators."""
    import os

    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        b = b.master(f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    # local-mode driver == the whole "cluster": the 1g default heap
    # GC-thrashes (GCLocker retry crashes) on >SF0.1 shuffles; only
    # effective before the JVM launches, so set it here, not per-query.
    # SPARK_GRAFT_DRIVER_MEM pins it for a deployment
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or \
        default_driver_memory(
            os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE"))
    spark = (
        b.config("spark.driver.memory", driver_mem)
        .config("spark.driver.maxResultSize", max_result_size(driver_mem))
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # size-based coalescing: without this AQE keeps ~defaultParallelism
        # partitions even for kB-sized shuffles — hundreds of no-op tasks
        # per small query; with it, partition count follows data volume
        # (the behavior you want at every scale; Spark docs recommend it)
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # 64 MB dimension tables are comfortably broadcastable on any
        # sane executor; the 10 MB default forces shuffle joins for
        # mid-size vertex/dim tables that fit in memory many times over
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 << 20))
        .config("spark.sql.session.timeZone", "UTC")
        # driver testdata's events.ts is parquet TIMESTAMP(NANOS) which
        # Spark rejects by default; read as long, normalized in sources.tpch
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # no per-call call-site capture: PySpark otherwise wraps every
        # functions.* / Column call in a Python stack walk plus 3-4 py4j
        # round trips (active session, depth conf, origin set/clear),
        # about 4x the round trips of planning a Cypher read. Errors
        # keep their exception and message; only the Python call site
        # in DataFrameQueryContext is lost. PySpark reads this once per
        # process, at the first API call with an active session
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    # one-pass bounded collect: `LIMIT n` first probes this many
    # partitions (Spark's default is 1, then 4x more per extra job).
    # At the core count, a bounded read over the core-sized resident
    # graph (workloads.graph.graph_session) is one job, in one wave
    spark.conf.set("spark.sql.limit.initialNumPartitions",
                   str(spark.sparkContext.defaultParallelism))
    return spark


#: statements that write (or may write): never plan-cached. A false
#: positive (the keyword inside a string literal) merely skips the cache
_CYPHER_WRITES = re.compile(r"\b(CREATE|MERGE|DELETE|REMOVE|SET)\b")
#: SQL statement heads that execute as reads (lazily, per collect)
_SQL_READS = ("SELECT", "WITH", "VALUES", "TABLE")
#: the session's temp views: ``set_state`` re-registers them and drops
#: every plan cached over them
_GRAPH_VIEWS = ("vertices", "edges")
#: leaves a cacheable SQL read may reach outside the graph views:
#: inline rows only (``SELECT 1``, ``VALUES``, a CTE reference)
_INLINE_LEAVES = ("OneRowRelation", "LocalRelation", "CTERelationRef")
#: attribute of a plan-cached frame where its rows are kept: set to
#: ``()`` when ``GraphSession._cached_read`` accepts the frame, filled
#: by ``rest._df_payload``. It lives and dies with the cache entry
KEPT_ROWS = "_graphdb_rows"


@functools.cache
def _clock_pattern(gateway):
    """Spark's CURRENT_LIKE tree pattern, resolved once per py4j
    gateway (one per JVM): the lookup takes a py4j round trip per
    package-path segment, about 12 per plan-cache miss."""
    return gateway.jvm.org.apache.spark.sql.catalyst.trees \
        .TreePattern.CURRENT_LIKE()


def _reads_clock(df: DataFrame) -> bool:
    """Whether ``df`` calls a clock function (``current_timestamp()``,
    ``now()``, ``current_date()`` …): Spark fixes its value when it
    optimizes the plan, so a reused plan would keep answering the
    time of its first run."""
    pattern = _clock_pattern(df.sparkSession.sparkContext._gateway)
    return df._jdf.queryExecution().analyzed().containsPattern(pattern)


def _replays_over_graph(df: DataFrame) -> bool:
    """Whether collecting a SQL read's plan again answers what planning
    it afresh would: the analyzed plan is deterministic (no ``uuid()``,
    ``rand()`` …), reads no clock, and scans nothing but the graph
    views. Any other table, file path or view keeps the file listing or
    frame pinned when it was planned, and nothing drops the cache when
    it changes."""
    plan = df._jdf.queryExecution().analyzed()
    if not plan.deterministic() or _reads_clock(df):
        return False
    todo = [plan]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "View":
            ident = node.desc().identifier()
            if not (node.isTempView() and ident.database().isEmpty()
                    and ident.table() in _GRAPH_VIEWS):
                return False
            continue  # the view's plan is the session's own frame
        children, subqueries = node.children(), node.subqueries()
        if children.isEmpty() and kind not in _INLINE_LEAVES:
            return False
        todo += [children.apply(i) for i in range(children.size())]
        todo += [subqueries.apply(i) for i in range(subqueries.size())]
    return True


def serialized(mutation):
    """Run ``mutation(g, ...)`` under ``g``'s write lock, so its read
    of the current state and its ``set_state`` are one step: two
    concurrent writers can no longer both derive from the same old
    state and lose one write."""

    @functools.wraps(mutation)
    def run(g, *args, **kwargs):
        with g._write_lock:
            return mutation(g, *args, **kwargs)

    return run


class GraphSession:
    """Two-DataFrame property graph + KV store + query surfaces."""

    def __init__(self, spark: SparkSession, vertices: DataFrame | None = None,
                 edges: DataFrame | None = None, strict_indexing: bool = False,
                 assume_integrity: bool | None = None):
        self.spark = spark
        self._v = vertices if vertices is not None else empty_vertices(spark)
        self._e = edges if edges is not None else empty_edges(spark)
        # referential-integrity knowledge: True when every edge endpoint
        # provably exists (validated ingest, FK-derived construction, an
        # empty graph). The Cypher planner uses it to elide the
        # existence join for anonymous unconstrained endpoint nodes —
        # `MATCH (c)-[r:T]->()` — which is otherwise a full
        # edges x vertices shuffle that returns every row. bulk_insert
        # (validation-skipping, may leave dangling edges) clears it.
        # Default: True only when BOTH tables start empty (trivially
        # consistent), else False — a directly-constructed arbitrary
        # pair is unknown.
        if assume_integrity is None:
            assume_integrity = vertices is None and edges is None
        self.integrity_validated = assume_integrity
        self._kv = local_df(spark, [], "key string, value string")
        # index_property registry: we never *need* indexes (scans + pushdown
        # replace them) but keep the API + a strict conformance mode in which
        # unindexed property queries raise like the reference
        # (rdb/datastore.rs:82-100, tests/indexing.rs:32-48).
        self.strict_indexing = strict_indexing
        self._indexed: set[str] = set()
        self._mutation_count = 0
        self._e_by_key: dict = {}  # use_adjacency_layout fills this
        # the frames the last use_adjacency_layout cached; the next
        # adoption releases them
        self._layout_frames: tuple = ()
        # writers hold _write_lock across read-modify-set_state (it is
        # re-entrant: a Cypher DML statement may swap state twice);
        # _cache_lock guards the read plan cache's LRU bookkeeping —
        # readers never wait on a writer
        self._write_lock = threading.RLock()
        self._cache_lock = threading.Lock()
        self._cypher_plan_cache: dict = {}
        self._frontier_cache: dict = {}
        # per-state statistics: "labels" (executor label counts) and
        # ("branch", direction) (max_branch)
        self._stats: dict = {}
        self._register_views()

    # ------------------------------------------------------------ state

    @property
    def vertices(self) -> DataFrame:
        return self._v

    @property
    def edges(self) -> DataFrame:
        return self._e

    @property
    def kv(self) -> DataFrame:
        return self._kv

    def _register_views(self):
        self._v.createOrReplaceTempView("vertices")
        self._e.createOrReplaceTempView("edges")

    @serialized
    def set_state(self, vertices: DataFrame | None = None,
                  edges: DataFrame | None = None,
                  kv: DataFrame | None = None):
        """Swap in new state after a mutation (read-your-writes).

        Integrity note: ``integrity_validated`` is PRESERVED across
        swaps because every official mutation path (operators/
        mutations except bulk_insert, the Cypher DML executor, the
        streaming fold) endpoint-validates what it writes; bulk_insert
        clears the flag itself. A caller swapping in arbitrary
        unvalidated edges directly must clear ``integrity_validated``
        or anonymous-endpoint Cypher matches may assume too much.

        Every few swaps the new state is localCheckpointed (lazily):
        without periodic cuts, chained mutations build an ever-deeper
        union/join lineage and every later query re-evaluates the whole
        mutation history — the SURVEY §7.3 'mutations on immutable
        data' hazard. Checkpointing EVERY swap would instead copy the
        full table per mutation (a bulk append of 10k rows re-
        materializing 10^8 resident rows); every 3rd keeps lineage
        depth bounded at the cost of re-running ≤2 cheap deltas. At
        production scale the same role is played by the Delta commit.
        """
        self._mutation_count += 1
        cut = self._mutation_count % 3 == 0

        def _cp(df):
            return df.localCheckpoint(eager=False) if cut else df

        if vertices is not None:
            self._v = _cp(vertices)
        if edges is not None:
            self._e = _cp(edges)
        if kv is not None:
            self._kv = _cp(kv)
        if vertices is not None or edges is not None:
            # a graph mutation divorces any adopted layout: its edge
            # copies hold the PREVIOUS state. The canonical _v/_e
            # frames (just swapped) stay correct; hops simply lose the
            # exchange-elision until use_adjacency_layout() is re-run.
            # A KV-ONLY swap skips all of this: vertices/edges are
            # bit-identical, so the layout, the graph memos, and the
            # plan cache (cached Cypher plans are MATCH reads over the
            # v/e views; Cypher KV reads go through kv_retrieve, a
            # per-call collect that is never plan-cached) all remain
            # valid — a kv_insert must not cost the session its
            # exchange-elision contract.
            self._e_by_key = {}
            self._register_views()
            # last, once every frame and view is the new one: a read
            # planned anywhere before this point is discarded with the
            # old memos
            self._drop_read_memos()
        return self

    @serialized
    def use_adjacency_layout(self) -> "GraphSession":
        """Adopt the dual adjacency layout of the current frames
        (``partitioning.write_adjacency``): vertices partitioned and
        sorted on id, edges kept twice — on src (forward) and on dst
        (reversed) — in Spark's cache, the twin of the reference's
        forward + reversed edge indexes (rdb/managers.rs:233-240).

        After adoption every traversal hop joins the copy partitioned
        on its own key, so non-broadcast hops exchange only the
        frontier, and ``groupBy(src)`` degree aggregates plan with no
        exchange at query time.

        Layout is an *optimization contract*, not state: every graph
        mutation (``set_state``, ``append_state``) divorces it and
        hops fall back to the canonical frames. Calling this again
        after writes lays out the current frames afresh — the
        REINDEX — and releases the previous layout's cache."""
        from graphdb_spark import partitioning as P

        old = self._layout_frames
        v, e_out, e_in = P.write_adjacency(self._v, self._e)
        self._layout_frames = (v, e_out, e_in)
        self._v = v
        self._e = e_out  # canonical scan order: forward copy
        self._e_by_key = {"src": e_out, "dst": e_in}
        self._register_views()
        # frames changed identity: derived memos are stale (dropped
        # last, as in set_state)
        self._drop_read_memos()
        for df in old:
            df.unpersist()
        return self

    def _drop_read_memos(self):
        """End a swap: replace everything derived from the previous
        frames — every cached read plan, the translator's materialized
        frontiers (stale data), the label counts (a stale broadcast
        decision) and branch bounds — with empty memos. Must run after
        the new frames and views are in place. Readers take a memo
        before they read a frame and store into the one they took, so
        a reader racing this swap stores into a discarded memo."""
        with self._cache_lock:
            self._cypher_plan_cache = {}
            self._frontier_cache = {}
            self._stats = {}

    @serialized
    def append_state(self, vertices: DataFrame | None = None,
                     edges: DataFrame | None = None) -> "GraphSession":
        """Row-ADD mutation (create_vertex / bulk_insert / the streaming
        insert fold): union the new rows onto the current frames and
        swap them in. Like any graph swap it divorces an adopted
        layout; a later ``use_adjacency_layout`` re-indexes."""
        v = self._v.unionByName(vertices) if vertices is not None else None
        e = self._e.unionByName(edges) if edges is not None else None
        return self.set_state(vertices=v, edges=e)

    def edges_for(self, direction: str) -> DataFrame:
        """Direction-appropriate edge frame: the copy partitioned on the
        hop key when a layout is adopted ('out' joins on src, 'in' on
        dst), else the canonical frame. 'both' has no single hop key —
        callers pass ``edges_for('out')`` plus ``reversed_edges()`` so
        each orientation half reads its own-key copy."""
        key = {"out": "src", "in": "dst"}.get(direction)
        return self._e_by_key.get(key, self._e)

    def reversed_edges(self) -> DataFrame | None:
        """The dst-keyed copy when adopted (for both-direction hops'
        ``edges_in``), else None (callers fall back to the single
        frame)."""
        return self._e_by_key.get("dst")

    # ------------------------------------------------------------ ingest

    @classmethod
    def load(cls, spark: SparkSession, vertices_path: str, edges_path: str,
             fmt: str = "parquet", **kw) -> "GraphSession":
        """Load a persisted graph. Dedup enforces edge identity
        (src, relationship, dst) (inmemory_storage.rs:16) and endpoint
        validation mirrors create_edge's FK check
        (rdb/datastore.rs:272-281) via semi-joins. ``fmt='tlog'``
        reads transaction-logged tables (sources/tlog.py) written by
        ``save(fmt='tlog')``."""
        if fmt == "parquet":
            v = spark.read.parquet(vertices_path)
            e = spark.read.parquet(edges_path)
        else:
            from graphdb_spark.sources import delta_store as DS

            v = DS.load_table(spark, vertices_path, fmt)
            e = DS.load_table(spark, edges_path, fmt)
        return cls.from_dataframes(spark, v, e, **kw)

    @classmethod
    def from_dataframes(cls, spark: SparkSession, vertices: DataFrame,
                        edges: DataFrame, validate: bool = True,
                        **kw) -> "GraphSession":
        v = vertices.dropDuplicates(["id"])
        e = edges.dropDuplicates(["src", "relationship", "dst"])
        if validate:
            ids = v.select("id")
            e = (
                e.join(ids.withColumnRenamed("id", "src"), "src", "left_semi")
                .join(ids.withColumnRenamed("id", "dst"), "dst", "left_semi")
                .select("src", "relationship", "dst", *[
                    c for c in e.columns if c not in ("src", "relationship", "dst")
                ])
            )
        kw.setdefault("assume_integrity", validate)
        return cls(spark, v, e, **kw)

    def save(self, vertices_path: str, edges_path: str,
             mode: str = "overwrite", fmt: str = "parquet"):
        """Persist. Snapshot export/import equivalent
        (lib/src/durability/snapshot.rs:33-62) — parquet instead of
        JSON. ``fmt='tlog'`` (or 'delta' when installed) writes
        through the transactional store instead: versioned commits,
        so a later ``delta_store.load_table_version`` can time-travel
        the graph."""
        if fmt == "parquet":
            self._v.write.mode(mode).parquet(vertices_path)
            self._e.write.mode(mode).parquet(edges_path)
            return
        from graphdb_spark.sources import delta_store as DS

        DS.save_table(self._v, vertices_path, fmt, mode)
        DS.save_table(self._e, edges_path, fmt, mode)

    # ------------------------------------------------------------ queries

    def get(self, q: A.Query) -> list[QueryOutput]:
        """Pipe-algebra entry point (Database::get / Transaction::get)."""
        return self._translator().run(q)

    def df(self, q: A.Query) -> DataFrame:
        return self._translator().df(q)

    def _translator(self) -> Translator:
        # frontier memo persists across queries on this immutable state
        # (set_state drops it with the other read memos); taken BEFORE
        # the frames (see _drop_read_memos)
        frontier_cache = self._frontier_cache
        return Translator(
            self._v, self._e,
            strict_indexing=self.strict_indexing, indexed=self._indexed,
            frontier_cache=frontier_cache,
            edges_by_key=self._e_by_key,
        )

    def sql(self, query: str) -> DataFrame:
        """SQL passthrough over the registered views (SURVEY.md §7 M5).
        Reads over the graph views alone share the Cypher reads' plan
        cache (see :meth:`cypher` and :func:`_replays_over_graph`);
        any other read, and every command (DDL/DML, SHOW, SET …, which
        run eagerly inside ``spark.sql``), is planned afresh per call."""
        q = query.strip()
        head = q.split(None, 1)[0].upper() if q else ""
        if head not in _SQL_READS:
            return self.spark.sql(q)
        return self._cached_read(("sql", q), lambda: self.spark.sql(q),
                                 replayable=_replays_over_graph)

    #: read plan-cache capacity (Cypher and SQL reads share it); read
    #: paths repeat heavily (dashboards, bench best-of-N), DML never
    #: caches, so a small LRU suffices
    CYPHER_PLAN_CACHE_MAX = 128

    def cypher(self, query: str):
        """Cypher subset entry point (lazy import to keep core light).

        Read statements (those that produce a DataFrame) are PLAN-
        CACHED per query text on this immutable state — the standard
        engine plan cache: a repeated MATCH…RETURN skips tokenize/
        parse/bind entirely and goes straight to execution, and
        ``rest._df_payload`` keeps its collected rows on the cached
        frame (:data:`KEPT_ROWS`), so a repeated REST read runs no
        Spark job at all.
        Mutations and KV ops are never cached (they have side effects
        and return summaries); writes run under the session's write
        lock, and set_state drops the cache wholesale, so a cached plan
        can never read stale state (its lazy DataFrame references the
        exact vertices/edges snapshots it was planned against)."""
        from graphdb_spark.cypher.executor import execute_cypher

        # a DataFrame result is NOT sufficient for cacheability:
        # `MERGE … RETURN n.x` returns a DataFrame AND mutates
        if _CYPHER_WRITES.search(query.upper()):
            with self._write_lock:
                return execute_cypher(self, query)
        # Cypher reads scan the session's own frames; only its clock
        # functions (timestamp(), date()) would freeze in a reused plan
        return self._cached_read(query, lambda: execute_cypher(self, query),
                                 replayable=lambda df: not _reads_clock(df))

    def _cached_read(self, key, plan, replayable):
        """LRU lookup of a read plan; on a miss, ``plan()`` and cache
        the result when it is a DataFrame that ``replayable`` accepts —
        into the cache taken BEFORE planning, so a read planned before
        or during a swap lands in the memo the swap discards. Only an
        accepted frame gets a :data:`KEPT_ROWS` slot: its rows are the
        same every time it is collected, so they may be kept."""
        with self._cache_lock:
            cache = self._cypher_plan_cache
            hit = cache.pop(key, None)
            if hit is not None:
                # true LRU: re-insert on hit so dict order = recency
                # and eviction below drops the least-recently-USED
                # entry, not the least-recently-inserted
                cache[key] = hit
                return hit
        out = plan()
        if isinstance(out, DataFrame) and replayable(out):
            with self._cache_lock:
                if key in cache:  # a concurrent miss planned it first
                    return cache[key]
                if len(cache) >= self.CYPHER_PLAN_CACHE_MAX:
                    # drop the oldest entry (dict keeps insert order)
                    cache.pop(next(iter(cache)))
                out.__dict__[KEPT_ROWS] = ()
                cache[key] = out
        return out

    def execute(self, query: str):
        """Language-detecting entry point — the QueryExecEngine
        equivalent (reference query_exec_engine.rs:18-28 +
        query_parser.rs:33-51 detection). Cypher executes via the
        Cypher pipeline; SQL via spark.sql over the registered views
        (where the reference returns 'not implemented' for SQL,
        query_exec_engine.rs:38-44, we run it)."""
        from graphdb_spark.cypher.parser import is_cypher

        q = query.strip()
        if is_cypher(q):
            return self.cypher(q)
        head = q.split(None, 1)[0].upper() if q else ""
        if head in _SQL_READS + ("SHOW", "DESCRIBE"):
            return self.sql(q)
        if head in ("QUERY", "MUTATION", "SUBSCRIPTION") or q.startswith("{"):
            # GraphQL front-end: detected like the reference
            # (query_parser.rs:33-51 tries a GraphQL parse) and, like
            # the reference, parse-only — the REST path returns a mock
            # (rest_api/src/lib.rs:274-284). We return the structured
            # detection result instead of executing.
            return {"language": "graphql", "status": "parse_only",
                    "query": q}
        raise ValueError(f"cannot detect query language for: {q[:60]!r}")

    # ------------------------------------------------------------ analytics

    def max_branch(self, direction: str = "out") -> int:
        """Max per-vertex branching factor in the followed direction —
        the static bound that lets bfs() prove a short traversal's
        frontiers stay broadcastable and compile to ONE lazy plan (no
        per-hop probe jobs). One aggregate job per direction per state;
        memoized on this immutable session state (like the frontier
        cache) and invalidated by set_state."""
        from pyspark.sql import functions as F  # noqa: PLC0415

        stats = self._stats  # taken before the frame (_drop_read_memos)
        hit = stats.get(("branch", direction))
        if hit is not None:
            return hit
        e = self._e
        if direction == "out":
            keyed = e.select(F.col("src").alias("k"))
        elif direction == "in":
            keyed = e.select(F.col("dst").alias("k"))
        else:
            keyed = e.select(F.col("src").alias("k")).unionByName(
                e.select(F.col("dst").alias("k"))
            )
        row = keyed.groupBy("k").count().agg(F.max("count")).collect()
        n = int(row[0][0] or 0)
        stats[("branch", direction)] = n
        return n

    def bfs(self, start_id: str, max_depth: int = 5, t: str | None = None,
            direction: str = "out"):
        from graphdb_spark.operators.traversal import bfs

        # directed traversals read the copy partitioned+sorted on
        # their hop key when a layout is adopted: non-broadcast hops
        # skip the edge-side exchange; both-direction hops read EACH
        # orientation from its own-key copy
        return bfs(self.edges_for(direction), start_id, max_depth, t,
                   direction, max_branch=self.max_branch(direction),
                   edges_in=self.reversed_edges())

    def shortest_path(self, src_id: str, dst_id: str, max_depth: int = 5,
                      t: str | None = None, direction: str = "both"):
        from graphdb_spark.operators.traversal import shortest_path

        return shortest_path(self.edges_for(direction), src_id, dst_id,
                             max_depth, t, direction,
                             edges_in=self.reversed_edges())

    def degrees(self):
        from graphdb_spark.operators.analytics import degrees

        return degrees(self._e)

    def pagerank(self, iterations: int = 10, damping: float = 0.85):
        from graphdb_spark.operators.analytics import pagerank

        return pagerank(self._e, iterations, damping)

    def triangle_count(self):
        from graphdb_spark.operators.analytics import triangle_count

        return triangle_count(self._e)

    def connected_components(self, max_iter: int = 20, algorithm: str = "small"):
        """'small' = min-label propagation (O(diameter) rounds);
        'large' = large-star/small-star (O(log n) rounds, the
        100 TB / high-diameter path)."""
        if algorithm == "large":
            from graphdb_spark.operators.traversal import (
                connected_components_large,
            )

            return connected_components_large(self._e, max_iter)
        from graphdb_spark.operators.traversal import connected_components_small

        return connected_components_small(self._e, max_iter)

    def find(self, motif: str):
        """GraphFrames-style motif finding."""
        from graphdb_spark.operators.analytics import motif_find

        return motif_find(self, motif)

    def aggregate_messages(self, agg, msg_to_dst=None, msg_to_src=None):
        """GraphFrames aggregateMessages over the triplet view."""
        from graphdb_spark.operators.analytics import aggregate_messages

        return aggregate_messages(
            self._v, self._e, agg, msg_to_dst=msg_to_dst, msg_to_src=msg_to_src
        )

    def label_propagation(self, max_iter: int = 5):
        from graphdb_spark.operators.analytics import label_propagation

        return label_propagation(self._e, max_iter)

    # ------------------------------------------------------------ counts

    def vertex_count(self) -> int:
        """rdb/datastore.rs:57-60"""
        return self._v.count()

    def edge_count(self) -> int:
        """rdb/datastore.rs:102-105"""
        return self._e.count()

    # ------------------------------------------------------------ indexing

    def index_property(self, name: str):
        """Declare + 'backfill' an index (rdb/datastore.rs:312-340).
        Spark scans + pushdown make this a registry entry only."""
        self._indexed.add(name)
        return self

    def is_indexed(self, name: str) -> bool:
        return name in self._indexed

    # ------------------------------------------------------------ KV store

    @serialized
    def kv_insert(self, key: str, value: str):
        """storage_engine.rs:1233-1239 insert; last-writer-wins."""
        new = local_df(self.spark, [(key, value)], "key string, value string")
        merged = self._kv.filter(F.col("key") != key).unionByName(new)
        return self.set_state(kv=merged)

    def kv_retrieve(self, key: str) -> str | None:
        rows = self._kv.filter(F.col("key") == key).select("value").collect()
        return rows[0][0] if rows else None

    @serialized
    def kv_delete(self, key: str):
        return self.set_state(kv=self._kv.filter(F.col("key") != key))

    def kv_flush(self):
        """flush is a commit no-op on immutable state."""
        return self

    def clear_data(self):
        """inmemory_storage.rs:88-96"""
        return self.set_state(
            vertices=empty_vertices(self.spark),
            edges=empty_edges(self.spark),
            kv=local_df(self.spark, [], "key string, value string"),
        )


__all__ = ["GraphSession", "build_spark", "NotIndexedError"]
