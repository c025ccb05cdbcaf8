"""Partitioning / skew utilities — the 100 TB toolkit.

The reference never faces these problems (single-node KV); on a
1000-executor cluster they decide whether a plan finishes:

- ``salted_join``: explicit salt for joins whose key distribution is
  too skewed even for AQE's skew-join splitting (a hot vertex with
  10^8 edges). The small side is replicated salt-ways; the big side
  gets a random-but-deterministic salt per row.
- ``write_bucketed``: co-located joins via bucket tables — repeated
  joins on the same key between tables bucketed the same way skip
  their shuffle entirely.
- ``write_adjacency``: the same co-location for the resident graph,
  held in Spark's cache — vertices on id, edges on src and on dst.
- ``degree_stats``: measure graph skew so the caller can pick
  salting factors from data, not guesswork.
- ``repartition_by_key``: hash-distribute with a sane partition count
  derived from AQE advisory sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def degree_stats(edges: DataFrame, key: str = "src") -> dict:
    """Degree distribution summary for skew diagnosis."""
    deg = edges.groupBy(key).agg(F.count(F.lit(1)).alias("degree"))
    row = deg.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("degree").alias("max_degree"),
        F.avg("degree").alias("avg_degree"),
        F.expr("percentile_approx(degree, 0.99)").alias("p99_degree"),
    ).collect()[0]
    return {
        "n_keys": row["n_keys"],
        "max_degree": row["max_degree"],
        "avg_degree": float(row["avg_degree"]),
        "p99_degree": row["p99_degree"],
        "skew_ratio": float(row["max_degree"]) / max(float(row["avg_degree"]), 1e-9),
    }


def salted_join(big: DataFrame, small: DataFrame, key: str,
                salt: int = 8, how: str = "inner") -> DataFrame:
    """Join with explicit key salting.

    big gets a deterministic pseudo-random salt per row (hash of all
    columns mod salt — no Date/rand, so plans stay reproducible);
    small is exploded salt-ways. Correct for 1:N joins where ``small``
    has unique keys (the dimension side); result columns = big ∪
    (small minus key).
    """
    salt_col = F.pmod(F.hash(*[F.col(c) for c in big.columns]), F.lit(salt))
    big_s = big.withColumn("__salt", salt_col)
    small_s = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    out = big_s.join(small_s, on=[key, "__salt"], how=how)
    return out.drop("__salt")


def repartition_by_key(df: DataFrame, key: str,
                       target_rows_per_partition: int = 1_000_000) -> DataFrame:
    """Hash-distribute by key with a partition count sized from an
    (approximate) row count — the knob that keeps shuffle partitions
    within executor memory at any SF."""
    n = df.count()
    parts = max(1, n // target_rows_per_partition)
    default_par = df.sparkSession.sparkContext.defaultParallelism
    parts = max(parts, min(default_par, 32))
    return df.repartition(int(parts), key)


def write_bucketed(df: DataFrame, table: str, key: str, buckets: int = 32,
                   sort_by: str | None = None):
    """Persist as a bucketed table: joins/aggregations on ``key``
    between tables bucketed the same way skip their shuffle (Spark
    bucket join). This is how the vertices/edges tables should be laid
    out at 100 TB (bucket edges by src, vertices by id)."""
    w = df.write.mode("overwrite").format("parquet").bucketBy(buckets, key)
    if sort_by:
        w = w.sortBy(sort_by)
    w.saveAsTable(table)


def write_adjacency(vertices: DataFrame, edges: DataFrame
                    ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Dual in-memory adjacency layout — the Spark twin of the
    reference's forward + reversed edge indexes
    (lib/src/rdb/managers.rs:233-240: EdgeRangeManager keyed by
    outbound id, EdgeRangeManager::new_reversed by inbound id) and its
    id-keyed vertex store.

    Returns ``(v, e_out, e_in)``: vertices on ``id``, edges on ``src``
    (forward) and edges on ``dst`` (reversed), each hash-partitioned
    into ``defaultParallelism`` partitions on its key, sorted within
    each partition on it, and cached. The cached relation reports
    that partitioning and order, so a non-broadcast hop ``edges ⋈
    frontier`` on src (OUT) or dst (IN) shuffles only the frontier,
    with no exchange or sort on the edge side, and ``groupBy(src)``
    plans no exchange at query time — the co-partitioning an
    iterative join relies on to move only its small side. Keeping
    edges twice doubles their cache, the same trade the reference
    makes with its two edge-range column families.

    The caches are filled here, not at first use: until a cached
    relation is filled the planner does not know its partitioning,
    so a query planned before then would shuffle both join sides."""
    n = vertices.sparkSession.sparkContext.defaultParallelism
    frames = tuple(
        df.repartition(n, key).sortWithinPartitions(key).cache()
        for df, key in ((vertices, "id"), (edges, "src"), (edges, "dst"))
    )
    for df in frames:
        df.count()
    return frames


def write_partitioned(df: DataFrame, path: str, *cols: str):
    """Persist hive-style directory-partitioned parquet
    (``path/col=value/...``). At 100 TB this is the first line of
    defense: a filter on a partition column prunes entire directories
    BEFORE any IO is scheduled (visible as ``PartitionFilters`` on the
    scan node), which no row-group statistic can match. Partition by
    low-cardinality, always-filtered columns (date, event_type,
    source); never by high-cardinality keys (small-file explosion)."""
    df.write.mode("overwrite").partitionBy(*cols).parquet(path)
