"""Mutations (DML) over the immutable DataFrame state — SURVEY.md §2.8.

The reference mutates KV stores in place; we produce new DataFrames and
swap them into the GraphSession (read-your-writes). Each op mirrors the
reference's semantics, including validation and cascades:

- create_vertex: fails if id exists (rdb/datastore.rs:261-270)
- create_edge: endpoint-validated FK-style (rdb/datastore.rs:272-281);
  upserts the (src, type, dst) edge — at most one edge per triple
  (storage_utils.rs:54 key layout)
- delete_vertex: cascades to properties and incident edges in BOTH
  directions (rdb/managers.rs:119-159) — Cypher DETACH DELETE
- delete(query): delete whatever a query selects; invalid on Count
  (tests/vertex.rs:150-178, :190-194)
- set_properties(q, name, value) (rdb/datastore.rs:342-362)
- bulk_insert: skips validation — redundant vertices and dangling
  edges are allowed (rdb/datastore.rs:285-310, tests/bulk_insert.rs:79-98)

At scale these map to Delta MERGE/anti-join compaction; here they are
pure DataFrame unions/anti-joins, which is also exactly what a Delta
writer would shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphdb_spark import algebra as A
from graphdb_spark.datamodel import (
    local_df,
    normalize_properties,
    stringify_value,
)
from graphdb_spark.session import GraphSession, serialized


class VertexExistsError(ValueError):
    """create_vertex on an existing id returns false in the reference."""


class InvalidEdgeError(ValueError):
    """create_edge with a missing endpoint (Error::VertexNotFound)."""


def _vrow(spark, vid, label, props):
    return local_df(spark, 
        [(vid, label, normalize_properties(props))],
        "id string, label string, properties map<string,string>",
    )


def _erow(spark, src, rel, dst, props):
    return local_df(spark, 
        [(src, rel, dst, normalize_properties(props))],
        "src string, relationship string, dst string, properties map<string,string>",
    )


@serialized
def create_vertex(g: GraphSession, vid: str, label: str,
                  props: dict | None = None) -> GraphSession:
    if g.vertices.filter(F.col("id") == vid).limit(1).count() > 0:
        raise VertexExistsError(f"vertex {vid!r} already exists")
    # pure row-add: a union, no anti-join against state
    return g.append_state(vertices=_vrow(g.spark, vid, label, props))


@serialized
def update_vertex(g: GraphSession, vid: str, label: str,
                  props: dict | None = None) -> GraphSession:
    """Upsert (inmemory_storage.rs:144-148): replace the whole row."""
    kept = g.vertices.filter(F.col("id") != vid)
    return g.set_state(vertices=kept.unionByName(_vrow(g.spark, vid, label, props)))


@serialized
def create_edge(g: GraphSession, src: str, rel: str, dst: str,
                props: dict | None = None, validate: bool = True) -> GraphSession:
    if validate:
        found = (
            g.vertices.filter(F.col("id").isin([src, dst]))
            .select("id").distinct().count()
        )
        expected = 1 if src == dst else 2
        if found < expected:
            raise InvalidEdgeError(f"missing endpoint for ({src})-[{rel}]->({dst})")
    kept = g.edges.filter(
        ~((F.col("src") == src) & (F.col("relationship") == rel) & (F.col("dst") == dst))
    )
    g = g.set_state(edges=kept.unionByName(_erow(g.spark, src, rel, dst, props)))
    if not validate:
        # like bulk_insert: the endpoint check was skipped, so this
        # state may hold a dangling edge — the Cypher planner must stop
        # eliding anonymous-endpoint existence joins for it
        g.integrity_validated = False
    return g


@serialized
def delete_vertices(g: GraphSession, ids_df: DataFrame) -> GraphSession:
    """Cascade delete: vertices + incident edges both directions
    (rdb/managers.rs:119-159 / DETACH DELETE)."""
    ids = ids_df.select(F.col(ids_df.columns[0]).alias("id")).distinct()
    v = g.vertices.join(ids, "id", "left_anti")
    e = (
        g.edges.join(ids.withColumnRenamed("id", "src"), "src", "left_anti")
        .join(ids.withColumnRenamed("id", "dst"), "dst", "left_anti")
        .select("src", "relationship", "dst", "properties")
    )
    return g.set_state(vertices=v, edges=e)


@serialized
def delete_edges(g: GraphSession, edges_df: DataFrame) -> GraphSession:
    keys = edges_df.select("src", "relationship", "dst").distinct()
    e = g.edges.join(keys, ["src", "relationship", "dst"], "left_anti")
    return g.set_state(edges=e)


@serialized
def delete(g: GraphSession, q: A.Query) -> GraphSession:
    """delete(Query) — evaluate, then anti-join the base tables.
    Deleting a Count (or property output) raises like the reference
    (Error::OperationOnQuery, tests/vertex.rs:190-194)."""
    kind = q.output_type()
    if kind == A.OutputType.VERTICES:
        return delete_vertices(g, g.df(q).select("id"))
    if kind == A.OutputType.EDGES:
        return delete_edges(g, g.df(q))
    raise A.OperationOnQueryError(f"cannot delete a {kind.value} query")


def _patch_expr(name: str, sval: str):
    return F.map_concat(
        F.map_filter(
            F.coalesce(F.col("properties"), F.create_map().cast("map<string,string>")),
            lambda k, _: k != F.lit(name),
        ),
        F.create_map(F.lit(name), F.lit(sval)),
    )


@serialized
def set_vertex_properties_df(g: GraphSession, ids_df: DataFrame,
                             name: str, value) -> GraphSession:
    """DataFrame-first SET: mark matched ids via join (never a driver
    collect / isin literal — the match may be 10^8 rows at scale)."""
    patch = _patch_expr(name, stringify_value(value))
    ids = ids_df.select(F.col(ids_df.columns[0]).alias("id")).distinct()
    marked = g.vertices.join(ids.withColumn("__hit", F.lit(True)), "id", "left")
    v = marked.withColumn(
        "properties", F.when(F.col("__hit"), patch).otherwise(F.col("properties"))
    ).drop("__hit")
    return g.set_state(vertices=v)


@serialized
def set_edge_properties_df(g: GraphSession, keys_df: DataFrame,
                           name: str, value) -> GraphSession:
    patch = _patch_expr(name, stringify_value(value))
    keys = keys_df.select("src", "relationship", "dst").distinct().withColumn(
        "__hit", F.lit(True)
    )
    marked = g.edges.join(keys, ["src", "relationship", "dst"], "left")
    e = marked.withColumn(
        "properties", F.when(F.col("__hit"), patch).otherwise(F.col("properties"))
    ).drop("__hit")
    return g.set_state(edges=e)


@serialized
def set_properties(g: GraphSession, q: A.Query, name: str, value) -> GraphSession:
    """Set one property on everything the query selects
    (rdb/datastore.rs:342-362)."""
    kind = q.output_type()
    if kind == A.OutputType.VERTICES:
        return set_vertex_properties_df(g, g.df(q).select("id"), name, value)
    if kind == A.OutputType.EDGES:
        return set_edge_properties_df(g, g.df(q), name, value)
    raise A.OperationOnQueryError(f"cannot set properties on a {kind.value} query")


@serialized
def remove_vertex_property_df(g: GraphSession, ids_df: DataFrame,
                              name: str) -> GraphSession:
    strip = F.map_filter(F.col("properties"), lambda k, _: k != F.lit(name))
    ids = ids_df.select(F.col(ids_df.columns[0]).alias("id")).distinct()
    marked = g.vertices.join(ids.withColumn("__hit", F.lit(True)), "id", "left")
    v = marked.withColumn(
        "properties", F.when(F.col("__hit"), strip).otherwise(F.col("properties"))
    ).drop("__hit")
    return g.set_state(vertices=v)


@serialized
def remove_edge_property_df(g: GraphSession, keys_df: DataFrame,
                            name: str) -> GraphSession:
    strip = F.map_filter(F.col("properties"), lambda k, _: k != F.lit(name))
    keys = keys_df.select("src", "relationship", "dst").distinct().withColumn(
        "__hit", F.lit(True)
    )
    marked = g.edges.join(keys, ["src", "relationship", "dst"], "left")
    e = marked.withColumn(
        "properties", F.when(F.col("__hit"), strip).otherwise(F.col("properties"))
    ).drop("__hit")
    return g.set_state(edges=e)


@serialized
def remove_property(g: GraphSession, q: A.Query, name: str) -> GraphSession:
    """REMOVE n.prop (queries_examples.txt:140-143)."""
    kind = q.output_type()
    if kind == A.OutputType.VERTICES:
        return remove_vertex_property_df(g, g.df(q).select("id"), name)
    if kind == A.OutputType.EDGES:
        return remove_edge_property_df(g, g.df(q), name)
    raise A.OperationOnQueryError(f"cannot remove properties on a {kind.value} query")


@serialized
def bulk_insert(g: GraphSession, vertices: list[tuple] | None = None,
                edges: list[tuple] | None = None) -> GraphSession:
    """Batched, validation-skipping insert (rdb/datastore.rs:285-310):
    duplicate vertices and dangling edges are allowed, matching
    tests/bulk_insert.rs:79-98. vertices: (id, label, props);
    edges: (src, rel, dst, props)."""
    dv = de = None
    if vertices:
        rows = [(i, l, normalize_properties(p)) for i, l, p in vertices]
        dv = local_df(
            g.spark, rows,
            "id string, label string, properties map<string,string>",
        )
    if edges:
        rows = [(s, r, d, normalize_properties(p)) for s, r, d, p in edges]
        de = local_df(
            g.spark, rows,
            "src string, relationship string, dst string, "
            "properties map<string,string>",
        )
    # pure row-add: a union, no anti-join against state
    g = g.append_state(vertices=dv, edges=de)
    # validation was skipped: the graph may now hold dangling
    # edges, so the Cypher planner must stop eliding anonymous-
    # endpoint existence joins for this state
    g.integrity_validated = False
    return g
