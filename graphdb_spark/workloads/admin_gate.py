"""Driver-gate coverage for the DML / KV / admin / ingest surfaces.

These operator families were pytest-only through round 2 (VERDICT r2
marks components 9-12, 17, 25, 41, 43, 49-59, 66-68 as "tested", not
driver-oracle "pass").  Each constituent here drives the REAL engine
APIs — ``operators.mutations``, ``GraphSession`` KV/index/clear,
``sources.readers``, ``functions`` codecs/plugins, the piped algebra —
and emits a deterministic DataFrame a DuckDB twin can replay, so the
driver's (rows, schema, value-hash) compare certifies them.

Reference semantics exercised (file:line cites):

- create_vertex exists-check            rdb/datastore.rs:261-270
- create_edge endpoint validation       rdb/datastore.rs:272-281
- update (whole-row upsert)             inmemory_storage.rs:144-148
- delete-vertex cascade both directions rdb/managers.rs:119-159
- delete(Query) invalid on Count        tests/vertex.rs:190-194
- set/remove property by query          rdb/datastore.rs:342-362
- bulk_insert skips validation          rdb/datastore.rs:285-310
- KV insert/retrieve/delete/flush LWW   storage_engine.rs:1233-1239
- index_property + strict NotIndexed    rdb/datastore.rs:82-100,312-340
- clear_data                            inmemory_storage.rs:88-96
- snapshot export/import                durability/snapshot.rs:33-62
- CSV/JSON ingest                       (bulk loaders, README ingest)
- FHIR/HL7 codecs + plugin host         proto/src/server.rs:118-123
- piped value filter ± / Include        queries.rs:590-654

Scale notes: the mutation script runs on a ~30-vertex toy graph by
design (DML micro-ops are validated for *semantics* here; the bulk
path is benched separately via bench_bulk_load).  Everything stays in
DataFrame ops — anti-join deletes, map_concat property patches — the
exact shapes a Delta MERGE would shuffle at 100 TB.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from graphdb_spark import algebra as A
from graphdb_spark.datamodel import local_df
from graphdb_spark.operators import mutations as M
from graphdb_spark.session import GraphSession
from graphdb_spark.sources.tpch import load_tables
from graphdb_spark.translator import NotIndexedError
from graphdb_spark.workloads import graph as _graph

def _propstr():
    """properties map -> deterministic 'k=v,k=v' (sorted) string.
    Built lazily: lambda higher-order functions need an active session."""
    return F.coalesce(
        F.array_join(
            F.array_sort(
                F.transform(
                    F.map_entries("properties"),
                    lambda e: F.concat_ws("=", e["key"], e["value"]),
                )
            ),
            ",",
        ),
        F.lit(""),
    )


def _restore_f6_views(spark, sf_dir):
    """GraphSession() re-points the session-global vertices/edges temp
    views; restore the cached F6 session's views for later queries."""
    from graphdb_spark.workloads.graph import _GRAPH_CACHE  # noqa: PLC0415

    cached = _GRAPH_CACHE.get((id(spark.sparkContext), sf_dir))
    if cached is not None:
        cached._register_views()


def _toy_graph(spark, sf_dir) -> GraphSession:
    """nation/region as a toy graph: n_<key> -[IN_REGION]-> r_<key>."""
    t = load_tables(spark, sf_dir)
    nv = t["nation"].select(
        F.concat(F.lit("n_"), F.col("n_nationkey").cast("string")).alias("id"),
        F.lit("nation").alias("label"),
        F.create_map(F.lit("name"), F.col("n_name")).alias("properties"),
    )
    rv = t["region"].select(
        F.concat(F.lit("r_"), F.col("r_regionkey").cast("string")).alias("id"),
        F.lit("region").alias("label"),
        F.create_map(F.lit("name"), F.col("r_name")).alias("properties"),
    )
    e = t["nation"].select(
        F.concat(F.lit("n_"), F.col("n_nationkey").cast("string")).alias("src"),
        F.lit("IN_REGION").alias("relationship"),
        F.concat(F.lit("r_"), F.col("n_regionkey").cast("string")).alias("dst"),
        F.create_map().cast("map<string,string>").alias("properties"),
    )
    return GraphSession(spark, nv.unionByName(rv), e)


_MUTATED: dict = {}


def _mutated_graph(spark, sf_dir) -> GraphSession:
    """The fixed DML script, memoized per (session, sf_dir): every
    mutation operator applied once, deterministically."""
    key = (id(spark.sparkContext), sf_dir)
    if key in _MUTATED:
        _restore_f6_views(spark, sf_dir)
        return _MUTATED[key]
    g = _toy_graph(spark, sf_dir)
    # bulk path: validation skipped — duplicate-free here, one dangling
    # edge to zz_9 which MUST survive (rdb/datastore.rs:285-310)
    g = M.bulk_insert(
        g,
        vertices=[(f"m_{i}", "mut", {"seq": str(i)}) for i in range(3)],
        edges=[
            ("m_0", "MREL", "m_1", {}),
            ("m_1", "MREL", "m_2", {}),
            ("m_0", "MREL", "zz_9", {}),
        ],
    )
    g = M.create_vertex(g, "m_new", "mut", {"k": "1"})
    g = M.create_edge(g, "m_new", "MREL", "m_0")          # validated
    g = M.update_vertex(g, "m_1", "mut2", {"u": "2"})     # whole-row upsert
    # label-filtered SET hits m_0/m_2/m_new (m_1 is 'mut2' by now)
    g = M.set_properties(g, A.RangeVertex(t="mut"), "flag", "y")
    g = M.remove_property(g, A.SpecificVertex(ids=("m_0",)), "seq")
    # delete(Query): property-equality match, cascades the IN_REGION edge
    g = M.delete(g, A.VertexWithPropertyValue(name="name", value="NATION_7"))
    g = M.delete_vertices(g, local_df(spark, [("m_2",)], "id string"))
    g = M.delete_edges(
        g,
        local_df(
            spark, [("m_0", "MREL", "m_1")],
            "src string, relationship string, dst string",
        ),
    )
    _MUTATED[key] = g
    _restore_f6_views(spark, sf_dir)
    return g


def mut_graph_final(spark, sf_dir):
    g = _mutated_graph(spark, sf_dir)
    out = g.vertices.select("id", "label", _propstr().alias("propstr"))
    _restore_f6_views(spark, sf_dir)
    return out


MUT_GRAPH_FINAL_SQL = """
SELECT 'n_' || CAST(n_nationkey AS VARCHAR) AS id, 'nation' AS label,
       'name=' || n_name AS propstr
FROM nation WHERE n_name <> 'NATION_7'
UNION ALL
SELECT 'r_' || CAST(r_regionkey AS VARCHAR), 'region', 'name=' || r_name
FROM region
UNION ALL
SELECT * FROM (VALUES
  ('m_0', 'mut', 'flag=y'),
  ('m_1', 'mut2', 'u=2'),
  ('m_new', 'mut', 'flag=y,k=1')
) AS t(id, label, propstr)
"""


def mut_counts(spark, sf_dir):
    g = _mutated_graph(spark, sf_dir)
    v = g.vertices.agg(F.count("*").alias("n")).select(
        F.lit("vertices_total").alias("what"), "n"
    )
    e = g.edges.groupBy(
        F.concat(F.lit("edges_"), F.col("relationship")).alias("what")
    ).agg(F.count("*").alias("n"))
    tot = g.edges.agg(F.count("*").alias("n")).select(
        F.lit("edges_total").alias("what"), "n"
    )
    out = v.unionByName(e).unionByName(tot)
    _restore_f6_views(spark, sf_dir)
    return out


MUT_COUNTS_SQL = """
SELECT 'vertices_total' AS what,
       (SELECT COUNT(*) FROM nation WHERE n_name <> 'NATION_7')
         + (SELECT COUNT(*) FROM region) + 3 AS n
UNION ALL
SELECT 'edges_IN_REGION',
       (SELECT COUNT(*) FROM nation WHERE n_name <> 'NATION_7')
UNION ALL
SELECT 'edges_MREL', 2
UNION ALL
SELECT 'edges_total',
       (SELECT COUNT(*) FROM nation WHERE n_name <> 'NATION_7') + 2
"""


def mut_checks(spark, sf_dir):
    """Error-path + KV/index/clear/dedup contracts, each reduced to a
    (check, ok) row computed by ACTUALLY driving the API."""
    g = _mutated_graph(spark, sf_dir)
    rows: list[tuple[str, int]] = []

    def check(name: str, fn) -> None:
        try:
            rows.append((name, 1 if fn() else 0))
        except Exception:  # noqa: BLE001 — a crash is a failed contract
            rows.append((name, 0))

    def raises(exc):
        def deco(fn):
            def run():
                try:
                    fn()
                except exc:
                    return True
                return False
            return run
        return deco

    @raises(M.VertexExistsError)
    def dup_vertex():
        M.create_vertex(g, "m_0", "mut")

    @raises(M.InvalidEdgeError)
    def bad_edge():
        M.create_edge(g, "m_0", "MREL", "nope_1")

    @raises(A.OperationOnQueryError)
    def delete_count():
        M.delete(g, A.AllVertex().count())

    @raises(A.OperationOnQueryError)
    def set_count():
        M.set_properties(g, A.AllVertex().count(), "x", "y")

    @raises(A.OperationOnQueryError)
    def pipe_count():
        A.AllVertex().count().outbound()

    @raises(NotIndexedError)
    def strict_unindexed():
        strict = GraphSession(spark, strict_indexing=True)
        strict.df(A.VertexWithPropertyPresence(name="x"))

    check("dup_vertex_rejected", dup_vertex)
    check("invalid_edge_rejected", bad_edge)
    check("delete_count_rejected", delete_count)
    check("set_count_rejected", set_count)
    check("pipe_count_rejected", pipe_count)
    check("strict_not_indexed", strict_unindexed)

    def kv_roundtrip():
        s = g.kv_insert("a", "1").kv_insert("b", "2").kv_insert("a", "3")
        s = s.kv_delete("b").kv_flush()
        return s.kv_retrieve("a") == "3" and s.kv_retrieve("b") is None

    def index_registry():
        s = GraphSession(spark)
        before = s.is_indexed("p")
        s.index_property("p")
        return (not before) and s.is_indexed("p")

    def clear_empties():
        s = _toy_graph(spark, sf_dir).clear_data()
        return s.vertex_count() == 0 and s.edge_count() == 0

    def dedup_on_ingest():
        v = local_df(
            spark,
            [("a", "l", {}), ("a", "l", {}), ("b", "l", {})],
            "id string, label string, properties map<string,string>",
        )
        e = local_df(
            spark,
            [("a", "r", "b", {}), ("a", "r", "b", {}), ("a", "r", "zz", {})],
            "src string, relationship string, dst string, "
            "properties map<string,string>",
        )
        s = GraphSession.from_dataframes(spark, v, e, validate=True)
        return s.vertex_count() == 2 and s.edge_count() == 1

    check("kv_roundtrip_lww", kv_roundtrip)
    check("index_registry", index_registry)
    check("clear_data_empties", clear_empties)
    check("dedup_on_ingest", dedup_on_ingest)

    out = local_df(spark, rows, "chk string, ok bigint")
    _restore_f6_views(spark, sf_dir)
    return out


MUT_CHECKS_SQL = """
SELECT * FROM (VALUES
  ('dup_vertex_rejected', CAST(1 AS BIGINT)),
  ('invalid_edge_rejected', 1),
  ('delete_count_rejected', 1),
  ('set_count_rejected', 1),
  ('pipe_count_rejected', 1),
  ('strict_not_indexed', 1),
  ('kv_roundtrip_lww', 1),
  ('index_registry', 1),
  ('clear_data_empties', 1),
  ('dedup_on_ingest', 1)
) AS t(chk, ok)
"""


# ---------------------------------------------------------------- ingest


_INGEST_DIR = "/tmp/graphdb_gate_ingest"

_CSV_ROWS = [(101, "ada", 9.5), (102, "bob", 7.25), (103, "cyd", 8.0)]
_JSON_ROWS = [(201, "dee"), (202, "eli")]


def ingest_csv_json(spark, sf_dir):
    """CSV + JSON vertex ingest through sources.readers (the reference's
    bulk loaders); files written deterministically then read back."""
    from graphdb_spark.sources import readers  # noqa: PLC0415

    os.makedirs(_INGEST_DIR, exist_ok=True)
    csv_path = f"{_INGEST_DIR}/people.csv"
    json_path = f"{_INGEST_DIR}/accounts.jsonl"
    with open(csv_path, "w") as f:
        f.write("pid,name,score\n")
        for pid, name, score in _CSV_ROWS:
            f.write(f"{pid},{name},{score}\n")
    with open(json_path, "w") as f:
        for pid, name in _JSON_ROWS:
            f.write(json.dumps({"pid": pid, "name": name}) + "\n")
    csv_v = readers.read_csv_vertices(spark, csv_path, id_col="pid",
                                      label="person")
    json_v = readers.read_json_vertices(spark, json_path, id_col="pid",
                                        label="account")
    return (
        csv_v.unionByName(json_v)
        .select("id", "label", F.col("properties")["name"].alias("name"))
    )


INGEST_CSV_JSON_SQL = """
SELECT * FROM (VALUES
  ('101', 'person', 'ada'), ('102', 'person', 'bob'),
  ('103', 'person', 'cyd'),
  ('201', 'account', 'dee'), ('202', 'account', 'eli')
) AS t(id, label, name)
"""


def snapshot_roundtrip(spark, sf_dir):
    """snapshot_export → snapshot_import round-trip (snapshot.rs:33-62 /
    :91-115) on the toy graph; output proves the round-trip is lossless."""
    from graphdb_spark.sources import readers  # noqa: PLC0415

    g = _toy_graph(spark, sf_dir)
    path = "/tmp/graphdb_gate_snap"
    readers.snapshot_export(g.vertices, g.edges, path)
    v, e = readers.snapshot_import(spark, path)
    deg = e.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("out_deg")
    )
    return (
        v.join(deg, "id", "left")
        .select(
            "id", "label",
            F.coalesce("out_deg", F.lit(0)).cast("bigint").alias("out_deg"),
        )
    )


SNAPSHOT_ROUNDTRIP_SQL = """
SELECT 'n_' || CAST(n_nationkey AS VARCHAR) AS id, 'nation' AS label,
       CAST(1 AS BIGINT) AS out_deg
FROM nation
UNION ALL
SELECT 'r_' || CAST(r_regionkey AS VARCHAR), 'region', 0 FROM region
"""


_FHIR_DOCS = [
    '{"resourceType": "Patient", "id": "p1", "name": [{"family": "Ng", '
    '"given": ["Ada", "Q"]}], "gender": "female", "birthDate": "1990-02-03"}',
    '{"resourceType": "Patient", "id": "p2", "name": [{"family": "Ortiz", '
    '"given": ["Bo"]}], "gender": "male", "birthDate": "1985-11-30"}',
    '{"resourceType": "Observation", "id": "o1"}',
]


def fhir_patients(spark, sf_dir):
    """FHIR Patient codec (README.md:365-372): schema-on-read from_json;
    the non-Patient resource must be filtered out."""
    from graphdb_spark.functions import parse_fhir_patients  # noqa: PLC0415

    df = local_df(spark, [(s,) for s in _FHIR_DOCS], "json string")
    out = parse_fhir_patients(df)
    return out.select(
        "patient_id", "family_name", "given_names", "gender",
        F.col("birth_date").cast("string").alias("birth_date"),
    )


FHIR_PATIENTS_SQL = """
SELECT * FROM (VALUES
  ('p1', 'Ng', 'Ada Q', 'female', '1990-02-03'),
  ('p2', 'Ortiz', 'Bo', 'male', '1985-11-30')
) AS t(patient_id, family_name, given_names, gender, birth_date)
"""


_HL7_MSG = (
    "MSH|^~\\&|SEND|FAC|RCV|FAC2|20240101||ADT^A01|123|P|2.5\n"
    "PID|1||12345^^^MRN||DOE^JOHN||19800101|M\n"
    "PV1|1|I|WARD^ROOM^BED"
)


def hl7_segments(spark, sf_dir):
    """HL7v2 codec: split/explode into typed segments — no UDF."""
    from graphdb_spark.functions import parse_hl7_segments  # noqa: PLC0415

    df = local_df(spark, [(_HL7_MSG,)], "message string")
    out = parse_hl7_segments(df)
    return out.select(
        "segment_type",
        F.size("fields").cast("bigint").alias("n_fields"),
        F.get("fields", 5).alias("f5"),  # NULL past end (ANSI-safe)
    )


HL7_SEGMENTS_SQL = """
SELECT * FROM (VALUES
  ('MSH', CAST(12 AS BIGINT), 'FAC2'),
  ('PID', 9, 'DOE^JOHN'),
  ('PV1', 4, NULL)
) AS t(segment_type, n_fields, f5)
"""


def plugin_exec(spark, sf_dir):
    """ExecutePlugin equivalent (proto/src/server.rs:118-123): register
    a DataFrame-producing plugin, dispatch by name, list the registry."""
    from graphdb_spark import functions as gfn  # noqa: PLC0415

    def nation_count_by_region(spark_, arg):
        t = load_tables(spark_, arg["sf_dir"])
        return (
            t["nation"].groupBy(F.col("n_regionkey").alias("regionkey"))
            .agg(F.count("*").alias("nations"))
        )

    gfn.register_plugin("nation_count_by_region", nation_count_by_region)
    assert "nation_count_by_region" in gfn.list_plugins()
    return gfn.execute_plugin(
        spark, "nation_count_by_region", {"sf_dir": sf_dir}
    )


PLUGIN_EXEC_SQL = """
SELECT n_regionkey AS regionkey, CAST(COUNT(*) AS BIGINT) AS nations
FROM nation GROUP BY n_regionkey
"""


def sql_registry_funcs(spark, sf_dir):
    """Engine SQL function registry (VERDICT r3 item 2 — component
    #49): ``register_sql_functions`` publishes gs_h64 / gs_norm_text /
    gs_fingerprint / gs_token_count as Spark SQL temp functions; this
    constituent exercises ALL FOUR **through spark.sql** (the path a
    SQL user takes), over the documents table.  The DuckDB twin
    re-expresses each function portably (the h64 trick from NOTES:
    hex-prefix md5 → BIGINT is bit-identical cross-engine), so the
    registry can never silently rot."""
    from graphdb_spark import functions as gfn  # noqa: PLC0415

    gfn.register_sql_functions(spark)
    load_tables(spark, sf_dir)["documents"].createOrReplaceTempView(
        "gs_docs"
    )
    return spark.sql("""
        SELECT doc_id,
               gs_h64(text) AS h64,
               gs_fingerprint(text) AS fp,
               gs_token_count(text) AS n_toks,
               length(gs_norm_text(text)) AS norm_len
        FROM gs_docs
    """)


SQL_REGISTRY_SQL = r"""
WITH norm AS (
  SELECT doc_id, text,
         regexp_replace(regexp_replace(lower(trim(text)),
           '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g') AS ntext
  FROM documents
)
SELECT doc_id,
  CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) AS h64,
  CAST(('0x' || substr(md5(ntext), 1, 8)) AS BIGINT) AS fp,
  CAST(length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_toks,
  CAST(length(ntext) AS INT) AS norm_len
FROM norm
"""


# ---------------------------------------------------------------- algebra


def pipe_value_filter(spark, sf_dir):
    """Piped value filter ± on the F6 graph (queries.rs:590-635):
    equal keeps matches; not-equal keeps rows whose property EXISTS and
    differs (reference drops property-less rows — the index scan only
    yields rows with the property)."""
    from graphdb_spark.workloads.graph import graph_session  # noqa: PLC0415

    g = graph_session(spark, sf_dir)
    eq = A.RangeVertex(t="part").with_property_equal_to("brand", "Brand#13")
    ids = tuple(f"p_{i}" for i in range(1, 21))
    ne = A.SpecificVertex(ids=ids).with_property_not_equal_to(
        "brand", "Brand#13"
    )
    return (
        g.df(eq).select(F.lit("eq").alias("mode"), "id")
        .unionByName(g.df(ne).select(F.lit("ne").alias("mode"), "id"))
    )


PIPE_VALUE_FILTER_SQL = """
SELECT 'eq' AS mode, 'p_' || CAST(p_partkey AS VARCHAR) AS id
FROM part WHERE p_brand = 'Brand#13'
UNION ALL
SELECT 'ne', 'p_' || CAST(p_partkey AS VARCHAR)
FROM part WHERE p_partkey BETWEEN 1 AND 20 AND p_brand <> 'Brand#13'
"""


def include_two_stage(spark, sf_dir):
    """IncludeQuery multi-output (queries.rs:638-654, semantics
    include_query.rs:7-32): inner stage emitted ALONGSIDE downstream.
    g.get returns both stages; union with a stage ordinal."""
    from graphdb_spark.workloads.graph import graph_session  # noqa: PLC0415

    g = graph_session(spark, sf_dir)
    q = A.SpecificVertex(ids=("c_1", "c_2", "c_7")).include().outbound(
        t="PLACED"
    )
    outs = g.get(q)
    assert len(outs) == 2 and q.output_len() == 2
    stage_v = outs[0].df.select(
        F.lit(0).cast("bigint").alias("stage"),
        F.col("id").alias("a"),
        F.col("label").alias("b"),
    )
    stage_e = outs[1].df.select(
        F.lit(1).cast("bigint").alias("stage"),
        F.col("src").alias("a"),
        F.col("dst").alias("b"),
    )
    return stage_v.unionByName(stage_e)


INCLUDE_TWO_STAGE_SQL = """
SELECT CAST(0 AS BIGINT) AS stage, 'c_' || CAST(c_custkey AS VARCHAR) AS a,
       'customer' AS b
FROM customer WHERE c_custkey IN (1, 2, 7)
UNION ALL
SELECT 1, 'c_' || CAST(o_custkey AS VARCHAR), 'o_' || CAST(o_orderkey AS VARCHAR)
FROM orders WHERE o_custkey IN (1, 2, 7)
"""


def agg_messages_degree(spark, sf_dir):
    """GraphFrames-style aggregateMessages (north-star analytics
    surface): msg 1 to every edge dst, summed per receiver == in-degree.
    Two equi-joins (vertex structs attach; AQE broadcasts the vertex
    side at gate SFs) + one grouped agg — GraphX's shuffle profile."""
    from graphdb_spark.operators.analytics import aggregate_messages  # noqa: PLC0415
    from graphdb_spark.workloads.graph import graph_session  # noqa: PLC0415

    g = graph_session(spark, sf_dir)
    out = aggregate_messages(
        g.vertices, g.edges,
        agg=F.sum("msg").cast("bigint").alias("indeg"),
        msg_to_dst=F.lit(1),
    )
    return out.select("id", "indeg")


AGG_MESSAGES_DEGREE_SQL = """
SELECT 'o_' || CAST(o_orderkey AS VARCHAR) AS id, CAST(1 AS BIGINT) AS indeg
FROM orders
UNION ALL
SELECT 'p_' || CAST(l_partkey AS VARCHAR),
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT)
FROM lineitem GROUP BY l_partkey
"""


def all_shortest_f6(spark, sf_dir):
    """allShortestPaths(c_1, p_K) on the F6 graph, K = the smallest
    partkey customer 1 ever ordered: every shortest route is one
    (PLACED, CONTAINS) chain, so n_paths = distinct orders of c_1
    containing that part — SQL-checkable. The dst lookup is a bounded
    1-row collect (min over a filtered join), not a data pull."""
    from graphdb_spark.operators.traversal import all_shortest_paths  # noqa: PLC0415
    from graphdb_spark.workloads.graph import graph_session  # noqa: PLC0415

    g = graph_session(spark, sf_dir)
    t = load_tables(spark, sf_dir)
    k = (
        t["lineitem"]
        .join(t["orders"].filter(F.col("o_custkey") == 1),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .agg(F.min("l_partkey"))
        .collect()[0][0]
    )
    paths = all_shortest_paths(g.edges, "c_1", f"p_{k}", max_depth=4)
    return paths.agg(
        F.min("hops").alias("hops"),
        F.count("*").cast("bigint").alias("n_paths"),
    )


ALL_SHORTEST_F6_SQL = """
WITH c1_parts AS (
  SELECT l_partkey, l_orderkey FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey AND o_custkey = 1
),
target AS (SELECT MIN(l_partkey) AS k FROM c1_parts)
SELECT 2 AS hops,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_paths
FROM c1_parts, target WHERE l_partkey = target.k
"""


def motif_one_hop(spark, sf_dir):
    """Motif finding ``(a)-[e]->(b)``: label-pair edge census over the
    struct-columned motif output."""
    from graphdb_spark.workloads.graph import graph_session  # noqa: PLC0415

    g = graph_session(spark, sf_dir)
    m = g.find("(a)-[e]->(b)")
    return (
        m.groupBy(
            F.col("a")["label"].alias("a_label"),
            F.col("b")["label"].alias("b_label"),
        )
        .agg(F.count("*").alias("n"))
        .orderBy("a_label", "b_label")
    )


MOTIF_ONE_HOP_SQL = """
SELECT 'customer' AS a_label, 'order' AS b_label,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders
UNION ALL
SELECT 'order', 'part',
       CAST(COUNT(*) AS BIGINT)
FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
ORDER BY a_label, b_label
"""


def g_weighted_sssp(spark, sf_dir):
    """Hop-bounded weighted shortest paths from c_1 on the F6 graph,
    undirected, 4 relaxation rounds (operators/traversal.weighted_sssp
    — Bellman-Ford with informed-broadcast frontiers). Edge weights are
    derived deterministically from the edge identity (1 + h64 % 100) so
    the DuckDB twin unrolls the same 4 relaxations exactly; integral
    weights keep min/sum arithmetic bit-equal cross-engine."""
    from graphdb_spark.operators import text as T  # noqa: PLC0415
    from graphdb_spark.operators.traversal import weighted_sssp  # noqa: PLC0415
    from graphdb_spark.workloads.graph import graph_session  # noqa: PLC0415

    g = graph_session(spark, sf_dir)
    we = g.edges.select(
        "src",
        "dst",
        (T.h64(F.concat_ws("|", "src", "dst")) % 100 + 1).alias("w"),
    )
    return weighted_sssp(we, "c_1", weight_col="w", max_hops=4,
                         direction="both")


def _weighted_sssp_sql() -> str:
    h64 = "CAST(('0x' || substr(md5({x}), 1, 8)) AS BIGINT)"
    relax = """
d{i} AS (
  SELECT id, min(dist) AS dist FROM (
    SELECT * FROM d{p}
    UNION ALL
    SELECT e.v AS id, d{p}.dist + e.w AS dist
    FROM d{p} JOIN e ON d{p}.id = e.u
  ) GROUP BY id
)"""
    chain = ",".join(relax.format(i=i, p=i - 1) for i in range(1, 5))
    return f"""
WITH base AS (
  SELECT 'c_' || CAST(o_custkey AS VARCHAR) AS src,
         'o_' || CAST(o_orderkey AS VARCHAR) AS dst
  FROM orders
  UNION ALL
  SELECT 'o_' || CAST(l_orderkey AS VARCHAR),
         'p_' || CAST(l_partkey AS VARCHAR)
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
),
we AS (
  SELECT src, dst, {h64.format(x="src || '|' || dst")} % 100 + 1 AS w
  FROM base
),
e AS (
  SELECT src AS u, dst AS v, w FROM we
  UNION ALL
  SELECT dst, src, w FROM we
),
d0 AS (SELECT 'c_1' AS id, CAST(0 AS BIGINT) AS dist),
{chain}
SELECT id, CAST(dist AS BIGINT) AS dist FROM d4
"""


KCORE_K = 3
KCORE_ROUNDS = 6


def g_kcore(spark, sf_dir):
    """k-core decomposition (fixed-round peeling) of the F6 graph
    (operators/analytics.k_core): vertices surviving KCORE_ROUNDS
    rounds of drop-degree-below-K on the undirected projection, with
    their in-core degree. The oracle unrolls the identical rounds as
    chained CTEs; extra rounds past the fixpoint are no-ops, so the
    operator's early exit cannot diverge from the unroll."""
    from graphdb_spark.operators.analytics import k_core  # noqa: PLC0415
    from graphdb_spark.workloads.graph import graph_session  # noqa: PLC0415

    g = graph_session(spark, sf_dir)
    return k_core(g.edges, k=KCORE_K, rounds=KCORE_ROUNDS).orderBy("id")


def _kcore_sql() -> str:
    k, rounds = KCORE_K, KCORE_ROUNDS
    peel = """
k{p} AS (
  SELECT u FROM (SELECT u, count(*) AS d FROM l{p} GROUP BY u)
  WHERE d >= {k}
),
l{i} AS (
  SELECT l.u, l.v FROM l{p} l
  JOIN k{p} a ON l.u = a.u
  JOIN k{p} b ON l.v = b.u
)"""
    chain = ",".join(
        peel.format(i=i, p=i - 1, k=k) for i in range(1, rounds + 1)
    )
    return f"""
WITH base AS (
  SELECT 'c_' || CAST(o_custkey AS VARCHAR) AS src,
         'o_' || CAST(o_orderkey AS VARCHAR) AS dst
  FROM orders
  UNION ALL
  SELECT 'o_' || CAST(l_orderkey AS VARCHAR),
         'p_' || CAST(l_partkey AS VARCHAR)
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
),
l0 AS (
  SELECT DISTINCT u, v FROM (
    SELECT src AS u, dst AS v FROM base
    UNION ALL
    SELECT dst, src FROM base
  )
),
{chain}
SELECT u AS id, CAST(count(*) AS BIGINT) AS degree
FROM l{rounds} GROUP BY u HAVING count(*) >= {k}
ORDER BY id
"""


QUERIES = {
    "mut_graph_final": (mut_graph_final, MUT_GRAPH_FINAL_SQL),
    "g_weighted_sssp": (g_weighted_sssp, _weighted_sssp_sql()),
    "g_kcore": (g_kcore, _kcore_sql()),
    "g_ppr_top": (_graph.g_ppr_top, _graph._ppr_sql()),
    "g_hits_top": (_graph.g_hits_top, _graph._hits_sql()),
    "g_closeness_seeds": (_graph.g_closeness_seeds, _graph.CLOSENESS_SQL),
    "g_clustering_coeff": (_graph.g_clustering_coeff, _graph.G_CLUSTERING_SQL),
    "g_assortativity": (_graph.g_assortativity, _graph.G_ASSORT_SQL),
    "g_edge_support": (_graph.g_edge_support, _graph.G_EDGE_SUPPORT_SQL),
    "g_ktruss": (_graph.g_ktruss, _graph._ktruss_sql()),
    "g_adamic_adar": (_graph.g_adamic_adar, _graph.G_ADAMIC_ADAR_SQL),
    "g_jaccard_links": (_graph.g_jaccard_links, _graph.G_JACCARD_SQL),
    "agg_messages_degree": (agg_messages_degree, AGG_MESSAGES_DEGREE_SQL),
    "all_shortest_f6": (all_shortest_f6, ALL_SHORTEST_F6_SQL),
    "motif_one_hop": (motif_one_hop, MOTIF_ONE_HOP_SQL),
    "mut_counts": (mut_counts, MUT_COUNTS_SQL),
    "mut_checks": (mut_checks, MUT_CHECKS_SQL),
    "ingest_csv_json": (ingest_csv_json, INGEST_CSV_JSON_SQL),
    "snapshot_roundtrip": (snapshot_roundtrip, SNAPSHOT_ROUNDTRIP_SQL),
    "fhir_patients": (fhir_patients, FHIR_PATIENTS_SQL),
    "hl7_segments": (hl7_segments, HL7_SEGMENTS_SQL),
    "plugin_exec": (plugin_exec, PLUGIN_EXEC_SQL),
    "sql_registry_funcs": (sql_registry_funcs, SQL_REGISTRY_SQL),
    "pipe_value_filter": (pipe_value_filter, PIPE_VALUE_FILTER_SQL),
    "include_two_stage": (include_two_stage, INCLUDE_TWO_STAGE_SQL),
}


QUERIES["g_random_walks"] = (
    _graph.g_random_walks, _graph._random_walks_sql()
)


# ------------------------------------- multi-format source/sink audit


def format_roundtrip(spark, sf_dir):
    """Source/sink breadth beyond parquet: write the nation table to
    ORC, JSON-lines, and CSV with Spark's native writers, read each
    back (explicit schema — no inference nondeterminism), and emit a
    per-format checksum row (count, key sum, h64-of-name sum). Proves
    each format round-trips values losslessly, not just that the
    writer didn't throw.

    Scale shape: formats are Spark DataSource V1/V2 scans — the same
    partitioned read path parquet uses (ORC is splittable +
    predicate-pushdown capable; JSON/CSV splittable uncompressed), so
    the audit generalizes to big tables; the checksum agg is one
    partial-aggregated pass per format."""
    from graphdb_spark.datamodel import scratch_dir  # noqa: PLC0415

    from graphdb_spark.operators.text import h64  # noqa: PLC0415
    from graphdb_spark.sources.tpch import load_tables  # noqa: PLC0415

    nation = load_tables(spark, sf_dir)["nation"].select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    schema = nation.schema
    outs = []
    # per-invocation dir: a fixed shared path made concurrent gate +
    # bench runs overwrite each other's output mid-read (flaky sums)
    fmt_dir = scratch_dir(prefix="graphdb_gate_fmt_")
    for fmt in ("orc", "json", "csv"):
        path = f"{fmt_dir}/{fmt}"
        w = nation.write.mode("overwrite").format(fmt)
        if fmt == "csv":
            w = w.option("header", "true").option("quoteAll", "true")
        w.save(path)
        r = spark.read.format(fmt)
        r = r.schema(schema)
        if fmt == "csv":
            r = r.option("header", "true")
        back = r.load(path)
        outs.append(
            back.agg(
                F.lit(fmt).alias("fmt"),
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum("n_nationkey").cast("bigint").alias("key_sum"),
                F.sum(h64(F.col("n_name"))).cast("bigint").alias("name_fp"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("fmt")


FORMAT_ROUNDTRIP_SQL = """
WITH chk AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
    CAST(SUM(CAST(('0x' || substr(md5(n_name), 1, 8)) AS BIGINT)) AS BIGINT)
      AS name_fp
  FROM nation
)
SELECT fmt, n, key_sum, name_fp
FROM chk, (VALUES ('csv'), ('json'), ('orc')) AS t(fmt)
ORDER BY fmt
"""


QUERIES["format_roundtrip"] = (format_roundtrip, FORMAT_ROUNDTRIP_SQL)


# --------------------------------- transaction-logged table lifecycle


def tlog_merge_timetravel(spark, sf_dir):
    """Versioned-table lifecycle through the engine's parquet
    transaction log (sources/tlog.py — the reference's WAL+snapshot
    durability surface, lib/src/durability/wal.rs:37-108, rebuilt as
    Delta-style commits): v1 CREATE the nation table range-partitioned
    into multiple files, v2 MERGE (update every region-1 name + two
    inserts; copy-on-write of only the files holding matched keys),
    v3 keyed DELETE of region-2 rows. The output reads all three
    versions back via time travel — proving the log serves every
    historical state exactly, not just the head."""
    from graphdb_spark.datamodel import scratch_dir  # noqa: PLC0415
    from graphdb_spark.sources import tlog  # noqa: PLC0415
    from graphdb_spark.sources.tpch import load_tables  # noqa: PLC0415

    nation = load_tables(spark, sf_dir)["nation"].select(
        F.col("n_nationkey").cast("int").alias("id"),
        F.col("n_name").alias("name"),
        F.col("n_regionkey").cast("int").alias("regionkey"),
    )
    path = scratch_dir(prefix="graphdb_gate_tlog_") + "/nation"
    tlog.create(
        nation.repartitionByRange(4, "id").sortWithinPartitions("id"),
        path, keys=["id"],
    )
    updates = (
        nation.filter(F.col("regionkey") == 1)
        .withColumn("name", F.lower("name"))
        .unionByName(local_df(
            spark, [(100, "newland", 0), (101, "newmark", 0)],
            "id int, name string, regionkey int",
        ))
    )
    tlog.merge(spark, path, updates)
    tlog.delete(spark, path,
                nation.filter(F.col("regionkey") == 2).select("id"))
    out = None
    for v in (1, 2, 3):
        d = tlog.read(spark, path, version=v).select(
            F.lit(v).alias("version"), "id", "name", "regionkey",
        )
        out = d if out is None else out.unionByName(d)
    return out.orderBy("version", "id")


TLOG_MERGE_TIMETRAVEL_SQL = """
WITH v1 AS (
  SELECT CAST(n_nationkey AS INT) AS id, n_name AS name,
         CAST(n_regionkey AS INT) AS regionkey
  FROM nation
),
v2 AS (
  SELECT id,
         CASE WHEN regionkey = 1 THEN lower(name) ELSE name END AS name,
         regionkey
  FROM v1
  UNION ALL
  SELECT * FROM (VALUES (100, 'newland', 0), (101, 'newmark', 0))
    AS t(id, name, regionkey)
),
v3 AS (SELECT * FROM v2 WHERE regionkey <> 2)
SELECT 1 AS version, * FROM v1
UNION ALL SELECT 2, * FROM v2
UNION ALL SELECT 3, * FROM v3
ORDER BY version, id
"""


QUERIES["tlog_merge_timetravel"] = (tlog_merge_timetravel,
                                    TLOG_MERGE_TIMETRAVEL_SQL)


QUERIES["g_modularity"] = (_graph.g_modularity, _graph._modularity_sql())


QUERIES["g_walk_pairs"] = (_graph.g_walk_pairs, _graph._walk_pairs_sql())
