"""Core data model: the property graph as two DataFrames.

Reference semantics (cited file:line are in /root/reference):

- Vertex = {id: uuid, label: Identifier, properties: map}
  (models/src/vertices.rs:10-15)
- Edge = {outbound_id, edge_type, inbound_id, properties}; directed,
  typed; identity is the triple (src, edge_type, dst) — at most one
  edge per (src, type, dst), multigraph only across types
  (models/src/edges.rs:10-29; key layout lib/src/rdb/managers.rs:233-240;
  in-memory map key lib/src/storage_engine/inmemory_storage.rs:16).
- PropertyValue is a scalar enum (bool|int|float|string|uuid,
  models/src/properties.rs:43-51); the reference's ToVertex conversions
  stringify every property (models/src/medical/patient.rs:19-45), so we
  standardize on map<string,string> with typed casts at comparison time
  (SURVEY.md §1.3).
- Identifier: 1..=255 bytes (models/src/identifiers.rs:145-149).

Spark-first choices:
- GraphFrames column conventions: ``id`` on vertices, ``src``/``dst``
  on edges, relationship type in ``relationship``.
- Properties as ``map<string,string>``: schemaless like the reference,
  Parquet dictionary-encodes keys, and `element_at` pushes no worse
  than the reference's mandatory property index.
- At 100 TB: vertices/edges are stored hash-distributed by ``id`` /
  ``src``; hot property columns should be *promoted* to typed top-level
  columns at ingest (`promote_properties`) so filters push down to the
  parquet scan instead of evaluating map lookups per row.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    MapType,
    StringType,
    StructField,
    StructType,
)

MAX_IDENTIFIER_LEN = 255  # models/src/identifiers.rs:145-149

VERTEX_SCHEMA = StructType(
    [
        StructField("id", StringType(), False),
        StructField("label", StringType(), False),
        StructField("properties", MapType(StringType(), StringType()), True),
    ]
)

EDGE_SCHEMA = StructType(
    [
        StructField("src", StringType(), False),
        StructField("relationship", StringType(), False),
        StructField("dst", StringType(), False),
        StructField("properties", MapType(StringType(), StringType()), True),
    ]
)

# Change-log schema for the temporal module (FIXTURES.md F4;
# reference lib/src/graph_evolution/change_tracker.rs:5-26).
CHANGE_SCHEMA = StructType(
    [
        StructField("timestamp", StringType(), False),  # cast at load
        StructField("kind", StringType(), False),  # 'node' | 'edge'
        StructField("entity_id", StringType(), False),
        StructField("src", StringType(), True),
        StructField("dst", StringType(), True),
        StructField("properties", MapType(StringType(), StringType()), True),
        StructField("op", StringType(), True),  # 'upsert' | 'delete'
    ]
)


class InvalidIdentifierError(ValueError):
    """Raised for identifiers outside 1..=255 bytes (identifiers.rs:145-149)."""


def validate_identifier(name: str) -> str:
    """Port of Identifier validation (models/src/identifiers.rs:129-156)."""
    if not isinstance(name, str):
        raise InvalidIdentifierError(f"identifier must be a string, got {type(name)}")
    n = len(name.encode("utf-8"))
    if n == 0 or n > MAX_IDENTIFIER_LEN:
        raise InvalidIdentifierError(
            f"identifier byte length {n} outside 1..={MAX_IDENTIFIER_LEN}"
        )
    return name


def stringify_value(v) -> str:
    """Property stringification like ToVertex (medical/patient.rs:19-45,
    lib/src/graph_engine/medical.rs:27-37): bool -> 'true'/'false',
    numbers via str(), everything else str()."""
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def normalize_properties(props: dict | None) -> dict[str, str]:
    """Stringify a property dict; rejects nested values the way the
    reference's Cypher conversion rejects arrays/objects/null
    (cypher_parser.rs:809-820)."""
    if props is None:
        return {}
    out = {}
    for k, v in props.items():
        validate_identifier(k)
        if v is None or isinstance(v, (list, dict, tuple, set)):
            raise ValueError(
                f"property {k!r}: null/array/object values are rejected "
                "(reference cypher_parser.rs:809-820)"
            )
        out[k] = stringify_value(v)
    return out


def local_df(spark, data, schema):
    """Driver-local rows as a ``LocalRelation`` leaf: the one audited
    construction point for every driver-local frame.

    ``schema`` is a DDL string, a ``StructType`` or a list of column
    names (types then come from PySpark's own row inference, as
    ``createDataFrame`` infers them). Rows are checked against the
    schema exactly as ``createDataFrame`` checks them, then handed to
    the JVM as one Arrow table.

    Why not ``createDataFrame(rows, schema)``: in classic PySpark that
    is a ``LogicalRDD`` whose size estimate is ``Long.MaxValue`` (the
    planner never broadcasts it), and every action that scans it runs
    a stage that re-pickles the rows through Python workers (collecting
    one row is a Spark job, and the first one forks ``pyspark.daemon``).
    An Arrow table below ``spark.sql.execution.arrow.localRelationThreshold``
    becomes a ``LocalRelation`` with exact stats instead: the same
    collect runs no job. Wrapping the result in coalesce/repartition
    would replace that leaf with an RDD scan again — measured 7× slower
    traversals at sf0.1 when the BFS seed carried a coalesce(1)."""
    import datetime

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import (
        TimestampType,
        _create_converter,
        _make_type_verifier,
        _parse_datatype_string,
    )

    rows = list(data)
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    elif isinstance(schema, (list, tuple)):
        inferred = spark._inferSchemaFromList(rows, names=list(schema))
        schema = StructType([
            StructField(name, f.dataType, f.nullable)
            for name, f in zip(schema, inferred.fields)
        ])
    verify, convert = _make_type_verifier(schema), _create_converter(schema)
    for r in rows:
        verify(r)
    cols = list(zip(*map(convert, rows))) or [()] * len(schema.fields)
    arrow = to_arrow_schema(schema)
    arrays = []
    for col, f, af in zip(cols, schema.fields, arrow):
        if isinstance(f.dataType, TimestampType):
            # as the row path reads them: a naive datetime is local
            # wall-clock time (time.mktime), an aware one its instant.
            # Arrow reads naive values as UTC, so hand it UTC instants
            col = [v if v is None else v.astimezone(datetime.timezone.utc)
                   for v in col]
        arrays.append(pa.array(col, type=af.type))
    return spark.createDataFrame(
        pa.Table.from_arrays(arrays, schema=arrow), schema)


def scratch_dir(prefix: str) -> str:
    """mkdtemp registered for atexit removal. Workload staging dirs
    (stream sources, checkpoint locations, format-roundtrip output) are
    read by the LAZY DataFrames the workloads return, so a finally-
    block rmtree would delete files the caller's action still needs;
    interpreter-exit cleanup is the earliest safe point, and it keeps
    repeated gate/bench runs from accumulating table copies in /tmp."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def empty_vertices(spark):
    return local_df(spark, [], VERTEX_SCHEMA)


def empty_edges(spark):
    return local_df(spark, [], EDGE_SCHEMA)


def prop(name: str):
    """Column expression for property access: properties['name'].

    `element_at`/getItem on a map column; for hot paths promote the
    property to a typed column instead (see promote_properties)."""
    return F.col("properties").getItem(name)


def promote_properties(df, mapping: dict[str, str]):
    """Promote map properties to typed top-level columns.

    mapping: {new_column: "prop_name:cast_type"} e.g. {"age": "age:bigint"}.
    At scale this is the difference between a map-probe per row and a
    pushed-down parquet column scan."""
    for col_name, spec in mapping.items():
        if ":" in spec:
            pname, typ = spec.split(":", 1)
            df = df.withColumn(col_name, prop(pname).cast(typ))
        else:
            df = df.withColumn(col_name, prop(spec))
    return df
