"""Streaming change-log fold under the driver correctness gate
(VERDICT r2 item 7): the exact ``fold_changes`` semantics used by the
Structured Streaming path (streaming/graph_updates.py foreachBatch) —
last-writer-wins inside a batch, endpoint-validated edge upserts,
vertex-delete cascades — replayed over a fixed, deterministic
change-log and checked against a full DuckDB replay of the same rules.

Reference semantics: change replay + LWW
(/root/reference/lib/src/graph_evolution/change_tracker.rs:28-44),
cascade deletes (/root/reference/lib/src/rdb/managers.rs:119-159),
endpoint validation (/root/reference/lib/src/rdb/datastore.rs:272-281).

Change-log construction (all derived from ``events`` so both engines
read identical input):

- batch 0 (vertices): per distinct user_id ``u``, TWO upserts for
  ``u_<u>`` — label 'account' at t=10u, label 'user' at t=10u+5.
  LWW must keep 'user'; a wrong ordering shows up in the label column.
- batch 1 (edges): per event, upsert ``u_<user_id> -[did]->
  u_<(user_id+event_id) % 1000>`` at t=event_id. Dst may not exist —
  endpoint validation must drop exactly those rows.
- batch 2 (deletes): vertex delete for users with u % 17 == 0
  (cascades to incident edges, both directions) + explicit edge
  deletes for the triples generated by events with event_id % 13 == 0.

Output: final (id, label, out_degree, in_degree) for every surviving
vertex — zero-degree vertices included via left joins.

Scale notes: identical to the production fold — per-batch window
dedup, anti-joins + union, localCheckpoint lineage cuts; nothing
collects to the driver.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import functions as F

from graphdb_spark.datamodel import local_df
from graphdb_spark.session import GraphSession
from graphdb_spark.sources.tpch import load_tables
from graphdb_spark.streaming.graph_updates import fold_changes

_DST_MOD = 1000

#: state-store sizing for the staged-file streaming executions: one
#: shuffle/state partition per this many bytes of staged input.
#: Rationale (r10, measured): a stateful operator materializes one
#: state-store instance PER SHUFFLE PARTITION per micro-batch — at the
#: session's 32 partitions the gate streams (a few MB staged) spend
#: most of their wall on 32-way state commit/checkpoint file I/O per
#: batch per operator (interleaved A/B at sf0.1/local[32]:
#: stream_dedup_counts 4.24 s at 32 → 1.78 s at 4; windowed_counts
#: 2.20 s → 1.23 s). Values are partition-count independent (keyed
#: aggregates / LWW folds), so the width only moves overhead. The
#: width grows with the staged volume and caps at the session's own
#: shuffle width — a production stream over real volume keeps its
#: configured parallelism.
STREAM_BYTES_PER_PARTITION = int(
    os.environ.get("SPARK_GRAFT_STREAM_BYTES_PER_PART", str(4 << 20))
)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.stat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return total


@contextmanager
def _scoped_stream_shuffle(spark, stage_dir: str):
    """Scope ``spark.sql.shuffle.partitions`` (= the state-store
    partition count a streaming query pins at its first batch) to the
    STAGED INPUT volume for the duration of one gate stream. Fresh
    checkpoint dirs every invocation make the width free to vary;
    restored on exit (same single-writer session assumption as
    traversal._no_aqe)."""
    key = "spark.sql.shuffle.partitions"
    orig = spark.conf.get(key)
    width = max(
        4,
        min(_dir_bytes(stage_dir) // STREAM_BYTES_PER_PARTITION + 1,
            int(orig)),
    )
    spark.conf.set(key, str(width))
    try:
        yield width
    finally:
        spark.conf.set(key, orig)


def _change_cols(df, **over):
    """Project ``df`` onto the CHANGE_SCHEMA columns, with ``over``
    supplying per-call column expressions; everything else is NULL of
    the right type."""
    defaults = {
        "timestamp": F.lit(None).cast("timestamp"),
        "kind": F.lit(None).cast("string"),
        "op": F.lit(None).cast("string"),
        "id": F.lit(None).cast("string"),
        "label": F.lit(None).cast("string"),
        "src": F.lit(None).cast("string"),
        "relationship": F.lit(None).cast("string"),
        "dst": F.lit(None).cast("string"),
        "properties": F.lit(None).cast("map<string,string>"),
    }
    defaults.update(over)
    return df.select(*[v.alias(k) for k, v in defaults.items()])


def _changelog_batches(spark, sf_dir):
    """The three deterministic change batches shared by the batch fold
    (stream_fold_degrees) and the TRUE foreachBatch run
    (stream_apply_changelog)."""
    events = load_tables(spark, sf_dir)["events"]
    users = events.select(F.col("user_id").alias("u")).distinct()
    uid = F.concat(F.lit("u_"), F.col("u").cast("string"))

    batch0 = _change_cols(
        users,
        timestamp=F.timestamp_micros(F.col("u") * 10),
        kind=F.lit("vertex"), op=F.lit("upsert"),
        id=uid, label=F.lit("account"),
    ).unionByName(_change_cols(
        users,
        timestamp=F.timestamp_micros(F.col("u") * 10 + 5),
        kind=F.lit("vertex"), op=F.lit("upsert"),
        id=uid, label=F.lit("user"),
    ))

    esrc = F.concat(F.lit("u_"), F.col("user_id").cast("string"))
    edst = F.concat(
        F.lit("u_"),
        ((F.col("user_id") + F.col("event_id")) % _DST_MOD).cast("string"),
    )
    batch1 = _change_cols(
        events,
        timestamp=F.timestamp_micros(F.col("event_id")),
        kind=F.lit("edge"), op=F.lit("upsert"),
        src=esrc, relationship=F.lit("did"), dst=edst,
    )

    v_dels = _change_cols(
        users.filter(F.col("u") % 17 == 0),
        timestamp=F.timestamp_micros(F.col("u") * 10 + 100),
        kind=F.lit("vertex"), op=F.lit("delete"), id=uid,
    )
    e_dels = _change_cols(
        events.filter(F.col("event_id") % 13 == 0),
        timestamp=F.timestamp_micros(F.col("event_id") + 100),
        kind=F.lit("edge"), op=F.lit("delete"),
        src=esrc, relationship=F.lit("did"), dst=edst,
    )
    batch2 = v_dels.unionByName(e_dels)
    return batch0, batch1, batch2


def _final_degrees(spark, sf_dir, g):
    verts = g.vertices.select("id", "label")
    deg = g.degrees()
    result = (
        verts.join(deg, "id", "left")
        .select(
            "id", "label",
            F.coalesce("out_degree", F.lit(0)).cast("bigint")
            .alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).cast("bigint")
            .alias("in_degree"),
        )
        .orderBy("id")
    )

    # GraphSession.__init__/set_state re-point the session-global
    # vertices/edges temp views at this toy graph; restore the cached
    # F6 session's views so later gate queries see theirs.
    from graphdb_spark.workloads.graph import _GRAPH_CACHE  # noqa: PLC0415

    cached = _GRAPH_CACHE.get((id(spark.sparkContext), sf_dir))
    if cached is not None:
        cached._register_views()
    return result


def stream_fold_degrees(spark, sf_dir):
    batch0, batch1, batch2 = _changelog_batches(spark, sf_dir)
    g = GraphSession(spark)  # empty initial state
    for batch in (batch0, batch1, batch2):
        fold_changes(g, batch)
    return _final_degrees(spark, sf_dir, g)


STREAM_FOLD_SQL = f"""
WITH users AS (SELECT DISTINCT user_id AS u FROM events),
final_verts AS (SELECT u FROM users WHERE u % 17 <> 0),
raw_edges AS (
  SELECT DISTINCT user_id AS su,
         (user_id + event_id) % {_DST_MOD} AS du
  FROM events
),
valid_edges AS (
  SELECT e.su, e.du FROM raw_edges e
  JOIN users s ON e.su = s.u
  JOIN users d ON e.du = d.u
),
del_edges AS (
  SELECT DISTINCT user_id AS su,
         (user_id + event_id) % {_DST_MOD} AS du
  FROM events WHERE event_id % 13 = 0
),
kept AS (
  SELECT v.su, v.du
  FROM valid_edges v
  LEFT JOIN del_edges x ON v.su = x.su AND v.du = x.du
  WHERE x.su IS NULL AND v.su % 17 <> 0 AND v.du % 17 <> 0
),
outd AS (SELECT su AS u, CAST(COUNT(*) AS BIGINT) AS o FROM kept GROUP BY su),
ind  AS (SELECT du AS u, CAST(COUNT(*) AS BIGINT) AS i FROM kept GROUP BY du)
SELECT 'u_' || CAST(v.u AS VARCHAR) AS id, 'user' AS label,
       COALESCE(o.o, 0) AS out_degree,
       COALESCE(i.i, 0) AS in_degree
FROM final_verts v
LEFT JOIN outd o ON o.u = v.u
LEFT JOIN ind i ON i.u = v.u
ORDER BY id
"""


QUERIES = {
    "stream_fold_degrees": (stream_fold_degrees, STREAM_FOLD_SQL),
}


def stream_windowed_counts(spark, sf_dir):
    """TRUE Structured Streaming execution under the correctness gate:
    the events table is staged as files, read back with
    ``spark.readStream`` (file source, exactly-once discovery), folded
    through a watermarked 1-hour tumbling-window aggregate, drained
    with an availableNow trigger into a memory sink, and the sink's
    contents are returned for the oracle compare. This pins the
    streaming ENGINE path itself — micro-batch planning, watermark
    bookkeeping, state-store aggregation — not just a batch twin of
    its logical plan (stream_fold_degrees covers the fold semantics).

    Determinism: complete output mode (every window emitted no matter
    where the watermark lands at the final batch), counts + decimal
    sums (partition-order independent), window bounds reduced to epoch
    millis. Scale: watermark bounds state; windowed counts are
    partial-agg friendly; one availableNow drain = the standard
    backfill pattern for 100 TB of historical events before the live
    stream takes over."""
    from graphdb_spark.datamodel import scratch_dir  # noqa: PLC0415
    import uuid

    from graphdb_spark.streaming.events import stream_events_from_files

    events = load_tables(spark, sf_dir)["events"]
    stage = scratch_dir(prefix="gs_stream_src_")
    ckpt = scratch_dir(prefix="gs_stream_ckpt_")
    (events.select("event_id", "ts", "user_id", "event_type", "value",
                   F.col("props").cast("string").alias("props"))
     .write.mode("overwrite").parquet(stage))

    src = stream_events_from_files(spark, stage).withWatermark(
        "ts", "30 minutes"
    )
    agg = (
        src.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.round(F.col("value"), 6).cast("decimal(18,6)")), 6
            ).cast("double").alias("value_sum"),
        )
    )
    name = f"gs_swc_{uuid.uuid4().hex[:12]}"
    with _scoped_stream_shuffle(spark, stage):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.table(name)
        .select(
            F.unix_millis(F.col("win.start")).alias("window_start_ms"),
            "event_type",
            "n",
            "value_sum",
        )
        .orderBy("window_start_ms", "event_type")
    )


STREAM_WINDOWED_SQL = """
SELECT (epoch_ms(ts) // 3600000) * 3600000 AS window_start_ms,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(ROUND(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))), 6) AS DOUBLE)
         AS value_sum
FROM events
GROUP BY 1, 2
ORDER BY window_start_ms, event_type
"""


QUERIES["stream_windowed_counts"] = (
    stream_windowed_counts, STREAM_WINDOWED_SQL
)


DUP_MOD = 4  # events with event_id % DUP_MOD == 0 are staged twice


def stream_dedup_counts(spark, sf_dir):
    """Second TRUE Structured Streaming execution: exactly-once
    event dedup with ``dropDuplicatesWithinWatermark`` chained into a
    watermarked windowed aggregate (two stateful operators in one
    streaming query — the standard at-least-once-ingest → exactly-once
    -analytics topology). Events are staged WITH injected duplicates
    (every event_id % 4 == 0 twice); the engine's keyed dedup state
    must drop exactly the injected copies, so the sink matches the
    batch twin over the original unique events.

    Determinism: duplicates are byte-identical rows, so whichever copy
    the state keeps yields the same aggregate; complete output mode +
    decimal sums as in stream_windowed_counts. Scale: dedup state is
    keyed by event_id and evicted once the watermark passes ts +
    delay — bounded by the dup-arrival horizon, the same contract a
    100 TB Kafka backfill relies on (duplicates beyond the watermark
    need the offline exact-dedup pass instead)."""
    from graphdb_spark.datamodel import scratch_dir  # noqa: PLC0415
    import uuid

    from graphdb_spark.streaming.events import stream_events_from_files

    events = load_tables(spark, sf_dir)["events"]
    staged = events.select(
        "event_id", "ts", "user_id", "event_type", "value",
        F.col("props").cast("string").alias("props"),
    )
    staged = staged.unionByName(
        staged.filter(F.col("event_id") % DUP_MOD == 0)
    )
    stage = scratch_dir(prefix="gs_sdedup_src_")
    ckpt = scratch_dir(prefix="gs_sdedup_ckpt_")
    staged.write.mode("overwrite").parquet(stage)

    agg = (
        stream_events_from_files(spark, stage)
        .withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.round(F.col("value"), 6).cast("decimal(18,6)")), 6
            ).cast("double").alias("value_sum"),
        )
    )
    name = f"gs_sdc_{uuid.uuid4().hex[:12]}"
    with _scoped_stream_shuffle(spark, stage):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.table(name)
        .select(
            F.unix_millis(F.col("win.start")).alias("window_start_ms"),
            "event_type",
            "n",
            "value_sum",
        )
        .orderBy("window_start_ms", "event_type")
    )


# event_id is unique in the source, so after exact dedup the batch
# twin is the plain windowed aggregate over the original events —
# any surviving injected duplicate shows up as an off-by-one count.
STREAM_DEDUP_SQL = """
SELECT (epoch_ms(ts) // 3600000) * 3600000 AS window_start_ms,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(ROUND(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))), 6) AS DOUBLE)
         AS value_sum
FROM events
GROUP BY 1, 2
ORDER BY window_start_ms, event_type
"""


QUERIES["stream_dedup_counts"] = (stream_dedup_counts, STREAM_DEDUP_SQL)


JOIN_LOOKBACK_MS = 3600000  # clicks within 1 hour before the purchase


def stream_interval_join(spark, sf_dir):
    """Third TRUE Structured Streaming execution: a STREAM-STREAM
    interval join — purchases joined to the same user's clicks within
    the preceding hour, both sides watermarked (the canonical
    attribution topology; the batch twin of this exact semantics is
    range_join_attrib). Each side is its own readStream over the
    staged files; the time-range condition lets the engine bound both
    join-state buffers by the watermark instead of keeping either side
    forever — THE property that makes stream-stream joins feasible at
    100 TB/day (unbounded-state joins OOM by construction).

    Determinism: the availableNow file source reports all staged files
    in one micro-batch (no maxFilesPerTrigger), so no match can be
    dropped by a watermark that advanced mid-replay; append mode emits
    the exact join set. Output = the raw matched pairs with their gap,
    fully value-checked against the DuckDB twin."""
    from graphdb_spark.datamodel import scratch_dir  # noqa: PLC0415
    import uuid

    from graphdb_spark.streaming.events import stream_events_from_files

    events = load_tables(spark, sf_dir)["events"]
    stage = scratch_dir(prefix="gs_sjoin_src_")
    ckpt = scratch_dir(prefix="gs_sjoin_ckpt_")
    (events.select("event_id", "ts", "user_id", "event_type", "value",
                   F.col("props").cast("string").alias("props"))
     .write.mode("overwrite").parquet(stage))

    purchases = (
        stream_events_from_files(spark, stage)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "30 minutes")
    )
    clicks = (
        stream_events_from_files(spark, stage)
        .filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "30 minutes")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        (F.unix_millis(F.col("p_ts"))
         - F.unix_millis(F.col("c_ts"))).alias("gap_ms"),
    )
    name = f"gs_sij_{uuid.uuid4().hex[:12]}"
    with _scoped_stream_shuffle(spark, stage):
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).orderBy("purchase_id", "click_id")


STREAM_INTERVAL_JOIN_SQL = f"""
SELECT p.event_id AS purchase_id, c.event_id AS click_id,
       p.user_id AS user_id,
       epoch_ms(p.ts) - epoch_ms(c.ts) AS gap_ms
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
ORDER BY purchase_id, click_id
"""


QUERIES["stream_interval_join"] = (
    stream_interval_join, STREAM_INTERVAL_JOIN_SQL
)


def stream_user_state(spark, sf_dir):
    """Fourth TRUE Structured Streaming execution: a CUSTOM stateful
    operator — per-user last-writer-wins state kept in the engine's
    state store via ``applyInPandasWithState`` (streaming/events.
    last_state_per_user), drained with availableNow into an
    update-mode memory sink. This pins the arbitrary-stateful API the
    built-in windowed aggregates can't express (the reference's
    change_tracker 'current state' semantics, SURVEY §2.9, as a live
    stream instead of a replay).

    Determinism: ties on ts break by event_id inside the state update
    (the sf1 synthetic data has same-(user, ts) pairs); the sink may
    hold one row per user per micro-batch, so the final projection
    takes the (ts, event_id)-max row per user — idempotent whether the
    drain ran as one batch or many. Scale: state is ONE tuple per user
    (keyed, bounded); Arrow-batched Python only touches each
    micro-batch's updated keys."""
    from graphdb_spark.datamodel import scratch_dir  # noqa: PLC0415
    import uuid

    from graphdb_spark.streaming.events import (
        last_state_per_user,
        stream_events_from_files,
    )

    events = load_tables(spark, sf_dir)["events"]
    stage = scratch_dir(prefix="gs_sstate_src_")
    ckpt = scratch_dir(prefix="gs_sstate_ckpt_")
    (events.select("event_id", "ts", "user_id", "event_type", "value",
                   F.col("props").cast("string").alias("props"))
     .write.mode("overwrite").parquet(stage))

    out = last_state_per_user(stream_events_from_files(spark, stage))
    name = f"gs_sus_{uuid.uuid4().hex[:12]}"
    with _scoped_stream_shuffle(spark, stage):
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(
        F.desc("last_ts"), F.desc("last_eid")
    )
    return (
        spark.table(name)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.unix_millis(F.col("last_ts")).alias("last_ts_ms"),
            "last_eid", "last_type", "last_value",
        )
        .orderBy("user_id")
    )


STREAM_USER_STATE_SQL = """
SELECT user_id, epoch_ms(ts) AS last_ts_ms, event_id AS last_eid,
       event_type AS last_type, value AS last_value
FROM (
  SELECT *, row_number() OVER
    (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1 ORDER BY user_id
"""


QUERIES["stream_user_state"] = (stream_user_state, STREAM_USER_STATE_SQL)


def stream_session_windows(spark, sf_dir):
    """Fifth TRUE Structured Streaming execution: native
    ``session_window`` aggregation — the engine MERGES gap-adjacent
    events into variable-length session state (unlike fixed tumbling
    windows, the window itself grows as events arrive), per (user,
    session): event count + decimal value sum. batch sessionize covers
    the window-chain formulation; this pins Spark's built-in streaming
    session operator and its state-merge path.

    Semantics note: session_window merges an event into the session
    iff it lands STRICTLY inside [start, last_ts + gap) — a gap of
    exactly 30 minutes starts a NEW session, so the oracle's chain
    rule is `>= gap`, not `> gap` (the batch sessionize query keeps
    its own `>` convention; the two differ only on exact-boundary
    gaps, absent from microsecond data but wrong to leave implicit).
    Determinism: availableNow drains all staged files in ONE
    micro-batch (same reliance as stream_interval_join, documented
    there), and the sink runs in COMPLETE mode — with a single
    micro-batch the re-emitted result table IS the set of final merged
    sessions, each exactly once. Scale: session state is per-key and
    watermark-evicted."""
    from graphdb_spark.datamodel import scratch_dir  # noqa: PLC0415
    import uuid

    from graphdb_spark.streaming.events import stream_events_from_files

    events = load_tables(spark, sf_dir)["events"]
    stage = scratch_dir(prefix="gs_ssw_src_")
    ckpt = scratch_dir(prefix="gs_ssw_ckpt_")
    (events.select("event_id", "ts", "user_id", "event_type", "value",
                   F.col("props").cast("string").alias("props"))
     .write.mode("overwrite").parquet(stage))

    agg = (
        stream_events_from_files(spark, stage)
        .withWatermark("ts", "30 minutes")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("win"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.round(F.col("value"), 6).cast("decimal(18,6)")), 6
            ).cast("double").alias("value_sum"),
        )
    )
    name = f"gs_ssw_{uuid.uuid4().hex[:12]}"
    with _scoped_stream_shuffle(spark, stage):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.table(name)
        .select(
            "user_id",
            F.unix_millis(F.col("win.start")).alias("session_start_ms"),
            F.unix_millis(F.col("win.end")).alias("session_end_ms"),
            "n",
            "value_sum",
        )
        .orderBy("user_id", "session_start_ms")
    )


# chain rule >= gap: see the semantics note in stream_session_windows
STREAM_SESSION_SQL = """
WITH marked AS (
  SELECT user_id, ts, event_id, value,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR epoch_ms(ts) - epoch_ms(LAG(ts) OVER w) >= 1800000
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts, value,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM marked
)
SELECT user_id,
  epoch_ms(MIN(ts)) AS session_start_ms,
  epoch_ms(MAX(ts)) + 1800000 AS session_end_ms,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(ROUND(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))), 6) AS DOUBLE)
    AS value_sum
FROM sess GROUP BY user_id, session_id
ORDER BY user_id, session_start_ms
"""


QUERIES["stream_session_windows"] = (
    stream_session_windows, STREAM_SESSION_SQL
)


def stream_apply_changelog(spark, sf_dir):
    """Sixth TRUE Structured Streaming execution — and the one that
    pins the foreachBatch CDC-APPLY topology itself
    (streaming/graph_updates.apply_change_stream): the three change
    batches are staged as one single-file parquet each, replayed with
    maxFilesPerTrigger=1 so the engine delivers exactly three ORDERED
    micro-batches, and each micro-batch folds into GraphSession state
    inside foreachBatch (LWW upserts, endpoint validation, cascade
    deletes). Same deterministic change-log and SAME oracle as the
    batch twin stream_fold_degrees — so a divergence isolates the
    streaming plumbing, not the fold semantics.

    Batch atomicity is load-bearing: each batch is coalesce(1) into
    its own file because the fold's LWW is per-batch ONLY — if one
    logical batch split across micro-batches, a later micro-batch
    carrying an older timestamp would overwrite newer state (batch
    order is the authority across batches, timestamps within). File
    order = write order (mtime-ascending file source default, path
    tiebreak b0 < b1 < b2). Scale: this is exactly the Kafka-CDC
    apply loop — per-batch keyed joins against state, lineage cut
    each fold, nothing driver-side."""
    from graphdb_spark.datamodel import scratch_dir  # noqa: PLC0415

    from graphdb_spark.streaming.graph_updates import (
        apply_change_stream,
        change_stream_from_files,
    )

    batches = _changelog_batches(spark, sf_dir)
    stage = scratch_dir(prefix="gs_applylog_src_")
    ckpt = scratch_dir(prefix="gs_applylog_ckpt_")
    for i, b in enumerate(batches):
        b.coalesce(1).write.mode("overwrite").parquet(f"{stage}/b{i}")

    g = GraphSession(spark)  # empty initial state
    with _scoped_stream_shuffle(spark, stage):
        q = apply_change_stream(
            g,
            change_stream_from_files(
                spark, f"{stage}/b*", max_files_per_trigger=1
            ),
            checkpoint_dir=ckpt,
        )
        q.awaitTermination()
    return _final_degrees(spark, sf_dir, g)


QUERIES["stream_apply_changelog"] = (stream_apply_changelog, STREAM_FOLD_SQL)


# --------------------------- streaming incremental dedup (sketch store)

INC_DOCS = 300   # doc_id < 300, three 100-doc micro-batches
INC_BATCH = 100


def stream_incremental_dedup(spark, sf_dir):
    """Seventh TRUE Structured Streaming execution — the PRODUCTION
    ingest-dedup topology at 100 TB, end to end: documents arrive in
    ordered micro-batches (one staged file per batch,
    maxFilesPerTrigger=1), and each foreachBatch (a) minhash-signs
    ONLY the arriving batch, (b) probes the PERSISTED signature store
    for LSH collisions (operators/dedup.incremental_lsh_matches — the
    corpus is never re-read or re-hashed), (c) appends the match
    report, and (d) appends the batch's signatures to the store for
    the next batch. Batch 0 probes an empty store (all
    clean-to-ingest); later batches see exactly the docs that arrived
    strictly before them — which is what the DuckDB twin replays with
    a batch-ordered band join (c.batch < n.batch).

    Scale: per arriving batch the work is |batch| signatures + a
    bucket equi-join against the store (informed-broadcast of the
    small batch side); store growth is one parquet append per batch —
    no recompute, no full-corpus pass, ever."""
    from graphdb_spark.datamodel import scratch_dir  # noqa: PLC0415

    from graphdb_spark.operators.dedup import (
        incremental_lsh_matches,
        minhash_signatures,
    )

    docs = (
        load_tables(spark, sf_dir)["documents"]
        .filter(F.col("doc_id") < INC_DOCS)
        .select(
            "doc_id", "text",
            (F.col("doc_id") / INC_BATCH).cast("int").alias("batch"),
        )
    )
    stage = scratch_dir(prefix="gs_incdedup_src_")
    ckpt = scratch_dir(prefix="gs_incdedup_ckpt_")
    store = scratch_dir(prefix="gs_incdedup_store_") + "/sig"
    results = scratch_dir(prefix="gs_incdedup_out_") + "/matches"
    for i in range(INC_DOCS // INC_BATCH):
        (docs.filter(F.col("batch") == i)
         .coalesce(1).write.mode("overwrite").parquet(f"{stage}/b{i}"))
    # FileStreamSource orders staged files by modification time; on a
    # coarse-timestamp filesystem b0/b1/b2 could tie and ingest out of
    # batch order (the oracle replays c.batch < n.batch). Pin strictly
    # increasing mtimes so the ingest order is deterministic.
    import os

    base = int(os.path.getmtime(f"{stage}/b0")) + 10
    for i in range(INC_DOCS // INC_BATCH):
        for root, _dirs, files in os.walk(f"{stage}/b{i}"):
            for f in files:
                os.utime(os.path.join(root, f), (base + i, base + i))

    # seed an EMPTY signature store so batch 0's probe is a normal
    # (zero-candidate) plan, not a special case
    sig_schema = minhash_signatures(docs.limit(0)).schema
    local_df(spark, [], sig_schema).write.mode("overwrite").parquet(
        store
    )

    def fold(batch_df, _bid):
        b = batch_df.localCheckpoint(eager=True)
        sig = minhash_signatures(b).localCheckpoint(eager=True)
        store_sig = spark.read.parquet(store)
        rep = incremental_lsh_matches(store_sig, sig)
        (rep.join(b.select(F.col("doc_id").alias("new_id"), "batch"),
                  "new_id")
         .write.mode("append").parquet(results))
        sig.write.mode("append").parquet(store)

    with _scoped_stream_shuffle(spark, stage):
        q = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{stage}/b*")
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.read.parquet(results)
        .select("new_id", "batch", "n_matches", "best_match", "best_est")
        .orderBy("new_id")
    )


def _stream_incdedup_sql() -> str:
    """Batch-ordered replay twin: every doc's LSH matches against the
    docs of STRICTLY EARLIER batches — exactly the store contents at
    its probe time (same signature/band arithmetic as the
    dedup_incremental oracle)."""
    from graphdb_spark.operators import dedup
    from graphdb_spark.operators import text as T
    from graphdb_spark.workloads.text import _H64, _SHINGLES

    h = _H64.format(x="shingle")
    mins = ",\n    ".join(
        f"CAST(MIN(({a} * {h} + {b}) % {T.MERSENNE}) AS BIGINT) AS mh{i}"
        for i, (a, b) in enumerate(dedup.MINHASH_PERMS)
    )
    n = len(dedup.MINHASH_PERMS)
    band_keys = ",\n    ".join(
        "concat_ws('_', {})".format(
            ", ".join(
                [str(bi)]
                + [f"mh{bi * dedup.ROWS_PER_BAND + r}"
                   for r in range(dedup.ROWS_PER_BAND)]
            )
        )
        + f" AS band{bi}"
        for bi in range(dedup.N_BANDS)
    )
    band_joins = "\nUNION ALL\n".join(
        f"SELECT n.doc_id AS new_id, c.doc_id AS corpus_id "
        f"FROM bands n JOIN bands c ON n.band{bi} = c.band{bi} "
        f"AND c.batch < n.batch"
        for bi in range(dedup.N_BANDS)
    )
    matches = " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)"
        for i in range(n)
    )
    return f"""
WITH sh AS (
  SELECT doc_id, unnest({_SHINGLES.format(x='text')}) AS shingle
  FROM documents WHERE doc_id < {INC_DOCS}
), sig AS (
  SELECT doc_id,
    {mins}
  FROM sh GROUP BY doc_id
), sigb AS (
  SELECT *, CAST(doc_id // {INC_BATCH} AS INT) AS batch FROM sig
), bands AS (
  SELECT *,
    {band_keys}
  FROM sigb
), cand AS (
  SELECT DISTINCT new_id, corpus_id FROM ({band_joins})
), scored AS (
  SELECT new_id, corpus_id,
    ROUND(CAST(({matches}) AS DOUBLE) / {n}.0, 6) AS est
  FROM cand
  JOIN sig sa ON sa.doc_id = new_id
  JOIN sig sb ON sb.doc_id = corpus_id
), best AS (
  SELECT new_id, corpus_id AS best_match, est AS best_est,
    row_number() OVER (PARTITION BY new_id
                       ORDER BY est DESC, corpus_id ASC) AS rn
  FROM scored
), counts AS (
  SELECT new_id, CAST(COUNT(*) AS BIGINT) AS n_matches
  FROM scored GROUP BY new_id
)
SELECT s.doc_id AS new_id, s.batch,
  CAST(COALESCE(counts.n_matches, 0) AS BIGINT) AS n_matches,
  best.best_match, best.best_est
FROM sigb s
LEFT JOIN counts ON counts.new_id = s.doc_id
LEFT JOIN (SELECT * FROM best WHERE rn = 1) best ON best.new_id = s.doc_id
ORDER BY new_id
"""


QUERIES["stream_incremental_dedup"] = (
    stream_incremental_dedup, _stream_incdedup_sql()
)


# --------------------------- insert-only streaming ingest


def stream_append_ingest(spark, sf_dir):
    """Eighth TRUE Structured Streaming execution — the INSERT-ONLY
    ingest topology (streaming/graph_updates.apply_append_stream):
    edge adds arrive in micro-batches (maxFilesPerTrigger=1) and each
    foreachBatch routes through GraphSession.append_state, which
    unions the validated rows onto state — a Kafka-CDC ingest loop
    with no per-batch anti-join against state.

    Deterministic construction (both engines read the same events
    parquet): base vertices = one 'a_<u>' per distinct user_id; the
    stream carries the DISTINCT edge triples a_<user_id> -[did]->
    a_<(3*user_id + event_id) % _DST_MOD>; dst may not exist —
    validation must drop exactly those rows. The two batches split
    the triples by xxhash64 parity: disjoint by construction, which
    is the documented fold_appends contract (cross-batch replays are
    the source's responsibility). Batch ORDER is immaterial —
    inserts commute — so unlike stream_apply_changelog no mtime
    pinning is needed.

    Output: (id, label, out_degree, in_degree) per base vertex,
    zero-filled, ordered."""
    from graphdb_spark.datamodel import empty_edges, scratch_dir
    from graphdb_spark.streaming.graph_updates import (
        apply_append_stream,
        change_stream_from_files,
    )

    events = load_tables(spark, sf_dir)["events"]
    users = events.select(F.col("user_id").alias("u")).distinct()
    uid = F.concat(F.lit("a_"), F.col("u").cast("string"))
    base_v = users.select(
        uid.alias("id"), F.lit("user").alias("label"),
        F.create_map().cast("map<string,string>").alias("properties"),
    )
    esrc = F.concat(F.lit("a_"), F.col("user_id").cast("string"))
    edst = F.concat(
        F.lit("a_"),
        ((F.col("user_id") * 3 + F.col("event_id")) % _DST_MOD)
        .cast("string"),
    )
    triples = events.select(
        esrc.alias("src"), F.lit("did").alias("relationship"),
        edst.alias("dst"),
    ).distinct()
    adds = _change_cols(
        triples,
        kind=F.lit("edge"), op=F.lit("upsert"),
        src=F.col("src"), relationship=F.col("relationship"),
        dst=F.col("dst"),
    )

    stage = scratch_dir(prefix="gs_appendingest_src_")
    ckpt = scratch_dir(prefix="gs_appendingest_ckpt_")
    for i in range(2):
        (adds.filter(F.pmod(F.xxhash64("src", "dst"), F.lit(2)) == i)
         .coalesce(1).write.mode("overwrite").parquet(f"{stage}/b{i}"))

    g = GraphSession(spark, base_v, empty_edges(spark),
                     assume_integrity=True)
    with _scoped_stream_shuffle(spark, stage):
        q = apply_append_stream(
            g,
            change_stream_from_files(
                spark, f"{stage}/b*", max_files_per_trigger=1
            ),
            checkpoint_dir=ckpt,
        )
        q.awaitTermination()
    return _final_degrees(spark, sf_dir, g)


STREAM_APPEND_SQL = f"""
WITH users AS (SELECT DISTINCT user_id AS u FROM events),
triples AS (
  SELECT DISTINCT user_id AS su,
         (3 * user_id + event_id) % {_DST_MOD} AS du
  FROM events
),
valid AS (
  SELECT t.su, t.du FROM triples t
  JOIN users s ON t.su = s.u
  JOIN users d ON t.du = d.u
),
outd AS (SELECT su AS u, CAST(COUNT(*) AS BIGINT) AS o FROM valid GROUP BY su),
ind  AS (SELECT du AS u, CAST(COUNT(*) AS BIGINT) AS i FROM valid GROUP BY du)
SELECT 'a_' || CAST(v.u AS VARCHAR) AS id, 'user' AS label,
       COALESCE(o.o, 0) AS out_degree,
       COALESCE(i.i, 0) AS in_degree
FROM users v
LEFT JOIN outd o ON o.u = v.u
LEFT JOIN ind i ON i.u = v.u
ORDER BY id
"""


QUERIES["stream_append_ingest"] = (stream_append_ingest, STREAM_APPEND_SQL)
