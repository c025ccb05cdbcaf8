"""Streaming tests: batch-mode semantic checks of the streaming plans
plus one true streaming run (file source → memory sink)."""

import datetime as dt

import pytest

from graphdb_spark.streaming import (
    dedup_stream,
    last_state_per_user,
    sessionized,
    stream_events_from_files,
    windowed_counts,
)


def ts(s):
    return dt.datetime.fromisoformat(s)


@pytest.fixture()
def batch_events(spark):
    rows = [
        (1, ts("2024-01-01 00:01:00"), 10, "click", 1.0, "{}"),
        (2, ts("2024-01-01 00:04:00"), 10, "view", 2.0, "{}"),
        (3, ts("2024-01-01 00:12:00"), 10, "click", 3.0, "{}"),
        (4, ts("2024-01-01 00:02:00"), 20, "click", 4.0, "{}"),
        (4, ts("2024-01-01 00:02:00"), 20, "click", 4.0, "{}"),  # dup id
        (5, ts("2024-01-01 01:00:00"), 20, "purchase", 5.0, "{}"),
    ]
    return spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string",
    )


def test_windowed_counts_batch(batch_events):
    got = {
        (r["window_start"].isoformat(), r["event_type"]): (r["n"], r["value_sum"])
        for r in windowed_counts(batch_events, "10 minutes").collect()
    }
    assert got[("2024-01-01T00:00:00", "click")] == (3, 9.0)  # 1.0+4.0+4.0
    assert got[("2024-01-01T00:10:00", "click")] == (1, 3.0)
    assert got[("2024-01-01T01:00:00", "purchase")] == (1, 5.0)


def test_sessionized_batch(batch_events):
    got = {
        (r["user_id"], r["session_start"].isoformat()): r["events"]
        for r in sessionized(batch_events, "30 minutes").collect()
    }
    # user 10: events at 00:01/00:04/00:12 chain into one session
    assert got[(10, "2024-01-01T00:01:00")] == 3
    # user 20: 00:02 and 01:00 are separate sessions
    assert got[(20, "2024-01-01T00:02:00")] == 2  # incl. duplicate row
    assert got[(20, "2024-01-01T01:00:00")] == 1


def test_dedup_batch(batch_events):
    assert dedup_stream(batch_events).count() == 5


def test_last_state_batch(batch_events):
    got = {
        r["user_id"]: (r["last_type"], r["last_value"])
        for r in last_state_per_user(batch_events).collect()
    }
    assert got == {10: ("click", 3.0), 20: ("purchase", 5.0)}


def test_true_streaming_file_source(spark, tmp_path, batch_events):
    """End-to-end micro-batch run: parquet file source → windowed agg →
    memory sink (availableNow, bounded)."""
    src = str(tmp_path / "events_in")
    batch_events.write.mode("overwrite").parquet(src)
    stream = stream_events_from_files(spark, src)
    assert stream.isStreaming
    agg = windowed_counts(stream, "10 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    out = spark.sql("SELECT * FROM win_counts").collect()
    got = {(r["window_start"].isoformat(), r["event_type"]): r["n"] for r in out}
    assert got[("2024-01-01T00:00:00", "click")] == 3
    q.stop()


def test_streaming_stateful_last_state(spark, tmp_path, batch_events):
    """applyInPandasWithState end-to-end via availableNow micro-batch."""
    src = str(tmp_path / "events_state")
    batch_events.write.mode("overwrite").parquet(src)
    stream = stream_events_from_files(spark, src)
    out = last_state_per_user(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("last_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT user_id, last_type, last_value FROM last_state"
    ).collect()
    got = {r["user_id"]: (r["last_type"], r["last_value"]) for r in rows}
    assert got[10] == ("click", 3.0)
    assert got[20] == ("purchase", 5.0)
    q.stop()


def test_stream_stream_interval_join(spark, tmp_path, batch_events):
    """Clicks-to-purchases attribution join, batch semantics + true
    stream-stream run with watermarks."""
    from graphdb_spark.streaming.events import clicks_to_purchases

    # batch: user 20 clicked at 00:02, purchased at 01:00 -> within 1h
    got = clicks_to_purchases(batch_events).collect()
    assert len(got) == 2  # duplicate click row matches twice
    assert all(r["user_id"] == 20 for r in got)

    src = str(tmp_path / "events_ssj")
    batch_events.write.mode("overwrite").parquet(src)
    stream = stream_events_from_files(spark, src)
    out = clicks_to_purchases(stream)
    q = (
        out.writeStream.format("memory").queryName("ssj")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows_ = spark.sql("SELECT user_id, purchase_id FROM ssj").collect()
    assert len(rows_) == 2 and all(r["user_id"] == 20 for r in rows_)
    q.stop()


def _mk_changes(spark, rows):
    from graphdb_spark.streaming.graph_updates import CHANGE_SCHEMA

    return spark.createDataFrame(rows, CHANGE_SCHEMA)


def test_fold_changes_batch(spark):
    """Batch fold: last-writer-wins, cascade delete, endpoint
    validation — the mutations semantics amortized over a batch."""
    import datetime as dt

    from graphdb_spark.session import GraphSession
    from graphdb_spark.streaming.graph_updates import fold_changes

    t = lambda s: dt.datetime(2026, 1, 1, 0, 0, s)
    g = GraphSession(spark)
    fold_changes(g, _mk_changes(spark, [
        (t(1), "vertex", "upsert", "a", "Person", None, None, None, {"v": "1"}),
        (t(2), "vertex", "upsert", "a", "Person", None, None, None, {"v": "2"}),
        (t(1), "vertex", "upsert", "b", "Person", None, None, None, {}),
        (t(1), "vertex", "upsert", "c", "Person", None, None, None, {}),
        (t(3), "edge", "upsert", None, None, "a", "KNOWS", "b", {}),
        # dangling edge: 'z' never exists -> dropped by validation
        (t(3), "edge", "upsert", None, None, "a", "KNOWS", "z", {}),
    ]))
    assert g.vertex_count() == 3 and g.edge_count() == 1
    # within-batch LWW: the t=2 properties won
    props = {r["id"]: r["properties"] for r in g.vertices.collect()}
    assert props["a"] == {"v": "2"}
    # second batch: delete b cascades to the a-KNOWS-b edge
    fold_changes(g, _mk_changes(spark, [
        (t(4), "vertex", "delete", "b", None, None, None, None, None),
    ]))
    assert g.vertex_count() == 2 and g.edge_count() == 0


def test_apply_change_stream(spark, tmp_path):
    """True streaming run: change files drained with availableNow fold
    into session state via foreachBatch."""
    import datetime as dt

    from graphdb_spark.session import GraphSession
    from graphdb_spark.streaming.graph_updates import (
        apply_change_stream,
        change_stream_from_files,
    )

    t = lambda s: dt.datetime(2026, 1, 1, 0, 0, s)
    src = str(tmp_path / "changes")
    _mk_changes(spark, [
        (t(1), "vertex", "upsert", "x", "Node", None, None, None, {}),
        (t(1), "vertex", "upsert", "y", "Node", None, None, None, {}),
        (t(2), "edge", "upsert", None, None, "x", "LINKS", "y", {"w": "1"}),
    ]).write.mode("overwrite").parquet(src)

    g = GraphSession(spark)
    q = apply_change_stream(
        g, change_stream_from_files(spark, src),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    assert g.vertex_count() == 2
    assert g.edge_count() == 1
    assert g.edges.collect()[0]["properties"] == {"w": "1"}


def test_change_stream_on_update_hook(spark, tmp_path):
    """on_update runs after each fold over the fresh state —
    continuous derived views over streaming graph updates."""
    import datetime as dt

    from graphdb_spark.session import GraphSession
    from graphdb_spark.streaming.graph_updates import (
        apply_change_stream,
        change_stream_from_files,
    )

    t = lambda s: dt.datetime(2026, 1, 1, 0, 0, s)
    src = str(tmp_path / "changes_hook")
    _mk_changes(spark, [
        (t(1), "vertex", "upsert", "x", "Node", None, None, None, {}),
        (t(1), "vertex", "upsert", "y", "Node", None, None, None, {}),
        (t(2), "edge", "upsert", None, None, "x", "LINKS", "y", {}),
    ]).write.mode("overwrite").parquet(src)

    seen = []
    g = GraphSession(spark)
    q = apply_change_stream(
        g, change_stream_from_files(spark, src),
        checkpoint_dir=str(tmp_path / "ckpt_hook"),
        on_update=lambda gs, bid: seen.append(
            (bid, gs.vertex_count(), gs.edge_count())
        ),
    )
    q.awaitTermination(120)
    assert seen and seen[-1][1:] == (2, 1)


def test_continuous_query_view(spark, tmp_path):
    """Streaming-native traversal: a pipe-algebra query re-evaluated
    over the folded state per micro-batch, snapshot published to a
    parquet view dir."""
    import datetime as dt

    from graphdb_spark.algebra import Q
    from graphdb_spark.session import GraphSession
    from graphdb_spark.streaming.graph_updates import (
        change_stream_from_files,
        continuous_query_view,
    )

    t = lambda s: dt.datetime(2026, 1, 1, 0, 0, s)
    src = str(tmp_path / "cqv_changes")
    _mk_changes(spark, [
        (t(1), "vertex", "upsert", "a", "Node", None, None, None, {}),
        (t(1), "vertex", "upsert", "b", "Node", None, None, None, {}),
        (t(1), "vertex", "upsert", "c", "Node", None, None, None, {}),
        (t(2), "edge", "upsert", None, None, "a", "L", "b", {}),
        (t(3), "edge", "upsert", None, None, "b", "L", "c", {}),
    ]).write.mode("overwrite").parquet(src)

    sink = str(tmp_path / "cqv_view")
    g = GraphSession(spark)
    q = continuous_query_view(
        g, change_stream_from_files(spark, src),
        checkpoint_dir=str(tmp_path / "cqv_ckpt"),
        query_fn=lambda g2: g2.df(
            Q.specific_vertices("a").outbound().inbound()
            .outbound().inbound()
        ),
        sink_dir=sink,
    )
    q.awaitTermination(120)
    # two-hop traversal from 'a' over the streamed-in graph: reaches c
    got = {r["id"] for r in spark.read.parquet(sink).collect()}
    assert got == {"c"}


def test_incremental_degree_view(spark, tmp_path):
    """Delta-maintained degrees from the change stream: running
    totals reflect adds and deletes without any graph recompute."""
    import datetime as dt

    from graphdb_spark.streaming.graph_updates import (
        change_stream_from_files,
        incremental_degree_view,
    )

    t = lambda s: dt.datetime(2026, 1, 1, 0, 0, s)
    src = str(tmp_path / "idv_changes")
    _mk_changes(spark, [
        (t(1), "edge", "upsert", None, None, "a", "L", "b", {}),
        (t(2), "edge", "upsert", None, None, "a", "L", "c", {}),
        (t(3), "edge", "upsert", None, None, "b", "L", "c", {}),
        (t(4), "edge", "delete", None, None, "a", "L", "b", {}),
    ]).write.mode("overwrite").parquet(src)

    deg = incremental_degree_view(change_stream_from_files(spark, src))
    q = (
        deg.writeStream.format("memory").queryName("idv")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {r["id"]: (r["out_degree"], r["in_degree"])
           for r in spark.sql("SELECT * FROM idv").collect()}
    # a->b was deleted: a keeps out=1 (a->c), b's in-degree nets to 0
    assert got == {"a": (1, 0), "b": (1, 0), "c": (0, 2)}


def test_stream_dedup_drops_exactly_injected_dupes(spark):
    """The dedup-within-watermark gate query stages every
    event_id % 4 == 0 twice; the engine's keyed state must drop
    exactly the injected copies, so the window totals equal the
    distinct event count."""
    from pyspark.sql import functions as F

    from graphdb_spark.sources.tpch import load_tables
    from graphdb_spark.workloads.stream_views import stream_dedup_counts

    sf = "/root/testdata/sf0.001"
    out = stream_dedup_counts(spark, sf)
    total = out.agg(F.sum("n")).collect()[0][0]
    distinct = (
        load_tables(spark, sf)["events"].select("event_id").distinct().count()
    )
    assert total == distinct


def test_stream_interval_join_matches_batch_join(spark):
    """The stream-stream interval join must emit EXACTLY the batch
    join set (no pair dropped by watermark bookkeeping during the
    availableNow replay), every gap within [0, 1h], and each pair
    really a (purchase, click) of the same user."""
    from pyspark.sql import functions as F

    from graphdb_spark.sources.tpch import load_tables
    from graphdb_spark.workloads.stream_views import (
        JOIN_LOOKBACK_MS,
        stream_interval_join,
    )

    sf = "/root/testdata/sf0.001"
    got = stream_interval_join(spark, sf).collect()
    assert got
    for r in got:
        assert 0 <= r["gap_ms"] <= JOIN_LOOKBACK_MS

    ev = load_tables(spark, sf)["events"]
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("pu"), F.col("ts").alias("pts"))
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("cu"), F.col("ts").alias("cts"))
    batch = p.join(c, (F.col("pu") == F.col("cu"))
                   & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR"))
                   & (F.col("cts") <= F.col("pts"))).select(
        "purchase_id", "click_id").collect()
    assert (sorted((r["purchase_id"], r["click_id"]) for r in got)
            == sorted((r["purchase_id"], r["click_id"]) for r in batch))


def test_stream_session_windows_invariants(spark):
    """Native session_window through the streaming engine: per user,
    sessions are disjoint and time-ordered, every session spans at
    least the gap (end = last event + 30 min), consecutive sessions
    are separated by >= the gap, and total events across sessions
    equals the event count."""
    from graphdb_spark.sources.tpch import load_tables
    from graphdb_spark.workloads.stream_views import stream_session_windows

    sf = "/root/testdata/sf0.001"
    rows = stream_session_windows(spark, sf).collect()
    assert rows
    gap = 1800000
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for uid, ss in by_user.items():
        ss.sort(key=lambda r: r["session_start_ms"])
        for r in ss:
            assert r["session_end_ms"] - r["session_start_ms"] >= gap
            assert r["n"] >= 1
        for a, b in zip(ss, ss[1:]):
            assert b["session_start_ms"] >= a["session_end_ms"]
    total = sum(r["n"] for r in rows)
    assert total == load_tables(spark, sf)["events"].count()


def test_apply_changelog_equals_batch_fold(spark):
    """The TRUE foreachBatch replay (3 ordered micro-batches via
    maxFilesPerTrigger=1) must land on exactly the batch fold's final
    state — any batch reorder, split, or double-apply shows up as a
    state diff."""
    from graphdb_spark.workloads.stream_views import (
        stream_apply_changelog,
        stream_fold_degrees,
    )

    sf = "/root/testdata/sf0.001"
    streamed = {tuple(r) for r in stream_apply_changelog(spark, sf).collect()}
    batch = {tuple(r) for r in stream_fold_degrees(spark, sf).collect()}
    assert streamed == batch and streamed


def test_stream_incremental_dedup_batch_semantics(spark):
    """The streaming sketch-store probe sees EXACTLY the docs of
    strictly earlier batches: batch-0 docs are all clean-to-ingest,
    any reported best_match precedes its prober's batch, and the
    report covers every signed doc exactly once."""
    from graphdb_spark.workloads.stream_views import (
        INC_BATCH,
        stream_incremental_dedup,
    )

    rows = stream_incremental_dedup(spark, "/root/testdata/sf0.01").collect()
    assert len(rows) > 0
    seen = [r["new_id"] for r in rows]
    assert len(seen) == len(set(seen))  # one report row per doc
    for r in rows:
        assert r["batch"] == r["new_id"] // INC_BATCH
        if r["batch"] == 0:
            assert r["n_matches"] == 0 and r["best_match"] is None
        if r["best_match"] is not None:
            assert r["best_match"] // INC_BATCH < r["batch"]
            assert r["n_matches"] >= 1 and r["best_est"] is not None


def test_fold_appends_batch_layout_maintained(spark):
    """Insert-only fold: the appended rows are served, endpoint
    validation drops dangling edges, in-batch duplicates collapse, and
    a batch carrying deletes raises loudly. The write divorces an
    adopted layout, whose frames keep the pre-fold rows, and a later
    re-adoption lays out the folded state; an empty micro-batch is no
    swap at all and keeps the layout adopted."""
    import pytest as _pytest

    from graphdb_spark.datamodel import local_df
    from graphdb_spark.session import GraphSession
    from graphdb_spark.streaming.graph_updates import fold_appends

    v = local_df(
        spark, [("a", "N", {}), ("b", "N", {})],
        "id string, label string, properties map<string,string>",
    )
    e = local_df(
        spark, [("a", "L", "b", {})],
        "src string, relationship string, dst string, "
        "properties map<string,string>",
    )
    g = GraphSession(spark, v, e, assume_integrity=True)
    g.use_adjacency_layout()
    assert g._e_by_key
    pre_fold = g._layout_frames
    fold_appends(g, _mk_changes(spark, [
        (None, "vertex", "upsert", "c", "N", None, None, None, {}),
        # in-batch duplicate id: collapses to one row
        (None, "vertex", "upsert", "c", "N", None, None, None, {}),
        # edge to a vertex added IN THIS batch: valid
        (None, "edge", "upsert", None, None, "b", "L", "c", {}),
        # dangling edge: 'z' exists nowhere -> dropped
        (None, "edge", "upsert", None, None, "a", "L", "z", {}),
    ]))
    # divorced like any graph swap; the layout frames still hold the
    # pre-fold rows
    assert not g._e_by_key
    assert g.vertex_count() == 3 and g.edge_count() == 2
    assert [df.count() for df in pre_fold] == [2, 1, 1]
    # a later adoption lays out the folded state
    g.use_adjacency_layout()
    assert g._e_by_key and g._layout_frames[1] is not pre_fold[1]
    assert g.vertex_count() == 3 and g.edge_count() == 2
    assert [df.count() for df in g._layout_frames] == [3, 2, 2]
    adopted = g._e_by_key
    fold_appends(g, _mk_changes(spark, []))
    assert g._e_by_key is adopted
    # deletes are a contract violation, not a silent append
    with _pytest.raises(ValueError, match="insert-only"):
        fold_appends(g, _mk_changes(spark, [
            (None, "vertex", "delete", "a", None, None, None, None,
             None),
        ]))


def test_apply_append_stream_matches_batch(spark, tmp_path):
    """True streaming run of the append path: two disjoint insert
    micro-batches drained with availableNow; final state equals the
    one-shot batch fold. The folds divorce the adopted layout, and a
    later re-adoption serves the same rows from the new layout."""
    from graphdb_spark.datamodel import local_df
    from graphdb_spark.session import GraphSession
    from graphdb_spark.streaming.graph_updates import (
        apply_append_stream,
        change_stream_from_files,
    )

    v = local_df(
        spark, [("a", "N", {}), ("b", "N", {})],
        "id string, label string, properties map<string,string>",
    )
    e = local_df(
        spark, [],
        "src string, relationship string, dst string, "
        "properties map<string,string>",
    )
    src = str(tmp_path / "adds")
    _mk_changes(spark, [
        (None, "edge", "upsert", None, None, "a", "L", "b", {}),
    ]).coalesce(1).write.mode("overwrite").parquet(f"{src}/b0")
    _mk_changes(spark, [
        (None, "vertex", "upsert", "c", "N", None, None, None, {}),
        (None, "edge", "upsert", None, None, "b", "L", "c", {}),
    ]).coalesce(1).write.mode("overwrite").parquet(f"{src}/b1")

    g = GraphSession(spark, v, e, assume_integrity=True)
    g.use_adjacency_layout()
    q = apply_append_stream(
        g,
        change_stream_from_files(spark, f"{src}/b*",
                                 max_files_per_trigger=1),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    assert not g._e_by_key
    assert g.vertex_count() == 3 and g.edge_count() == 2

    def edges():
        return sorted(
            (r["src"], r["relationship"], r["dst"])
            for r in g.edges.collect()
        )

    assert edges() == [("a", "L", "b"), ("b", "L", "c")]
    g.use_adjacency_layout()
    assert g._e_by_key and g.edges is g._e_by_key["src"]
    assert g.vertex_count() == 3 and edges() == [
        ("a", "L", "b"), ("b", "L", "c")]


def test_stream_append_ingest_gate_semantics(spark):
    """The gate constituent: per-vertex degrees cover every base user
    exactly once, only valid endpoints contribute, and totals equal
    the distinct valid triple count (out) on both sides."""
    from graphdb_spark.workloads.stream_views import stream_append_ingest

    rows = stream_append_ingest(spark, "/root/testdata/sf0.001").collect()
    assert rows
    ids = [r["id"] for r in rows]
    assert len(ids) == len(set(ids))
    assert ids == sorted(ids)
    total_out = sum(r["out_degree"] for r in rows)
    total_in = sum(r["in_degree"] for r in rows)
    assert total_out == total_in and total_out > 0
