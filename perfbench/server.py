"""The system under test, in one process: a Spark session, a
GraphSession over the benchmark dataset and ``rest.QueryServer`` in
front of it.

Started by ``run.py``, which drives it two ways: HTTP requests to the
REST server, and JSON commands, one per line, on this process's stdin
(replies are JSON lines on stdout; everything the engine prints goes
to stderr). Commands:

- ``{"cmd": "pass", "order": [...], "digest": bool, "tag": str}`` runs
  the named workload queries in this process, in order, forcing each
  with ``collect()``; replies with per-query seconds and row counts
  and, when asked, the result digests.
- ``{"cmd": "trace", "on": bool}`` switches span recording on or off.
- ``{"cmd": "stats"}`` returns the spans and Spark job statistics
  recorded so far plus JVM and memory readings.
- ``{"cmd": "stop"}`` shuts everything down.

With ``--trace 1`` the engine's layer entry points are wrapped (see
``tracing.py``) before any workload module is imported.
"""

from __future__ import annotations

import argparse
import json
import os
import queue
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

from tracing import Tracer  # noqa: E402
import oracle  # noqa: E402

#: engine actions timed as ``spark.action`` spans
ACTIONS = ("collect", "count", "toPandas", "take", "head", "first",
           "isEmpty")
OPERATOR_MODULES = ("traversal", "analytics", "dedup", "similarity",
                    "text", "temporal")


def install_spans(tracer: Tracer, jobs: "JobStats"):
    """Wrap each layer's public entry points. Must run before
    ``graphdb_spark.workloads`` is imported, so the workload modules'
    ``from ... import`` bindings pick up the wrapped operators."""
    import importlib

    from pyspark.sql.classic.dataframe import DataFrame

    from graphdb_spark import partitioning, rest, session, translator
    from graphdb_spark.cypher import executor, parser
    from graphdb_spark.operators import mutations
    from graphdb_spark.sources import tpch

    for attr in ACTIONS:
        tracer.wrap(DataFrame, attr, "spark.action")
    for mod in OPERATOR_MODULES:
        tracer.wrap_module(
            importlib.import_module(f"graphdb_spark.operators.{mod}"),
            "operators")
    tracer.wrap_module(mutations, "operators.mutations")
    tracer.wrap(parser, "parse_cypher", "cypher.parse")
    tracer.wrap(executor, "parse_cypher", "cypher.parse")
    tracer.wrap(executor, "execute_cypher", "cypher.execute")
    tracer.wrap(translator.Translator, "df", "translator")
    tracer.wrap(translator.Translator, "run", "translator")
    G = session.GraphSession
    for attr in ("execute", "cypher", "sql"):
        tracer.wrap(G, attr, f"session.{attr}")
    tracer.wrap(G, "set_state", "session.set_state")
    tracer.wrap(tpch, "load_tables", "sources.load")
    tracer.wrap(partitioning, "write_adjacency", "partitioning.layout_write")
    tracer.wrap(rest, "_df_payload", "rest.payload")

    handle = rest._Handler.do_POST

    def do_post(self):
        if not tracer.on:
            return handle(self)
        req = self.headers.get("X-Bench-Req")
        tracer.request = req
        jobs.begin(req)
        try:
            return tracer.call("rest.handle", handle, self)
        finally:
            jobs.end(req)
            tracer.request = None

    rest._Handler.do_POST = do_post


class JobStats:
    """Spark job, stage and task counts per request, read from Spark's
    status store right after each request ends (before the store's
    retention limit can drop them)."""

    def __init__(self, sc):
        self.sc = sc
        self.by_req: dict = {}
        self._q: queue.Queue = queue.Queue()
        self._t = threading.Thread(target=self._drain, daemon=True)
        self._t.start()

    def begin(self, req):
        if req is not None:
            self.sc.setJobGroup(req, "perfbench")

    def end(self, req):
        if req is not None:
            self._q.put(req)

    def flush(self):
        self._q.join()

    def _drain(self):
        while True:
            req = self._q.get()
            try:
                self.by_req[req] = self._read(req)
            except Exception as exc:  # noqa: BLE001 — keep draining
                print(f"# perfbench: job stats for {req} failed: {exc!r}",
                      file=sys.stderr)
            finally:
                self._q.task_done()

    def _read(self, req) -> dict:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
               "input_rows": 0, "shuffle_read_bytes": 0,
               "shuffle_write_bytes": 0, "sched_wait_ms": []}
        for jid in tracker.getJobIdsForGroup(req):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                st = store.lastStageAttempt(sid)
                sub, first = st.submissionTime(), st.firstTaskLaunchedTime()
                if not sub.isDefined():
                    continue  # skipped: its output was reused
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["input_rows"] += st.inputRecords() + st.shuffleReadRecords()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                if first.isDefined():
                    out["sched_wait_ms"].append(
                        first.get().getTime() - sub.get().getTime())
        return out


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def jvm_readings(sc) -> dict:
    mf = sc._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    heap_peak = sum(p.getPeakUsage().getUsed()
                    for p in mf.getMemoryPoolMXBeans()
                    if str(p.getType()) == "Heap memory")
    return {"gc_ms": gc_ms, "heap_peak_mb": heap_peak / 2**20}


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args(argv)

    # protocol replies get the real stdout; engine prints go to stderr
    proto = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    def reply(obj):
        proto.write(json.dumps(obj) + "\n")

    tracer = Tracer()
    setup_t = {}
    from graphdb_spark.session import build_spark

    spark = build_spark("perfbench", master=f"local[{os.environ['SPARK_GRAFT_CPUS']}]")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    jobs = None
    if args.trace:
        jobs = JobStats(sc)
        install_spans(tracer, jobs)
        tracer.on = True
    from graphdb_spark import workloads
    from graphdb_spark.rest import QueryServer
    from graphdb_spark.workloads.graph import graph_session

    g = tracer.call("workloads.graph_session", graph_session, spark, args.data)
    server = QueryServer(g).start()
    setup_spans = tracer.take()
    tracer.on = False
    queries = workloads.all_unpacked_queries()
    reply({"event": "ready", "url": server.url, "pid": os.getpid(),
           "jvm_pid": sc._jvm.java.lang.ProcessHandle.current().pid(),
           "setup_spans": setup_spans})

    for line in sys.stdin:
        cmd = json.loads(line)
        op = cmd["cmd"]
        try:
            if op == "stop":
                break
            if op == "trace":
                if jobs is None:
                    raise RuntimeError("server started without --trace 1")
                tracer.take()
                tracer.on = bool(cmd["on"])
                reply({"ok": True})
            elif op == "pass":
                out = {"times": {}, "rows": {}, "digests": {}, "errors": {}}

                def run_query(name):
                    req = f"{cmd['tag']}:{name}"
                    if tracer.on:
                        tracer.request = req
                        jobs.begin(req)
                    t0 = time.perf_counter()
                    try:
                        df = tracer.call("workloads.query", queries[name],
                                         spark, args.data)
                        rows = df.collect()
                    except Exception as exc:  # noqa: BLE001 — one query
                        out["errors"][name] = f"{type(exc).__name__}: {exc}"[:300]
                        return
                    finally:
                        if tracer.on:
                            jobs.end(req)
                            tracer.request = None
                    out["times"][name] = time.perf_counter() - t0
                    out["rows"][name] = len(rows)
                    if cmd.get("digest"):
                        out["digests"][name] = oracle.digest(
                            df.columns, [tuple(r) for r in rows])

                for name in cmd["order"]:
                    run_query(name)
                reply(out)
            elif op == "stats":
                if jobs is not None:
                    jobs.flush()
                jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
                reply({
                    "spans": tracer.take(),
                    "jobs": dict(jobs.by_req) if jobs else {},
                    "jvm": jvm_readings(sc),
                    "rss_mb": (vm_hwm_kb(os.getpid()) + vm_hwm_kb(jvm_pid)) / 1024,
                })
            else:
                raise ValueError(f"unknown command {op!r}")
        except Exception as exc:  # noqa: BLE001 — report, keep serving
            reply({"error": f"{type(exc).__name__}: {exc}"})
    server.stop()
    spark.stop()
    reply({"event": "stopped"})


if __name__ == "__main__":
    main()
