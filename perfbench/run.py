"""Serving, write and analytics benchmark for graphdb_spark.

    python3 perfbench/run.py --workload serve_lookup --seed 1 --seconds 20 --trace 0

Run from the repository root. One run starts the system under test in
one process (``server.py``: Spark + GraphSession over a
generated TPC-H-shaped graph + ``rest.QueryServer``), drives one
workload against it from this process with at most ``CLIENTS``
threads, checks every answer, and prints a report followed by one JSON
line ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run adds a traced phase and reports per-layer metrics instead.

Workloads (see README.md for the reasons behind each):

- ``serve_lookup``: open-loop Poisson reads over REST at ``OPEN_RATE``,
  then a closed loop with ``CLIENTS`` clients for the peak rate.
- ``analytics_batch``: passes over twelve heavy workload queries run
  inside the server process, each forced with ``collect()``.
- ``mixed_rw``: ``CLIENTS`` closed-loop REST clients, a quarter of
  their operations writes, with read-your-writes checks and a final
  reconciliation of the nodes they wrote.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import http.client
import json
import mmap
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

#: dataset scale: 18,500 vertices and ~75,000 edges (see README.md)
SCALE = 0.01
#: client threads / connections, and Spark cores, never above nproc
CLIENTS = min(4, os.cpu_count() or 1)
#: fixed open-loop offered rate (requests/s), chosen once at about half
#: the peak_rps of CLIENTS closed-loop clients on a 4-core machine
OPEN_RATE = 7.0
#: seconds one warm analytics pass takes on a 4-core machine: --seconds
#: buys that many whole passes (at least two, the first of them cold), a
#: count that does not depend on how fast a run happens to be
PASS_S = 16.0
#: share of --seconds spent in serve_lookup's open-loop phase
OPEN_SHARE = 0.2
#: serve_lookup's closed loop sends a fixed number of requests: this
#: rate (about the warm closed-loop rate on a 4-core machine) times the
#: rest of --seconds. Throughput keeps rising as the plan cache and the
#: JIT warm, so a fixed count, not a fixed time, keeps every run's
#: measured requests at the same point of that curve
CLOSED_RATE = 20.0
#: the closed loop's completions are timed in this many chunks of equal
#: count; ops_per_s is the median chunk rate (stats.median_rate)
CHUNKS = 8
#: untimed requests, sent by CLIENTS closed-loop clients after set-up,
#: before any phase is measured (code generation and JIT settle)
WARMUP_REQUESTS = 64
#: idle seconds after warm-up, so background JIT compilation started
#: by the warm-up finishes before anything is timed
SETTLE_S = 1.0
#: Zipf exponent of the key distribution, and draws per stratified block
ZIPF_S = 1.0
ZIPF_BLOCK = 64
#: rotation of read shapes: 0 Cypher point lookup, 1 Cypher 1-hop
#: aggregate, 2 SQL point select. The costs differ (SQL < lookup <
#: 1-hop), so the median request must be the middle shape: with 60%
#: lookups it falls inside their distribution, not on a boundary
#: between two shapes where it would jump from run to run
SHAPES = (0, 2, 0, 1, 0)
#: JVM heap, fixed and touched at start (-Xms = -Xmx, AlwaysPreTouch)
#: as for a production JVM service, so resident memory does not swing
#: with when the collector chooses to grow the heap
HEAP = "2g"
REQUEST_TIMEOUT_S = 60
READY_TIMEOUT_S = 150

ANALYTICS = [
    "q1_pricing_summary", "q5_region_revenue", "g_one_hop",
    "g_two_hop_count", "g_bfs_reachability", "g_pagerank_top",
    "g_adamic_adar", "cypher_grouped_count", "temporal_replay",
    "dedup_minhash_lsh", "tfidf_cosine_pairs", "lm_bigram_score",
]

WORK = os.path.join(HERE, ".work")


# ---------------------------------------------------------------- inputs

class ReadMix:
    """Seeded stream of the three read shapes with Zipf-distributed
    keys and their expected answers, computed by DuckDB over the same
    parquet before the run starts."""

    def __init__(self, data_dir: str, rng: np.random.Generator):
        import duckdb

        con = duckdb.connect()
        try:
            cust = con.sql(f"""
                SELECT c.c_custkey, c.c_mktsegment, count(*)
                FROM '{data_dir}/customer.parquet' c
                JOIN '{data_dir}/orders.parquet' o ON o.o_custkey = c.c_custkey
                GROUP BY ALL ORDER BY 1""").fetchall()
            orders = [r[0] for r in con.sql(
                f"SELECT o_orderkey FROM '{data_dir}/orders.parquet' ORDER BY 1"
            ).fetchall()]
        finally:
            con.close()
        self.rng = rng
        self.cust = [c for c, _, _ in cust]
        self.segment = {c: s for c, s, _ in cust}
        self.n_orders = {c: n for c, _, n in cust}
        self.orders = orders
        # hot keys differ per seed: Zipf ranks map onto a seeded permutation
        self.cust_rank = rng.permutation(self.cust)
        self.order_rank = rng.permutation(self.orders)
        self._cdf_c = self._zipf_cdf(len(self.cust))
        self._cdf_o = self._zipf_cdf(len(self.orders))
        self._strata = {"c": [], "o": []}
        self._n = 0
        self._lock = threading.Lock()

    @staticmethod
    def _zipf_cdf(n: int) -> np.ndarray:
        w = 1.0 / np.arange(1, n + 1) ** ZIPF_S
        return np.cumsum(w / w.sum())

    def _pick(self, ranked, cdf, strata: list):
        """Zipf draw by stratified sampling: each block of ZIPF_BLOCK
        draws takes one uniform from each of ZIPF_BLOCK equal strata,
        in seeded order, so every run's key frequencies (and with them
        its plan-cache repeat share) match the distribution closely;
        only which keys are hot, and the order, change with the seed."""
        if not strata:
            strata.extend((self.rng.permutation(ZIPF_BLOCK)
                           + self.rng.random(ZIPF_BLOCK)) / ZIPF_BLOCK)
        i = int(np.searchsorted(cdf, strata.pop(), side="right"))
        return int(ranked[min(i, len(ranked) - 1)])

    def next(self) -> tuple[str, list]:
        """The next request text and its expected ``results``."""
        with self._lock:
            return self._next()

    def _next(self) -> tuple[str, list]:
        # shapes rotate, so every run sends the same mix; keys are random
        shape = SHAPES[self._n % len(SHAPES)]
        self._n += 1
        if shape == 0:
            k = self._pick(self.cust_rank, self._cdf_c, self._strata["c"])
            return (f"MATCH (c:customer {{id: 'c_{k}'}}) "
                    "RETURN c.id, c.mktsegment",
                    [[f"c_{k}", self.segment[k]]])
        if shape == 1:
            k = self._pick(self.cust_rank, self._cdf_c, self._strata["c"])
            return (f"MATCH (c:customer {{id: 'c_{k}'}})-[:PLACED]->(o) "
                    "RETURN count(o) AS n", [[self.n_orders[k]]])
        k = self._pick(self.order_rank, self._cdf_o, self._strata["o"])
        return (f"SELECT id, label FROM vertices WHERE id = 'o_{k}'",
                [[f"o_{k}", "order"]])


def expected_digests(data_dir: str) -> dict:
    """DuckDB digests of the analytics queries' oracle twins. Cached in
    the work directory, keyed by the dataset and the SQL text, because
    the dataset is fixed and the twins take seconds to run."""
    sys.path.insert(0, ROOT)
    from graphdb_spark import workloads

    sqls = {n: workloads.all_unpacked_oracles()[n] for n in ANALYTICS}
    with open(os.path.join(data_dir, "_COMPLETE")) as fh:
        key = hashlib.sha256(
            (fh.read() + json.dumps(sqls, sort_keys=True)).encode()
        ).hexdigest()
    path = os.path.join(WORK, f"oracle-{key[:16]}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return {k: tuple(v) for k, v in json.load(fh).items()}
    out = oracle.duckdb_digests(data_dir, sqls)
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(out, fh)
    os.replace(tmp, path)
    return out


def page_cache_share(paths) -> float:
    """Share of the files' pages resident in the OS page cache
    (mincore over a private mapping; touches no page)."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.mincore.argtypes = [ctypes.c_void_p, ctypes.c_size_t,
                             ctypes.POINTER(ctypes.c_ubyte)]
    libc.mincore.restype = ctypes.c_int
    page = mmap.PAGESIZE
    resident = total = 0
    for p in paths:
        size = os.path.getsize(p)
        if size == 0:
            continue
        n = (size + page - 1) // page
        vec = (ctypes.c_ubyte * n)()
        with open(p, "rb") as fh:
            mm = mmap.mmap(fh.fileno(), size, flags=mmap.MAP_PRIVATE,
                           prot=mmap.PROT_READ | mmap.PROT_WRITE)
            try:
                buf = ctypes.c_char.from_buffer(mm)
                try:
                    if libc.mincore(ctypes.addressof(buf), size, vec) != 0:
                        raise OSError(ctypes.get_errno(), "mincore failed")
                finally:
                    del buf
            finally:
                mm.close()
        resident += sum(b & 1 for b in vec)
        total += n
    return resident / total if total else 0.0


# ---------------------------------------------------------------- server

class Server:
    """The system-under-test process and its control channel."""

    def __init__(self, data_dir: str, run_dir: str, trace: bool):
        os.makedirs(run_dir)
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp)
        env = dict(os.environ)
        env.update({
            "SPARK_GRAFT_CPUS": str(CLIENTS),
            "SPARK_GRAFT_DRIVER_MEM": HEAP,
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
            "TMPDIR": tmp,
            "PYSPARK_SUBMIT_ARGS": (
                "--conf spark.ui.showConsoleProgress=false "
                # -XX:-UsePerfData: no hsperfdata file outside the checkout
                "--driver-java-options "
                f"'-Djava.io.tmpdir={tmp} -Xms{HEAP} -XX:+AlwaysPreTouch"
                " -XX:-UsePerfData' pyspark-shell"
            ),
        })
        env.pop("SPARK_MASTER", None)
        self.t_launch = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "server.py"),
             "--data", data_dir, "--trace", str(int(trace))],
            cwd=run_dir, env=env, stdin=subprocess.PIPE,
            stdout=subprocess.PIPE, stderr=open(
                os.path.join(run_dir, "server.log"), "w"),
            text=True, start_new_session=True,
        )
        self.jvm_pid = None
        ready = self._read(READY_TIMEOUT_S)
        if ready.get("event") != "ready":
            raise RuntimeError(f"server did not start: {ready}")
        self.url = ready["url"]
        self.jvm_pid = ready["jvm_pid"]
        self.setup_spans = ready["setup_spans"]

    def _read(self, timeout: float) -> dict:
        box: list = []
        t = threading.Thread(target=lambda: box.append(self.proc.stdout.readline()),
                             daemon=True)
        t.start()
        t.join(timeout)
        if not box or not box[0]:
            raise RuntimeError("no reply from server (see its server.log)")
        return json.loads(box[0])

    def cmd(self, obj: dict, timeout: float = 150) -> dict:
        self.proc.stdin.write(json.dumps(obj) + "\n")
        self.proc.stdin.flush()
        out = self._read(timeout)
        if "error" in out:
            raise RuntimeError(out["error"])
        return out

    def close(self):
        """Stop the server and its JVM and wait until both are gone."""
        if self.proc.poll() is None:
            try:
                self.cmd({"cmd": "stop"}, timeout=30)
                self.proc.wait(timeout=30)
            except (RuntimeError, OSError, subprocess.TimeoutExpired):
                pass
        if self.proc.poll() is None:
            os.killpg(self.proc.pid, signal.SIGKILL)
            self.proc.wait(timeout=30)
        if self.jvm_pid:
            deadline = time.time() + 30
            while _alive(self.jvm_pid):
                if time.time() > deadline:
                    os.kill(self.jvm_pid, signal.SIGKILL)
                    deadline = time.time() + 30
                time.sleep(0.1)
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return False


# ---------------------------------------------------------------- client

class Client:
    """REST client: one connection per request (the server speaks
    HTTP/1.0), timing and checking each answer."""

    def __init__(self, url: str, outcomes: stats.Outcomes):
        host, port = url.split("//")[1].split(":")
        self.host, self.port = host, int(port)
        self.outcomes = outcomes
        self.records: list[dict] = []
        self._lock = threading.Lock()
        self._seq = 0

    def send(self, text: str, expect=None, kind: str = "read", due=None,
             phase: str = "", wrong: str = "wrong_answer") -> dict:
        """POST one query. ``expect`` is the expected ``results`` list
        (None: not checked); a different answer is a failure of kind
        ``wrong``. Returns the record, whose ``ok`` is False when the
        operation failed in any way."""
        with self._lock:
            op = self.outcomes.attempt()
            self._seq += 1
            req = f"r{self._seq}"
        body = json.dumps({"query": text}).encode()
        t_send = time.perf_counter()
        rec = {"op": op, "req": req, "kind": kind, "phase": phase,
               "text": text, "t_due": t_send if due is None else due,
               "t_send": t_send, "status": None, "results": None}
        try:
            conn = http.client.HTTPConnection(self.host, self.port,
                                              timeout=REQUEST_TIMEOUT_S)
            try:
                conn.request("POST", "/api/v1/query", body,
                              {"Content-Type": "application/json",
                               "X-Bench-Req": req})
                resp = conn.getresponse()
                payload = resp.read()
                rec["status"] = resp.status
            finally:
                conn.close()
            if rec["status"] == 200:
                rec["results"] = json.loads(payload).get("results")
        except TimeoutError:
            rec["fail"] = "timeout"
        except (OSError, http.client.HTTPException, ValueError):
            rec["fail"] = "transport"
        rec["t_done"] = time.perf_counter()
        if "fail" not in rec:
            if rec["status"] != 200:
                rec["fail"] = "http_status"
            elif expect is not None and rec["results"] != expect:
                rec["fail"] = wrong
        if "fail" in rec:
            self.outcomes.fail(op, rec["fail"])
        rec["ok"] = "fail" not in rec
        with self._lock:
            self.records.append(rec)
        return rec


def _run_threads(n: int, target):
    threads = [threading.Thread(target=target, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def open_loop(client: Client, mix: ReadMix, rng, seconds: float,
              phase: str):
    """Independent users: Poisson arrivals at OPEN_RATE, sent by up to
    CLIENTS threads; latency counts from when a request was due.

    The exponential gaps are drawn by stratified sampling (one uniform
    per equal stratum, in seeded order), so every run offers the same
    number of requests with the same set of gaps; the seed changes
    their order."""
    n = max(1, round(OPEN_RATE * seconds))
    u = (rng.permutation(n) + rng.random(n)) / n
    gaps = -np.log1p(-u) / OPEN_RATE
    arrivals = [(t, *mix.next()) for t in np.cumsum(gaps) * (seconds / gaps.sum())]
    start = time.perf_counter() + 0.05
    nxt = [0]
    lock = threading.Lock()

    def worker(_):
        while True:
            with lock:
                i = nxt[0]
                nxt[0] += 1
            if i >= len(arrivals):
                return
            offset, text, expect = arrivals[i]
            due = start + offset
            time.sleep(max(0.0, due - time.perf_counter()))
            client.send(text, expect, due=due, phase=phase)

    _run_threads(CLIENTS, worker)


def closed_loop(client: Client, next_op, seconds: float, phase: str) -> dict:
    """CLIENTS callers, each sending its next operation as soon as the
    previous one returns, until ``seconds`` have passed."""
    start = time.perf_counter()
    deadline = start + seconds

    def worker(i):
        while time.perf_counter() < deadline:
            next_op(i, phase)

    _run_threads(CLIENTS, worker)
    return {"start": start, "end": time.perf_counter()}


def closed_count(client: Client, mix: ReadMix, n: int, phase: str) -> float:
    """CLIENTS callers sending ``n`` reads between them, each sending
    its next as soon as the previous one returns; returns the start."""
    lock = threading.Lock()
    left = [n]

    def worker(_):
        while True:
            with lock:
                if left[0] == 0:
                    return
                left[0] -= 1
            client.send(*mix.next(), phase=phase)

    start = time.perf_counter()
    _run_threads(CLIENTS, worker)
    return start


# ---------------------------------------------------------------- metrics

def latency_ms(recs, from_due=True) -> list[float]:
    return [1000.0 * (r["t_done"] - (r["t_due"] if from_due else r["t_send"]))
            for r in recs]


def summarize_reads(recs) -> dict:
    lat = latency_ms(recs)
    tail_v, tail_p = stats.tail(lat)
    return {"read_p50_ms": stats.percentile(lat, 50), "read_p95_ms": tail_v,
            "read_tail_pct": tail_p, "read_n": len(lat)}


def layer_metrics(spans, jobs, n_ops: int, n_writes: int,
                  client_recs=(), rows_out: int = 0) -> dict:
    """Per-layer metrics of one traced phase. Times are self times per
    operation (writes for the write-path layers)."""
    selft = stats.self_times(spans)
    by_name: dict = {}
    for s in spans:
        by_name[s["name"]] = by_name.get(s["name"], 0.0) + selft[s["id"]]

    def ratio(num, den):
        return num / den if den else 0.0

    def per_op(*names):
        return ratio(1000.0 * sum(by_name.get(n, 0.0) for n in names), n_ops)

    def per_write(name):
        return ratio(1000.0 * by_name.get(name, 0.0), n_writes)

    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["name"])
    cypher_calls = [s for s in spans if s["name"] == "session.cypher"]
    hits = sum(1 for s in cypher_calls
               if "cypher.execute" not in kids.get(s["id"], ()))
    set_state_calls = sum(1 for s in spans if s["name"] == "session.set_state")
    # rest.http_ms: client round trip minus server-side execute + collect
    server_ms: dict = {}
    for s in spans:
        if s["name"] in ("session.execute", "rest.payload") and s["req"]:
            server_ms[s["req"]] = (server_ms.get(s["req"], 0.0)
                                   + 1000.0 * (s["t1"] - s["t0"]))
    http = [1000.0 * (r["t_done"] - r["t_send"]) - server_ms.get(r["req"], 0.0)
            for r in client_recs]
    j = list(jobs.values())

    def tot(k):
        return sum(x[k] for x in j)

    waits = [w for x in j for w in x["sched_wait_ms"]]
    return {
        "rest.http_ms": ratio(sum(http), len(http)),
        "rest.http_error_share": ratio(
            sum(1 for r in client_recs if r["status"] != 200), len(client_recs)),
        "session.execute_ms": per_op("session.execute", "session.cypher",
                                     "session.sql"),
        "session.plan_cache_hit_ratio": ratio(hits, len(cypher_calls)),
        "session.set_state_ms": per_write("session.set_state"),
        "session.set_state_calls_per_write": ratio(set_state_calls, n_writes),
        "operators.mutations.apply_ms": per_write("operators.mutations"),
        "operators.plan_ms": per_op("operators"),
        "cypher.parse_ms": per_op("cypher.parse"),
        "cypher.plan_ms": per_op("cypher.execute"),
        "translator.df_ms": per_op("translator"),
        "spark.action_ms": per_op("spark.action"),
        "spark.jobs_per_op": ratio(tot("jobs"), n_ops),
        "spark.stages_per_op": ratio(tot("stages"), n_ops),
        "spark.tasks_per_op": ratio(tot("tasks"), n_ops),
        "spark.sched_wait_ms": ratio(sum(waits), len(waits)),
        "spark.input_rows_per_row_out": ratio(tot("input_rows"), rows_out),
        "spark.shuffle_read_bytes_per_op": ratio(tot("shuffle_read_bytes"), n_ops),
        "spark.shuffle_write_bytes_per_op": ratio(tot("shuffle_write_bytes"), n_ops),
        "spark.failed_tasks": tot("failed_tasks"),
    }


def setup_layers(setup_spans) -> dict:
    """Wall time of each set-up layer: the outermost spans of its name."""
    names = {s["id"]: s["name"] for s in setup_spans}

    def total(name):
        return sum(s["t1"] - s["t0"] for s in setup_spans
                   if s["name"] == name and names.get(s["parent"]) != name)

    return {
        "sources.load_s": total("sources.load"),
        "workloads.graph_session_s": total("workloads.graph_session"),
        "partitioning.layout_write_s": total("partitioning.layout_write"),
    }


def input_props(recs, phase_open=None) -> dict:
    seen, repeats = set(), 0
    for r in sorted(recs, key=lambda r: r["t_send"]):
        if r["text"] in seen:
            repeats += 1
        seen.add(r["text"])
    lag = [1000.0 * (r["t_send"] - r["t_due"]) for r in (phase_open or [])]
    return {
        "bench.plan_repeat_share": repeats / len(recs) if recs else 0.0,
        "bench.distinct_texts": len(seen),
        "bench.gen_lag_p95_ms": stats.tail(lag)[0] if lag else 0.0,
    }


def write_drift(writes, window) -> float:
    """Median write latency in the last fifth of the window over the
    first fifth (0 when either fifth saw no write)."""
    t0, t1 = window
    fifth = (t1 - t0) / 5
    first = [1000 * (w["t_done"] - w["t_send"]) for w in writes
             if w["t_send"] < t0 + fifth]
    last = [1000 * (w["t_done"] - w["t_send"]) for w in writes
            if w["t_send"] >= t1 - fifth]
    if not first or not last:
        return 0.0
    return stats.median(last) / stats.median(first)


# ---------------------------------------------------------------- workloads

def first_request(server: Server, client: Client, mix: ReadMix) -> float:
    """Set-up time: process launch to the first request served."""
    rec = client.send(*mix.next(), phase="setup")
    return rec["t_done"] - server.t_launch


def warm_up(client: Client, mix: ReadMix):
    """WARMUP_REQUESTS untimed reads from CLIENTS closed-loop clients."""
    closed_count(client, mix, WARMUP_REQUESTS, "warmup")
    time.sleep(SETTLE_S)


def traced(server: Server, run_phase):
    """Run ``run_phase`` with span recording on; returns its result
    with the spans, job statistics and JVM readings of the phase."""
    server.cmd({"cmd": "trace", "on": True})
    before = server.cmd({"cmd": "stats"})
    out = run_phase()
    after = server.cmd({"cmd": "stats"})
    server.cmd({"cmd": "trace", "on": False})
    return out, after["spans"], after["jobs"], before["jvm"], after["jvm"]


def serve_lookup(server, client, mix, rng, seconds, trace):
    open_s = seconds * OPEN_SHARE
    open_loop(client, mix, rng, open_s, "open")
    opened = [r for r in client.records if r["phase"] == "open"]
    reads = summarize_reads(opened)

    start = closed_count(client, mix,
                         max(1, round(CLOSED_RATE * (seconds - open_s))),
                         "closed")
    closed = [r for r in client.records if r["phase"] == "closed"]
    ok = [r["t_done"] for r in closed if r["ok"]]
    peak = stats.median_rate(start, ok, CHUNKS) if ok else 0.0
    e2e = {**reads, "ops_per_s": peak}
    human = {"peak_rps": peak}
    layers = None
    if trace:
        _, spans, jobs, j0, j1 = traced(
            server, lambda: open_loop(client, mix, rng, open_s, "traced"))
        trec = [r for r in client.records if r["phase"] == "traced"]
        layers = layer_metrics(spans, jobs, len(trec), 0, trec,
                               sum(len(r["results"] or []) for r in trec))
        layers["jvm.gc_ms_per_op"] = (j1["gc_ms"] - j0["gc_ms"]) / max(len(trec), 1)
        t50 = stats.percentile(latency_ms(trec), 50)
        layers["bench.tracing_overhead"] = t50 / reads["read_p50_ms"] - 1
        layers["bench.write_drift_ratio"] = 0.0
        layers.update(input_props(
            [r for r in client.records if r["phase"] != "traced"], opened))
    return e2e, human, layers


def mixed_rw(server, client, mix, rng, seconds, trace, seed):
    """CLIENTS closed-loop clients; each cycle does four writes, a
    read-back after each, and two lookup reads after each pair."""
    prefix = f"pb{seed}_"
    expected: dict = {}  # node -> (value, write op) per successful read-back
    exp_lock = threading.Lock()
    counters = [0] * CLIENTS
    # customer of each client's k-th MERGE, drawn up front from the seed
    targets = rng.choice(mix.cust, size=(CLIENTS, 4096))

    def write_then_check(phase, node, write, check, expect, value):
        w = client.send(write, kind="write", phase=phase)
        r = client.send(check, expect, kind="readback", phase=phase,
                        wrong="ryw_miss")
        if r["ok"]:
            with exp_lock:
                expected[node] = (value, w["op"])
        for _ in range(2):
            client.send(*mix.next(), phase=phase)

    def cycle(i, phase):
        k = counters[i]
        counters[i] += 1
        node = f"{prefix}{phase}_{i}_{k}"
        c = int(targets[i, k % targets.shape[1]])
        get_v = f"MATCH (n:bench {{id: '{node}'}}) RETURN n.v"
        write_then_check(phase, node, f"CREATE (n:bench {{id: '{node}', v: '0'}})",
                         get_v, [["0"]], "0")
        write_then_check(phase, node,
                         f"MATCH (n:bench {{id: '{node}'}}) SET n.v = '1'",
                         get_v, [["1"]], "1")
        write_then_check(
            phase, node,
            f"MATCH (n:bench {{id: '{node}'}}), (c:customer {{id: 'c_{c}'}}) "
            "MERGE (n)-[:WATCHES]->(c)",
            f"MATCH (n:bench {{id: '{node}'}})-[:WATCHES]->(c) RETURN c.id",
            [[f"c_{c}"]], "1")
        if k % 2:
            write_then_check(phase, node,
                             f"MATCH (n:bench {{id: '{node}'}}) DETACH DELETE n",
                             get_v, [], None)
        else:
            write_then_check(phase, node,
                             f"MATCH (n:bench {{id: '{node}'}}) SET n.v = '2'",
                             get_v, [["2"]], "2")

    def run(phase):
        return closed_loop(client, cycle, seconds, phase)

    win = run("mixed")
    recs = [r for r in client.records if r["phase"] == "mixed"]
    reads = [r for r in recs if r["kind"] != "write"]
    writes = [r for r in recs if r["kind"] == "write"]
    layers = None
    if trace:
        _, spans, jobs, j0, j1 = traced(server, lambda: run("traced"))
        trec = [r for r in client.records if r["phase"] == "traced"]
        tw = sum(1 for r in trec if r["kind"] == "write")
        layers = layer_metrics(spans, jobs, len(trec), tw, trec,
                               sum(len(r["results"] or []) for r in trec))
        layers["jvm.gc_ms_per_op"] = (j1["gc_ms"] - j0["gc_ms"]) / max(len(trec), 1)
        tr = [r for r in trec if r["kind"] != "write"]
        layers["bench.tracing_overhead"] = (
            stats.percentile(latency_ms(tr), 50)
            / stats.percentile(latency_ms(reads), 50) - 1)
        layers["bench.write_drift_ratio"] = write_drift(writes, (win["start"], win["end"]))
        layers.update(input_props(recs))
    # final reconciliation of this run's own nodes
    final = client.send("MATCH (n:bench) RETURN n.id, n.v", kind="reconcile",
                        phase="reconcile")
    lost = []
    if final["ok"]:
        actual = {row[0]: row[1] for row in final["results"]
                  if str(row[0]).startswith(prefix)}
        lost = stats.reconcile(expected, actual)
        for op in lost:
            client.outcomes.fail(op, "lost_write")
    r_sum = summarize_reads(reads)
    w_lat = latency_ms(writes)
    elapsed = win["end"] - win["start"]
    e2e = {**r_sum, "ops_per_s": sum(r["ok"] for r in recs) / elapsed}
    human = {
        "write_p50_ms": stats.percentile(w_lat, 50) if w_lat else 0.0,
        "write_p95_ms": stats.tail(w_lat)[0] if w_lat else 0.0,
        "write_n": len(w_lat),
        "completed_ops_per_s": len(recs) / elapsed,
        "write_http_errors": sum(1 for w in writes if w["status"] != 200),
        "lost_writes": len(lost),
        "write_drift_ratio": write_drift(writes, (win["start"], win["end"])),
    }
    return e2e, human, layers


def analytics_batch(server, client, rng, seconds, trace, data_dir):
    expect = expected_digests(data_dir)
    outcomes = client.outcomes

    def do_pass(tag, digest=False):
        order = list(rng.permutation(ANALYTICS))
        ops = {n: outcomes.attempt() for n in order}
        out = server.cmd({"cmd": "pass", "order": order, "digest": digest,
                          "tag": tag})
        for name, err in out["errors"].items():
            print(f"# {name} failed: {err}", file=sys.stderr)
            outcomes.fail(ops[name], "transport")
        if digest:
            for name, got in out["digests"].items():
                if tuple(got) != tuple(expect[name]):
                    outcomes.fail(ops[name], "wrong_answer")
        return out

    # every pass is timed, the cold first one too (a batch job pays its
    # fresh session's code generation and JIT); the first pass also
    # carries the output check, whose digests are taken after each
    # query's timer stops
    passes = []
    for i in range(max(2, round(seconds / PASS_S))):
        passes.append(do_pass(f"p{i}", digest=i == 0))
        print(f"# pass {i + 1}: {sum(passes[-1]['times'].values()):.3f} s",
              file=sys.stderr)
    # a read here is one pass: the batch of twelve queries a caller
    # submits and waits for (per-query times are the query.* layers)
    pass_ms = [1000.0 * sum(p["times"].values()) for p in passes]
    tail_v, tail_p = stats.tail(pass_ms)
    pass_s = stats.percentile(pass_ms, 50) / 1000.0
    n_q = sum(len(p["times"]) for p in passes)
    e2e = {"read_p50_ms": stats.percentile(pass_ms, 50), "read_p95_ms": tail_v,
           "read_tail_pct": tail_p, "read_n": len(pass_ms),
           "ops_per_s": n_q / (sum(pass_ms) / 1000.0)}
    human = {"pass_s": pass_s, "passes": len(passes)}
    layers = None
    if trace:
        tp, spans, jobs, j0, j1 = traced(server, lambda: do_pass("traced"))
        n = len(tp["times"])
        layers = layer_metrics(spans, jobs, n, 0, (), sum(tp["rows"].values()))
        layers["jvm.gc_ms_per_op"] = (j1["gc_ms"] - j0["gc_ms"]) / max(n, 1)
        layers["bench.tracing_overhead"] = sum(tp["times"].values()) / pass_s - 1
        layers["bench.write_drift_ratio"] = 0.0
        layers["bench.plan_repeat_share"] = 0.0
        layers["bench.distinct_texts"] = len(ANALYTICS)
        layers["bench.gen_lag_p95_ms"] = 0.0
        for name in ANALYTICS:
            layers[f"query.{name}_s"] = stats.median(
                [p["times"][name] for p in passes if name in p["times"]] or [0.0])
    return e2e, human, layers


# ---------------------------------------------------------------- main

#: the metrics of a --trace 0 result line. Latency percentiles are
#: printed in the report but left out: on a shared 4-core machine their
#: run-to-run spread (IQR / median over seeds) measured 0.26-0.44, wider
#: than any bound the benchmark may set, while throughput measured 0.12-0.17
END_TO_END = {"setup_s": "s", "ops_per_s": "1/s", "peak_rss_mb": "MB"}
#: units of the report's other end-to-end figures
REPORT_UNITS = {"read_p50_ms": "ms", "read_p95_ms": "ms", "peak_rps": "1/s",
                "pass_s": "s", "write_p50_ms": "ms", "write_p95_ms": "ms",
                "completed_ops_per_s": "1/s"}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["serve_lookup", "mixed_rw", "analytics_batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=SCALE,
                    help="dataset scale factor (default %(default)s)")
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    if not os.path.exists(os.path.join(ROOT, "graphdb_spark", "__init__.py")):
        print(f"perfbench: no graphdb_spark package under {ROOT}; run from "
              "the repository root of a full checkout", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    data_dir = datagen.ensure_dataset(
        os.path.join(WORK, f"data-sf{args.scale:g}"), args.scale)
    parquet = [os.path.join(data_dir, f"{t}.parquet") for t in datagen.TABLES]
    cached = page_cache_share(parquet)
    rng = np.random.default_rng(args.seed)
    mix = ReadMix(data_dir, rng)
    if args.workload == "analytics_batch":
        expected_digests(data_dir)  # before launch: outside set-up time

    outcomes = stats.Outcomes()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{time.time_ns()}")
    server = None
    clock = [("inputs", t_start), ("inputs", time.perf_counter())]
    try:
        server = Server(data_dir, run_dir, bool(args.trace))
        client = Client(server.url, outcomes)
        setup_s = first_request(server, client, mix)
        clock.append(("set-up", time.perf_counter()))
        if args.workload != "analytics_batch":
            warm_up(client, mix)
        clock.append(("warm-up", time.perf_counter()))
        if args.workload == "serve_lookup":
            e2e, human, layers = serve_lookup(
                server, client, mix, rng, args.seconds, args.trace)
        elif args.workload == "mixed_rw":
            e2e, human, layers = mixed_rw(
                server, client, mix, rng, args.seconds, args.trace, args.seed)
        else:
            e2e, human, layers = analytics_batch(
                server, client, rng, args.seconds, args.trace, data_dir)
        final = server.cmd({"cmd": "stats"})
        clock.append(("workload", time.perf_counter()))
    finally:
        if server is not None:
            server.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    clock.append(("stop", time.perf_counter()))

    e2e["setup_s"] = setup_s
    e2e["peak_rss_mb"] = final["rss_mb"]
    report = {"workload": args.workload, "seed": args.seed,
              "scale": args.scale, "clients": CLIENTS,
              "open_rate_rps": OPEN_RATE if args.workload == "serve_lookup" else None,
              "parquet_page_cache_share": cached,
              "wall_s": ", ".join(f"{name} {t - clock[i][1]:.1f}"
                                  for i, (name, t) in enumerate(clock[1:])),
              "error_rate": outcomes.error_rate,
              "failures": outcomes.kinds, **human, **e2e}
    for k, v in report.items():
        unit = END_TO_END.get(k) or REPORT_UNITS.get(k, "")
        print(f"# {k}: {v:.6g} {unit}" if isinstance(v, float)
              else f"# {k}: {v}")
    if args.trace:
        layers.update(setup_layers(server.setup_spans))
        layers["jvm.heap_peak_mb"] = final["jvm"]["heap_peak_mb"]
        layers["bench.parquet_cached_share"] = cached
        for name in ANALYTICS:
            layers.setdefault(f"query.{name}_s", 0.0)
        metrics = {k: {"value": v, "unit": PER_LAYER_UNITS[k]}
                   for k, v in sorted(layers.items())}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": outcomes.failed == 0,
                      "attempted": outcomes.attempted,
                      "failed": outcomes.failed, "metrics": metrics}))
    return 0


PER_LAYER_UNITS = {
    "rest.http_ms": "ms", "rest.http_error_share": "share",
    "session.execute_ms": "ms", "session.plan_cache_hit_ratio": "share",
    "session.set_state_ms": "ms", "session.set_state_calls_per_write": "count",
    "operators.mutations.apply_ms": "ms", "operators.plan_ms": "ms",
    "cypher.parse_ms": "ms", "cypher.plan_ms": "ms", "translator.df_ms": "ms",
    "spark.action_ms": "ms", "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count", "spark.tasks_per_op": "count",
    "spark.sched_wait_ms": "ms", "spark.input_rows_per_row_out": "ratio",
    "spark.shuffle_read_bytes_per_op": "bytes",
    "spark.shuffle_write_bytes_per_op": "bytes", "spark.failed_tasks": "count",
    "jvm.gc_ms_per_op": "ms", "jvm.heap_peak_mb": "MB",
    "sources.load_s": "s", "workloads.graph_session_s": "s",
    "partitioning.layout_write_s": "s",
    "bench.plan_repeat_share": "share", "bench.distinct_texts": "count",
    "bench.gen_lag_p95_ms": "ms", "bench.write_drift_ratio": "ratio",
    "bench.tracing_overhead": "share", "bench.parquet_cached_share": "share",
    **{f"query.{n}_s": "s" for n in ANALYTICS},
}


if __name__ == "__main__":
    sys.exit(main())
