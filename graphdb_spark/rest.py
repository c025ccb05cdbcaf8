"""REST facade: the reference's declared HTTP entry point, made real.

The reference exposes ``POST /api/v1/query`` plus health/version
endpoints (rest_api/src/lib.rs:498-508) but its query handler is a
mock — it detects the language and returns ``"results": []``
(rest_api/src/lib.rs:266-290). This facade keeps the same routes,
request shape (``{"query": ..., "persist": ...}``) and response
envelope (``status`` / ``query_type`` / ``results``), and actually
executes: Cypher through the Cypher pipeline, SQL through spark.sql
over the registered views — via :meth:`GraphSession.execute`
(language detection parity with query_parser.rs:33-51).

Stdlib-only (http.server): the container has no web framework, and a
driver-embedded facade needs nothing more. The server answers from the
Spark *driver* — the query itself still executes distributed; only the
final ``limit``-bounded collect crosses to HTTP. Row limits are
enforced with ``df.limit(n)`` BEFORE collecting, never an unbounded
pull. A read the session's plan cache accepted answers the same rows
every time, so its collected rows are kept with its cache entry (one
limit, at most ``DEFAULT_ROW_LIMIT`` rows): a repeated read is served
from them without a Spark job, and a write drops them with the cache.

Statements that return no rows answer 200 with an empty result:
mutations add their summary (``"summary"``: created/deleted counts),
as does GraphQL's parse-only detection result; a KV ``GET`` answers
one ``value`` column. A query the engine refuses (syntax, unresolved
names, unindexed properties) answers 400; any other failure is an
engine fault, answers 500 in the same error envelope, and is logged
with its traceback on this module's logger.

Daemon management routes (daemon/start|stop|list, shutdown) are
intentionally absent: they manage the reference's multi-process
architecture (ZMQ daemon pools), which Spark's driver/executor model
replaces — SURVEY §2.9.
"""

from __future__ import annotations

import json
import logging
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame

from graphdb_spark import __version__ as _pkg_version
from graphdb_spark.session import KEPT_ROWS

DEFAULT_ROW_LIMIT = 1000

_log = logging.getLogger(__name__)


#: errors that answer 400: ValueError covers Cypher syntax and
#: execution errors, LookupError an unindexed property in strict mode,
#: AnalysisException (ParseException included) a SQL statement Spark
#: cannot resolve
_CLIENT_ERRORS = (ValueError, LookupError, AnalysisException)


def _detect_language(q: str) -> str:
    """Mirror the reference's QueryType naming (query_parser.rs:11-16)
    for the response envelope."""
    from graphdb_spark.cypher.parser import is_cypher

    s = q.strip()
    if not s:
        return "Unknown"
    if s.startswith("{") or s.split(None, 1)[0].upper() in (
        "QUERY", "MUTATION", "SUBSCRIPTION",
    ):
        return "GraphQL"
    if is_cypher(s):
        return "Cypher"
    return "SQL"


def _df_payload(df, limit: int):
    """``(columns, rows)`` of ``df.limit(limit)``. A plan-cached frame
    keeps its payload for one limit when it has at most
    ``DEFAULT_ROW_LIMIT`` rows, and a repeat of that limit is served
    from it: no Spark job, no py4j call."""
    kept = df.__dict__.get(KEPT_ROWS)
    if kept and kept[0] == limit:
        return kept[1]
    rows = df.limit(limit).collect()
    payload = df.columns, [
        [None if v is None else (v if isinstance(v, (int, float, bool, str))
                                 else str(v)) for v in row]
        for row in (tuple(r) for r in rows)
    ]
    if kept is not None and len(rows) <= DEFAULT_ROW_LIMIT:
        df.__dict__[KEPT_ROWS] = (limit, payload)
    return payload


def _envelope(payload) -> tuple[str, int]:
    """``(query, limit)`` of a request body, checked before anything is
    planned: an object whose ``query`` is a string and whose optional
    ``limit`` is a non-negative integer. Raises KeyError or ValueError
    otherwise."""
    if not isinstance(payload, dict):
        raise ValueError("body must be a JSON object")
    query = payload["query"]
    if not isinstance(query, str):
        raise ValueError("query must be a string")
    limit = payload.get("limit", DEFAULT_ROW_LIMIT)
    if isinstance(limit, bool) or not isinstance(limit, int) or limit < 0:
        raise ValueError("limit must be a non-negative integer")
    return query, limit


class _Handler(BaseHTTPRequestHandler):
    server_version = "graphdb-spark-rest"

    # quiet by default; the server object carries the session
    def log_message(self, *_args):  # noqa: D102
        pass

    def _json(self, code: int, payload: dict):
        body = json.dumps(payload, default=str).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        try:
            self.end_headers()  # writes the buffered status and headers
            self.wfile.write(body)
        except (BrokenPipeError, ConnectionResetError):
            pass  # the client hung up: nobody is left to answer

    def do_GET(self):  # noqa: N802 (stdlib naming)
        if self.path == "/api/v1/health":
            # rest_api/src/lib.rs:227-229 shape
            self._json(200, {"status": "healthy"})
        elif self.path == "/api/v1/version":
            self._json(200, {"version": _pkg_version})
        else:
            self._json(404, {"status": "error", "message": "not found"})

    def do_POST(self):  # noqa: N802
        if self.path != "/api/v1/query":
            self._json(404, {"status": "error", "message": "not found"})
            return
        try:
            n = int(self.headers.get("Content-Length", "0"))
            if n < 0:  # read(-1) would wait for the client to hang up
                raise ValueError("Content-Length must not be negative")
            query, limit = _envelope(json.loads(self.rfile.read(n) or b"{}"))
        except (KeyError, ValueError) as exc:
            self._json(400, {"status": "error",
                             "message": f"invalid request: {exc}"})
            return
        lang = _detect_language(query)
        extra = {}
        try:
            out = self.server.graph.execute(query)
            if isinstance(out, DataFrame):
                cols, rows = _df_payload(out, limit)
            elif isinstance(out, dict):  # mutation / parse-only summary
                cols, rows, extra = [], [], {"summary": out}
            elif out is None:  # no rows (e.g. a missing KV key)
                cols, rows = [], []
            else:  # KV GET value
                cols, rows = ["value"], [[out]]
        except Exception as exc:  # noqa: BLE001 — every fault is answered
            # the client's fault (a syntax or execution error in the
            # query, an unindexed property, an unresolvable column) is
            # a 400; anything else is the engine's and a 500
            code = 400 if isinstance(exc, _CLIENT_ERRORS) else 500
            if code == 500:
                _log.error("engine fault on a %s query", lang, exc_info=exc)
            self._json(code, {
                "status": "error",
                "query_type": lang,
                "message": f"{type(exc).__name__}: {exc}",
            })
            return
        self._json(200, {
            "status": "success",
            "query_type": lang,
            "columns": cols,
            "results": rows,
            **extra,
        })


class QueryServer:
    """Embedded HTTP facade over one :class:`GraphSession`.

    >>> srv = QueryServer(g).start()     # port 0 -> OS-assigned
    >>> srv.url
    'http://127.0.0.1:54321'
    >>> srv.stop()
    """

    def __init__(self, graph, host: str = "127.0.0.1", port: int = 0):
        self._httpd = ThreadingHTTPServer((host, port), _Handler)
        self._httpd.graph = graph
        self._thread: threading.Thread | None = None

    @property
    def url(self) -> str:
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}"

    def start(self) -> "QueryServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self):
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)
