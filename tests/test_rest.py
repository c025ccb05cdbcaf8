"""REST facade: same routes/envelope as the reference's rest_api
(rest_api/src/lib.rs:498-508), but /api/v1/query actually executes
(the reference's handler is a mock returning results: [] —
lib.rs:266-290)."""

from __future__ import annotations

import json
import logging
import urllib.request

import pytest

from graphdb_spark.rest import QueryServer


@pytest.fixture(scope="module")
def server(graph):
    srv = QueryServer(graph).start()
    yield srv
    srv.stop()


def _get(url):
    try:
        with urllib.request.urlopen(url, timeout=30) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _post(url, payload):
    req = urllib.request.Request(
        url,
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req, timeout=120) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_health_and_version(server):
    code, body = _get(server.url + "/api/v1/health")
    assert (code, body["status"]) == (200, "healthy")
    code, body = _get(server.url + "/api/v1/version")
    assert code == 200 and body["version"]


def test_query_sql(server):
    code, body = _post(server.url + "/api/v1/query", {
        "query": "SELECT label, count(*) AS n FROM vertices "
                 "GROUP BY label ORDER BY label",
    })
    assert code == 200 and body["status"] == "success"
    assert body["query_type"] == "SQL"
    assert body["columns"] == ["label", "n"]
    assert [r[0] for r in body["results"]] == ["customer", "order", "part"]


def test_query_cypher(server):
    code, body = _post(server.url + "/api/v1/query", {
        "query": "MATCH (c:customer) RETURN count(c) AS n",
    })
    assert code == 200 and body["query_type"] == "Cypher"
    assert body["results"][0][0] > 0


def test_query_limit_bounds_collect(server):
    code, body = _post(server.url + "/api/v1/query", {
        "query": "MATCH (c:customer) RETURN c.name AS name",
        "limit": 5,
    })
    assert code == 200 and len(body["results"]) == 5


def test_invalid_query_is_400_not_500(server):
    code, body = _post(server.url + "/api/v1/query", {
        "query": "SELECT definitely_not_a_column FROM vertices",
    })
    assert code == 400 and body["status"] == "error"
    # without call-site capture the error class and message still reach
    # the client; only PySpark's Python call site is left out
    assert body["message"].startswith("AnalysisException")
    assert "definitely_not_a_column" in body["message"]


@pytest.mark.parametrize("error, code", [
    (RuntimeError("executor lost"), 500),
    (ValueError("Cypher syntax error"), 400),
    (LookupError("property is not indexed"), 400),
], ids=["engine_fault", "value_error", "lookup_error"])
def test_engine_fault_is_500_client_error_400(server, monkeypatch, caplog,
                                              error, code):
    """A failure of the engine itself answers 500 and is logged with
    its traceback; only the client's own errors answer 400, unlogged.
    Both keep the error envelope."""
    def fail(_query):
        raise error

    monkeypatch.setattr(server._httpd.graph, "execute", fail)
    with caplog.at_level(logging.ERROR, logger="graphdb_spark.rest"):
        got, body = _post(server.url + "/api/v1/query", {
            "query": "MATCH (c:customer) RETURN count(c) AS n",
        })
    assert (got, body["status"], body["query_type"]) == (
        code, "error", "Cypher")
    assert body["message"] == f"{type(error).__name__}: {error}"
    errors = [r for r in caplog.records if r.name == "graphdb_spark.rest"
              and r.levelno >= logging.ERROR]
    if code == 500:
        assert len(errors) == 1
        assert "Cypher" in errors[0].getMessage()
        assert errors[0].exc_info[1] is error
        assert "Traceback" in caplog.text
    else:
        assert errors == []


def test_missing_query_field_is_400(server):
    code, body = _post(server.url + "/api/v1/query", {"persist": True})
    assert code == 400


@pytest.mark.parametrize("payload", [
    [],
    {"query": None},
    {"query": "MATCH (c:customer) RETURN c.name AS name", "limit": "ten"},
    {"query": "MATCH (c:customer) RETURN c.name AS name", "limit": -1},
], ids=["array_body", "null_query", "non_integer_limit", "negative_limit"])
def test_malformed_envelope_is_400_before_planning(server, payload):
    """A body that is not an object, a non-string query or a limit that
    is not a non-negative integer is refused as an invalid request,
    with a status, before the query is planned."""
    code, body = _post(server.url + "/api/v1/query", payload)
    assert (code, body["status"]) == (400, "error")
    assert body["message"].startswith("invalid request")


def test_negative_content_length_is_400(server):
    """A negative Content-Length is refused, not read as 'until the
    client hangs up' (the client waits for the answer, so neither side
    would ever finish)."""
    import socket
    from urllib.parse import urlsplit

    url = urlsplit(server.url)
    with socket.create_connection((url.hostname, url.port),
                                  timeout=30) as s:
        s.sendall(b"POST /api/v1/query HTTP/1.1\r\nHost: x\r\n"
                  b"Content-Length: -1\r\n\r\n{}")
        status = s.recv(64).split(b"\r\n", 1)[0]
    assert status.split()[1] == b"400", status


@pytest.mark.parametrize("error", [BrokenPipeError, ConnectionResetError])
def test_answer_to_a_client_that_hung_up_is_dropped(server, monkeypatch,
                                                    error):
    """A client that hung up before its answer (a client-side timeout
    on a slow query) costs the server nothing: the failed write is
    dropped, not passed to socketserver's handle_error, which prints a
    traceback per request."""
    import socket
    import socketserver
    from urllib.parse import urlsplit

    def hung_up(_writer, _data):
        raise error()

    reached = []
    monkeypatch.setattr(socketserver._SocketWriter, "write", hung_up)
    monkeypatch.setattr(server._httpd, "handle_error",
                        lambda *args: reached.append(args))
    url = urlsplit(server.url)
    with socket.create_connection((url.hostname, url.port),
                                  timeout=30) as s:
        s.sendall(b"GET /api/v1/health HTTP/1.1\r\nHost: x\r\n\r\n")
        # the server closes the connection only after handle_error
        assert s.recv(64) == b""
    assert reached == []


def test_unknown_route_404(server):
    code, _ = _get(server.url + "/api/v1/nope")
    assert code == 404


def test_mutation_answers_200_with_summary(spark):
    """DML returns a summary dict, not rows: applied writes are a
    success (200), and the write is visible to the next read."""
    from graphdb_spark.datamodel import local_df
    from graphdb_spark.session import GraphSession

    g = GraphSession(
        spark,
        local_df(spark, [("a", "N", {})],
                 "id string, label string, properties map<string,string>"),
        local_df(spark, [],
                 "src string, relationship string, dst string, "
                 "properties map<string,string>"),
    )
    srv = QueryServer(g).start()
    try:
        url = srv.url + "/api/v1/query"
        code, body = _post(url, {"query": "CREATE (:N {id: 'z'})"})
        assert (code, body["status"]) == (200, "success")
        assert body["summary"]["created_vertices"] == 1
        assert body["results"] == []
        code, body = _post(url, {"query": "MATCH (n:N {id: 'z'}) RETURN n.id"})
        assert (code, body["results"]) == (200, [["z"]])
        code, body = _post(url, {"query": "query { person { name } }"})
        assert (code, body["query_type"]) == (200, "GraphQL")
        assert body["summary"]["status"] == "parse_only"
        # KV forms: SET answers a summary, GET one value column
        code, body = _post(url, {"query": "SET greeting = 'hi'"})
        assert (code, body["summary"]["key"]) == (200, "greeting")
        code, body = _post(url, {"query": "MATCH (greeting) RETURN"})
        assert (code, body["columns"], body["results"]) == (
            200, ["value"], [["hi"]])
    finally:
        srv.stop()
