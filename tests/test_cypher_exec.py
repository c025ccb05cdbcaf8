"""Cypher end-to-end tests: the queries_examples.txt corpus (FIXTURES.md
F2 Person/KNOWS graph) executed through GraphSession.cypher()."""

import pytest

from graphdb_spark.cypher.executor import CypherExecutionError


def rows(df):
    return [tuple(r) for r in df.collect()]


def test_create_and_match_roundtrip(spark):
    from graphdb_spark.session import GraphSession

    g = GraphSession(spark)
    out = g.cypher("CREATE (n:Person {id: 'alice', name: 'Alice', age: 30})")
    assert out["created_vertices"] == 1
    out = g.cypher("CREATE (:Person {id: 'bob', name: 'Bob', age: 35})")
    assert out["created_vertices"] == 1
    df = g.cypher("MATCH (n:Person) RETURN n.name ORDER BY n.name")
    assert rows(df) == [("Alice",), ("Bob",)]


def test_create_complex_pattern_materializes_edges(spark):
    """The reference parses but never materializes CREATE relationships
    (cypher_parser.rs:738); ours must."""
    from graphdb_spark.session import GraphSession

    g = GraphSession(spark)
    out = g.cypher(
        "CREATE (a:Person {id: 'a', name: 'A'})-[:KNOWS {since: 2020}]->"
        "(b:Person {id: 'b', name: 'B'})"
    )
    assert out["created_vertices"] == 2
    assert out["created_edges"] == 1
    e = g.edges.collect()
    assert len(e) == 1 and e[0]["src"] == "a" and e[0]["dst"] == "b"
    assert e[0]["properties"]["since"] == "2020"


def test_create_bidirectional_chain(spark):
    from graphdb_spark.session import GraphSession

    g = GraphSession(spark)
    g.cypher("CREATE (a:X {id: 'a'})-[:R1]->(b:X {id: 'b'})<-[:R2]-(c:X {id: 'c'})")
    got = {(r["src"], r["relationship"], r["dst"]) for r in g.edges.collect()}
    assert got == {("a", "R1", "b"), ("c", "R2", "b")}


def test_match_property_filter(person_graph):
    df = person_graph.cypher("MATCH (p:Person {name: 'Alice'}) RETURN p.age")
    assert rows(df) == [("30",)]


def test_where_numeric_comparison(person_graph):
    """p.age > 30 must compare numerically, not lexicographically
    (SURVEY §7.3 property-type fidelity)."""
    df = person_graph.cypher(
        "MATCH (p:Person) WHERE p.age > 30 RETURN p.name ORDER BY p.name"
    )
    assert rows(df) == [("Bob",), ("Diana",)]


def test_where_and_bool(person_graph):
    df = person_graph.cypher(
        "MATCH (p:Person) WHERE p.age >= 30 AND p.active = true "
        "RETURN p.name ORDER BY p.name"
    )
    assert rows(df) == [("Alice",), ("Bob",)]


def test_string_predicates(person_graph):
    df = person_graph.cypher(
        "MATCH (p:Person) WHERE toLower(p.name) CONTAINS 'ali' RETURN p.name"
    )
    assert rows(df) == [("Alice",)]
    df = person_graph.cypher(
        "MATCH (p:Person) WHERE p.name =~ '(?i)alice' RETURN p.name"
    )
    assert rows(df) == [("Alice",)]
    df = person_graph.cypher(
        "MATCH (p:Person) WHERE p.name STARTS WITH 'Ch' RETURN p.name"
    )
    assert rows(df) == [("Charlie",)]


def test_exists_predicate(person_graph):
    df = person_graph.cypher(
        "MATCH (p:Person) WHERE exists(p.score) RETURN p.name ORDER BY p.name"
    )
    assert rows(df) == [("Alice",), ("Bob",)]


def test_one_hop_traversal(person_graph):
    df = person_graph.cypher(
        "MATCH (p:Person {name: 'Alice'})-[:KNOWS]->(f) RETURN f.name "
        "ORDER BY f.name"
    )
    assert rows(df) == [("Bob",), ("Charlie",)]


def test_edge_property_and_order(person_graph):
    df = person_graph.cypher(
        "MATCH (a)-[r:KNOWS]->(b) RETURN a.name, b.name, r.strength "
        "ORDER BY r.strength DESC LIMIT 20"
    )
    assert rows(df) == [("Alice", "Bob", "0.9"), ("Alice", "Charlie", "0.7")]


def test_incoming_direction(person_graph):
    df = person_graph.cypher(
        "MATCH (p)<-[:KNOWS]-(who) RETURN p.name, who.name ORDER BY p.name"
    )
    assert rows(df) == [("Bob", "Alice"), ("Charlie", "Alice")]


def test_multi_type_edge(person_graph):
    df = person_graph.cypher(
        "MATCH (a)-[r:KNOWS|WORKS_WITH]->(b) RETURN type(r), b.name "
        "ORDER BY b.name"
    )
    assert rows(df) == [
        ("KNOWS", "Bob"), ("KNOWS", "Charlie"), ("WORKS_WITH", "Diana"),
    ]


def test_aggregates_with_implicit_grouping(person_graph):
    df = person_graph.cypher(
        "MATCH (p:Person)-[r:KNOWS]->() RETURN p.name, count(r) AS cnt"
    )
    assert rows(df) == [("Alice", 2)]
    df = person_graph.cypher("MATCH (p:Person) RETURN avg(p.age) AS avg_age")
    assert rows(df) == [(31.25,)]
    df = person_graph.cypher("MATCH (p:Person) RETURN count(p) AS total")
    assert rows(df) == [(4,)]


def test_collect(person_graph):
    df = person_graph.cypher(
        "MATCH (a {name: 'Alice'})-[:KNOWS]->(f) "
        "RETURN collect(f.name) AS friends"
    )
    assert sorted(rows(df)[0][0]) == ["Bob", "Charlie"]


def test_labels_and_functions(person_graph):
    df = person_graph.cypher(
        "MATCH (p:Person {name: 'Alice'}) RETURN labels(p) AS l, id(p) AS i"
    )
    assert rows(df) == [(["Person"], "alice")]


def test_two_hop(person_graph):
    df = person_graph.cypher(
        "MATCH (a {name: 'Alice'})-[:KNOWS]->(b)-[:WORKS_WITH]->(c) "
        "RETURN b.name, c.name"
    )
    assert rows(df) == [("Bob", "Diana")]


def test_var_length(person_graph):
    df = person_graph.cypher(
        "MATCH (a {name: 'Alice'})-[:KNOWS|WORKS_WITH*1..3]->(x) "
        "RETURN x.name ORDER BY x.name"
    )
    assert rows(df) == [("Bob",), ("Charlie",), ("Diana",)]


def test_shortest_path(person_graph):
    df = person_graph.cypher(
        "MATCH p = shortestPath((a {name: 'Alice'})-[*..5]-(d {name: 'Diana'})) "
        "RETURN p"
    )
    assert rows(df) == [(["alice", "bob", "diana"],)]


def test_optional_match(person_graph):
    df = person_graph.cypher(
        "MATCH (p:Person) OPTIONAL MATCH (p)-[:KNOWS]->(f) "
        "RETURN p.name, f.name ORDER BY p.name, f.name"
    )
    assert rows(df) == [
        ("Alice", "Bob"), ("Alice", "Charlie"),
        ("Bob", None), ("Charlie", None), ("Diana", None),
    ]


def test_unwind_literal_maps(spark):
    from graphdb_spark.session import GraphSession

    g = GraphSession(spark)
    df = g.cypher(
        "UNWIND [{name: 'Ian', age: 32}, {name: 'Kim', age: 28}] AS row "
        "RETURN row.name AS name, row.age AS age ORDER BY name"
    )
    assert rows(df) == [("Ian", "32"), ("Kim", "28")]


def test_set_property(person_graph):
    person_graph.cypher("MATCH (p {name: 'Alice'}) SET p.age = 31")
    row = person_graph.vertices.filter("id = 'alice'").collect()[0]
    assert row["properties"]["age"] == "31"


def test_set_label(person_graph):
    person_graph.cypher("MATCH (p {name: 'Alice'}) SET p:Admin")
    row = person_graph.vertices.filter("id = 'alice'").collect()[0]
    assert row["label"] == "Person:Admin"


def test_remove_property(person_graph):
    person_graph.cypher("MATCH (p {name: 'Alice'}) REMOVE p.score")
    row = person_graph.vertices.filter("id = 'alice'").collect()[0]
    assert "score" not in row["properties"]


def test_delete_requires_detach(person_graph):
    with pytest.raises(CypherExecutionError):
        person_graph.cypher("MATCH (p {name: 'Alice'}) DELETE p")
    out = person_graph.cypher("MATCH (p {name: 'Alice'}) DETACH DELETE p")
    assert out["deleted_vertices"] == 1
    assert out["deleted_edges"] == 2
    assert person_graph.vertex_count() == 3


def test_delete_edge_var(person_graph):
    out = person_graph.cypher(
        "MATCH (a {name: 'Alice'})-[r:KNOWS]->(b {name: 'Bob'}) DELETE r"
    )
    assert out["deleted_edges"] == 1
    assert person_graph.edge_count() == 2


def test_kv_surface(spark):
    from graphdb_spark.session import GraphSession

    g = GraphSession(spark)
    assert g.cypher("SET mykey = 'myvalue'")["status"] == "ok"
    assert g.cypher("MATCH (mykey) RETURN") == "myvalue"
    g.cypher("DELETE mykey")
    assert g.cypher("MATCH (mykey) RETURN") is None


def test_distinct_and_skip_limit(person_graph):
    df = person_graph.cypher(
        "MATCH (p:Person) RETURN p.name ORDER BY p.name SKIP 1 LIMIT 2"
    )
    assert rows(df) == [("Bob",), ("Charlie",)]
    df = person_graph.cypher(
        "MATCH (a)-[:KNOWS]->() RETURN DISTINCT a.name"
    )
    assert rows(df) == [("Alice",)]


def test_return_whole_node(person_graph):
    df = person_graph.cypher("MATCH (p:Person {name: 'Diana'}) RETURN p")
    r = rows(df)[0][0]
    assert r["id"] == "diana" and r["label"] == "Person"


def test_merge_match_or_create(spark):
    from graphdb_spark.session import GraphSession

    g = GraphSession(spark)
    out = g.cypher("MERGE (n:City {id: 'nyc', name: 'NYC'})")
    assert out["created_vertices"] == 1
    # second MERGE matches instead of creating
    out = g.cypher("MERGE (n:City {id: 'nyc', name: 'NYC'})")
    assert out["created_vertices"] == 0
    assert g.vertex_count() == 1
    # MERGE with bound endpoints upserts the edge (no duplicates)
    g.cypher("CREATE (:City {id: 'sf', name: 'SF'})")
    g.cypher("MATCH (a {id: 'nyc'}), (b {id: 'sf'}) MERGE (a)-[:NEAR]->(b)")
    g.cypher("MATCH (a {id: 'nyc'}), (b {id: 'sf'}) MERGE (a)-[:NEAR]->(b)")
    assert g.edge_count() == 1


def test_optional_match_where(person_graph):
    """WHERE on OPTIONAL MATCH filters the optional side pre-join:
    non-matching rows keep the outer row with nulls."""
    df = person_graph.cypher(
        "MATCH (p:Person) OPTIONAL MATCH (p)-[r:KNOWS]->(f) "
        "WHERE f.age > 30 "
        "RETURN p.name, f.name ORDER BY p.name, f.name"
    )
    rows_ = [tuple(r) for r in df.collect()]
    # alice knows bob(35, passes) and charlie(28, filtered to null row)
    assert ("Alice", "Bob") in rows_
    assert ("Alice", "Charlie") not in rows_
    assert ("Charlie", None) in rows_ and ("Diana", None) in rows_


def test_with_aggregation_chaining(person_graph):
    """WITH p, count(r) AS deg WHERE deg >= 2 — grouped WITH +
    HAVING-like filter + downstream RETURN over re-scoped vars."""
    df = person_graph.cypher(
        "MATCH (p:Person)-[r]->() WITH p, count(r) AS deg WHERE deg >= 2 "
        "RETURN p.name AS name, deg"
    )
    assert rows(df) == [("Alice", 2)]


def test_with_projection_rescopes(person_graph):
    """Vars not carried through WITH are out of scope afterwards."""
    df = person_graph.cypher(
        "MATCH (p:Person) WITH p.name AS nm WHERE nm STARTS WITH 'B' "
        "RETURN nm"
    )
    assert rows(df) == [("Bob",)]
    from graphdb_spark.cypher.executor import CypherExecutionError

    with pytest.raises(Exception):
        person_graph.cypher(
            "MATCH (p:Person) WITH p.name AS nm RETURN p.age"
        ).collect()


def test_with_order_limit_then_expand(person_graph):
    """WITH ORDER BY/LIMIT mid-pipeline (top-1 person by age, then
    traverse from them)."""
    df = person_graph.cypher(
        "MATCH (p:Person) WITH p ORDER BY p.age DESC LIMIT 1 "
        "MATCH (p)-[:WORKS_WITH]->(c) RETURN p.name, c.name"
    )
    assert rows(df) == [("Bob", "Diana")]


def test_merge_on_create_on_match_set(spark):
    """ON CREATE SET fires on the creating MERGE, ON MATCH SET on the
    matching one; MERGE binds its var in both branches."""
    from graphdb_spark.session import GraphSession

    g = GraphSession(spark)
    df = g.cypher(
        "MERGE (n:City {id: 'nyc'}) "
        "ON CREATE SET n.seen = 'first' ON MATCH SET n.seen = 'again' "
        "RETURN n.seen AS seen"
    )
    assert rows(df) == [("first",)]
    df = g.cypher(
        "MERGE (n:City {id: 'nyc'}) "
        "ON CREATE SET n.seen = 'first' ON MATCH SET n.seen = 'again' "
        "RETURN n.seen AS seen"
    )
    assert rows(df) == [("again",)]
    assert g.vertex_count() == 1


def test_merge_edge_on_create_set(spark):
    """Bound-endpoint edge MERGE: ON CREATE SET stamps the new edge;
    a re-run leaves it untouched and fires ON MATCH SET instead."""
    from graphdb_spark.session import GraphSession

    g = GraphSession(spark)
    g.cypher("CREATE (:City {id: 'a'}), (:City {id: 'b'})")
    g.cypher(
        "MATCH (a {id: 'a'}), (b {id: 'b'}) MERGE (a)-[r:NEAR]->(b) "
        "ON CREATE SET r.since = '2020' ON MATCH SET r.hits = 'y'"
    )
    props = {r["relationship"]: r["properties"] for r in g.edges.collect()}
    assert props["NEAR"].get("since") == "2020"
    assert "hits" not in props["NEAR"]
    g.cypher(
        "MATCH (a {id: 'a'}), (b {id: 'b'}) MERGE (a)-[r:NEAR]->(b) "
        "ON CREATE SET r.since = '1999' ON MATCH SET r.hits = 'y'"
    )
    assert g.edge_count() == 1
    props = {r["relationship"]: r["properties"] for r in g.edges.collect()}
    assert props["NEAR"].get("since") == "2020"
    assert props["NEAR"].get("hits") == "y"


def test_var_length_path_reification(person_graph):
    """MATCH p = (a)-[*1..2]->(b) RETURN p — one row per concrete
    relationship-path, with node ids, rel types, and length."""
    df = person_graph.cypher(
        "MATCH p = (a:Person {name: 'Alice'})-[*1..2]->(b) "
        "RETURN b.name AS dest, nodes(p) AS ids, relationships(p) AS rels, "
        "length(p) AS hops ORDER BY hops, dest"
    )
    got = {(r["dest"], tuple(r["ids"]), tuple(r["rels"]), r["hops"])
           for r in df.collect()}
    assert got == {
        ("Bob", ("alice", "bob"), ("KNOWS",), 1),
        ("Charlie", ("alice", "charlie"), ("KNOWS",), 1),
        ("Diana", ("alice", "bob", "diana"), ("KNOWS", "WORKS_WITH"), 2),
    }
    # RETURN p as a whole → struct(nodes, relationships, length)
    df2 = person_graph.cypher(
        "MATCH p = (a:Person {name: 'Bob'})-[*1..1]->(b) RETURN p"
    )
    r = df2.collect()[0]["p"]
    assert list(r["nodes"]) == ["bob", "diana"]
    assert list(r["relationships"]) == ["WORKS_WITH"]
    assert r["length"] == 1


def test_optional_match_where_cross_ref(person_graph):
    """WHERE on OPTIONAL MATCH referencing outer-row vars becomes part
    of the left-join condition: failing matches null out, outer rows
    are never dropped (Cypher semantics)."""
    df = person_graph.cypher(
        "MATCH (p:Person) OPTIONAL MATCH (p)-[r:KNOWS]->(f) "
        "WHERE f.age > p.age "
        "RETURN p.name AS name, f.name AS friend ORDER BY name, friend"
    )
    rows_ = [tuple(r) for r in df.collect()]
    # alice(30): bob(35) passes, charlie(28) fails -> only Bob row;
    # everyone else has no KNOWS edge -> null friend
    assert rows_ == [
        ("Alice", "Bob"),
        ("Bob", None),
        ("Charlie", None),
        ("Diana", None),
    ]


def test_all_shortest_paths(spark):
    """allShortestPaths returns every minimal-length path (diamond:
    two 2-hop routes a->d), with nodes/relationships/length support."""
    from graphdb_spark.session import GraphSession

    v = spark.createDataFrame(
        [(i, "N", {}) for i in ["a", "b", "c", "d"]],
        "id string, label string, properties map<string,string>",
    )
    e = spark.createDataFrame(
        [("a", "E", "b", {}), ("a", "E", "c", {}),
         ("b", "E", "d", {}), ("c", "E", "d", {}),
         # longer detour must not appear
         ("a", "E", "x_widens_nothing", {})],
        "src string, relationship string, dst string, properties map<string,string>",
    )
    g = GraphSession(spark, v, e)
    df = g.cypher(
        "MATCH p = allShortestPaths((a {id: 'a'})-[*..4]->(d {id: 'd'})) "
        "RETURN nodes(p) AS ids, length(p) AS hops"
    )
    got = sorted((tuple(r["ids"]), r["hops"]) for r in df.collect())
    assert got == [(("a", "b", "d"), 2), (("a", "c", "d"), 2)]


def test_pattern_predicate_where(person_graph):
    """WHERE (p)-[:KNOWS]->() — existential semi-join; NOT form is an
    anti-join; conjunction with scalar predicates splits cleanly."""
    df = person_graph.cypher(
        "MATCH (p:Person) WHERE (p)-[:KNOWS]->() "
        "RETURN p.name AS name ORDER BY name"
    )
    assert [r["name"] for r in df.collect()] == ["Alice"]

    df = person_graph.cypher(
        "MATCH (p:Person) WHERE NOT (p)-[:KNOWS]->() "
        "RETURN p.name AS name ORDER BY name"
    )
    assert [r["name"] for r in df.collect()] == ["Bob", "Charlie", "Diana"]

    # cross-variable: which people KNOW the person named Bob?
    df = person_graph.cypher(
        "MATCH (p:Person), (q:Person {name: 'Bob'}) "
        "WHERE (p)-[:KNOWS]->(q) RETURN p.name AS name"
    )
    assert [r["name"] for r in df.collect()] == ["Alice"]

    # conjunction with a scalar predicate
    df = person_graph.cypher(
        "MATCH (p:Person) WHERE (p)-[:WORKS_WITH]->() AND p.age > 30 "
        "RETURN p.name AS name"
    )
    assert [r["name"] for r in df.collect()] == ["Bob"]


def test_case_expressions(person_graph):
    """Generic CASE WHEN and simple CASE (desugared at parse time)."""
    df = person_graph.cypher(
        "MATCH (p:Person) RETURN p.name AS name, "
        "CASE WHEN p.age > 33 THEN 'senior' WHEN p.age > 29 THEN 'mid' "
        "ELSE 'junior' END AS band ORDER BY name"
    )
    assert [tuple(r) for r in df.collect()] == [
        ("Alice", "mid"), ("Bob", "senior"),
        ("Charlie", "junior"), ("Diana", "mid"),
    ]
    # simple form: CASE operand WHEN value THEN ...; missing ELSE -> null
    df = person_graph.cypher(
        "MATCH (p:Person) RETURN p.name AS name, "
        "CASE p.active WHEN 'true' THEN 1 WHEN 'false' THEN 0 END AS act "
        "ORDER BY name"
    )
    assert [tuple(r) for r in df.collect()] == [
        ("Alice", 1), ("Bob", 1), ("Charlie", 0), ("Diana", None),
    ]


def test_exists_pattern_function(person_graph):
    """exists((p)-[:KNOWS]->()) — function sugar for the pattern
    predicate, both polarities."""
    df = person_graph.cypher(
        "MATCH (p:Person) WHERE exists((p)-[:KNOWS]->()) "
        "RETURN p.name AS name"
    )
    assert [r["name"] for r in df.collect()] == ["Alice"]
    df = person_graph.cypher(
        "MATCH (p:Person) WHERE NOT exists((p)-[:WORKS_WITH]->()) "
        "RETURN p.name AS name ORDER BY name"
    )
    assert [r["name"] for r in df.collect()] == ["Alice", "Charlie", "Diana"]


def test_scalar_function_surface(person_graph):
    """range/properties/startNode/endNode/substring/split/head/last +
    math scalars — the remaining standard-Cypher function surface."""
    df = person_graph.cypher(
        "UNWIND range(1, 3) AS x RETURN x ORDER BY x")
    assert [r["x"] for r in df.collect()] == [1, 2, 3]

    df = person_graph.cypher(
        "MATCH (p:Person {name: 'Alice'}) RETURN properties(p) AS m")
    assert df.collect()[0]["m"]["age"] == "30"

    df = person_graph.cypher(
        "MATCH ()-[r:WORKS_WITH]->() "
        "RETURN startNode(r).id AS s, endNode(r).id AS e")
    assert [tuple(r) for r in df.collect()] == [("bob", "diana")]

    df = person_graph.cypher(
        "MATCH (p:Person {name: 'Alice'}) RETURN "
        "substring(p.name, 0, 2) AS sub, left(p.name, 1) AS l, "
        "right(p.name, 3) AS r, reverse(p.name) AS rev, "
        "split(p.name, 'l') AS parts, trim('  x ') AS t"
    )
    row = df.collect()[0]
    assert (row["sub"], row["l"], row["r"], row["rev"], row["t"]) == (
        "Al", "A", "ice", "ecilA", "x")
    assert list(row["parts"]) == ["A", "ice"]

    df = person_graph.cypher(
        "RETURN head(range(5, 9)) AS h, last(range(5, 9)) AS la, "
        "tail(range(1, 3)) AS tl, ceil(1.2) AS c, floor(1.8) AS f, "
        "sqrt(9.0) AS sq, sign(-3) AS sg"
    )
    row = df.collect()[0]
    assert (row["h"], row["la"], list(row["tl"])) == (5, 9, [2, 3])
    assert (row["c"], row["f"], row["sq"], row["sg"]) == (2, 1, 3.0, -1)


def test_union_statements(person_graph):
    """UNION dedupes across arms; UNION ALL keeps multiplicity."""
    df = person_graph.cypher(
        "MATCH (p:Person) WHERE p.age > 30 RETURN p.name AS name "
        "UNION MATCH (p:Person {name: 'Bob'}) RETURN p.name AS name"
    )
    assert sorted(r["name"] for r in df.collect()) == ["Bob", "Diana"]
    df = person_graph.cypher(
        "MATCH (p:Person {name: 'Bob'}) RETURN p.name AS name "
        "UNION ALL MATCH (p:Person {name: 'Bob'}) RETURN p.name AS name"
    )
    assert [r["name"] for r in df.collect()] == ["Bob", "Bob"]


# ---------------------------------------------------------------- ADVICE r1


def test_set_label_then_match_original_label(spark):
    """ADVICE r1: after SET n:Extra the label column is 'City:Extra';
    MATCH (n:City) must still find the node (element membership, not
    whole-string equality), and MATCH (n:Extra) must too."""
    from graphdb_spark.session import GraphSession

    g = GraphSession(spark)
    g.cypher("CREATE (n:City {id: 'c1', name: 'Oslo'})")
    g.cypher("MATCH (n:City) SET n:Extra")
    assert g.vertices.collect()[0]["label"] == "City:Extra"
    assert rows(g.cypher("MATCH (n:City) RETURN n.name")) == [("Oslo",)]
    assert rows(g.cypher("MATCH (n:Extra) RETURN n.name")) == [("Oslo",)]
    # no false positives on substrings of a label element
    assert g.cypher("MATCH (n:Cit) RETURN n.name").count() == 0
    assert g.cypher("MATCH (n:xtra) RETURN n.name").count() == 0


def test_merge_rel_between_existing_nodes_no_duplicate_ids(spark):
    """ADVICE r1: MERGE (a {id:'x'})-[:R]->(b {id:'y'}) where both
    nodes exist but the edge doesn't must create ONLY the edge —
    appending new vertex rows with the same ids would violate id
    uniqueness and fan out every later join."""
    from graphdb_spark.session import GraphSession

    g = GraphSession(spark)
    g.cypher("CREATE (:N {id: 'x', name: 'X'})")
    g.cypher("CREATE (:N {id: 'y', name: 'Y'})")
    out = g.cypher("MERGE (a:N {id: 'x'})-[:R]->(b:N {id: 'y'})")
    assert out["created_edges"] == 1
    assert out["created_vertices"] == 0
    assert g.vertices.count() == 2
    assert g.vertices.select("id").distinct().count() == 2
    # original properties survive (match wins over pattern props)
    got = {r["id"]: r["properties"].get("name") for r in g.vertices.collect()}
    assert got == {"x": "X", "y": "Y"}
    # idempotent re-MERGE
    g.cypher("MERGE (a:N {id: 'x'})-[:R]->(b:N {id: 'y'})")
    assert g.vertices.count() == 2 and g.edges.count() == 1


def test_create_existing_id_raises(spark):
    """Plain CREATE with an existing explicit id mirrors reference
    create_vertex (rdb/datastore.rs:261-270): error, never a silent
    duplicate."""
    from graphdb_spark.session import GraphSession

    g = GraphSession(spark)
    g.cypher("CREATE (:P {id: 'dup'})")
    with pytest.raises(CypherExecutionError):
        g.cypher("CREATE (:P {id: 'dup'})")


def test_regex_dynamic_pattern_column(spark):
    """ADVICE r1: n.name =~ n.pat must evaluate the regex per row, not
    silently compile an empty pattern."""
    from graphdb_spark.session import GraphSession

    g = GraphSession(spark)
    g.cypher("CREATE (:D {id: 'd1', name: 'alpha', pat: 'al.*'})")
    g.cypher("CREATE (:D {id: 'd2', name: 'beta', pat: 'al.*'})")
    g.cypher("CREATE (:D {id: 'd3', name: 'gamma', pat: 'gam+a'})")
    df = g.cypher(
        "MATCH (n:D) WHERE n.name =~ n.pat RETURN n.name ORDER BY n.name"
    )
    assert rows(df) == [("alpha",), ("gamma",)]


def test_set_large_match_no_driver_materialization(spark):
    """VERDICT r1 item 3: SET over a large MATCH must flow through a
    join, not a collect()-built isin of every matched id."""
    from pyspark.sql import functions as F

    from graphdb_spark.session import GraphSession

    n = 100_000
    v = spark.range(n).select(
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("id"),
        F.lit("Bulk").alias("label"),
        F.create_map(F.lit("k"), F.col("id").cast("string")).alias("properties"),
    )
    e = spark.createDataFrame(
        [], "src string, relationship string, dst string, properties map<string,string>"
    )
    g = GraphSession(spark, v, e)
    g.cypher("MATCH (n:Bulk) SET n.flag = '1'")
    # correctness: every vertex patched
    assert (
        g.vertices.filter(F.col("properties").getItem("flag") == "1").count()
        == n
    )
    # no 100k-literal isin in the plan (a join keeps the plan tiny)
    plan = g.vertices._jdf.queryExecution().analyzed().toString()
    assert len(plan) < 200_000 and plan.count("v9999") <= 1


def test_mixed_fixed_varlen_path_reification(person_graph):
    """MATCH p = (a)-[:KNOWS]->(b)-[*1..2]->(c) — a fixed rel AND a
    var-length rel in one pattern now reify: nodes(p)/relationships(p)
    compose the fixed hop with the var-length segment in pattern order
    (r1 limitation: only single-rel patterns carried a concrete path)."""
    df = person_graph.cypher(
        "MATCH p = (a:Person {name: 'Alice'})-[:KNOWS]->(b)-[*1..2]->(c) "
        "RETURN c.name AS dest, nodes(p) AS ids, relationships(p) AS rels, "
        "length(p) AS hops"
    )
    got = {(r["dest"], tuple(r["ids"]), tuple(r["rels"]), r["hops"])
           for r in df.collect()}
    # only bob has onward edges: alice-KNOWS->bob-WORKS_WITH->diana
    assert got == {
        ("Diana", ("alice", "bob", "diana"), ("KNOWS", "WORKS_WITH"), 2),
    }
    # var-length segment FIRST, fixed rel after
    df2 = person_graph.cypher(
        "MATCH p = (a {name: 'Alice'})-[*1..1]->(b)-[:WORKS_WITH]->(c) "
        "RETURN nodes(p) AS ids, relationships(p) AS rels, length(p) AS hops"
    )
    got2 = {(tuple(r["ids"]), tuple(r["rels"]), r["hops"])
            for r in df2.collect()}
    assert got2 == {
        (("alice", "bob", "diana"), ("KNOWS", "WORKS_WITH"), 2),
    }


def test_create_multi_bound_var_fails_fast(spark):
    """VERDICT r3 item 3: CREATE referencing a variable bound to many
    rows must error via a bounded probe (limit 2), never materialize
    the full binding on the driver."""
    from graphdb_spark.datamodel import local_df
    from graphdb_spark.session import GraphSession

    n = 5000
    v = local_df(
        spark,
        [(f"b_{i}", "Bulk", {}) for i in range(n)],
        "id string, label string, properties map<string,string>",
    )
    e = local_df(
        spark, [],
        "src string, relationship string, dst string, "
        "properties map<string,string>",
    )
    g = GraphSession(spark, v, e)
    with pytest.raises(CypherExecutionError, match="multi-bound"):
        g.cypher("MATCH (n:Bulk) CREATE (n)-[:SELF]->(m:New {id: 'm1'})")


def test_anonymous_endpoint_elision_and_dangling_safety(spark):
    """On an integrity-validated graph, MATCH with an anonymous
    unconstrained endpoint needs no vertex join (same results); after
    bulk_insert (dangling edges possible) the flag clears and the
    existence join correctly excludes edges to missing vertices."""
    from graphdb_spark.operators.mutations import bulk_insert
    from graphdb_spark.session import GraphSession

    g = GraphSession(spark)  # empty: trivially consistent
    assert g.integrity_validated
    g.cypher("CREATE (a:P {id: 'a'})-[:R]->(b:P {id: 'b'})")
    g.cypher("CREATE (c:P {id: 'c'})")
    g.cypher("MATCH (x {id: 'c'}), (b {id: 'b'}) CREATE (x)-[:R]->(b)")
    assert g.integrity_validated
    out = g.cypher("MATCH (p:P)-[r:R]->() RETURN p.id AS id ORDER BY id")
    assert [r["id"] for r in out.collect()] == ["a", "c"]
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # dangling edge via bulk_insert flips the flag
    g2 = bulk_insert(g, edges=[("a", "R", "zz_missing", {})])
    assert not g2.integrity_validated
    out2 = g2.cypher("MATCH (p:P)-[r:R]->() RETURN p.id AS id ORDER BY id")
    # the dangling edge's endpoint does not exist -> excluded
    assert [r["id"] for r in out2.collect()] == ["a", "c"]
    # the elision itself must be visible in the plan, not just the
    # (equality-preserving) results: the identical query on the
    # unvalidated graph carries exactly one extra Join — the
    # anonymous-endpoint existence join that the validated graph
    # elides. Same query text, same shape, so join count is structural.
    plan2 = out2._jdf.queryExecution().optimizedPlan().toString()
    njoins, njoins2 = plan.count("Join "), plan2.count("Join ")
    assert njoins2 == njoins + 1, (
        f"expected elision to remove exactly one join: validated plan has "
        f"{njoins}, unvalidated {njoins2}\n--- validated ---\n{plan}\n"
        f"--- unvalidated ---\n{plan2}"
    )


def _validated(g):
    """The same frames as ``g``, marked integrity-validated."""
    from graphdb_spark.session import GraphSession

    return GraphSession(g.spark, g.vertices, g.edges, assume_integrity=True)


def _plan_counts(df):
    """(joins, broadcast exchanges) in ``df``'s physical plan."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    return (len(re.findall(r"\w+Join ", plan)),
            plan.count("BroadcastExchange"))


def test_id_only_endpoint_counts_match_without_elision(person_graph):
    """count(v) / count(DISTINCT v) over a named endpoint used by id
    only answer the same with and without the vertex join, and an
    OPTIONAL MATCH endpoint with no match still counts 0."""
    g = _validated(person_graph)
    cases = {
        "MATCH (a:Person)-[:KNOWS]->(b) "
        "RETURN a.name AS a, count(b) AS n ORDER BY a": [("Alice", 2)],
        "MATCH (a:Person)-[]->(b) RETURN count(DISTINCT b) AS n": [(3,)],
        "MATCH (p:Person) OPTIONAL MATCH (p)-[:KNOWS]->(f) "
        "RETURN p.name AS p, count(f) AS n ORDER BY p":
            [("Alice", 2), ("Bob", 0), ("Charlie", 0), ("Diana", 0)],
        "MATCH (p:Person {name: 'Diana'}) OPTIONAL MATCH (p)-[:KNOWS]->(f) "
        "RETURN count(f) AS n": [(0,)],
        "MATCH (a:Person)-[:KNOWS]->(b) WITH count(b) AS n RETURN n": [(2,)],
    }
    for q, want in cases.items():
        assert rows(g.cypher(q)) == want, q
        assert rows(person_graph.cypher(q)) == want, q


def test_id_only_endpoint_drops_its_vertex_join(person_graph):
    q = ("MATCH (a:Person {name: 'Alice'})-[:KNOWS]->(b) "
         "RETURN count(b) AS n")
    joins, broadcasts = _plan_counts(person_graph.cypher(q))
    elided = _validated(person_graph).cypher(q)
    assert _plan_counts(elided) == (joins - 1, broadcasts - 1)
    assert rows(elided) == [(2,)]


def test_endpoint_read_beyond_its_id_keeps_the_join(person_graph):
    from graphdb_spark.operators.mutations import bulk_insert

    g = _validated(person_graph)
    head = "MATCH (a:Person {name: 'Alice'})-[:KNOWS]->"
    for q in (
        head + "(b) RETURN count(b) AS n, collect(b.name) AS names",
        head + "(b) RETURN b",
        head + "(b:Person) RETURN count(b) AS n",
        head + "(b) WITH b RETURN count(b) AS n",
        head + "(b) MATCH (b) RETURN count(b) AS n",
        # nodes(p) reads every node of p's pattern
        "MATCH p=(a:Person)-[:KNOWS]->(b) "
        "RETURN nodes(p) AS ns, count(b) AS n",
    ):
        assert _plan_counts(g.cypher(q)) == \
            _plan_counts(person_graph.cypher(q)), q
        assert sorted(rows(g.cypher(q)), key=repr) == \
            sorted(rows(person_graph.cypher(q)), key=repr), q
    # a dangling edge may exist after bulk_insert: the join is back
    g2 = bulk_insert(g, edges=[("alice", "KNOWS", "zz_missing", {})])
    assert not g2.integrity_validated
    q = head + "(b) RETURN count(b) AS n"
    assert _plan_counts(g2.cypher(q)) == _plan_counts(person_graph.cypher(q))
    assert rows(g2.cypher(q)) == [(2,)]
