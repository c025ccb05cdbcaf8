"""Cypher executor: lowers parsed statements onto DataFrame operations
against a GraphSession.

Where the reference executes MATCH as full-scan + in-memory filter and
leaves relationships in CREATE patterns unmaterialized
(cypher_parser.rs:682-697, :738 'not materialized'), this executor:

- binds every pattern variable to namespaced columns of one "binding
  table" DataFrame (var__id / var__label / var__properties, edge vars
  var__src / var__relationship / var__dst / var__properties);
- each relationship hop is an equi-join against the edges DataFrame —
  Catalyst/AQE pick broadcast vs shuffle per frontier size;
- CREATE materializes both nodes AND relationships (fixing the
  reference's unimplemented CreateComplexPattern, cypher_parser.rs:722-743);
- RETURN does real projection/aggregation with Cypher implicit
  grouping (non-aggregate items become groupBy keys);
- var-length / shortestPath lower onto operators/traversal.py.

Property-type fidelity (SURVEY.md §7.3): properties are stored
stringified; numeric comparisons cast through try_cast(double) so
`p.age > 30` is numeric, matching the reference's typed-JSON compare
(models/src/json.rs:59-115), not lexicographic.
"""

from __future__ import annotations

import dataclasses
import itertools
import uuid

from pyspark.sql import DataFrame, functions as F

from graphdb_spark import plans as P
from graphdb_spark.cypher.parser import CypherSyntaxError, parse_cypher
from graphdb_spark.datamodel import (
    local_df,
    normalize_properties,
    stringify_value,
)
from graphdb_spark.operators import mutations as M
from graphdb_spark.operators import traversal as T

AGG_FUNCS = {"count", "sum", "avg", "min", "max", "collect", "collect_list",
             "stdev", "stddev"}


def _expr_vars(e) -> set[str]:
    """Variable names referenced by an expression AST."""
    if isinstance(e, P.Var):
        return {e.name}
    if isinstance(e, P.Prop):
        return {e.var}
    if isinstance(e, P.BinOp):
        return _expr_vars(e.left) | _expr_vars(e.right)
    if isinstance(e, P.UnaryOp):
        return _expr_vars(e.operand)
    if isinstance(e, P.Func):
        out = set()
        for a in e.args:
            out |= _expr_vars(a)
        return out
    if isinstance(e, P.ListExpr):
        out = set()
        for x in e.items:
            out |= _expr_vars(x)
        return out
    if isinstance(e, P.ListComp):
        return _expr_vars(e.source) | (_expr_vars(e.expr) - {e.var})
    if isinstance(e, P.PatternPred):
        out = set()
        for n in e.pattern.nodes:
            if n.var:
                out.add(n.var)
        for r in e.pattern.rels:
            if r.var:
                out.add(r.var)
        return out
    if isinstance(e, P.FieldAccess):
        return _expr_vars(e.expr)
    if isinstance(e, P.CaseExpr):
        out = set()
        for cond, res in e.whens:
            out |= _expr_vars(cond) | _expr_vars(res)
        if e.default is not None:
            out |= _expr_vars(e.default)
        return out
    return set()


def _id_only_vars(stmt) -> set[str]:
    """Named node variables that ``stmt`` uses by id alone: bound by
    exactly one label- and property-free node pattern, and otherwise
    named only as the whole argument of ``count(v)`` /
    ``count(DISTINCT v)``. Any other mention — ``v.prop``, ``RETURN v``,
    ``WITH v``, a second pattern, an alias, even a label or key spelled
    like it — keeps the variable out (a false mention only costs the
    vertex join the planner would have made anyway). So does a path
    variable over its pattern: ``nodes(p)`` reads every node's label
    and properties."""
    mentions: dict[str, int] = {}
    bare: list[str] = []
    on_path: set[str] = set()

    def walk(x):
        if isinstance(x, str):
            mentions[x] = mentions.get(x, 0) + 1
        elif isinstance(x, P.Lit):
            return  # a literal never names a variable
        elif (isinstance(x, P.Func) and x.name == "count"
              and len(x.args) == 1 and isinstance(x.args[0], P.Var)):
            return  # count(v): the id column is all it reads
        elif isinstance(x, (list, tuple)):
            for item in x:
                walk(item)
        elif isinstance(x, dict):
            for k, val in x.items():
                walk(k)
                walk(val)
        elif dataclasses.is_dataclass(x):
            if (isinstance(x, P.NodePattern) and x.var and not x.labels
                    and not x.properties):
                bare.append(x.var)
            if isinstance(x, P.PathPattern) and x.path_var:
                on_path.update(n.var for n in x.nodes if n.var)
            for f in dataclasses.fields(x):
                walk(getattr(x, f.name))

    walk(stmt)
    return {v for v in bare if mentions[v] == 1} - on_path


class CypherExecutionError(ValueError):
    pass


def execute_cypher(g, query: str):
    """Parse + execute. Returns a DataFrame (RETURN queries), a dict
    summary (mutations), a string/None (KV get), mirroring the
    reference's JSON envelopes (cypher_parser.rs:644-806)."""
    stmt = parse_cypher(query)
    if isinstance(stmt, P.SetKeyValue):
        g.kv_insert(stmt.key, stmt.value)
        g.kv_flush()  # SET k='v' flushes in the reference (:780-785)
        return {"status": "ok", "key": stmt.key}
    if isinstance(stmt, P.GetKeyValue):
        return g.kv_retrieve(stmt.key)
    if isinstance(stmt, P.DeleteKeyValue):
        g.kv_delete(stmt.key)
        return {"status": "ok", "deleted_key": stmt.key}
    if isinstance(stmt, P.UnionStatement):
        dfs = []
        for part in stmt.parts:
            res = _Executor(g).run(part)
            if not isinstance(res, DataFrame):
                raise CypherExecutionError(
                    "every UNION arm must end in RETURN"
                )
            dfs.append(res)
        cols = set(dfs[0].columns)
        for d in dfs[1:]:
            if set(d.columns) != cols:
                raise CypherExecutionError(
                    "UNION arms must return the same column names"
                )
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out if stmt.union_all else out.dropDuplicates()
    return _Executor(g).run(stmt)


class _Executor:
    def __init__(self, g):
        self.g = g
        self.binding: DataFrame | None = None
        self.node_vars: set[str] = set()
        self.edge_vars: set[str] = set()
        self.scalar_vars: set[str] = set()
        self.path_vars: dict[str, object] = {}
        self._lambda_scope: dict[str, object] = {}
        self._anon = itertools.count()
        #: named endpoints a statement reads by id only (bind_node
        #: may skip their vertex join); set per statement by run()
        self.id_only: set[str] = set()
        self.summary = {"created_vertices": 0, "created_edges": 0,
                        "deleted_vertices": 0, "deleted_edges": 0,
                        "properties_set": 0}
        self.mutated = False

    # ------------------------------------------------------------ utils

    def _fresh(self, prefix="_anon"):
        return f"{prefix}{next(self._anon)}"

    def _vcols(self, var):
        return [f"{var}__id", f"{var}__label", f"{var}__properties"]

    @staticmethod
    def _is_ast(val) -> bool:
        return isinstance(
            val, (P.Lit, P.Var, P.Prop, P.Func, P.BinOp, P.UnaryOp, P.ListExpr,
                  P.ListComp)
        )

    @staticmethod
    def _label_match(col, lbl: str):
        """Multi-label membership: the label column is a colon-joined
        list (SET n:Extra appends ':Extra'), so pattern labels match by
        element, not whole-string equality. Spelled as equality /
        startswith / contains / endswith — each a parquet-pushable
        string predicate, unlike array_contains(split(...))."""
        return (
            (col == lbl)
            | col.startswith(lbl + ":")
            | col.contains(":" + lbl + ":")
            | col.endswith(":" + lbl)
        )

    #: node sides whose exact row bound is at most this broadcast into
    #: pattern joins. Deliberately much lower than the translator's
    #: 2M-row frontier cap: a frontier is one id column (~25 B/row),
    #: a node side carries the properties map (~200 B/row) — measured
    #: at sf1, broadcasting the 1.5M-row order side cost more than the
    #: SortMergeJoin it replaced. 250k rows ≈ 50 MB of build side.
    BROADCAST_NODE_MAX = 250_000

    def _label_counts(self) -> dict[str, int]:
        """Exact per-label-string vertex counts, memoized on the
        GraphSession (one groupBy job per session/state — labels are
        few by data-model construction). The memo is taken before the
        frame it counts, so a count racing a state swap lands in the
        memo the swap discards (GraphSession._drop_read_memos)."""
        stats = self.g._stats
        cache = stats.get("labels")
        if cache is None:
            cache = stats["labels"] = {
                r["label"]: r["n"]
                for r in self.g.vertices.groupBy("label")
                .agg(F.count("*").alias("n"))
                .collect()
            }
        return cache

    def _node_bound(self, np: P.NodePattern) -> int:
        """Exact upper bound on a node pattern's match count: the sum
        of counts of label strings its label matches (property filters
        only shrink it further)."""
        counts = self._label_counts()
        if np.label is None:
            return sum(counts.values())
        lbl = np.label
        return sum(
            n for ls, n in counts.items()
            if ls == lbl or ls.startswith(lbl + ":")
            or (":" + lbl + ":") in ls or ls.endswith(":" + lbl)
        )

    def _node_df(self, np: P.NodePattern, var: str,
                 joins: bool) -> DataFrame:
        """The ``{var}__id/label/properties`` frame of a node pattern;
        ``joins`` says whether it enters a join, the only place its
        broadcast hint means anything (Spark warns about a hint on a
        relation that never joins, e.g. a point lookup's)."""
        v = self.g.vertices
        if np.label is not None:
            v = v.filter(self._label_match(F.col("label"), np.label))
        for k, val in np.properties.items():
            if self._is_ast(val):
                raise CypherExecutionError(
                    "expression property values are only supported in CREATE"
                )
            c = F.col("properties").getItem(k)
            if k == "id":
                # promoted identity, same rule as _prop_col
                c = F.coalesce(c, F.col("id"))
            v = v.filter(c == stringify_value(val))
        out = v.select(
            F.col("id").alias(f"{var}__id"),
            F.col("label").alias(f"{var}__label"),
            F.col("properties").alias(f"{var}__properties"),
        )
        # Informed broadcast: the static planner sees the full cached
        # vertex table's size through a label filter (no column stats)
        # and plans SortMergeJoins that exchange the edge table per
        # pattern hop — measured 5.2 s for a 1-hop grouped count at
        # sf1. The exact label-count bound costs one memoized job and
        # turns every node-side pattern join into a BroadcastHashJoin
        # streaming over the in-memory scan. Above the bound the hint
        # is skipped — the scale-safe shuffle join survives.
        if joins and self._node_bound(np) <= self.BROADCAST_NODE_MAX:
            out = F.broadcast(out)
        return out

    def _g_edges(self, key: str | None = None) -> DataFrame:
        """Edge frame for a hop joining on ``key`` ('src'/'dst'): the
        copy partitioned on that key when the session adopted the dual
        adjacency layout (session.use_adjacency_layout — the Spark twin
        of the reference's forward/reversed edge indexes), else the
        canonical frame. Same rows either way."""
        return self.g._e_by_key.get(key, self.g.edges)

    def _edge_base(self, rp: P.RelPattern,
                   key: str | None = None) -> DataFrame:
        e = self._g_edges(key)
        if rp.types:
            e = e.filter(F.col("relationship").isin(list(rp.types)))
        for k, val in rp.properties.items():
            e = e.filter(F.col("properties").getItem(k) == stringify_value(val))
        return e

    def _hop_edges(self, rel: P.RelPattern,
                   direction: str) -> tuple[DataFrame, DataFrame | None]:
        """(edges, edges_in) for a var-length/path hop: each
        orientation half reads its own-key partitioned copy when adopted.
        Keeps the historical gate (pre-filter only when rel.types) so
        semantics are unchanged without a layout."""
        key = "dst" if direction == "in" else "src"
        use_base = bool(rel.types)
        edges = self._edge_base(rel, key) if use_base else self._g_edges(key)
        if direction == "both":
            edges_in = (self._edge_base(rel, "dst") if use_base
                        else self._g_edges("dst"))
        else:
            edges_in = None
        return edges, edges_in

    # ------------------------------------------------------------ patterns

    def _pattern_df(self, pat: P.PathPattern) -> tuple[DataFrame, set[str], set[str]]:
        """Build the pattern's binding DataFrame. Returns (df,
        node_vars, edge_vars). Repeated node vars inside the pattern
        become id-equality constraints (cycles)."""
        nvars: list[str] = []
        evars: list[str] = []
        seen: dict[str, str] = {}

        def bind_node(np, df, prev_key=None):
            var = np.var or self._fresh()
            if var in seen:
                # cycle: join on id equality with already-bound var
                tmp = self._fresh("_cyc")
                nd = self._node_df(np, tmp, joins=True)
                df = df.join(
                    nd, F.col(prev_key) == F.col(f"{tmp}__id"), "inner"
                ).filter(F.col(f"{tmp}__id") == F.col(f"{var}__id"))
                return df.drop(*self._vcols(tmp)), var
            seen[var] = var
            if (
                (np.var is None or np.var in self.id_only)
                and np.label is None
                and not np.properties
                and df is not None
                and prev_key is not None
                and getattr(self.g, "integrity_validated", False)
            ):
                # anonymous unconstrained endpoint on an integrity-
                # validated graph: the vertex join is a pure existence
                # check that every edge row passes — elide it (the
                # classic Cypher-planner move; Neo4j never joins here
                # because its storage cannot hold dangling edges). The
                # endpoint id column still materializes so later hops /
                # path reification chain off it. Saves a full
                # edges x vertices shuffle per anonymous node
                # (measured: 2.1 s -> 1.2 s on the sf1 grouped count).
                # bulk_insert (dangling edges possible) clears the flag
                # and this branch never fires. A named endpoint read
                # only by count(v) (_id_only_vars) is the same case:
                # count(v) counts this id column, which an OPTIONAL
                # MATCH's left join leaves null on no match. Joining
                # it would broadcast every vertex with its properties
                # on each plan miss, and pin that broadcast in each
                # cached plan, to read an id the edge already holds
                if np.var is not None:
                    nvars.append(var)
                return df.withColumn(f"{var}__id", F.col(prev_key)), var
            nvars.append(var)
            # every node but a lone one joins a hop; a lone node joins
            # only the binding of the clauses before it, if any
            nd = self._node_df(np, var, joins=bool(pat.rels)
                               or self.binding is not None)
            if df is None:
                return nd, var
            return (
                df.join(nd, F.col(prev_key) == F.col(f"{var}__id"), "inner"),
                var,
            )

        # Reify the concrete path when the pattern has a path variable
        # and exactly ONE var-length rel. Pure var-length patterns bind
        # the traversal's (path, rels) arrays directly; MIXED patterns
        # (fixed rels around the var-length one) compose the full-path
        # arrays from the fixed hops' id/type columns plus the
        # var-length segment (NOTES r1 gap: only single-rel patterns
        # reified before).
        n_varlen = sum(1 for r in pat.rels if r.min_hops is not None)
        want_reify = bool(pat.path_var) and n_varlen == 1
        mixed_reify = want_reify and len(pat.rels) > 1
        path_nodes_parts: list = []
        path_rel_parts: list = []

        df, cur = bind_node(pat.nodes[0], None)
        if mixed_reify:
            path_nodes_parts.append(F.array(F.col(f"{cur}__id")))
        for rel, node in zip(pat.rels, pat.nodes[1:]):
            if rel.min_hops is not None:
                # var-length: expand (start,end,hops); no edge binding
                starts = df.select(F.col(f"{cur}__id").alias("id")).distinct()
                direction = (
                    "both" if rel.undirected else ("in" if rel.incoming else "out")
                )
                base_edges, rev_edges = self._hop_edges(rel, direction)
                if mixed_reify:
                    # pattern-order segment: path = [start, ..., end];
                    # drop the leading start id (already contributed by
                    # the preceding fixed hop), keep rel types whole
                    reach = T.var_length_paths(
                        base_edges, starts, rel.min_hops,
                        rel.max_hops or 5, t=None, direction=direction,
                        edges_in=rev_edges,
                    ).select(
                        F.col("start_id").alias(f"{cur}__id__r"),
                        F.col("id").alias("__end"),
                        F.expr(
                            "slice(path, 2, size(path) - 1)"
                        ).alias("__seg_nodes"),
                        F.col("rels").alias("__seg_rels"),
                    )
                    path_nodes_parts.append(F.col("__seg_nodes"))
                    path_rel_parts.append(F.col("__seg_rels"))
                elif want_reify:
                    # RETURN p for a var-length pattern: carry the
                    # concrete path (one row per relationship-path)
                    pv = pat.path_var
                    reach = T.var_length_paths(
                        base_edges, starts, rel.min_hops,
                        rel.max_hops or 5, t=None, direction=direction,
                        edges_in=rev_edges,
                    ).select(
                        F.col("start_id").alias(f"{cur}__id__r"),
                        F.col("id").alias("__end"),
                        F.col("path").alias(f"{pv}__nodes"),
                        F.col("rels").alias(f"{pv}__rels"),
                    )
                    self.path_vars[pv] = {
                        "kind": "varlen",
                        "nodes": f"{pv}__nodes",
                        "rels": f"{pv}__rels",
                    }
                else:
                    reach = T.var_length_expand(
                        base_edges, starts, rel.min_hops, rel.max_hops or 5,
                        t=None, direction=direction, edges_in=rev_edges,
                    ).select(
                        F.col("start_id").alias(f"{cur}__id__r"),
                        F.col("id").alias("__end"),
                    )
                df = df.join(
                    reach, F.col(f"{cur}__id") == F.col(f"{cur}__id__r")
                ).drop(f"{cur}__id__r")
                # bind endpoint node
                var = node.var or self._fresh()
                nd = self._node_df(node, var, joins=True)
                if var in seen:
                    df = df.filter(F.col("__end") == F.col(f"{var}__id")).drop("__end")
                else:
                    seen[var] = var
                    nvars.append(var)
                    df = df.join(nd, F.col("__end") == F.col(f"{var}__id")).drop("__end")
                cur = var
                continue
            evar = rel.var or self._fresh("_e")
            evars.append(evar)
            # fixed hop joins on src (outgoing) / dst (incoming): read
            # the copy partitioned on that key when a layout is adopted;
            # an undirected hop's flipped half joins on the original
            # dst, so it reads the reversed copy
            e = self._edge_base(rel, "dst" if rel.incoming else "src")
            esel = e.select(
                F.col("src").alias(f"{evar}__src"),
                F.col("relationship").alias(f"{evar}__relationship"),
                F.col("dst").alias(f"{evar}__dst"),
                F.col("properties").alias(f"{evar}__properties"),
            )
            if rel.undirected:
                flipped = self._edge_base(rel, "dst").select(
                    F.col("dst").alias(f"{evar}__src"),
                    F.col("relationship").alias(f"{evar}__relationship"),
                    F.col("src").alias(f"{evar}__dst"),
                    F.col("properties").alias(f"{evar}__properties"),
                )
                esel = esel.unionByName(flipped)
            from_key, to_key = (
                (f"{evar}__dst", f"{evar}__src")
                if rel.incoming
                else (f"{evar}__src", f"{evar}__dst")
            )
            df = df.join(esel, F.col(f"{cur}__id") == F.col(from_key), "inner")
            df, cur = bind_node(node, df, to_key)
            if mixed_reify:
                path_rel_parts.append(
                    F.array(F.col(f"{evar}__relationship"))
                )
                path_nodes_parts.append(F.array(F.col(f"{cur}__id")))
        if mixed_reify:
            pv = pat.path_var
            df = (
                df.withColumn(f"{pv}__nodes", F.concat(*path_nodes_parts))
                .withColumn(f"{pv}__rels", F.concat(*path_rel_parts))
                .drop("__seg_nodes", "__seg_rels")
            )
            self.path_vars[pv] = {
                "kind": "varlen",
                "nodes": f"{pv}__nodes",
                "rels": f"{pv}__rels",
            }
        if pat.path_var and pat.path_var not in self.path_vars:
            self.path_vars[pat.path_var] = [n.var for n in pat.nodes if n.var]
        return df, set(nvars), set(evars)

    def _merge(self, df: DataFrame, nvars: set[str], evars: set[str],
               optional: bool, extra_where=None):
        if self.binding is None:
            if optional:
                raise CypherExecutionError("OPTIONAL MATCH with no prior binding")
            self.binding = df
        else:
            shared = [v for v in nvars | evars
                      if f"{v}__id" in self.binding.columns
                      or f"{v}__src" in self.binding.columns]
            how = "left" if optional else "inner"
            if shared:
                # rename every column of the shared vars on the new side,
                # join on their identity columns, drop the duplicates
                for v in shared:
                    for c in [c for c in df.columns if c.startswith(f"{v}__")]:
                        df = df.withColumnRenamed(c, c + "__new")
                cond = None
                for v in shared:
                    keys = (
                        [f"{v}__id"]
                        if v in nvars
                        else [f"{v}__src", f"{v}__relationship", f"{v}__dst"]
                    )
                    for k in keys:
                        c = F.col(k) == F.col(k + "__new")
                        cond = c if cond is None else (cond & c)
                if extra_where is not None:
                    # cross-referencing OPTIONAL MATCH ... WHERE: the
                    # predicate joins the match condition. Shared vars
                    # resolve to the outer columns (equal by the join
                    # keys); new-side-only columns are unambiguous.
                    cond = cond & self._scoped_col(extra_where, nvars, evars)
                joined = self.binding.join(df, cond, how)
                self.binding = joined.drop(
                    *[c for c in joined.columns if c.endswith("__new")]
                )
            elif extra_where is not None:
                cond = self._scoped_col(extra_where, nvars, evars)
                self.binding = self.binding.join(df, cond, how)
            else:
                self.binding = self.binding.crossJoin(df)
        self.node_vars |= nvars
        self.edge_vars |= evars

    def _scoped_col(self, expr, nvars: set[str], evars: set[str]):
        """Evaluate an expression with extra pattern vars in scope."""
        saved_n, saved_e = self.node_vars, self.edge_vars
        self.node_vars = saved_n | nvars
        self.edge_vars = saved_e | evars
        try:
            return self._col(expr)
        finally:
            self.node_vars, self.edge_vars = saved_n, saved_e

    # ------------------------------------------------------------ expressions

    def _col(self, expr, numeric_hint=False):
        if isinstance(expr, P.Lit):
            if isinstance(expr.value, list):
                return F.array(*[F.lit(v) for v in expr.value])
            return F.lit(expr.value)
        if isinstance(expr, P.Var):
            v = expr.name
            if v in self._lambda_scope:
                return self._lambda_scope[v]
            if v in self.node_vars:
                return F.struct(
                    F.col(f"{v}__id").alias("id"),
                    F.col(f"{v}__label").alias("label"),
                    F.col(f"{v}__properties").alias("properties"),
                )
            if v in self.edge_vars:
                return F.struct(
                    F.col(f"{v}__src").alias("src"),
                    F.col(f"{v}__relationship").alias("relationship"),
                    F.col(f"{v}__dst").alias("dst"),
                    F.col(f"{v}__properties").alias("properties"),
                )
            info = self.path_vars.get(v)
            if isinstance(info, dict) and info.get("kind") == "varlen":
                # reified var-length path: struct of node-id array +
                # relationship-type array + hop count
                return F.struct(
                    F.col(info["nodes"]).alias("nodes"),
                    F.col(info["rels"]).alias("relationships"),
                    F.size(F.col(info["rels"])).alias("length"),
                )
            return F.col(v)  # UNWIND scalar
        if isinstance(expr, P.Prop):
            base = self._prop_col(expr)
            return base.try_cast("double") if numeric_hint else base
        if isinstance(expr, P.ListExpr):
            return F.array(*[self._col(x) for x in expr.items])
        if isinstance(expr, P.ListComp):
            src = self._col(expr.source)

            def body(el):
                self._lambda_scope[expr.var] = el
                try:
                    return self._col(expr.expr)
                finally:
                    del self._lambda_scope[expr.var]

            return F.transform(src, body)
        if isinstance(expr, P.UnaryOp):
            if expr.op == "NOT":
                return ~self._col(expr.operand)
            if expr.op == "-":
                return -self._col(expr.operand, numeric_hint=True)
            if expr.op == "IS_NULL":
                return self._col(expr.operand).isNull()
            if expr.op == "IS_NOT_NULL":
                return self._col(expr.operand).isNotNull()
        if isinstance(expr, P.BinOp):
            return self._binop(expr)
        if isinstance(expr, P.Func):
            return self._func(expr)
        if isinstance(expr, P.FieldAccess):
            return self._col(expr.expr)[expr.key]
        if isinstance(expr, P.CaseExpr):
            out = None
            for cond, res in expr.whens:
                c, r = self._col(cond), self._col(res)
                out = F.when(c, r) if out is None else out.when(c, r)
            if expr.default is not None:
                out = out.otherwise(self._col(expr.default))
            return out
        raise CypherExecutionError(f"cannot translate {expr!r}")

    def _prop_col(self, p: P.Prop):
        v = p.var
        if v in self._lambda_scope:
            # lambda-bound element (list comprehension): node/edge struct
            el = self._lambda_scope[v]
            return el["properties"].getItem(p.key)
        if v in self.edge_vars:
            return F.col(f"{v}__properties").getItem(p.key)
        if v in self.node_vars:
            if p.key == "id":
                # promoted identity: prefer the vertex id column when the
                # property map doesn't carry an explicit id
                return F.coalesce(
                    F.col(f"{v}__properties").getItem("id"), F.col(f"{v}__id")
                )
            return F.col(f"{v}__properties").getItem(p.key)
        # scalar var (UNWIND over maps) — field access
        return F.col(v).getItem(p.key)

    @staticmethod
    def _is_numeric_expr(e):
        if isinstance(e, P.Lit):
            return isinstance(e.value, (int, float)) and not isinstance(e.value, bool)
        if isinstance(e, P.UnaryOp) and e.op == "-":
            return _Executor._is_numeric_expr(e.operand)
        if isinstance(e, P.BinOp) and e.op in "+-*/%":
            return True
        if isinstance(e, P.Func) and e.name in ("avg", "sum", "abs", "round",
                                                "size", "length", "count"):
            return True
        return False

    def _binop(self, b: P.BinOp):
        op = b.op
        if op in ("AND",):
            return self._col(b.left) & self._col(b.right)
        if op in ("OR",):
            return self._col(b.left) | self._col(b.right)
        if op == "XOR":
            lc, rc = self._col(b.left), self._col(b.right)
            return (lc | rc) & ~(lc & rc)
        numeric = self._is_numeric_expr(b.left) or self._is_numeric_expr(b.right)
        lc = self._col(b.left, numeric_hint=numeric)
        rc = self._col(b.right, numeric_hint=numeric)
        if op == "=":
            if not numeric and isinstance(b.right, P.Lit):
                rc = F.lit(stringify_value(b.right.value))
            elif not numeric and isinstance(b.left, P.Lit):
                lc = F.lit(stringify_value(b.left.value))
            return lc == rc
        if op == "<>":
            if not numeric and isinstance(b.right, P.Lit):
                rc = F.lit(stringify_value(b.right.value))
            return lc != rc
        if op in ("<", "<=", ">", ">="):
            mk = lambda le, ri: {"<": le < ri, "<=": le <= ri,
                                 ">": le > ri, ">=": le >= ri}[op]
            if (not numeric and isinstance(b.left, P.Prop)
                    and isinstance(b.right, P.Prop)):
                # prop-vs-prop ordering: numeric when both values parse
                # (reference Json cross-numeric total order,
                # models/src/json.rs:59-115), else lexicographic
                ln, rn = lc.try_cast("double"), rc.try_cast("double")
                return F.when(ln.isNotNull() & rn.isNotNull(), mk(ln, rn)
                              ).otherwise(mk(lc, rc))
            return mk(lc, rc)
        if op == "=~":
            # Cypher =~ is a FULL-string match (rlike alone is substring)
            if isinstance(b.right, P.Lit):
                return lc.rlike(f"^(?:{b.right.value})$")
            # dynamic pattern (n.name =~ m.pattern): build the anchored
            # regex as a column — silently matching nothing would be a
            # wrong-results trap (ADVICE r1)
            return F.rlike(lc, F.concat(F.lit("^(?:"), rc, F.lit(")$")))
        if op == "CONTAINS":
            return lc.contains(rc)
        if op == "STARTS_WITH":
            return lc.startswith(rc)
        if op == "ENDS_WITH":
            return lc.endswith(rc)
        if op == "IN":
            return F.array_contains(rc, lc)
        if op == "+":
            return lc + rc
        if op == "-":
            return lc - rc
        if op == "*":
            return lc * rc
        if op == "/":
            return lc / rc
        if op == "%":
            return lc % rc
        raise CypherExecutionError(f"unknown operator {op}")

    def _func(self, f: P.Func):
        n = f.name
        if n == "count":
            if f.args and isinstance(f.args[0], P.Var) and f.args[0].name == "*":
                return F.count(F.lit(1))
            inner = self._count_target(f.args[0])
            return F.countDistinct(inner) if f.distinct else F.count(inner)
        if n in ("collect", "collect_list"):
            return F.collect_list(self._col(f.args[0]))
        if n in ("sum", "avg", "min", "max"):
            c = self._col(f.args[0], numeric_hint=n in ("sum", "avg"))
            if isinstance(f.args[0], P.Prop) and n in ("min", "max"):
                c = self._col(f.args[0], numeric_hint=True)
            return getattr(F, n if n != "stdev" else "stddev")(c)
        if n in ("stdev", "stddev"):
            return F.stddev(self._col(f.args[0], numeric_hint=True))
        if n == "labels":
            v = f.args[0].name
            return F.split(F.col(f"{v}__label"), ":")
        if n == "type":
            v = f.args[0].name
            return F.col(f"{v}__relationship")
        if n == "id":
            v = f.args[0].name
            return F.col(f"{v}__id")
        if n == "keys":
            return F.map_keys(self._col(f.args[0]))
        if n in ("tolower", "lower"):
            return F.lower(self._col(f.args[0]))
        if n in ("toupper", "upper"):
            return F.upper(self._col(f.args[0]))
        if n == "tostring":
            return self._col(f.args[0]).cast("string")
        if n in ("tointeger", "toint"):
            return self._col(f.args[0]).try_cast("bigint")
        if n == "tofloat":
            return self._col(f.args[0]).try_cast("double")
        if n == "exists":
            return self._col(f.args[0]).isNotNull()
        if n == "timestamp":
            return F.unix_millis(F.current_timestamp())
        if n == "date":
            return F.current_date()
        if n in ("size", "length"):
            a = f.args[0]
            if isinstance(a, P.Var) and a.name in self.path_vars:
                # length(p) = relationship count
                info = self.path_vars[a.name]
                if isinstance(info, dict):
                    if info.get("kind") == "varlen":
                        return F.size(F.col(info["rels"]))
                    # shortestPath: scalar array-of-ids column
                    return F.size(F.col(a.name)) - F.lit(1)
                return F.lit(len(info) - 1)  # fixed pattern
            c = self._col(a)
            is_list = (
                isinstance(a, P.ListExpr)
                or (isinstance(a, P.Lit) and isinstance(a.value, list))
                or (
                    isinstance(a, P.Func)
                    and a.name in ("collect", "collect_list", "labels", "keys", "nodes")
                )
            )
            return F.size(c) if is_list else F.length(c)
        if n == "abs":
            return F.abs(self._col(f.args[0], numeric_hint=True))
        if n == "round":
            args = [self._col(f.args[0], numeric_hint=True)]
            if len(f.args) > 1:
                return F.round(args[0], f.args[1].value)
            return F.round(args[0])
        if n == "coalesce":
            return F.coalesce(*[self._col(a) for a in f.args])
        if n in ("nodes", "relationships"):
            pv = f.args[0].name
            info = self.path_vars.get(pv, [])
            if isinstance(info, dict) and info.get("kind") == "varlen":
                # distributed path: ids / relationship types as arrays
                return F.col(info["nodes" if n == "nodes" else "rels"])
            if isinstance(info, dict):  # shortestPath binding
                return info["node_structs"] if n == "nodes" else info["rel_types"]
            if n == "relationships":
                raise CypherExecutionError(
                    "relationships() only supported on shortestPath paths"
                )
            return F.array(*[
                F.struct(
                    F.col(f"{v}__id").alias("id"),
                    F.col(f"{v}__label").alias("label"),
                    F.col(f"{v}__properties").alias("properties"),
                )
                for v in info
            ])
        if n == "range":
            # range(start, stop[, step]) — inclusive like Cypher
            args = [self._col(a).cast("long") for a in f.args]
            return F.sequence(*args)
        if n == "properties":
            v = f.args[0].name
            return F.col(f"{v}__properties")
        if n in ("startnode", "endnode"):
            v = f.args[0].name
            end = F.col(f"{v}__src" if n == "startnode" else f"{v}__dst")
            return F.struct(
                end.alias("id"),
                F.lit(None).cast("string").alias("label"),
                F.create_map().cast("map<string,string>").alias("properties"),
            )
        if n == "trim":
            return F.trim(self._col(f.args[0]))
        if n == "replace":
            return F.replace(*[self._col(a) for a in f.args[:3]])
        if n == "substring":
            # Cypher is 0-based; Spark substring is 1-based
            s = self._col(f.args[0])
            start = self._col(f.args[1]).cast("int") + F.lit(1)
            if len(f.args) > 2:
                return F.substring(s, start, self._col(f.args[2]).cast("int"))
            return F.substring(s, start, F.lit(2147483647))
        if n == "split":
            return F.split(self._col(f.args[0]),
                           F.lit(f.args[1].value) if isinstance(f.args[1], P.Lit)
                           else self._col(f.args[1]))
        if n == "left":
            return F.substring(self._col(f.args[0]), 1,
                               self._col(f.args[1]).cast("int"))
        if n == "right":
            s = self._col(f.args[0])
            k = self._col(f.args[1]).cast("int")
            return F.substring(s, -k, k)
        if n == "reverse":
            return F.reverse(self._col(f.args[0]))
        if n in ("ceil", "ceiling"):
            return F.ceil(self._col(f.args[0], numeric_hint=True))
        if n == "floor":
            return F.floor(self._col(f.args[0], numeric_hint=True))
        if n == "sqrt":
            return F.sqrt(self._col(f.args[0], numeric_hint=True))
        if n == "sign":
            return F.signum(self._col(f.args[0], numeric_hint=True)).cast("int")
        # try_element_at: Cypher head/last of an EMPTY list is null,
        # but plain element_at throws under Spark 4's default ANSI mode
        if n in ("head",):
            return F.try_element_at(self._col(f.args[0]), F.lit(1))
        if n in ("last",):
            return F.try_element_at(self._col(f.args[0]), F.lit(-1))
        if n in ("tail",):
            c = self._col(f.args[0])
            # length must not overflow int when added to start
            return F.slice(c, F.lit(2), F.greatest(F.size(c) - 1, F.lit(0)))
        raise CypherExecutionError(f"unknown function {n}")

    def _count_target(self, arg):
        if isinstance(arg, P.Var):
            v = arg.name
            if v in self.node_vars:
                return F.col(f"{v}__id")
            if v in self.edge_vars:
                return F.col(f"{v}__src")
            return F.col(v)
        return self._col(arg)

    # ------------------------------------------------------------ clauses

    def run(self, stmt: P.CypherStatement):
        self.id_only = _id_only_vars(stmt)
        result = None
        for clause in stmt.clauses:
            if isinstance(clause, P.MatchClause):
                self._exec_match(clause)
            elif isinstance(clause, P.UnwindClause):
                self._exec_unwind(clause)
            elif isinstance(clause, P.CreateClause):
                self._exec_create(clause)
            elif isinstance(clause, P.SetClause):
                self._exec_set(clause)
            elif isinstance(clause, P.RemoveClause):
                self._exec_remove(clause)
            elif isinstance(clause, P.DeleteClause):
                self._exec_delete(clause)
            elif isinstance(clause, P.WithClause):
                self._exec_with(clause)
            elif isinstance(clause, P.ReturnClause):
                result = self._exec_return(clause)
            else:
                raise CypherExecutionError(f"unsupported clause {clause!r}")
        if result is not None:
            return result
        return dict(self.summary)

    def _exec_match(self, mc: P.MatchClause):
        for i, pat in enumerate(mc.patterns):
            if pat.shortest:
                self._exec_shortest(pat)
                continue
            df, nvars, evars = self._pattern_df(pat)
            extra_where = None
            if mc.optional and mc.where is not None and i == len(mc.patterns) - 1:
                # OPTIONAL MATCH ... WHERE: the predicate is part of the
                # match, not a post-filter — rows failing it become
                # nulls, not dropped. Pattern-local predicates push down
                # BEFORE the left join (cheaper); predicates that
                # cross-reference outer-row variables go INTO the join
                # condition (null-preserving by construction).
                refs = _expr_vars(mc.where)
                local = nvars | evars
                if refs <= local:
                    saved_n, saved_e = self.node_vars, self.edge_vars
                    self.node_vars = saved_n | nvars
                    self.edge_vars = saved_e | evars
                    df = df.filter(self._col(mc.where))
                    self.node_vars, self.edge_vars = saved_n, saved_e
                else:
                    extra_where = mc.where
            self._merge(df, nvars, evars, mc.optional, extra_where=extra_where)
        if mc.where is not None and not mc.optional:
            preds, residual = self._split_pattern_preds(mc.where)
            for pp_pat, positive in preds:
                self._apply_pattern_pred(pp_pat, positive)
            if residual is not None:
                self.binding = self.binding.filter(self._col(residual))

    def _split_pattern_preds(self, expr):
        """Split top-level conjunctive pattern predicates out of a WHERE
        expression: returns ([(pattern, positive)], residual_expr).
        Pattern predicates under OR/XOR are not supported (they can't
        lower to a single semi-join)."""
        def as_pattern(e):
            # exists((a)-[:T]->(b)) is sugar for the bare pattern pred
            if isinstance(e, P.PatternPred):
                return e.pattern
            if (
                isinstance(e, P.Func)
                and e.name == "exists"
                and len(e.args) == 1
                and isinstance(e.args[0], P.PatternPred)
            ):
                return e.args[0].pattern
            return None

        pat = as_pattern(expr)
        if pat is not None:
            return [(pat, True)], None
        if isinstance(expr, P.UnaryOp) and expr.op == "NOT":
            pat = as_pattern(expr.operand)
            if pat is not None:
                return [(pat, False)], None
        if isinstance(expr, P.BinOp) and expr.op == "AND":
            lp, lres = self._split_pattern_preds(expr.left)
            rp, rres = self._split_pattern_preds(expr.right)
            if lres is None:
                res = rres
            elif rres is None:
                res = lres
            else:
                res = P.BinOp("AND", lres, rres)
            return lp + rp, res
        return [], expr

    def _apply_pattern_pred(self, pat: P.PathPattern, positive: bool):
        """WHERE (a)-[:T]->(b): existential subpattern as a semi-join
        on the shared variables' identity columns (anti-join for NOT).
        The subpattern's own variables stay out of scope (existential).
        Declared Cypher surface beyond the reference's executor; the
        reference's Pattern combinators (pattern_match.rs:8-62) only
        test one entity at a time."""
        df, nvars, evars = self._pattern_df(pat)
        shared = [
            v for v in nvars | evars
            if f"{v}__id" in self.binding.columns
            or f"{v}__src" in self.binding.columns
        ]
        if not shared:
            raise CypherExecutionError(
                "pattern predicate must share at least one variable "
                "with the enclosing MATCH"
            )
        keys = []
        for v in shared:
            keys += (
                [f"{v}__id"]
                if v in nvars
                else [f"{v}__src", f"{v}__relationship", f"{v}__dst"]
            )
        probe = df.select(
            *[F.col(k).alias(k + "__pp") for k in keys]
        ).dropDuplicates()
        cond = None
        for k in keys:
            c = F.col(k) == F.col(k + "__pp")
            cond = c if cond is None else cond & c
        how = "left_semi" if positive else "left_anti"
        self.binding = self.binding.join(probe, cond, how)

    def _resolve_endpoint(self, np: P.NodePattern) -> list[str]:
        """Endpoint ids for shortestPath: from the current binding if
        the var is already bound (corpus #12: MATCH (alice {...}) ...
        MATCH path = shortestPath((alice)-[..]-(diana))), else from the
        node pattern's own label/property filters."""
        if (
            np.var
            and self.binding is not None
            and f"{np.var}__id" in self.binding.columns
        ):
            return [
                r[0]
                for r in self.binding.select(f"{np.var}__id")
                .distinct()
                .limit(2)
                .collect()
            ]
        # limit(2) (like the sibling check at _exec_merge): the caller only
        # distinguishes "exactly one" from "not one" — never pull an
        # unbounded id set to the driver (VERDICT r2 item 5).
        return [
            r[0]
            for r in self._node_df(np, "x", joins=False)
            .select("x__id").limit(2).collect()
        ]

    def _exec_shortest(self, pat: P.PathPattern):
        """shortestPath((a)-[*..k]-(b)) — endpoints resolved to concrete
        ids, path computed via the iterative-join operator; the path var
        binds the id array plus driver-side node structs / relationship
        types for nodes(path) / relationships(path)."""
        if len(pat.nodes) != 2 or len(pat.rels) != 1:
            raise CypherExecutionError("shortestPath needs exactly (a)-[..]-(b)")
        a, b = pat.nodes
        rel = pat.rels[0]
        ida = self._resolve_endpoint(a)
        idb = self._resolve_endpoint(b)
        if len(ida) != 1 or len(idb) != 1:
            raise CypherExecutionError(
                "shortestPath endpoints must resolve to single vertices"
            )
        direction = "both" if rel.undirected else ("in" if rel.incoming else "out")
        if pat.all_paths:
            # allShortestPaths: one binding row per minimal-length path,
            # bound through the reified-path (varlen) machinery so
            # nodes(p)/relationships(p)/length(p)/RETURN p all work
            pv = pat.path_var or self._fresh("_path")
            base, rev = self._hop_edges(rel, direction)
            paths = T.all_shortest_paths(
                base, ida[0], idb[0],
                max_depth=rel.max_hops or 5, t=None, direction=direction,
                edges_in=rev,
            )
            row_df = paths.select(
                F.col("path").alias(f"{pv}__nodes"),
                F.col("rels").alias(f"{pv}__rels"),
            )
            self.path_vars[pv] = {
                "kind": "varlen",
                "nodes": f"{pv}__nodes",
                "rels": f"{pv}__rels",
            }
            if self.binding is None:
                self.binding = row_df
            else:
                self.binding = self.binding.crossJoin(row_df)
            return
        path = T.shortest_path(
            self._g_edges("dst" if direction == "in" else "src"),
            ida[0], idb[0],
            max_depth=rel.max_hops or 5,
            t=rel.types[0] if rel.types else None,
            direction=direction,
            edges_in=self._g_edges("dst") if direction == "both" else None,
        )
        pv = pat.path_var or self._fresh("_path")
        row_df = local_df(
            self.g.spark,
            [(path,)] if path is not None else [],
            f"{pv} array<string>",
        )
        self.scalar_vars.add(pv)
        node_structs, rel_types = self._path_literals(path or [])
        self.path_vars[pv] = {
            "kind": "shortest",
            "node_structs": node_structs,
            "rel_types": rel_types,
        }
        if self.binding is None:
            self.binding = row_df
        else:
            self.binding = self.binding.crossJoin(row_df)

    def _path_literals(self, ids: list[str]):
        """Literal array columns of node structs / relationship types
        along a concrete path (bounded by max_depth, so driver-side
        lookups are fine).

        Scale note (VERDICT r3): the per-id collect here and the
        OR-chained (src=a AND dst=b) edge predicate downstream are
        acceptable ONLY because ``ids`` is one shortestPath result,
        ≤ max_depth+1 entries (≤ 6-7 by default) — never a data-sized
        list. Anything longer must go through the set-based joins in
        operators/traversal instead."""
        if not ids:
            empty = F.array().cast("array<string>")
            return empty, empty
        vrows = {
            r["id"]: r
            for r in self.g.vertices.filter(F.col("id").isin(ids)).collect()
        }
        structs = []
        for vid in ids:
            r = vrows.get(vid)
            props = (r["properties"] if r else None) or {}
            kv = []
            for k, v in sorted(props.items()):
                kv.extend([F.lit(k), F.lit(v)])
            structs.append(
                F.struct(
                    F.lit(vid).alias("id"),
                    F.lit(r["label"] if r else None).alias("label"),
                    (
                        F.create_map(*kv)
                        if kv
                        else F.create_map().cast("map<string,string>")
                    ).alias("properties"),
                )
            )
        rels = []
        pairs = list(zip(ids, ids[1:]))
        if pairs:
            cond = None
            for s, d in pairs:
                c = ((F.col("src") == s) & (F.col("dst") == d)) | (
                    (F.col("src") == d) & (F.col("dst") == s)
                )
                cond = c if cond is None else (cond | c)
            erows = self.g.edges.filter(cond).collect()
            emap = {}
            for r in erows:
                emap[(r["src"], r["dst"])] = r["relationship"]
            for s, d in pairs:
                rels.append(
                    F.lit(emap.get((s, d), emap.get((d, s))))
                )
        return (
            F.array(*structs),
            F.array(*rels) if rels else F.array().cast("array<string>"),
        )

    def _exec_unwind(self, uc: P.UnwindClause):
        col = self._col(uc.expr) if not isinstance(uc.expr, P.Lit) else None
        if isinstance(uc.expr, P.Lit) and isinstance(uc.expr.value, list):
            vals = uc.expr.value
            if all(isinstance(v, dict) for v in vals) and vals:
                rows = [(normalize_properties(v),) for v in vals]
                df = local_df(
                    self.g.spark, rows, f"{uc.var} map<string,string>"
                )
            else:
                df = local_df(
                    self.g.spark, [(v,) for v in vals], f"{uc.var} string"
                ) if all(isinstance(v, str) for v in vals) else (
                    local_df(self.g.spark, [(v,) for v in vals], [uc.var])
                )
            self.scalar_vars.add(uc.var)
            self.binding = (
                df if self.binding is None else self.binding.crossJoin(df)
            )
            return
        if self.binding is None:
            # UNWIND of a constant expression (e.g. range(1, 10)) with
            # no prior clause: seed a one-row binding to explode over
            self.binding = self.g.spark.range(1).select(
                F.explode(col).alias(uc.var)
            )
            self.scalar_vars.add(uc.var)
            return
        self.binding = self.binding.withColumn(uc.var, F.explode(col))
        self.scalar_vars.add(uc.var)

    def _exec_create(self, cc: P.CreateClause, upsert: bool = False):
        self.mutated = True
        if getattr(cc, "merge", False):
            # MERGE = match-or-create, pattern by pattern: if the full
            # pattern matches anything, bind it; otherwise create it and
            # bind the created pattern (so RETURN / ON CREATE SET see it).
            # Patterns referencing already-bound vars (MATCH ... MERGE
            # (a)-[:R]->(b)) go through CREATE's edge upsert — identical
            # end state (edge identity is the triple) — with a pre-check
            # for matched-vs-created so ON MATCH/ON CREATE fire right.
            for pat in cc.patterns:
                pat_vars = {n.var for n in pat.nodes if n.var}
                if pat_vars & (self.node_vars | self.edge_vars):
                    matched = self._bound_pattern_exists(pat)
                    if not matched:
                        # only create on miss — recreating on match would
                        # reset the matched edge's properties
                        self._exec_create(
                            P.CreateClause(patterns=[pat]), upsert=True
                        )
                    unbound = pat_vars - (self.node_vars | self.edge_vars)
                    if unbound or any(
                        r.var and r.var not in self.edge_vars
                        for r in pat.rels
                    ):
                        df, nvars, evars = self._pattern_df(pat)
                        self._merge(df, nvars, evars, optional=False)
                else:
                    try:
                        df, nvars, evars = self._pattern_df(pat)
                        matched = not df.isEmpty()
                    except CypherExecutionError:
                        matched = False
                    if not matched:
                        self._exec_create(
                            P.CreateClause(patterns=[pat]), upsert=True
                        )
                        df, nvars, evars = self._pattern_df(pat)
                    self._merge(df, nvars, evars, optional=False)
                sets = cc.on_match if matched else cc.on_create
                if sets:
                    self._exec_set(P.SetClause(items=list(sets)))
            return
        # per-row creation: any AST-valued property (UNWIND
        # interpolation, corpus #25) means one vertex per binding row,
        # built as a distributed select — no driver loop
        rowwise = [
            pat
            for pat in cc.patterns
            if any(
                self._is_ast(v)
                for node in pat.nodes
                for v in node.properties.values()
            )
        ]
        if rowwise:
            if self.binding is None:
                raise CypherExecutionError(
                    "expression properties in CREATE need a prior "
                    "UNWIND/MATCH binding"
                )
            for pat in rowwise:
                if pat.rels:
                    raise CypherExecutionError(
                        "per-row CREATE supports node patterns only"
                    )
                for node in pat.nodes:
                    kv = []
                    for k, v in node.properties.items():
                        expr = self._col(v) if self._is_ast(v) else F.lit(
                            stringify_value(v)
                        )
                        kv.extend([F.lit(k), expr.cast("string")])
                    id_expr = (
                        self._col(node.properties["id"]).cast("string")
                        if self._is_ast(node.properties.get("id"))
                        else F.lit(str(node.properties.get("id", "")))
                    )
                    if "id" not in node.properties:
                        id_expr = F.expr("uuid()")
                    new_v = self.binding.select(
                        id_expr.alias("id"),
                        F.lit(node.label or node.var or "Node").alias("label"),
                        F.create_map(*kv).alias("properties"),
                    )
                    n = new_v.count()
                    self.g.set_state(
                        vertices=self.g.vertices.unionByName(new_v)
                    )
                    self.summary["created_vertices"] += n
            cc = P.CreateClause(
                patterns=[p for p in cc.patterns if p not in rowwise]
            )
            if not cc.patterns:
                return
        new_vertices: list[tuple] = []
        new_edges: list[tuple] = []
        created_vars: dict[str, str] = {}  # var -> id (this CREATE)

        def node_id(np: P.NodePattern) -> str:
            if np.var and np.var in created_vars:
                return created_vars[np.var]
            if np.var and np.var in self.node_vars:
                # bounded probe (like _resolve_endpoint): we only need to
                # know "exactly one distinct id?" — never materialize a
                # multi-million-row binding on the driver just to error
                rows = (
                    self.binding.select(f"{np.var}__id")
                    .distinct()
                    .limit(2)
                    .collect()
                )
                if len(rows) != 1:
                    raise CypherExecutionError(
                        f"CREATE with multi-bound variable {np.var!r}"
                    )
                return rows[0][0]
            vid = str(np.properties.get("id", uuid.uuid4()))
            label = np.label or np.var or "Node"
            new_vertices.append((vid, label, dict(np.properties)))
            if np.var:
                created_vars[np.var] = vid
            return vid

        for pat in cc.patterns:
            prev = node_id(pat.nodes[0])
            for rel, node in zip(pat.rels, pat.nodes[1:]):
                nxt = node_id(node)
                if not rel.types:
                    raise CypherExecutionError("CREATE relationship needs a type")
                src, dst = (nxt, prev) if rel.incoming else (prev, nxt)
                new_edges.append((src, rel.types[0], dst, dict(rel.properties)))
                prev = nxt
        if new_vertices:
            new_df = local_df(
                self.g.spark,
                [(i, l, normalize_properties(p)) for i, l, p in new_vertices],
                "id string, label string, properties map<string,string>",
            )
            if upsert:
                # MERGE create path: a pattern node whose id already
                # exists (e.g. MERGE (a {id:'x'})-[:R]->(b {id:'y'})
                # with both nodes present but no edge) must REUSE the
                # existing vertex — appending would duplicate the id
                # and fan out every later join (ADVICE r1)
                new_df = new_df.join(
                    self.g.vertices.select("id"), "id", "left_anti"
                ).localCheckpoint(eager=True)
                n_added = new_df.count()
            else:
                # plain CREATE mirrors reference create_vertex: an
                # explicit id that already exists is an error
                # (rdb/datastore.rs:261-270), never a silent duplicate
                explicit = [i for i, _l, p in new_vertices if "id" in p]
                if explicit and (
                    self.g.vertices.filter(F.col("id").isin(explicit))
                    .limit(1).count() > 0
                ):
                    raise CypherExecutionError(
                        f"CREATE: vertex id already exists among {explicit!r}"
                    )
                n_added = len(new_vertices)
            if n_added:
                self.g.set_state(
                    vertices=self.g.vertices.unionByName(new_df)
                )
            self.summary["created_vertices"] += n_added
        for src, rel_t, dst, props in new_edges:
            self.g.set_state(
                edges=self.g.edges.filter(
                    ~(
                        (F.col("src") == src)
                        & (F.col("relationship") == rel_t)
                        & (F.col("dst") == dst)
                    )
                ).unionByName(
                    local_df(
                        self.g.spark,
                        [(src, rel_t, dst, normalize_properties(props))],
                        "src string, relationship string, dst string, "
                        "properties map<string,string>",
                    )
                )
            )
            self.summary["created_edges"] += 1

    def _bound_pattern_exists(self, pat: P.PathPattern) -> bool:
        """Did a MERGE pattern with already-bound endpoints fully match
        BEFORE the upsert? Bound-var MERGE is single-row (node_id
        enforces this), so resolve each node to one id and probe the
        edge triples. A node that is neither bound nor id-addressed is
        necessarily new → no match."""
        ids = []
        for np in pat.nodes:
            if np.var and np.var in self.node_vars:
                rows = (
                    self.binding.select(f"{np.var}__id").distinct().limit(2).collect()
                )
                if len(rows) != 1:
                    raise CypherExecutionError(
                        f"MERGE with multi-bound variable {np.var!r}"
                    )
                ids.append(rows[0][0])
            elif "id" in np.properties and not self._is_ast(np.properties["id"]):
                ids.append(str(np.properties["id"]))
            else:
                return False
        for rel, s, d in zip(pat.rels, ids, ids[1:]):
            src, dst = (d, s) if rel.incoming else (s, d)
            cond = (F.col("src") == src) & (F.col("dst") == dst)
            if rel.types:
                cond &= F.col("relationship").isin(list(rel.types))
            if self.g.edges.filter(cond).isEmpty():
                return False
        return True

    def _refresh_bindings(self):
        """Re-join mutated vertex/edge state into the binding table so a
        RETURN after SET/REMOVE sees the updated values (Cypher
        read-your-writes within a statement, corpus #16/#18/#19)."""
        if self.binding is None:
            return
        for v in self.node_vars:
            if f"{v}__id" not in self.binding.columns:
                continue
            fresh = self.g.vertices.select(
                F.col("id").alias(f"{v}__id"),
                F.col("label").alias(f"{v}__label"),
                F.col("properties").alias(f"{v}__properties"),
            )
            self.binding = self.binding.drop(
                f"{v}__label", f"{v}__properties"
            ).join(fresh, f"{v}__id", "left")
        for v in self.edge_vars:
            if f"{v}__src" not in self.binding.columns:
                continue
            fresh = self.g.edges.select(
                F.col("src").alias(f"{v}__src"),
                F.col("relationship").alias(f"{v}__relationship"),
                F.col("dst").alias(f"{v}__dst"),
                F.col("properties").alias(f"{v}__properties"),
            )
            self.binding = self.binding.drop(f"{v}__properties").join(
                fresh,
                [f"{v}__src", f"{v}__relationship", f"{v}__dst"],
                "left",
            )

    def _ids_for(self, var: str) -> DataFrame:
        if self.binding is None or f"{var}__id" not in self.binding.columns:
            raise CypherExecutionError(f"unbound variable {var!r}")
        return self.binding.select(F.col(f"{var}__id").alias("id")).distinct()

    def _exec_set(self, sc: P.SetClause):
        self.mutated = True
        for item in sc.items:
            if item.labels:
                var = item.target.name
                ids = self._ids_for(var).withColumn("__hit", F.lit(True))
                add = ":".join(item.labels)
                v = (
                    self.g.vertices.join(ids, "id", "left")
                    .withColumn(
                        "label",
                        F.when(
                            F.col("__hit"), F.concat_ws(":", F.col("label"), F.lit(add))
                        ).otherwise(F.col("label")),
                    )
                    .drop("__hit")
                )
                self.g.set_state(vertices=v)
                continue
            p: P.Prop = item.target
            if not isinstance(p, P.Prop):
                raise CypherExecutionError("SET target must be n.prop or n:Label")
            if not isinstance(item.value, P.Lit):
                # per-row expression: compute (key cols, value) from bindings
                patch_map = lambda valcol: F.when(  # noqa: E731
                    valcol.isNotNull(),
                    F.map_concat(
                        F.map_filter(
                            F.coalesce(
                                F.col("properties"),
                                F.create_map().cast("map<string,string>"),
                            ),
                            lambda k, _: k != F.lit(p.key),
                        ),
                        F.create_map(F.lit(p.key), valcol),
                    ),
                ).otherwise(F.col("properties"))
                if p.var in self.edge_vars:
                    pairs = self.binding.select(
                        F.col(f"{p.var}__src").alias("src"),
                        F.col(f"{p.var}__relationship").alias("relationship"),
                        F.col(f"{p.var}__dst").alias("dst"),
                        self._col(item.value).cast("string").alias("__val"),
                    ).dropDuplicates(["src", "relationship", "dst"])
                    patched = (
                        self.g.edges.join(
                            pairs, ["src", "relationship", "dst"], "left"
                        )
                        .withColumn("properties", patch_map(F.col("__val")))
                        .drop("__val")
                    )
                    self.g.set_state(edges=patched)
                else:
                    pairs = self.binding.select(
                        F.col(f"{p.var}__id").alias("id"),
                        self._col(item.value).cast("string").alias("__val"),
                    ).dropDuplicates(["id"])
                    patched = (
                        self.g.vertices.join(pairs, "id", "left")
                        .withColumn("properties", patch_map(F.col("__val")))
                        .drop("__val")
                    )
                    self.g.set_state(vertices=patched)
                self.summary["properties_set"] += 1
                continue
            # literal value: pass the binding DataFrame straight to the
            # mutation (join-based) — collecting matched ids to the
            # driver and rebuilding an isin would OOM on a 10^8-row
            # match (ADVICE/VERDICT r1)
            val = item.value.value
            if p.var in self.edge_vars:
                keys = self.binding.select(
                    F.col(f"{p.var}__src").alias("src"),
                    F.col(f"{p.var}__relationship").alias("relationship"),
                    F.col(f"{p.var}__dst").alias("dst"),
                )
                M.set_edge_properties_df(self.g, keys, p.key, val)
            else:
                M.set_vertex_properties_df(
                    self.g, self._ids_for(p.var), p.key, val
                )
            self.summary["properties_set"] += 1
        self._refresh_bindings()

    def _exec_remove(self, rm: P.RemoveClause):
        self.mutated = True
        for p in rm.items:
            if p.var in self.edge_vars:
                keys = self.binding.select(
                    F.col(f"{p.var}__src").alias("src"),
                    F.col(f"{p.var}__relationship").alias("relationship"),
                    F.col(f"{p.var}__dst").alias("dst"),
                )
                M.remove_edge_property_df(self.g, keys, p.key)
            else:
                M.remove_vertex_property_df(self.g, self._ids_for(p.var), p.key)
        self._refresh_bindings()

    def _exec_delete(self, dc: P.DeleteClause):
        self.mutated = True
        for var in dc.vars:
            if var in self.edge_vars:
                keys = self.binding.select(
                    F.col(f"{var}__src").alias("src"),
                    F.col(f"{var}__relationship").alias("relationship"),
                    F.col(f"{var}__dst").alias("dst"),
                ).distinct()
                before = self.g.edge_count()
                M.delete_edges(self.g, keys)
                self.summary["deleted_edges"] += before - self.g.edge_count()
                continue
            ids = self._ids_for(var)
            if not dc.detach:
                incident = self.g.edges.join(
                    ids.withColumnRenamed("id", "src"), "src", "left_semi"
                ).count() + self.g.edges.join(
                    ids.withColumnRenamed("id", "dst"), "dst", "left_semi"
                ).count()
                if incident:
                    raise CypherExecutionError(
                        f"cannot DELETE {var!r}: vertices still have "
                        "relationships (use DETACH DELETE)"
                    )
            before_v, before_e = self.g.vertex_count(), self.g.edge_count()
            M.delete_vertices(self.g, ids)
            self.summary["deleted_vertices"] += before_v - self.g.vertex_count()
            self.summary["deleted_edges"] += before_e - self.g.edge_count()

    # ------------------------------------------------------------ WITH

    def _exec_with(self, wc: P.WithClause):
        """WITH = horizontal projection that re-scopes the binding:
        bare node/edge vars carry their namespaced columns through;
        everything else becomes a scalar column named by its alias.
        Aggregates trigger implicit grouping (grouped WITH), and the
        trailing WHERE filters the projected rows (HAVING-like)."""
        if self.binding is None:
            raise CypherExecutionError("WITH with no prior binding")
        has_agg = any(self._has_agg(it.expr) for it in wc.items)
        passthrough: list[str] = []  # node/edge vars carried through
        cols = []
        new_scalars: set[str] = set()
        for i, it in enumerate(wc.items):
            e = it.expr
            if (
                isinstance(e, P.Var)
                and it.alias is None
                and (e.name in self.node_vars or e.name in self.edge_vars)
            ):
                passthrough.append(e.name)
                continue
            name = it.alias or self._item_name(it, i)
            cols.append((it, name))
            new_scalars.add(name)

        def var_cols(v):
            if v in self.node_vars:
                return self._vcols(v)
            return [f"{v}__src", f"{v}__relationship", f"{v}__dst",
                    f"{v}__properties"]

        if has_agg:
            keys = [F.col(c) for v in passthrough for c in var_cols(v)] + [
                self._col(it.expr).alias(nm)
                for it, nm in cols
                if not self._has_agg(it.expr)
            ]
            aggs = [
                self._col(it.expr).alias(nm)
                for it, nm in cols
                if self._has_agg(it.expr)
            ]
            df = (
                self.binding.groupBy(*keys).agg(*aggs)
                if keys
                else self.binding.agg(*aggs)
            )
        else:
            sel = [F.col(c) for v in passthrough for c in var_cols(v)] + [
                self._col(it.expr).alias(nm) for it, nm in cols
            ]
            df = self.binding.select(*sel)
        if wc.distinct:
            df = df.dropDuplicates()
        if wc.order_by:
            sort_cols = []
            for ob in wc.order_by:
                if isinstance(ob.expr, P.Var) and ob.expr.name in new_scalars:
                    c = F.col(f"`{ob.expr.name}`")
                else:
                    c = self._col(
                        ob.expr, numeric_hint=isinstance(ob.expr, P.Prop)
                    )
                sort_cols.append(c.desc() if ob.desc else c.asc())
            df = df.orderBy(*sort_cols)
        if wc.skip:
            df = df.offset(wc.skip)
        if wc.limit is not None:
            df = df.limit(wc.limit)
        # re-scope: only passthrough vars + new scalars survive
        self.binding = df
        self.node_vars = {v for v in self.node_vars if v in passthrough}
        self.edge_vars = {v for v in self.edge_vars if v in passthrough}
        self.scalar_vars = new_scalars
        if wc.where is not None:
            self.binding = self.binding.filter(self._col(wc.where))

    # ------------------------------------------------------------ RETURN

    @staticmethod
    def _has_agg(expr) -> bool:
        if isinstance(expr, P.Func):
            if expr.name in AGG_FUNCS:
                return True
            return any(_Executor._has_agg(a) for a in expr.args)
        if isinstance(expr, P.BinOp):
            return _Executor._has_agg(expr.left) or _Executor._has_agg(expr.right)
        if isinstance(expr, P.UnaryOp):
            return _Executor._has_agg(expr.operand)
        return False

    def _item_name(self, item: P.ReturnItem, idx: int) -> str:
        if item.alias:
            return item.alias
        e = item.expr
        if isinstance(e, P.Var):
            return e.name
        if isinstance(e, P.Prop):
            return f"{e.var}.{e.key}"
        if isinstance(e, P.Func):
            inner = ", ".join(
                a.name if isinstance(a, P.Var) else str(i)
                for i, a in enumerate(e.args)
            )
            return f"{e.name}({inner})"
        return f"col{idx}"

    def _exec_return(self, rc: P.ReturnClause) -> DataFrame:
        if self.binding is None:
            # RETURN of constants
            self.binding = self.g.spark.range(1).select()
        has_agg = any(self._has_agg(it.expr) for it in rc.items)
        names = [self._item_name(it, i) for i, it in enumerate(rc.items)]
        if has_agg:
            keys = [
                (self._col(it.expr).alias(nm))
                for it, nm in zip(rc.items, names)
                if not self._has_agg(it.expr)
            ]
            aggs = [
                (self._col(it.expr).alias(nm))
                for it, nm in zip(rc.items, names)
                if self._has_agg(it.expr)
            ]
            df = (
                self.binding.groupBy(*keys).agg(*aggs)
                if keys
                else self.binding.agg(*aggs)
            )
            # restore RETURN item order (backticks: aliases may contain dots)
            df = df.select(*[F.col(f"`{n}`") for n in names])
        else:
            df = self.binding.select(
                *[self._col(it.expr).alias(nm) for it, nm in zip(rc.items, names)]
            )
        if rc.distinct:
            df = df.dropDuplicates()
        if rc.order_by:
            sort_cols = []
            for ob in rc.order_by:
                nm = None
                if isinstance(ob.expr, P.Var) and ob.expr.name in names:
                    nm = ob.expr.name
                elif isinstance(ob.expr, P.Prop) and f"{ob.expr.var}.{ob.expr.key}" in names:
                    nm = f"{ob.expr.var}.{ob.expr.key}"
                if nm is not None:
                    c = F.col(f"`{nm}`")
                else:
                    c = self._col(ob.expr, numeric_hint=isinstance(ob.expr, P.Prop))
                sort_cols.append(c.desc() if ob.desc else c.asc())
            df = df.orderBy(*sort_cols)
        if rc.skip:
            df = df.offset(rc.skip)
        if rc.limit is not None:
            df = df.limit(rc.limit)
        return df
