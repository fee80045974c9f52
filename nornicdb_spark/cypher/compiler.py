"""Cypher AST → DataFrame compiler.

Declarative translation (SURVEY §3 "Spark translation"): every clause
becomes DataFrame operations on the star-schema graph projection, so
Catalyst owns join ordering, broadcast choice, predicate pushdown, and
column pruning. Node scans come straight from the typed base tables
(properties are real columns — a scan that projects two properties reads
two parquet columns), with the graph id synthesized per FIXTURES.md §A.

Frame convention matches :mod:`nornicdb_spark.operators.expand`: pattern
variables own column namespaces — ``{var}_id`` plus ``{var}_{property}``
for node vars, ``{var}_type`` / edge props for rel vars; WITH/UNWIND
value bindings are plain columns named by their alias.

The reference routes query strings through regex fast paths with no plan
(pkg/cypher/executor.go:994-1447); behavior parity is pinned by tests
ported from its corpus (e2e_query_test.go, documentation_examples_
test.go), not by copying its routing.
"""

from __future__ import annotations

import dataclasses
import itertools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nornicdb_spark.catalog import Catalog, node_id
from nornicdb_spark.cypher import ast as A
from nornicdb_spark.cypher.parser import parse
from nornicdb_spark import procedures
from nornicdb_spark.cypher.store import LABEL_TABLES, GraphStore
from nornicdb_spark.operators.expand import cartesian
from nornicdb_spark.operators.localframe import lit_expr, literal_df
from nornicdb_spark.operators.mutations import MutationStats

# entries an Engine's pattern memo keeps (see Compiler._memo_match)
PATTERN_MEMO_CAP = 128

AGG_FUNCS = {
    "count", "sum", "avg", "min", "max", "collect", "stdev", "stdevp",
    "percentilecont", "percentiledisc",
}


def _dicts_schema(rows: list) -> "object":
    """Explicit schema for a list of dicts: inference fails when a column
    is None in EVERY row (common for optional properties in batched
    periodic.iterate chunks) — such columns fall back to string."""
    from pyspark.sql import types as T

    py_map = {bool: T.BooleanType(), int: T.LongType(),
              float: T.DoubleType(), str: T.StringType(),
              bytes: T.BinaryType()}
    keys: list = []
    for r in rows:
        for k in r:
            if k not in keys:
                keys.append(k)
    fields = []
    for k in keys:
        dt = None
        for r in rows:
            val = r.get(k)
            if val is None:
                continue
            if isinstance(val, bool):
                dt = T.BooleanType()
            elif isinstance(val, int):
                dt = T.LongType() if not isinstance(dt, T.DoubleType) else dt
            elif isinstance(val, float):
                dt = T.DoubleType()
            elif isinstance(val, str):
                dt = T.StringType()
            elif isinstance(val, bytes):
                dt = T.BinaryType()
            elif isinstance(val, list):
                inner = next((x for x in val if x is not None), None)
                dt = T.ArrayType(py_map.get(type(inner), T.StringType()))
            else:
                import datetime

                if isinstance(val, datetime.datetime):
                    dt = T.TimestampType()
                elif isinstance(val, datetime.date):
                    dt = T.DateType()
                else:
                    dt = T.StringType()
            if isinstance(dt, (T.DoubleType, T.StringType)):
                break
        fields.append(T.StructField(k, dt or T.StringType(), True))
    return T.StructType(fields)


def _sub_outside_strings(pat, repl: str, text: str) -> str:
    """Apply a regex substitution only OUTSIDE quoted string literals —
    the periodic.iterate $col rewrite must not corrupt literal text
    containing a matching $name."""
    out = []
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if ch in ("'", '"'):
            j = i + 1
            while j < n:
                if text[j] == "\\":
                    j += 2
                    continue
                if text[j] == ch:
                    j += 1
                    break
                j += 1
            out.append(text[i:j])
            i = j
        else:
            j = i
            while j < n and text[j] not in ("'", '"'):
                j += 1
            out.append(pat.sub(repl, text[i:j]))
            i = j
    return "".join(out)


def _props_equal(frame: DataFrame, props: dict, cond: Column | None = None) -> Column:
    """``cond`` AND ``frame.k == v`` for every MERGE property; a property
    the frame has no column for is false (nothing matches)."""
    for k, v in props.items():
        eq = (F.col(k) == F.lit(v)) if k in frame.columns else F.lit(False)
        cond = eq if cond is None else cond & eq
    return cond


def _contains_agg(e) -> bool:
    if isinstance(e, A.CountStar):
        return True
    if isinstance(e, A.Func):
        if e.name in AGG_FUNCS:
            return True
        return any(_contains_agg(a) for a in e.args)
    if isinstance(e, A.BinOp):
        return _contains_agg(e.left) or _contains_agg(e.right)
    if isinstance(e, (A.UnOp,)):
        return _contains_agg(e.operand)
    if isinstance(e, A.IsNull):
        return _contains_agg(e.operand)
    if isinstance(e, A.Prop):
        return _contains_agg(e.subject)
    if isinstance(e, A.Index):
        return _contains_agg(e.subject) or _contains_agg(e.index)
    if isinstance(e, A.Case):
        parts = [e.subject, e.default] + [x for w in e.whens for x in w]
        return any(_contains_agg(p) for p in parts if p is not None)
    if isinstance(e, A.ListLit):
        return any(_contains_agg(i) for i in e.items)
    return False


def expr_name(e) -> str:
    """Cypher-style output column name for an un-aliased item."""
    if isinstance(e, A.Var):
        return e.name
    if isinstance(e, A.Prop):
        return f"{expr_name(e.subject)}.{e.name}"
    if isinstance(e, A.CountStar):
        return "count(*)"
    if isinstance(e, A.Func):
        inner = ", ".join(expr_name(a) for a in e.args)
        d = "DISTINCT " if e.distinct else ""
        return f"{e.name}({d}{inner})"
    if isinstance(e, A.Lit):
        return repr(e.value)
    return "expr"


class Binding:
    """What a pattern variable means in the current frame."""

    def __init__(self, kind: str, label: str | None = None, column: str | None = None):
        self.kind = kind  # node | rel | value | own (the frame is its table)
        self.label = label
        self.column = column  # for value bindings


class Compiler:
    """Compiles one query against an Engine's :class:`GraphStore`: label
    scans and edges read the store's current tables, traversals, CALL
    algorithms and schema procedures read ``store.graph``, and write
    clauses swap in the store's next version."""

    def __init__(self, catalog: Catalog, params: dict | None = None, *,
                 store: GraphStore, ckpt_sink: list | None = None,
                 pattern_memo: dict | None = None, snapshot=None):
        self.cat = catalog
        # row-tag / export checkpoints created while compiling — the
        # caller (Engine) ties their release to the compiled plan's
        # lifetime (result-cache entry eviction / deferred escape).
        # Inner compilers share the outermost sink.
        self.ckpts: list = ckpt_sink if ckpt_sink is not None else []
        self.params = params or {}
        self.store = store
        self.stats = MutationStats()
        self._wrote = False
        self._created: dict[str, str] = {}  # CREATE-bound var -> node id
        self.frame: DataFrame | None = None
        self.bindings: dict[str, Binding] = {}
        self._lambda_vars: dict[str, Column] = {}
        self._lambda_types: dict[str, str] = {}
        self._scalar_vars: dict[str, object] = {}  # FOREACH loop bindings
        self._paths: dict[str, dict] = {}  # named-path accessors
        self._anon = itertools.count()
        # the Engine's pattern memo and the store snapshot it is keyed
        # on; only read-only queries get one (_memo_match)
        self._pattern_memo = pattern_memo
        self._snapshot = snapshot

    def _inner(self, params: dict | None = None, **kw) -> "Compiler":
        """Compiler for a nested query over the same store and sink."""
        return Compiler(
            self.cat, self.params if params is None else params,
            store=self.store, ckpt_sink=self.ckpts, **kw,
        )

    def _absorb(self, inner: "Compiler") -> None:
        """Count a nested query's writes as this query's."""
        self.stats.add(**dataclasses.asdict(inner.stats))
        self._wrote = self._wrote or inner._wrote

    def _sink_ckpt(self, df: DataFrame, eager: bool = True) -> DataFrame:
        """localCheckpoint whose blocks are tied to the compiled plan's
        lifetime: the Engine escapes them to the bounded session registry
        when the plan leaves its result cache (or immediately after a
        write-query compile) — row-tag and merge frames otherwise pin
        their blocks for the whole session."""
        out = df.localCheckpoint(eager=eager)
        self.ckpts.append(out)
        return out

    # ---- top level ------------------------------------------------------

    def compile(self, q: A.Query) -> DataFrame:
        df = self._compile_single(q)
        for is_all, rhs in q.unions:
            rdf = self._inner(
                pattern_memo=self._pattern_memo, snapshot=self._snapshot,
            )._compile_single(rhs)
            df = df.unionByName(rdf)
            if not is_all:
                df = df.distinct()
        return df

    def _compile_single(self, q: A.Query) -> DataFrame:
        out: DataFrame | None = None
        for clause in q.clauses:
            if isinstance(clause, A.ReturnClause):
                out = self._compile_projection(clause)
            else:
                self._compile_clause(clause)
        if out is None and isinstance(q.clauses[-1], A.CallClause):
            if not getattr(self, "_last_call_void", False):
                out = self.frame  # standalone CALL: implicit yield-all
        if out is None and self._wrote:
            out = self._stats_frame()  # write query: Neo4j-style summary
        assert out is not None, "query must end with RETURN"
        return out

    def _compile_clause(self, clause) -> None:
        if isinstance(clause, A.MatchClause):
            self._compile_match(clause)
        elif isinstance(clause, A.UnwindClause):
            self._compile_unwind(clause)
        elif isinstance(clause, A.WithClause):
            self._compile_projection(clause)
        elif isinstance(clause, A.CallClause):
            self._compile_call(clause)
        elif isinstance(clause, A.CallSubquery):
            self._compile_call_subquery(clause)
        elif isinstance(clause, A.CreateClause):
            self._compile_create(clause)
        elif isinstance(clause, A.MergeClause):
            self._compile_merge(clause)
        elif isinstance(clause, A.SetClause):
            self._compile_set(clause.items)
        elif isinstance(clause, A.RemoveClause):
            self._compile_set([(pr, A.Lit(None)) for pr in clause.props])
        elif isinstance(clause, A.DeleteClause):
            self._compile_delete(clause)
        elif isinstance(clause, A.ForeachClause):
            self._compile_foreach(clause)
        else:
            raise NotImplementedError(f"cypher: clause {type(clause).__name__}")

    def _compile_foreach(self, c: "A.ForeachClause") -> None:
        """FOREACH — driver-side loop over a list value; each element is
        bound as a scalar and the update clauses replayed (reference
        clauses.go:1689-1797 iterates the same way per row)."""
        self._wrote = True
        values = self._py_value(c.source)
        if values is None:
            return
        outer = self._scalar_vars.get(c.var)
        created = self._created
        for v in values:
            self._scalar_vars[c.var] = v
            # the body's CREATE/MERGE variables are scoped to one iteration
            self._created = dict(created)
            for up in c.updates:
                self._compile_clause(up)
        self._created = created
        if outer is None:
            self._scalar_vars.pop(c.var, None)
        else:
            self._scalar_vars[c.var] = outer

    def _compile_call_subquery(self, c: "A.CallSubquery") -> None:
        """CALL { subquery } (reference executor_subqueries.go:27-666).

        Uncorrelated: compile independently, cross join the result into
        the pipeline. Correlated (``CALL { WITH x, y ... }``): the import
        frame is the DISTINCT outer projection of the imported variables,
        tagged with reserved ``_corr<i>`` key columns that the inner
        compiler threads through every projection (extra group keys under
        aggregation, window-partition keys for SKIP/LIMIT — so a
        ``LIMIT 3`` inside the subquery is a per-outer-row top-3, one
        shuffle, not a driver loop); the result joins back on the keys.
        Aggregate-only subqueries join LEFT with Neo4j's empty-input
        identities (count/sum → 0, collect → []) so outer rows without
        inner matches survive."""
        first = c.query.clauses[0] if c.query.clauses else None
        if (
            isinstance(first, A.WithClause)
            and self.frame is not None
            and first.items
            and all(
                isinstance(it.expr, A.Var)
                and it.alias is None
                and it.expr.name in self.bindings
                for it in first.items
            )
            and not first.distinct
            and first.where is None
            and not first.order
            and first.skip is None
            and first.limit is None
        ):
            return self._compile_correlated_call(c, first)
        inner = self._inner()
        result = inner._compile_single(c.query)
        self._absorb(inner)
        if not isinstance(c.query.clauses[-1], A.ReturnClause):
            return  # unit subquery (writes only) — nothing to import
        if self.frame is None:
            self.frame = result
        else:
            self.frame = cartesian(self.frame, result)
        for col in result.columns:
            self.bindings[col] = Binding("value", column=col)

    def _compile_correlated_call(self, c: "A.CallSubquery", imp: "A.WithClause") -> None:
        import_vars = [it.expr.name for it in imp.items]
        key_cols: list[str] = []
        import_cols: list[str] = []
        for v in import_vars:
            b = self.bindings[v]
            if b.kind in ("node", "rel"):
                key_cols.append(f"{v}_id")
                import_cols.extend(
                    col for col in self.frame.columns if col.startswith(f"{v}_")
                )
            else:
                col = b.column or v
                key_cols.append(col)
                import_cols.append(col)
        key_cols = list(dict.fromkeys(key_cols))
        import_frame = self.frame.select(
            *dict.fromkeys(import_cols)
        ).distinct()
        corr = {k: f"_corr{i}" for i, k in enumerate(key_cols)}
        for k, tag in corr.items():
            import_frame = import_frame.withColumn(tag, F.col(f"`{k}`"))

        inner = self._inner()
        inner.frame = import_frame
        inner.bindings = {v: self.bindings[v] for v in import_vars}
        inner._carry = list(corr.values())
        body = A.Query(clauses=tuple(c.query.clauses[1:]), unions=())
        result = inner._compile_single(body)
        self._absorb(inner)
        last = c.query.clauses[-1]
        if not isinstance(last, A.ReturnClause):
            return  # unit subquery (writes only) — frame unchanged

        outer = self.frame
        for k, tag in corr.items():
            outer = outer.withColumn(tag, F.col(f"`{k}`"))
        agg_only = all(_contains_agg(it.expr) for it in last.items)
        if agg_only:
            # empty-input identities per Neo4j: count/sum → 0, collect → []
            joined = outer.join(result, on=list(corr.values()), how="left")
            for it in last.items:
                name = it.alias or expr_name(it.expr)
                e = it.expr
                fn = e.name if isinstance(e, A.Func) else None
                if isinstance(e, A.CountStar) or fn in ("count", "sum"):
                    joined = joined.withColumn(
                        name, F.coalesce(F.col(f"`{name}`"), F.lit(0))
                    )
                elif fn == "collect":
                    joined = joined.withColumn(
                        name,
                        F.coalesce(
                            F.col(f"`{name}`"),
                            F.array().cast(joined.schema[name].dataType),
                        ),
                    )
        else:
            joined = outer.join(result, on=list(corr.values()), how="inner")
        self.frame = joined.drop(*corr.values())
        for col in result.columns:
            if col not in corr.values():
                self.bindings[col] = Binding("value", column=col)

    def _stats_frame(self) -> DataFrame:
        s = self.stats
        return literal_df(
            self.cat.spark,
            [(s.nodes_created, s.relationships_created, s.properties_set,
              s.nodes_deleted, s.relationships_deleted)],
            "nodes_created long, relationships_created long, properties_set long, "
            "nodes_deleted long, relationships_deleted long",
        )

    # ---- frames ---------------------------------------------------------

    def _node_frame(self, var: str, label: str | None) -> DataFrame:
        """Scan for (var:Label) — typed base table + synthesized graph id;
        label-less vars scan the id-only union (no properties)."""
        if label is None:
            df = self.store.graph.nodes
            return df.select(*[F.col(c).alias(f"{var}_{c}") for c in df.columns])
        if label not in LABEL_TABLES and not self.store.has_dynamic(label):
            # unknown label → empty scan; the reference is schema-free,
            # so it is not an error
            return literal_df(self.cat.spark, [], f"{var}_id string")
        _table, key, df = self.store.table_for(label)
        return df.select(
            node_id(label, key).alias(f"{var}_id"),
            *[F.col(c).alias(f"{var}_{c}") for c in df.columns],
        )

    def _fresh(self, prefix: str = "_anon") -> str:
        return f"{prefix}{next(self._anon)}"

    # ---- MATCH ----------------------------------------------------------

    def _compile_match(self, m: A.MatchClause) -> None:
        if m.optional and self.frame is not None:
            # Row-tag rejoin (same machinery as _apply_exists): joining back
            # on every lhs column would drop rows whose lhs columns hold NULL
            # (edge-prop padding, prior OPTIONAL MATCH) and cross-multiply
            # duplicate lhs rows, so tag each row with a checkpointed id and
            # left-join the optional extension on the tag alone.
            tagged = self._sink_ckpt(
                self.frame.withColumn("_row_id", F.monotonically_increasing_id())
            )
            lhs_cols = [c for c in tagged.columns if c != "_row_id"]
            saved = dict(self.bindings)
            self.frame = tagged
            for path in m.paths:
                self._compile_path(path)
            if m.where is not None:
                self.frame = self.frame.filter(self._expr(m.where))
            new_cols = [
                c for c in self.frame.columns
                if c not in lhs_cols and c != "_row_id"
            ]
            self.frame = tagged.join(
                self.frame.select("_row_id", *new_cols), on="_row_id",
                how="left_outer",
            ).drop("_row_id")
            # bindings from the optional side stay visible (null-filled)
            saved.update(self.bindings)
            self.bindings = saved
            return
        if self._memoizable(m):
            self._memo_match(m)
        else:
            for path in m.paths:
                self._compile_path(path)
        if m.where is not None:
            self._apply_where(m.where)

    def _memoizable(self, m: A.MatchClause) -> bool:
        """A leading, non-OPTIONAL MATCH of a read-only query whose paths
        are all fixed-length, unnamed and not shortestPath. Var-length
        expands need the filtered start set; named paths carry _paths
        state."""
        return (
            self._pattern_memo is not None and self.frame is None
            and not self.bindings and not m.optional
            and all(
                p.name is None and p.func is None
                and all(r.min_hops == 1 and r.max_hops == 1 for r in p.elements[1::2])
                for p in m.paths
            )
        )

    def _memo_match(self, m: A.MatchClause) -> None:
        """Take the pattern frame from the Engine's memo, keyed on the
        clause with its inline {k: v} maps stripped plus the store
        snapshot; the maps become filters on the reused frame, so a read
        with new parameters rebuilds only its filters, WHERE and
        projection. Catalyst pushes those filters to the same scans as
        interleaved ones. Anonymous elements are named first, in the order
        _compile_path draws names (first node, then each hop's node before
        its relationship), so the fresh counter moves past every name the
        frame binds; a miss runs the same code as a hit."""
        paths, filters = [], []
        for path in m.paths:
            elems = list(path.elements)
            for i in [0] + [j for h in range(1, len(elems), 2) for j in (h + 1, h)]:
                el = elems[i]
                var = el.var or self._fresh("_r" if i % 2 else "_anon")
                elems[i] = dataclasses.replace(el, var=var, props=())
            paths.append(A.Path(tuple(elems)))
            filters += [
                (named.var, key, expr)
                for el, named in zip(path.elements, elems)
                for key, expr in el.props
            ]
        key = (tuple(paths), self._snapshot)
        hit = self._pattern_memo.get(key)
        if hit is None:
            for path in paths:
                self._compile_path(path)
            hit = (self.frame, self.bindings)
            if len(self._pattern_memo) >= PATTERN_MEMO_CAP:
                self._pattern_memo.pop(next(iter(self._pattern_memo)))
            self._pattern_memo[key] = hit
        self.frame, self.bindings = hit[0], dict(hit[1])
        for var, prop, expr in filters:
            self.frame = self.frame.filter(F.col(f"{var}_{prop}") == self._expr(expr))

    def _apply_where(self, where) -> None:
        """Split top-level AND conjuncts; EXISTS{}/NOT EXISTS{} become
        semi/anti joins (reference executor_mutations.go:1256-1313), the
        rest a plain filter."""
        plain = []
        for conj in self._conjuncts(where):
            if isinstance(conj, A.ExistsPattern):
                self._apply_exists(conj, negate=False)
            elif isinstance(conj, A.UnOp) and conj.op == "NOT" and isinstance(
                conj.operand, A.ExistsPattern
            ):
                self._apply_exists(conj.operand, negate=True)
            else:
                plain.append(conj)
        for conj in plain:
            conj = self._rewrite_count_patterns(conj)
            self.frame = self.frame.filter(self._expr(conj))

    _SUBQUERY_NODES = (A.CountPattern, A.PatternComp, A.CollectSubquery,
                       A.ExistsPattern)

    def _rewrite_count_patterns(self, e):
        """Replace each pattern subquery (COUNT{}, EXISTS{} in expression
        position, pattern comprehension, COLLECT{}) inside an expression
        with a value binding computed via a row-tagged grouped left join
        (reference executor_mutations.go:1997 COUNT-subquery comparisons;
        subquery composition executor_subqueries.go)."""
        found: list = []

        def scan(x):
            if isinstance(x, self._SUBQUERY_NODES):
                found.append(x)
            elif isinstance(x, A.BinOp):
                scan(x.left); scan(x.right)
            elif isinstance(x, A.UnOp):
                scan(x.operand)
            elif isinstance(x, A.IsNull):
                scan(x.operand)
            elif isinstance(x, A.Func):
                for a in x.args:
                    scan(a)
            elif isinstance(x, A.Case):
                for c, r in x.whens:
                    scan(c); scan(r)
                if x.subject is not None:
                    scan(x.subject)
                if x.default is not None:
                    scan(x.default)
            elif isinstance(x, A.ListLit):
                for i in x.items:
                    scan(i)
            elif isinstance(x, A.Index):
                scan(x.subject); scan(x.index)

        scan(e)
        if not found:
            return e
        repl: dict[int, object] = {}
        for sq in found:
            repl[id(sq)] = self._materialize_subquery(sq)

        def rebuild(x):
            if isinstance(x, self._SUBQUERY_NODES):
                return repl[id(x)]
            if isinstance(x, A.BinOp):
                return A.BinOp(x.op, rebuild(x.left), rebuild(x.right))
            if isinstance(x, A.UnOp):
                return A.UnOp(x.op, rebuild(x.operand))
            if isinstance(x, A.IsNull):
                return A.IsNull(rebuild(x.operand), x.negated)
            if isinstance(x, A.Func):
                return A.Func(x.name, tuple(rebuild(a) for a in x.args), x.distinct)
            if isinstance(x, A.Case):
                return A.Case(
                    rebuild(x.subject) if x.subject is not None else None,
                    tuple((rebuild(c), rebuild(r)) for c, r in x.whens),
                    rebuild(x.default) if x.default is not None else None,
                )
            if isinstance(x, A.ListLit):
                return A.ListLit(tuple(rebuild(i) for i in x.items))
            if isinstance(x, A.Index):
                return A.Index(rebuild(x.subject), rebuild(x.index))
            return x

        return rebuild(e)

    def _materialize_subquery(self, sq):
        """Run one pattern subquery per current row (row-tag machinery);
        returns the AST replacement expression."""
        name = self._fresh("_sq")
        tagged = self._sink_ckpt(
            self.frame.withColumn("_row_id", F.monotonically_increasing_id())
        )
        saved_bindings = dict(self.bindings)
        self.frame = tagged

        if isinstance(sq, (A.CountPattern, A.ExistsPattern)):
            for path in sq.paths:
                self._compile_path(path)
            if sq.where is not None:
                self._apply_where(sq.where)
            agg = self.frame.groupBy("_row_id").agg(F.count(F.lit(1)).alias(name))
            fill, post = F.lit(0), (
                A.Var(name) if isinstance(sq, A.CountPattern)
                else A.BinOp(">", A.Var(name), A.Lit(0))
            )
        elif isinstance(sq, A.PatternComp):
            self._compile_path(sq.path)
            if sq.where is not None:
                self._apply_where(sq.where)
            rows = self.frame.select("_row_id", self._expr(sq.map).alias("_val"))
            elem = rows.schema["_val"].dataType.simpleString()
            agg = rows.groupBy("_row_id").agg(
                F.array_sort(F.collect_list("_val")).alias(name)
            )
            fill, post = F.array().cast(f"array<{elem}>"), A.Var(name)
        else:  # CollectSubquery
            inner_clauses = sq.query.clauses
            ret = inner_clauses[-1]
            if not isinstance(ret, A.ReturnClause) or len(ret.items) != 1:
                raise NotImplementedError(
                    "cypher: COLLECT {} needs a single-item RETURN"
                )
            for clause in inner_clauses[:-1]:
                if not isinstance(clause, (A.MatchClause, A.UnwindClause)):
                    raise NotImplementedError(
                        "cypher: COLLECT {} supports MATCH/UNWIND bodies"
                    )
                self._compile_clause(clause)
            rows = self.frame.select(
                "_row_id", self._expr(ret.items[0].expr).alias("_val")
            )
            elem = rows.schema["_val"].dataType.simpleString()
            collect = F.collect_set("_val") if ret.distinct else F.collect_list("_val")
            agg = rows.groupBy("_row_id").agg(F.array_sort(collect).alias(name))
            fill, post = F.array().cast(f"array<{elem}>"), A.Var(name)

        self.frame = (
            tagged.join(agg, "_row_id", "left_outer")
            .withColumn(name, F.coalesce(F.col(name), fill))
            .drop("_row_id")
        )
        self.bindings = saved_bindings
        self.bindings[name] = Binding("value", column=name)
        return post

    @staticmethod
    def _conjuncts(e) -> list:
        if isinstance(e, A.BinOp) and e.op == "AND":
            return Compiler._conjuncts(e.left) + Compiler._conjuncts(e.right)
        return [e]

    def _apply_exists(self, ex: "A.ExistsPattern", negate: bool) -> None:
        """Row-id semi/anti join: tag each current row, extend the frame
        with the subquery pattern, keep/drop rows with ≥1 extension. The
        tag is checkpointed so monotonically_increasing_id never recomputes
        differently across the two plan branches."""
        tagged = self._sink_ckpt(
            self.frame.withColumn("_row_id", F.monotonically_increasing_id())
        )
        saved_bindings = dict(self.bindings)
        self.frame = tagged
        for path in ex.paths:
            self._compile_path(path)
        if ex.where is not None:
            self._apply_where(ex.where)
        hits = self.frame.select("_row_id").distinct()
        how = "left_anti" if negate else "left_semi"
        self.frame = tagged.join(hits, "_row_id", how).drop("_row_id")
        self.bindings = saved_bindings

    def _compile_path(self, path: A.Path) -> None:
        if path.func in ("shortestpath", "allshortestpaths"):
            self._compile_shortest(path)
            return
        elems = path.elements
        node = elems[0]
        var = self._bind_node(node)
        node_vars = [var]
        rel_entries: list = []
        i = 1
        while i < len(elems):
            rel: A.RelPat = elems[i]
            dst: A.NodePat = elems[i + 1]
            var = self._expand(var, rel, dst, keep_path=bool(path.name))
            if rel.min_hops == 1 and rel.max_hops == 1:
                rel_entries.append(("fixed", self._last_rel_var))
            else:
                rel_entries.append(("varlen", self._last_varlen))
            node_vars.append(var)
            i += 2
        if path.name:
            self._paths[path.name] = {"nodes": node_vars, "rels": rel_entries}
            self.bindings[path.name] = Binding("path")

    def _compile_shortest(self, path: A.Path) -> None:
        """MATCH p = shortestPath((a)-[*..m]->(b)) — frontier BFS via the
        paths operators (reference shortest_path.go:18-365,
        traversal.go:1435-1553). allShortestPaths keeps every min-length
        node sequence; shortestPath picks the lexicographic min."""
        from nornicdb_spark.operators.paths import all_shortest_paths

        elems = path.elements
        if len(elems) != 3:
            raise NotImplementedError(
                "cypher: shortestPath needs a single-relationship pattern"
            )
        a, rel, b = elems
        a_var = a.var or self._fresh()
        b_var = b.var or self._fresh()
        a_bound = a_var in self.bindings
        b_bound = b_var in self.bindings

        if a_bound:
            starts = self.frame.select(F.col(f"{a_var}_id").alias("id")).distinct()
        else:
            starts = self._node_frame(a_var, a.label).select(
                F.col(f"{a_var}_id").alias("id")
            )
        if b_bound:
            targets = self.frame.select(F.col(f"{b_var}_id").alias("id")).distinct()
        else:
            targets = self._node_frame(b_var, b.label).select(
                F.col(f"{b_var}_id").alias("id")
            )

        g = self.store.graph
        paths = all_shortest_paths(
            g, starts, targets, max_hops=rel.max_hops,
            rel_types=rel.types, direction=rel.direction,
        ).filter(F.col("distance") >= rel.min_hops)
        if path.func == "shortestpath":
            paths = (
                paths.groupBy("start_id", "end_id")
                .agg(F.min(F.struct("distance", "node_path")).alias("m"))
                .select("start_id", "end_id", "m.distance", "m.node_path")
            )
        name = path.name or self._fresh("_p")
        paths = paths.select(
            F.col("start_id").alias(f"{a_var}_id"),
            F.col("end_id").alias(f"{b_var}_id"),
            F.col("distance").alias(f"_path_{name}_len"),
            F.col("node_path").alias(f"_path_{name}_nodes"),
        )

        on = []
        if a_bound:
            on.append(f"{a_var}_id")
        if b_bound:
            on.append(f"{b_var}_id")
        if self.frame is None:
            self.frame = paths
        elif on:
            self.frame = self.frame.join(paths, on=on, how="inner")
        else:
            self.frame = cartesian(self.frame, paths)
        for v, pat, bound in ((a_var, a, a_bound), (b_var, b, b_bound)):
            if not bound:
                if pat.label is not None:
                    dn = self._node_frame(v, pat.label)
                    self.frame = self.frame.join(dn, on=f"{v}_id", how="inner")
                self.bindings[v] = Binding("node", label=pat.label)
                self._apply_node_props(v, pat)
        if path.name:
            self._paths[path.name] = {
                "shortest": True,
                "len_col": f"_path_{name}_len",
                "nodes_col": f"_path_{name}_nodes",
            }
            self.bindings[path.name] = Binding("path")

    def _bind_node(self, node: A.NodePat) -> str:
        var = node.var or self._fresh()
        if var in self.bindings:
            if self.bindings[var].kind != "node":
                raise ValueError(f"cypher: {var} is not a node variable")
            self._apply_node_props(var, node)
            return var
        scan = self._node_frame(var, node.label)
        self.bindings[var] = Binding("node", label=node.label)
        if self.frame is None:
            self.frame = scan
        else:
            self.frame = cartesian(self.frame, scan)
        self._apply_node_props(var, node)
        return var

    def _apply_node_props(self, var: str, node: A.NodePat) -> None:
        for key, expr in node.props:
            self.frame = self.frame.filter(
                F.col(f"{var}_{key}") == self._expr(expr)
            )

    def _oriented_edges(self, rel: A.RelPat) -> DataFrame:
        e = self.store.edges
        if rel.types:
            e = e.filter(
                F.col("type") == rel.types[0]
                if len(rel.types) == 1
                else F.col("type").isin(list(rel.types))
            )
        if rel.direction == "out":
            return e
        flipped = e.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"),
            *[c for c in e.columns if c not in ("src", "dst")],
        )
        if rel.direction == "in":
            return flipped
        return e.unionByName(flipped, allowMissingColumns=False)

    def _expand(
        self, src_var: str, rel: A.RelPat, dst: A.NodePat, keep_path: bool = False
    ) -> str:
        dst_var = dst.var or self._fresh()
        rel_var = rel.var or self._fresh("_r")
        self._last_rel_var = rel_var

        if rel.min_hops != 1 or rel.max_hops != 1:
            return self._expand_var_length(
                src_var, rel, dst, dst_var, keep_path=keep_path
            )

        edges = self._oriented_edges(rel)
        re = edges.select(
            *[F.col(c).alias(f"{rel_var}_{c}") for c in edges.columns]
        )
        self.frame = self.frame.join(
            re, self.frame[f"{src_var}_id"] == re[f"{rel_var}_src"], "inner"
        )
        self.bindings[rel_var] = Binding("rel")
        for key, expr in rel.props:
            self.frame = self.frame.filter(
                F.col(f"{rel_var}_{key}") == self._expr(expr)
            )

        if dst_var in self.bindings:
            self.frame = self.frame.filter(
                F.col(f"{dst_var}_id") == F.col(f"{rel_var}_dst")
            )
            self._apply_node_props(dst_var, dst)
        else:
            dn = self._node_frame(dst_var, dst.label)
            self.frame = self.frame.join(
                dn, F.col(f"{rel_var}_dst") == dn[f"{dst_var}_id"], "inner"
            )
            self.bindings[dst_var] = Binding("node", label=dst.label)
            self._apply_node_props(dst_var, dst)
        return dst_var

    def _expand_var_length(
        self,
        src_var: str,
        rel: A.RelPat,
        dst: A.NodePat,
        dst_var: str,
        keep_path: bool = False,
    ) -> str:
        from nornicdb_spark.operators.paths import var_length_paths

        starts = self.frame.select(
            F.col(f"{src_var}_id").alias("id")
        ).distinct()
        g = self.store.graph
        rel_var = rel.var or self._fresh("_r")
        depth_col = f"{rel_var}_length"
        info = {
            "depth": depth_col,
            "nodes": f"_vl_{rel_var}_nodes",
            "rels": f"_vl_{rel_var}_rels",
        }
        self._last_varlen = info
        bound_dst = dst_var in self.bindings
        end_alias = f"_vl_end_{rel_var}" if bound_dst else f"{dst_var}_id"
        cols = [
            F.col("start_id").alias(f"{src_var}_id"),
            F.col("end_id").alias(end_alias),
            F.col("depth").alias(depth_col),
        ]
        if keep_path:
            # named path: carry node/edge arrays for nodes(p)/
            # relationships(p) (reference traversal.go:1264-1275)
            cols.append(F.col("node_path").alias(info["nodes"]))
            cols.append(F.col("edge_path").alias(info["rels"]))
        paths = var_length_paths(
            g, starts, min_hops=rel.min_hops, max_hops=rel.max_hops,
            rel_types=rel.types, direction=rel.direction,
        ).select(*cols)
        self.frame = self.frame.join(paths, on=f"{src_var}_id", how="inner")
        if bound_dst:
            # var-length ending at an already-bound variable (reference
            # traversal.go:1127-1237): keep only paths landing on it
            self.frame = self.frame.filter(
                F.col(end_alias) == F.col(f"{dst_var}_id")
            ).drop(end_alias)
            self._apply_node_props(dst_var, dst)
            return dst_var
        if dst.label is not None:
            dn = self._node_frame(dst_var, dst.label)
            self.frame = self.frame.join(dn, on=f"{dst_var}_id", how="inner")
        self.bindings[dst_var] = Binding("node", label=dst.label)
        self._apply_node_props(dst_var, dst)
        return dst_var

    # ---- CALL -----------------------------------------------------------

    def _proc_pagerank(self, args) -> DataFrame:
        """CALL apoc.algo.pageRank([iterations[, damping]]) → (node,
        score) (reference apoc_algorithms.go:252-307)."""
        from nornicdb_spark.operators import algorithms

        vals = [self._py_value(a) for a in args]
        iterations = int(vals[0]) if vals else 10
        damping = float(vals[1]) if len(vals) > 1 else 0.85
        return algorithms.pagerank(
            self.store.graph, iterations=iterations, damping=damping
        ).select(F.col("id").alias("node"), F.col("pagerank").alias("score"))

    def _proc_gds_pagerank(self, args) -> DataFrame:
        """CALL gds.pageRank.stream([config]) → (nodeId, score) — GDS-style
        config-map dispatch over the shared pagerank operators; a
        ``sourceNodes`` list routes to personalized PageRank (teleport +
        dangling mass on the source distribution)."""
        from nornicdb_spark.operators import algorithms

        config = self._py_value(args[0]) if args else {}
        config = config or {}
        iterations = int(config.get("maxIterations", 10))
        damping = float(config.get("dampingFactor", 0.85))
        rel_types = tuple(config.get("relationshipTypes", ()) or ())
        sources = config.get("sourceNodes")
        g = self.store.graph
        if sources:
            src = literal_df(self.cat.spark, [(str(s),) for s in sources], "id string")
            pr = algorithms.personalized_pagerank(
                g, src, iterations=iterations, damping=damping,
                rel_types=rel_types,
            )
        else:
            pr = algorithms.pagerank(
                g, iterations=iterations, damping=damping, rel_types=rel_types
            )
        return pr.select(F.col("id").alias("nodeId"), F.col("pagerank").alias("score"))

    def _proc_wcc(self, args) -> DataFrame:
        """CALL apoc.algo.wcc() → (node, component)
        (reference apoc_community.go:332-429)."""
        from nornicdb_spark.operators import algorithms

        return algorithms.connected_components(self.store.graph).select(
            F.col("id").alias("node"), F.col("component")
        )

    def _proc_label_propagation(self, args) -> DataFrame:
        """CALL apoc.algo.labelPropagation([iterations]) → (node,
        community) (reference apoc_community.go:225-329)."""
        from nornicdb_spark.operators import algorithms

        vals = [self._py_value(a) for a in args]
        its = int(vals[0]) if vals else 10
        return algorithms.label_propagation(
            self.store.graph, max_iterations=its
        ).select(F.col("id").alias("node"), F.col("community"))

    def _proc_dijkstra(self, args) -> DataFrame:
        """CALL apoc.algo.dijkstra(startId, endId[, weightProp]) →
        (start, end, cost) (reference apoc_algorithms.go:55-113).
        Node references are graph ids ('Label:key')."""
        from nornicdb_spark.operators.algorithms import weighted_shortest_paths

        vals = [self._py_value(a) for a in args]
        start_id, end_id = vals[0], vals[1]
        weight = vals[2] if len(vals) > 2 else None
        starts = literal_df(self.cat.spark, [(start_id,)], "id string")
        res = weighted_shortest_paths(self.store.graph, starts, weight_col=weight)
        return res.filter(F.col("end_id") == F.lit(end_id)).select(
            F.col("start_id").alias("start"),
            F.col("end_id").alias("end"),
            F.col("cost"),
        )

    def _proc_khop(self, args) -> DataFrame:
        """CALL apoc.neighbors.tohop(nodeId, hops) → (node, depth)
        (reference apoc_algorithms.go:448-551)."""
        from nornicdb_spark.operators.algorithms import k_hop_neighborhood

        vals = [self._py_value(a) for a in args]
        start_id, hops = vals[0], int(vals[1])
        starts = literal_df(self.cat.spark, [(start_id,)], "id string")
        return k_hop_neighborhood(self.store.graph, starts, hops).select(
            F.col("end_id").alias("node"), F.col("first_depth").alias("depth")
        )

    def _proc_byhop(self, args) -> DataFrame:
        """CALL apoc.neighbors.byhop(nodeId, hops) → (nodes, depth):
        distinct neighbors grouped per hop level (reference
        apoc_algorithms.go:494-518 callApocNeighborsByhop)."""
        from nornicdb_spark.operators.algorithms import k_hop_neighborhood

        vals = [self._py_value(a) for a in args]
        start_id, hops = vals[0], int(vals[1])
        starts = literal_df(self.cat.spark, [(start_id,)], "id string")
        reach = k_hop_neighborhood(self.store.graph, starts, hops)
        return (
            reach.groupBy(F.col("first_depth").alias("depth"))
            .agg(F.array_sort(F.collect_list("end_id")).alias("nodes"))
            .select("nodes", "depth")
        )

    def _proc_astar(self, args) -> DataFrame:
        """CALL apoc.algo.aStar(startId, endId[, relType[, weightProp]])
        → (start, end, cost) (reference apoc_algorithms.go:114-205). The
        reference's lat/lon heuristic needs geo properties; without them
        it degrades to h ≡ 0 (always admissible), which here is the
        pruning-free batch A* — same answers as Dijkstra restricted to
        the target."""
        from nornicdb_spark.operators.algorithms import astar_shortest_path

        vals = [self._py_value(a) for a in args]
        start_id, end_id = vals[0], vals[1]
        rel_type = vals[2] if len(vals) > 2 and vals[2] else None
        weight = vals[3] if len(vals) > 3 and vals[3] else None
        g = self.store.graph
        starts = literal_df(self.cat.spark, [(start_id,)], "id string")
        targets = literal_df(self.cat.spark, [(end_id,)], "id string")
        h = g.nodes.select("id", F.lit(0.0).alias("h"))
        res = astar_shortest_path(
            g, starts, targets, h, weight_col=weight,
            rel_types=(rel_type,) if rel_type else (),
        )
        return res.select(
            F.col("start_id").alias("start"),
            F.col("end_id").alias("end"),
            F.col("cost"),
        )

    def _proc_all_simple_paths(self, args) -> DataFrame:
        """CALL apoc.algo.allSimplePaths(startId, endId[, relType[,
        maxDepth]]) → (path, depth) (reference apoc_algorithms.go:206-251;
        default maxDepth 10)."""
        from nornicdb_spark.operators.paths import all_simple_paths

        vals = [self._py_value(a) for a in args]
        start_id, end_id = vals[0], vals[1]
        rel_type = vals[2] if len(vals) > 2 and vals[2] else None
        max_depth = (
            int(vals[3]) if len(vals) > 3 and vals[3] is not None else 10
        )
        starts = literal_df(self.cat.spark, [(start_id,)], "id string")
        targets = literal_df(self.cat.spark, [(end_id,)], "id string")
        paths = all_simple_paths(
            self.store.graph, starts, targets, max_hops=max_depth,
            rel_types=(rel_type,) if rel_type else (),
        )
        return paths.select(
            F.col("node_path").alias("path"), F.col("depth")
        )

    def _proc_betweenness(self, args) -> DataFrame:
        """CALL apoc.algo.betweenness([label[, config]]) → (node, score)
        (reference apoc_algorithms.go:307-387). config.samples bounds the
        Brandes source set (sampled estimator, scores scaled by n/k) —
        the at-scale mode; exact all-sources otherwise."""
        from nornicdb_spark.operators.algorithms import (
            _induced_subgraph,
            betweenness_centrality,
        )

        label = self._algo_label(args)
        config = self._py_value(args[1]) if len(args) > 1 else {}
        samples = (config or {}).get("samples")
        nodes, edges = _induced_subgraph(self.store.graph, label)
        return betweenness_centrality(
            nodes, edges, samples=int(samples) if samples else None
        ).select(F.col("id").alias("node"), F.col("score"))

    def _proc_closeness(self, args) -> DataFrame:
        """CALL apoc.algo.closeness([label]) → (node, score)
        (reference apoc_algorithms.go:388-446)."""
        from nornicdb_spark.operators.algorithms import (
            _induced_subgraph,
            closeness_centrality,
        )

        label = self._algo_label(args)
        nodes, edges = _induced_subgraph(self.store.graph, label)
        return closeness_centrality(nodes, edges).select(
            F.col("id").alias("node"), F.col("score")
        )

    def _proc_louvain(self, args) -> DataFrame:
        """CALL apoc.algo.louvain([label[, config]]) → (node, community)
        (reference apoc_community.go:12-219; config.weightProperty)."""
        from nornicdb_spark.operators.algorithms import (
            _induced_subgraph,
            louvain_communities,
        )

        label = self._algo_label(args)
        config = self._py_value(args[1]) if len(args) > 1 else {}
        weight = (config or {}).get("weightProperty")
        nodes, edges = _induced_subgraph(self.store.graph, label)
        return louvain_communities(nodes, edges, weight_col=weight).select(
            F.col("id").alias("node"), F.col("community")
        )

    def _algo_label(self, args):
        """First arg of the apoc.algo community/centrality procs: a label
        string or label list (reference extractLabelFromAlgoCall takes
        ['Label']; multi-label lists induce over the union), or absent →
        whole graph."""
        if not args:
            return None
        v = self._py_value(args[0])
        return v or None

    def _path_config(self, args):
        """(startId, {maxLevel, relationshipFilter}) of the apoc.path
        procs → (start_id, max_level, rel_types)."""
        vals = [self._py_value(a) for a in args]
        start_id = vals[0]
        config = vals[1] if len(vals) > 1 else {}
        max_level = int((config or {}).get("maxLevel") or 3)
        rel_filter = (config or {}).get("relationshipFilter")
        rel_types = tuple(
            t.strip().lstrip("<>").rstrip("<>")
            for t in rel_filter.split("|")
        ) if rel_filter else ()
        return start_id, max_level, rel_types

    def _proc_subgraph_nodes(self, args) -> DataFrame:
        """CALL apoc.path.subgraphNodes(startId, config) → (node)
        (reference call_apoc_path.go:42-108; config: maxLevel,
        relationshipFilter)."""
        from nornicdb_spark.operators.paths import subgraph_nodes

        start_id, max_level, rel_types = self._path_config(args)
        starts = literal_df(self.cat.spark, [(start_id,)], "id string")
        res = subgraph_nodes(
            self.store.graph, starts, max_level=max_level, rel_types=rel_types
        )
        return res.select(F.col("id").alias("node"), F.col("level"))

    def _proc_spanning_tree(self, args) -> DataFrame:
        """CALL apoc.path.spanningTree(startId, config) → (path, level):
        one 2-node path per BFS-tree edge (reference
        call_apoc_path.go:697-765 emits the tree as paths)."""
        from nornicdb_spark.operators.paths import spanning_tree

        start_id, max_level, rel_types = self._path_config(args)
        starts = literal_df(self.cat.spark, [(start_id,)], "id string")
        res = spanning_tree(
            self.store.graph, starts, max_level=max_level, rel_types=rel_types
        )
        return res.select(
            F.array(F.col("parent"), F.col("id")).alias("path"),
            F.col("level"),
        )

    def _proc_path_expand(self, args) -> DataFrame:
        """CALL apoc.path.expand(startId, relationshipFilter, labelFilter,
        minLevel, maxLevel) → (path) (reference call_apoc_path.go:380-430)."""
        from nornicdb_spark.operators.paths import var_length_paths

        vals = [self._py_value(a) for a in args]
        start_id = vals[0]
        rel_filter = vals[1] if len(vals) > 1 and vals[1] else None
        label_filter = vals[2] if len(vals) > 2 and vals[2] else None
        min_level = (
            int(vals[3]) if len(vals) > 3 and vals[3] is not None else 1
        )
        max_level = (
            int(vals[4]) if len(vals) > 4 and vals[4] is not None else 3
        )
        rel_types = tuple(
            t.strip().lstrip("<>").rstrip("<>")
            for t in rel_filter.split("|")
        ) if rel_filter else ()
        starts = literal_df(self.cat.spark, [(start_id,)], "id string")
        paths = var_length_paths(
            self.store.graph, starts, min_hops=max(min_level, 1),
            max_hops=max_level, rel_types=rel_types, with_node_path=True,
        )
        if label_filter:
            # APOC label-filter forms on the END node: '>Label'/'+Label'/
            # bare = include, '-Label' = exclude (call_apoc_path.go
            # parseApocPathConfig label handling)
            include = [
                t.lstrip(">+/") for t in label_filter.split("|")
                if t and not t.startswith("-")
            ]
            exclude = [
                t[1:] for t in label_filter.split("|") if t.startswith("-")
            ]
            end_label = F.split(F.col("end_id"), ":").getItem(0)
            if include:
                paths = paths.filter(end_label.isin(include))
            if exclude:
                paths = paths.filter(~end_label.isin(exclude))
        return paths.select(F.col("node_path").alias("path"))

    def _proc_link_prediction(self, variant: str, args) -> DataFrame:
        """CALL gds.linkPrediction.<variant>.stream({sourceNode, topK,
        relationshipTypes}) → (node1, node2, score) (reference
        linkprediction.go:74-340). Candidates share ≥1 neighbor (the
        reference's 2-hop candidate generation)."""
        from nornicdb_spark.operators.algorithms import common_neighbors

        config = self._py_value(args[0]) if args else {}
        source = (config or {}).get("sourceNode")
        top_k = int((config or {}).get("topK", 10))
        rels = tuple((config or {}).get("relationshipTypes", ()) or ())
        score_col = {
            "adamicadar": "adamic_adar",
            "commonneighbors": "common",
            "resourceallocation": "resource_allocation",
            "preferentialattachment": "preferential_attachment",
            "jaccard": "jaccard",
        }[variant]
        scores = common_neighbors(self.store.graph, rel_types=rels, min_common=1)
        if source is not None:
            scores = scores.filter(
                (F.col("a") == source) | (F.col("b") == source)
            ).select(
                F.lit(source).alias("node1"),
                F.when(F.col("a") == source, F.col("b"))
                .otherwise(F.col("a"))
                .alias("node2"),
                F.col(score_col).cast("double").alias("score"),
            )
        else:
            scores = scores.select(
                F.col("a").alias("node1"),
                F.col("b").alias("node2"),
                F.col(score_col).cast("double").alias("score"),
            )
        return scores.orderBy(
            F.desc("score"), F.asc("node1"), F.asc("node2")
        ).limit(top_k)

    def _proc_link_prediction_predict(self, args) -> DataFrame:
        """CALL gds.linkPrediction.predict.stream({sourceNode, topK,
        algorithm, topologyWeight, semanticWeight, minThreshold}) →
        (node1, node2, score, topology_score, semantic_score) — the
        reference's hybrid scorer (linkprediction.go:36-43,
        linkpredict/hybrid.go:222-277): topK·3 topology candidates,
        min-max normalized over the slice (all-equal → 1.0), blended
        with the semantic cosine. Graph nodes here carry no embedding
        property, so the semantic term is 0.0 — exactly the reference's
        behavior for nodes without ChunkEmbeddings (hybrid.go:246-249)."""
        from nornicdb_spark.operators.algorithms import common_neighbors

        config = self._py_value(args[0]) if args else {}
        source = (config or {}).get("sourceNode")
        if source is None:
            raise ValueError("gds.linkPrediction.predict: sourceNode required")
        top_k = int((config or {}).get("topK", 10))
        algo = (config or {}).get("algorithm") or "adamic_adar"
        w_t = float((config or {}).get("topologyWeight", 0.5))
        w_s = float((config or {}).get("semanticWeight", 0.5))
        thr = float((config or {}).get("minThreshold", 0.0))
        rels = tuple((config or {}).get("relationshipTypes", ()) or ())
        scores = common_neighbors(self.store.graph, rel_types=rels, min_common=1)
        base = scores.filter(
            (F.col("a") == source) | (F.col("b") == source)
        ).select(
            F.when(F.col("a") == source, F.col("b"))
            .otherwise(F.col("a"))
            .alias("node2"),
            "common", "jaccard", "adamic_adar", "resource_allocation",
            "preferential_attachment",
        )

        def norm_slice(df, metric):
            sl = (
                df.select(
                    "node2", F.col(metric).cast("double").alias("topo")
                )
                .orderBy(F.desc("topo"), F.asc("node2"))
                .limit(top_k * 3)
            )
            st = F.broadcast(
                sl.agg(F.min("topo").alias("_mn"), F.max("topo").alias("_mx"))
            )
            nrm = F.when(
                F.col("_mx") == F.col("_mn"), F.lit(1.0)
            ).otherwise(
                (F.col("topo") - F.col("_mn"))
                / (F.col("_mx") - F.col("_mn"))
            )
            return sl.crossJoin(st).select("node2", nrm.alias("nt"))

        if algo == "ensemble":
            # ensemble of the 5 topology metrics, each min-max normalized
            # over its own top slice, weighted-summed, then the aggregate
            # normalized again (hybrid.go:280-340 ensembleTopology +
            # Predict's second normalizeScores)
            ens_w = {
                "common": 0.1, "jaccard": 0.2, "adamic_adar": 0.3,
                "resource_allocation": 0.25,
                "preferential_attachment": 0.15,
            }
            parts = None
            for metric, w in ens_w.items():
                p = norm_slice(base, metric).select(
                    "node2", (F.lit(w) * F.col("nt")).alias("c")
                )
                parts = p if parts is None else parts.unionByName(p)
            # +1e-12 before rounding: normalized metrics are rationals
            # that can sit exactly on the decimal boundary, where string-
            # vs binary-value rounding semantics diverge
            agg = parts.groupBy("node2").agg(
                F.round(F.sum("c") + 1e-12, 9).alias("topo")
            )
            cand = norm_slice(agg, "topo").select(
                F.lit(source).alias("node1"), "node2",
                F.col("nt").alias("topo"),
            )
            pre_normalized = True
        else:
            col = {
                "adamic_adar": "adamic_adar",
                "common_neighbors": "common",
                "resource_allocation": "resource_allocation",
                "preferential_attachment": "preferential_attachment",
                "jaccard": "jaccard",
            }.get(algo, "adamic_adar")
            cand = (
                base.select(
                    F.lit(source).alias("node1"),
                    "node2",
                    F.col(col).cast("double").alias("topo"),
                )
                .orderBy(F.desc("topo"), F.asc("node2"))
                .limit(top_k * 3)
            )
            pre_normalized = False
        if pre_normalized:
            stats = None
            norm = F.col("topo")
        else:
            stats = F.broadcast(
                cand.agg(
                    F.min("topo").alias("_mn"), F.max("topo").alias("_mx")
                )
            )
            norm = F.when(
                F.col("_mx") == F.col("_mn"), F.lit(1.0)
            ).otherwise(
                (F.col("topo") - F.col("_mn"))
                / (F.col("_mx") - F.col("_mn"))
            )
        sem = F.lit(0.0)
        out = (
            (cand if stats is None else cand.crossJoin(stats))
            .withColumn("topology_score", F.round(norm + 1e-12, 9))
            .withColumn("semantic_score", sem)
            .withColumn(
                "score",
                F.round(
                    F.lit(w_t) * F.col("topology_score")
                    + F.lit(w_s) * F.col("semantic_score") + 1e-12,
                    9,
                ),
            )
            .filter(F.col("score") >= thr)
            .select(
                "node1", "node2", "score", "topology_score", "semantic_score"
            )
        )
        return out.orderBy(F.desc("score"), F.asc("node2")).limit(top_k)

    def _proc_fastrp(self, args) -> DataFrame:
        """CALL gds.fastRP.stream([dim]) → (nodeId, embedding)
        (reference fastrp.go:28-802)."""
        from nornicdb_spark.operators.algorithms import fastrp_embeddings

        vals = [self._py_value(a) for a in args]
        dim = int(vals[0]) if vals else 32
        return fastrp_embeddings(self.store.graph, dim=dim).select(
            F.col("id").alias("nodeId"), F.col("embedding")
        )

    def _proc_fastrp_stats(self, args) -> DataFrame:
        """CALL gds.fastRP.stats(graphName[, dim]) →
        (nodeCount, embeddingDimension) (reference fastrp.go:395-421;
        computeMillis omitted — wall time isn't a batch-deterministic
        column)."""
        from nornicdb_spark.projections import get_projection

        vals = [self._py_value(a) for a in args]
        name = vals[0] if vals else ""
        dim = int(vals[1]) if len(vals) > 1 else 128
        proj = get_projection(name)
        if proj is None:
            raise ValueError(f"cypher: graph {name!r} does not exist")
        n = proj.nodes.count()
        return literal_df(self.cat.spark, [(n, dim)], "nodeCount long, embeddingDimension long")

    def _proc_gds_version(self) -> DataFrame:
        """CALL gds.version() (reference fastrp.go:83-90)."""
        return literal_df(self.cat.spark, [("2.6.0-nornicdb",)], "version string")

    def _proc_graph_project(self, args) -> DataFrame:
        """CALL gds.graph.project(name, nodeLabel|[labels], relType|
        [types]) (reference fastrp.go:95-160): caches a named subgraph in
        the process-wide projection catalog."""
        from nornicdb_spark.projections import DEFAULT_CATALOG

        vals = [self._py_value(a) for a in args]
        name = vals[0]
        labels = vals[1] if len(vals) > 1 else None
        types = vals[2] if len(vals) > 2 else None
        labels = [labels] if isinstance(labels, str) else labels
        types = [types] if isinstance(types, str) else types
        g = self.store.graph
        nodes = (
            g.nodes.filter(F.col("label").isin(labels))
            if labels and labels != ["*"]
            else g.nodes
        )
        edges = (
            g.edges.filter(F.col("type").isin(types))
            if types and types != ["*"]
            else g.edges
        )
        info = DEFAULT_CATALOG.project(name, nodes, edges)
        return literal_df(
            self.cat.spark, [(info.name, info.node_count, info.relationship_count)],
            "graphName string, nodeCount long, relationshipCount long",
        )

    def _proc_graph_list(self) -> DataFrame:
        from nornicdb_spark.projections import DEFAULT_CATALOG

        rows = [
            (i.name, i.node_count, i.relationship_count)
            for i in DEFAULT_CATALOG.list()
        ]
        return literal_df(
            self.cat.spark, rows, "graphName string, nodeCount long, relationshipCount long"
        )

    def _proc_graph_drop(self, args) -> DataFrame:
        from nornicdb_spark.projections import DEFAULT_CATALOG

        name = self._py_value(args[0])
        DEFAULT_CATALOG.drop(name)
        return literal_df(self.cat.spark, [(name,)], "graphName string")

    # label → (table, id column) for index sources beyond the graph specs
    INDEX_SOURCES = {
        "Embedding": ("embeddings", "vec_id"),
        "Document": ("documents", "doc_id"),
    }

    def _index_source(self, label: str) -> tuple[DataFrame, str]:
        if label in self.INDEX_SOURCES:
            table, key = self.INDEX_SOURCES[label]
            return self.cat.table(table), key
        if label in LABEL_TABLES:
            table, key = LABEL_TABLES[label]
            return self.cat.table(table), key
        raise ValueError(f"cypher: no table for index label {label!r}")

    def _proc_vector_query(self, args, rels: bool = False) -> DataFrame:
        """CALL db.index.vector.queryNodes(index, k, vector)
        (reference call_vector.go:35-280): the index NAME resolves through
        the IndexCatalog (db.index.vector.createNodeIndex registers it) to
        a (table, id, property) source; exact cosine top-k is the oracle
        path; HNSW/k-means pruned variants live in nornicdb_spark.search
        for scale."""
        from nornicdb_spark.search.vector import cosine_topk

        vals = [self._py_value(a) for a in args]
        index, k, vec = vals[0], int(vals[1]), vals[2]
        if isinstance(vec, str):
            # string query → server-side embedding (reference
            # executor.go:309-323 QueryEmbedder hook)
            from nornicdb_spark.search.embedder import get_query_embedder

            emb = get_query_embedder(self.cat)
            if emb is None:
                raise ValueError(
                    "cypher: string vector query needs an embedder — "
                    "install one with search.embedder.set_query_embedder"
                )
            vec = emb(vec)
        ic = procedures.index_catalog(self.cat)
        if index in ic._defs and ic._defs[index]["kind"] == "VECTOR":
            d = ic._defs[index]
            src, id_col = self._index_source(d["label"])
            vec_col = d["properties"][0]
        else:
            # unknown name → default embedding scan, matching the
            # reference's leniency (call_vector.go:150-162 falls back to
            # all nodes with embeddings when the index is unregistered)
            src, id_col, vec_col = self.cat.embeddings, "vec_id", "embedding"
        return cosine_topk(src, vec, k=k, id_col=id_col, vec_col=vec_col).select(
            F.col(id_col).alias("node"), F.col("score")
        )

    def _proc_fulltext_query(self, args, rels: bool = False) -> DataFrame:
        """CALL db.index.fulltext.queryNodes / queryRelationships
        (index, query[, k]) (reference call_fulltext.go; BM25 scoring
        fulltext_index.go:123-199). The index name resolves through the
        IndexCatalog; the posting structure is built on first query and
        memoized per index name. The relationship variant indexes the
        named string property of the current edge table (edge_id as the
        document key)."""
        from nornicdb_spark.search.bm25 import BM25Index

        vals = [self._py_value(a) for a in args]
        index, qtext = vals[0], vals[1]
        k = int(vals[2]) if len(vals) > 2 else 10
        ic = procedures.index_catalog(self.cat)
        out_col = "relationship" if rels else "node"
        if index in ic._defs and ic._defs[index]["kind"] == "FULLTEXT":
            d = ic._defs[index]
        elif rels:
            # no registered rel index and no default — empty result, same
            # shape (reference returns no rows for an unknown rel index)
            return literal_df(self.cat.spark, [], f"{out_col} string, score double")
        else:
            # unknown name → the default documents index (reference
            # leniency, call_fulltext.go)
            d, index = ic._defs["documents_fulltext"], "documents_fulltext"
        idx = ic._impls.get(index)
        if idx is None:
            props = list(d["properties"])

            def build(src, id_col):
                # multi-property indexes score over the combined bag —
                # exactly the reference's extractSearchableText concat
                # (search.go:1820-1861); BM25F with unit weights ≡ BM25
                # over the concatenation (tf and dl both add). A
                # ``weights`` map from the create call upgrades priority
                # properties to >1× (search.go:96-110).
                weights = (d.get("options") or {}).get("weights")
                if len(props) == 1 and not weights:
                    return BM25Index.build(
                        src, id_col=id_col, text_col=props[0]
                    )
                w = weights or {}
                return BM25Index.build_weighted(
                    src, {p: float(w.get(p, 1.0)) for p in props},
                    id_col=id_col,
                )

            if rels:
                e = self.store.graph.edges
                avail = [p for p in props if p in e.columns]
                if not avail:
                    return literal_df(self.cat.spark, [], f"{out_col} string, score double")
                props = avail
                src = e.filter(F.col("type") == d["label"]) if d.get(
                    "label"
                ) else e
                idx = build(src, "edge_id")
            else:
                src, id_col = self._index_source(d["label"])
                idx = build(src, id_col)
            ic._impls[index] = idx
        return idx.search(qtext, k=k).select(
            F.col("doc_id").alias(out_col), F.col("score")
        )

    def _proc_index_create(self, args, kind: str) -> DataFrame:
        """db.index.vector.createNodeIndex(name, label, prop, dim[, sim]) /
        db.index.fulltext.createNodeIndex(name, [labels], [props])
        (reference call.go:728-748, call_index_mgmt.go)."""
        vals = [self._py_value(a) for a in args]
        name = vals[0]
        if kind == "VECTOR":
            label, prop = vals[1], vals[2]
            opts = {}
            if len(vals) > 3:
                opts["dimensions"] = int(vals[3])
            if len(vals) > 4:
                opts["similarity"] = vals[4]
            procedures.index_catalog(self.cat).create(name, kind, label, [prop], **opts)
        else:
            labels = vals[1] if isinstance(vals[1], list) else [vals[1]]
            props = vals[2] if isinstance(vals[2], list) else [vals[2]]
            opts = {}
            if len(vals) > 3 and isinstance(vals[3], dict):
                # {weights: {prop: w}} — priority-property weighting
                # (reference search.go:96-110 SearchableProperties)
                w = vals[3].get("weights")
                if w:
                    opts["weights"] = dict(w)
            procedures.index_catalog(self.cat).create(
                name, kind, labels[0], props, **opts
            )
        return literal_df(
            self.cat.spark, [(name, kind, "ONLINE")], "name string, type string, state string"
        )

    def _proc_index_drop(self, args) -> DataFrame:
        name = self._py_value(args[0])
        procedures.index_catalog(self.cat).drop(name)
        return literal_df(self.cat.spark, [(name, "DROPPED")], "name string, state string")

    def _proc_set_node_vector(self, args) -> None:
        """db.create.setNodeVectorProperty(n, key, vector) (reference
        call.go:728-748): a table rewrite through the store — void
        procedure, mutates the bound node rows."""
        self._wrote = True
        var_arg, key, vec = args[0], self._py_value(args[1]), self._py_value(args[2])
        if not isinstance(var_arg, A.Var) or var_arg.name not in self.bindings:
            raise ValueError(
                "cypher: setNodeVectorProperty needs a bound node variable"
            )
        var = var_arg.name
        label = self.bindings[var].label
        if label is None:
            raise NotImplementedError(
                "cypher: setNodeVectorProperty needs a labeled node"
            )
        vec_col = lit_expr([float(x) for x in vec])
        n = self.store.set_props(label, self._target_ids(var), {key: vec_col})
        self.stats.add(properties_set=n)
        return None

    PROCEDURES = {
        "db.labels": lambda self, args: procedures.db_labels(self.store.graph),
        "db.relationshiptypes": lambda self, args: (
            procedures.db_relationship_types(self.store.graph)
        ),
        "db.propertykeys": lambda self, args: procedures.db_property_keys(self.cat),
        "db.schema.visualization": lambda self, args: (
            procedures.db_schema_visualization(self.store.graph)
        ),
        "db.info": lambda self, args: procedures.db_info(self.cat),
        "db.ping": lambda self, args: procedures.db_ping(self.cat),
        "db.indexes": lambda self, args: procedures.db_indexes(self.cat),
        "db.constraints": lambda self, args: procedures.db_constraints(self.cat),
        "dbms.components": lambda self, args: procedures.dbms_components(self.cat),
        "db.index.vector.querynodes": lambda self, args: self._proc_vector_query(
            args
        ),
        "db.index.vector.queryrelationships": lambda self, args: (
            self._proc_vector_query(args, rels=True)
        ),
        "db.index.fulltext.querynodes": lambda self, args: (
            self._proc_fulltext_query(args)
        ),
        "db.index.fulltext.queryrelationships": lambda self, args: (
            self._proc_fulltext_query(args, rels=True)
        ),
        "db.index.vector.createnodeindex": lambda self, args: (
            self._proc_index_create(args, "VECTOR")
        ),
        "db.index.vector.createrelationshipindex": lambda self, args: (
            self._proc_index_create(args, "VECTOR")
        ),
        "db.index.fulltext.createrelationshipindex": lambda self, args: (
            self._proc_index_create(args, "FULLTEXT")
        ),
        "db.index.vector.drop": lambda self, args: self._proc_index_drop(args),
        "db.index.fulltext.createnodeindex": lambda self, args: (
            self._proc_index_create(args, "FULLTEXT")
        ),
        "db.index.fulltext.drop": lambda self, args: self._proc_index_drop(args),
        "db.index.fulltext.listavailableanalyzers": lambda self, args: (
            procedures.fulltext_analyzers(self.cat)
        ),
        "db.create.setnodevectorproperty": lambda self, args: (
            self._proc_set_node_vector(args)
        ),
        "db.schema.nodetypeproperties": lambda self, args: (
            procedures.db_schema_node_type_properties(self.cat)
        ),
        "db.schema.reltypeproperties": lambda self, args: (
            procedures.db_schema_rel_type_properties(self.cat)
        ),
        # short aliases listed by the reference's dbms.procedures
        # (call.go:1167-1168)
        "db.schema.nodeproperties": lambda self, args: (
            procedures.db_schema_node_type_properties(self.cat)
        ),
        "db.schema.relproperties": lambda self, args: (
            procedures.db_schema_rel_type_properties(self.cat)
        ),
        "dbms.info": lambda self, args: procedures.dbms_info(self.cat),
        "dbms.listconfig": lambda self, args: procedures.dbms_list_config(self.cat),
        "dbms.procedures": lambda self, args: (
            procedures.dbms_procedures(self.cat, list(self.PROCEDURES))
        ),
        "db.awaitindex": lambda self, args: (
            procedures.db_await_index(self.cat, *self._py_values(args[:1]))
        ),
        "db.awaitindexes": lambda self, args: procedures.db_await_index(self.cat),
        "db.resampleindex": lambda self, args: (
            procedures.db_await_index(self.cat, *self._py_values(args[:1]))
        ),
        "db.clearquerycaches": lambda self, args: procedures.db_await_index(self.cat),
        "db.index.stats": lambda self, args: procedures.db_index_stats(self.cat),
        "db.stats.retrieve": lambda self, args: (
            procedures.db_stats_retrieve(self.cat, *self._py_values(args[:1]))
        ),
        "db.stats.collect": lambda self, args: (
            procedures.db_stats_collect(self.cat, *self._py_values(args[:1]))
        ),
        "db.stats.stop": lambda self, args: (
            procedures.db_stats_collect(self.cat, *self._py_values(args[:1]))
        ),
        "db.stats.clear": lambda self, args: (
            procedures.db_stats_collect(self.cat, *self._py_values(args[:1]))
        ),
        "dbms.functions": lambda self, args: procedures.dbms_functions(self.cat),
        "dbms.clientconfig": lambda self, args: procedures.dbms_client_config(self.cat),
        "dbms.listconnections": lambda self, args: (
            procedures.dbms_list_connections(self.cat)
        ),
        "tx.setmetadata": lambda self, args: procedures.tx_set_meta_data(self.cat),
        "show.functions": lambda self, args: procedures.show_functions(self.cat),
        "show.databases": lambda self, args: procedures.show_databases(self.cat),
        "show.aliases": lambda self, args: procedures.show_aliases(self.cat),
        "show.limits": lambda self, args: procedures.show_limits(self.cat),
        "apoc.load.json": lambda self, args: self._proc_apoc_load_json(args),
        "apoc.load.csv": lambda self, args: self._proc_apoc_load_csv(args),
        "apoc.export.json.query": lambda self, args: (
            self._proc_apoc_export_query(args, "json")
        ),
        "apoc.export.csv.query": lambda self, args: (
            self._proc_apoc_export_query(args, "csv")
        ),
        "apoc.export.json.all": lambda self, args: (
            self._proc_apoc_export_all(args, "json")
        ),
        "apoc.export.csv.all": lambda self, args: (
            self._proc_apoc_export_all(args, "csv")
        ),
        "apoc.import.json": lambda self, args: self._proc_apoc_import_json(args),
        "apoc.cypher.run": lambda self, args: self._proc_apoc_run(args),
        "apoc.cypher.runmany": lambda self, args: self._proc_apoc_run_many(args),
        "apoc.periodic.iterate": lambda self, args: (
            self._proc_apoc_periodic_iterate(args)
        ),
        "apoc.periodic.rock_n_roll": lambda self, args: (
            self._proc_apoc_periodic_iterate(args)
        ),
        "apoc.periodic.commit": lambda self, args: (
            self._proc_apoc_periodic_commit(args)
        ),
        "apoc.algo.pagerank": lambda self, args: self._proc_pagerank(args),
        "apoc.algo.wcc": lambda self, args: self._proc_wcc(args),
        "apoc.algo.labelpropagation": lambda self, args: (
            self._proc_label_propagation(args)
        ),
        "apoc.algo.dijkstra": lambda self, args: self._proc_dijkstra(args),
        "apoc.algo.astar": lambda self, args: self._proc_astar(args),
        "apoc.algo.allsimplepaths": lambda self, args: (
            self._proc_all_simple_paths(args)
        ),
        "apoc.algo.betweenness": lambda self, args: self._proc_betweenness(args),
        "apoc.algo.closeness": lambda self, args: self._proc_closeness(args),
        "apoc.algo.louvain": lambda self, args: self._proc_louvain(args),
        "apoc.path.subgraphnodes": lambda self, args: (
            self._proc_subgraph_nodes(args)
        ),
        "apoc.path.spanningtree": lambda self, args: (
            self._proc_spanning_tree(args)
        ),
        "apoc.path.expand": lambda self, args: self._proc_path_expand(args),
        "apoc.neighbors.tohop": lambda self, args: self._proc_khop(args),
        "apoc.neighbors.byhop": lambda self, args: self._proc_byhop(args),
        "gds.linkprediction.adamicadar.stream": lambda self, args: (
            self._proc_link_prediction("adamicadar", args)
        ),
        "gds.linkprediction.commonneighbors.stream": lambda self, args: (
            self._proc_link_prediction("commonneighbors", args)
        ),
        "gds.linkprediction.resourceallocation.stream": lambda self, args: (
            self._proc_link_prediction("resourceallocation", args)
        ),
        "gds.linkprediction.preferentialattachment.stream": lambda self, args: (
            self._proc_link_prediction("preferentialattachment", args)
        ),
        "gds.linkprediction.jaccard.stream": lambda self, args: (
            self._proc_link_prediction("jaccard", args)
        ),
        "gds.linkprediction.predict.stream": lambda self, args: (
            self._proc_link_prediction_predict(args)
        ),
        "gds.pagerank.stream": lambda self, args: self._proc_gds_pagerank(args),
        "gds.fastrp.stream": lambda self, args: self._proc_fastrp(args),
        "gds.fastrp.stats": lambda self, args: self._proc_fastrp_stats(args),
        "gds.version": lambda self, args: self._proc_gds_version(),
        "gds.graph.project": lambda self, args: self._proc_graph_project(args),
        "gds.graph.list": lambda self, args: self._proc_graph_list(),
        "gds.graph.drop": lambda self, args: self._proc_graph_drop(args),
    }

    def _proc_apoc_load_json(self, args) -> DataFrame:
        """CALL apoc.load.json(path[, config]) YIELD value (reference
        apoc_load_export.go:25-63): each record as a JSON map string —
        same ``value`` serialization as apoc.cypher.run (a typed struct
        can't hold heterogeneous records). Distributed JSON-lines scan."""
        from nornicdb_spark.sources.loaders import load_json

        path = self._py_value(args[0])
        config = self._py_value(args[1]) if len(args) > 1 else {}
        df = load_json(
            self.cat.spark, path,
            multiline=bool((config or {}).get("multiline", False)),
        )
        return df.select(F.to_json(F.struct(*df.columns)).alias("value"))

    def _proc_apoc_load_csv(self, args) -> DataFrame:
        """CALL apoc.load.csv(path[, config]) YIELD lineNo, list, map
        (reference apoc_load_export.go:108-211). lineNo is sequential in
        file order — assigned by a bounded single-bucket window, valid
        for the operator's compat contract (one input file); ``list`` is
        the positional string row, ``map`` the header-keyed record."""
        from pyspark.sql import Window as W

        from nornicdb_spark.sources.loaders import load_csv

        path = self._py_value(args[0])
        config = self._py_value(args[1]) if len(args) > 1 else {}
        header = bool((config or {}).get("header", True))
        df = load_csv(self.cat.spark, path, header=header)
        spec = W.partitionBy(F.lit(1)).orderBy(F.monotonically_increasing_id())
        return df.select(
            (F.row_number().over(spec) - 1).cast("long").alias("lineNo"),
            F.array(*[F.col(c).cast("string") for c in df.columns]).alias(
                "list"
            ),
            F.to_json(F.struct(*df.columns)).alias("map"),
        )

    def _proc_apoc_export_query(self, args, fmt: str) -> DataFrame:
        """CALL apoc.export.{json,csv}.query(query, file[, config]) →
        (file, rows, data) (reference apoc_load_export.go:262-310,
        368-415). The result is written DISTRIBUTED (one part per task);
        ``data`` stays empty — the reference inlines the file content,
        which is exactly the driver-side materialization a batch engine
        must not do."""
        from nornicdb_spark.sources.loaders import export_csv, export_json

        stmt = self._py_value(args[0])
        path = self._py_value(args[1])
        inner = self._inner()
        # checkpoint once: the count and the file write share one
        # execution of the (possibly expensive) inner plan
        df = self._sink_ckpt(inner._compile_single(parse(stmt)), eager=False)
        n = df.count()
        (export_json if fmt == "json" else export_csv)(df, path)
        return literal_df(self.cat.spark, [(path, n, "")], "file string, rows long, data string")

    def _proc_apoc_export_all(self, args, fmt: str) -> DataFrame:
        """CALL apoc.export.{json,csv}.all(file[, config]) → (file,
        nodes, relationships, properties) (reference
        apoc_load_export.go:222-261, 311-367): dump the store's node and
        edge sets (graph-JSON-ish rows) to ``file``."""
        from nornicdb_spark.sources.loaders import export_csv, export_json

        path = self._py_value(args[0])
        g = self.store.graph
        nodes = g.nodes.select(
            F.col("id"), F.lit("node").alias("kind"),
            F.col("label"), F.lit(None).cast("string").alias("type"),
            F.lit(None).cast("string").alias("src"),
            F.lit(None).cast("string").alias("dst"),
        )
        edges = g.edges.select(
            F.col("edge_id").cast("string").alias("id"),
            F.lit("relationship").alias("kind"),
            F.lit(None).cast("string").alias("label"),
            F.col("type"), F.col("src"), F.col("dst"),
        )
        # checkpoint the dump once: a single agg yields both counts and
        # the write reuses the same materialization (three jobs -> two)
        dump = self._sink_ckpt(nodes.unionByName(edges), eager=False)
        counts = {
            r["kind"]: r["n"]
            for r in dump.groupBy("kind").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
        n_nodes = int(counts.get("node", 0))
        n_edges = int(counts.get("relationship", 0))
        (export_json if fmt == "json" else export_csv)(dump, path)
        return literal_df(
            self.cat.spark, [(path, n_nodes, n_edges, 0)],
            "file string, nodes long, relationships long, properties long",
        )

    def _proc_apoc_import_json(self, args) -> DataFrame:
        """CALL apoc.import.json(file) → (file, nodes, relationships,
        properties) (reference apoc_load_export.go:624): read a
        Neo4j-export JSON-lines dataset (the format
        sources/neo4j_json.py writes) back into a PropertyGraph and
        report entity/property counts. Distributed read; one aggregate
        pass over the node∪edge union — no per-entity driver loop."""
        from nornicdb_spark.sources.neo4j_json import import_graph_json

        path = self._py_value(args[0])
        g = import_graph_json(self.cat.spark, path)
        tagged = g.nodes.select(
            F.lit("node").alias("kind"),
            F.size("properties").alias("np"),
        ).unionByName(
            g.edges.select(
                F.lit("relationship").alias("kind"),
                F.size("properties").alias("np"),
            )
        )
        counts = {
            r["kind"]: (int(r["n"]), int(r["p"] or 0))
            for r in tagged.groupBy("kind").agg(
                F.count(F.lit(1)).alias("n"), F.sum("np").alias("p")
            ).collect()
        }
        n_nodes, p_nodes = counts.get("node", (0, 0))
        n_edges, p_edges = counts.get("relationship", (0, 0))
        return literal_df(
            self.cat.spark, [(path, n_nodes, n_edges, p_nodes + p_edges)],
            "file string, nodes long, relationships long, properties long",
        )

    def _proc_apoc_run(self, args) -> DataFrame:
        """CALL apoc.cypher.run(statement, params) YIELD value (reference
        call_apoc_dynamic.go:14-75): re-entrant execution; each inner row
        becomes a column-name→value map under ``value`` — serialized as
        JSON here (a typed struct can't hold heterogeneous rows)."""
        stmt = self._py_value(args[0])
        params = self._py_value(args[1]) if len(args) > 1 else {}
        inner = self._inner({**self.params, **(params or {})})
        result = inner._compile_single(parse(stmt))
        self._absorb(inner)
        return result.select(
            F.to_json(F.struct(*result.columns)).alias("value")
        )

    def _proc_apoc_run_many(self, args) -> DataFrame:
        """CALL apoc.cypher.runMany(statements, params) YIELD row, result
        (reference call_apoc_dynamic.go:77-111): ';'-separated statements
        executed in order (writes apply eagerly); per-statement row counts
        come back as the JSON ``result``."""
        stmts = [
            s.strip() for s in self._py_value(args[0]).split(";") if s.strip()
        ]
        params = self._py_value(args[1]) if len(args) > 1 else {}
        out = []
        for i, stmt in enumerate(stmts):
            inner = self._inner({**self.params, **(params or {})})
            n = inner._compile_single(parse(stmt)).count()
            self._absorb(inner)
            out.append((i, f'{{"rowCount": {n}}}'))
        return literal_df(self.cat.spark, out, "row long, result string")

    def _proc_apoc_periodic_iterate(self, args) -> DataFrame:
        """CALL apoc.periodic.iterate(iterate, action, config) (reference
        call_apoc_periodic.go:63-115): the driver-side batch orchestrator —
        the OUTER row set is collected (the operator's documented
        semantics: a bounded batch driving chunked writes) and then bound
        ``batchSize`` rows per transaction, APOC-style: each chunk runs as
        ONE statement — ``UNWIND $_batch AS _row <action>`` with the
        action's ``$col`` references rewritten to ``_row.col`` — so the
        job count is ⌈N/batchSize⌉, not N. A chunk that fails counts all
        its rows failed (per-batch commit, matching APOC)."""
        import re

        self._wrote = True
        iterate_q = self._py_value(args[0])
        action_q = self._py_value(args[1])
        config = self._py_value(args[2]) if len(args) > 2 else {}
        batch_size = int((config or {}).get("batchSize", 1000)) or 1
        outer = self._inner()
        rows = outer._compile_single(parse(iterate_q)).collect()
        total, failed, failed_batches = len(rows), 0, 0
        batches = (total + batch_size - 1) // batch_size
        if rows:
            cols = list(rows[0].asDict().keys())
            pat = re.compile(
                r"\$(" + "|".join(re.escape(c) for c in cols) + r")\b"
            )
            batched_q = "UNWIND $_batch AS _row " + _sub_outside_strings(
                pat, r"_row.\1", action_q
            )
            for i in range(0, total, batch_size):
                chunk = rows[i:i + batch_size]
                params = {
                    **self.params,
                    "_batch": [r.asDict(recursive=True) for r in chunk],
                }
                try:
                    inner = self._inner(params)
                    df = inner._compile_single(parse(batched_q))
                    if inner._wrote:
                        self._absorb(inner)
                    else:
                        df.count()
                except Exception:
                    failed += len(chunk)
                    failed_batches += 1
        committed = total - failed
        return literal_df(
            self.cat.spark, [(batches, total, 0, committed, failed, failed_batches, 0, "")],
            "batches long, total long, timeTaken long, committedOperations long, "
            "failedOperations long, failedBatches long, retries long, "
            "errorMessages string",
        )

    def _proc_apoc_periodic_commit(self, args) -> DataFrame:
        """CALL apoc.periodic.commit(statement, params) YIELD updates,
        executions, runtime, batches (reference
        call_apoc_periodic.go:148-230): re-run the (LIMITed) write
        statement until an execution makes 0 updates."""
        self._wrote = True
        stmt = self._py_value(args[0])
        params = dict(self._py_value(args[1])) if len(args) > 1 else {}
        limit = int(params.get("limit", 10000))
        if "limit" not in stmt.lower():
            stmt = f"{stmt} LIMIT {limit}"
        total, executions = 0, 0
        for _ in range(10000):  # hard backstop, same spirit as the ref loop
            inner = self._inner({**self.params, **params})
            inner._compile_single(parse(stmt))
            executions += 1
            s = inner.stats
            updates = (
                s.nodes_created + s.nodes_deleted + s.relationships_created
                + s.relationships_deleted + s.properties_set
            )
            if updates:
                self._absorb(inner)
            total += updates
            if updates == 0:
                break
        return literal_df(
            self.cat.spark, [(total, executions, 0, executions)],
            "updates long, executions long, runtime long, batches long",
        )

    def _compile_call(self, c: "A.CallClause") -> None:
        """CALL db.* (reference call.go:596-803) — the procedure's frame
        joins the pipeline (cross join when rows already exist, matching
        Cypher's per-row CALL semantics for argless introspection)."""
        if c.proc not in self.PROCEDURES:
            raise NotImplementedError(f"cypher: procedure {c.proc}()")
        result = self.PROCEDURES[c.proc](self, c.args)
        self._last_call_void = result is None
        if result is None:  # void procedure (e.g. setNodeVectorProperty)
            self._wrote = True
            return
        if c.yields:
            missing = [y for y in c.yields if y not in result.columns]
            if missing:
                raise ValueError(f"cypher: {c.proc} cannot YIELD {missing}")
            result = result.select(*c.yields)
        if self.frame is None:
            self.frame = result
        else:
            self.frame = cartesian(self.frame, result)
        for col in result.columns:
            self.bindings[col] = Binding("value", column=col)

    # ---- write clauses --------------------------------------------------

    def _py_value(self, e):
        if isinstance(e, A.Lit):
            return e.value
        if isinstance(e, A.Param):
            return self.params[e.name]
        if isinstance(e, A.MapLit):
            return {k: self._py_value(v) for k, v in e.items}
        if isinstance(e, A.Var) and e.name in self._scalar_vars:
            return self._scalar_vars[e.name]
        if isinstance(e, A.ListLit):
            return [self._py_value(i) for i in e.items]
        if isinstance(e, A.UnOp) and e.op == "NEG":
            return -self._py_value(e.operand)
        if isinstance(e, A.BinOp):
            l, r = self._py_value(e.left), self._py_value(e.right)
            ops = {"+": lambda: l + r, "-": lambda: l - r, "*": lambda: l * r,
                   "%": lambda: l % r,
                   "/": lambda: l // r if isinstance(l, int) and isinstance(r, int) else l / r}
            if e.op in ops:
                return ops[e.op]()
        if isinstance(e, A.Func) and e.name == "range":
            vals = [self._py_value(a) for a in e.args]
            step = vals[2] if len(vals) > 2 else 1
            return list(range(vals[0], vals[1] + (1 if step > 0 else -1), step))
        raise NotImplementedError("cypher: CREATE/MERGE properties must be literals")

    def _py_values(self, args) -> list:
        return [self._py_value(a) for a in args]

    def _table_expr(self, e, var: str, table: DataFrame) -> Column:
        """Compile a SET right-hand side against the target's OWN table:
        the rewrite runs per label table, not per pattern row, so
        ``var``'s properties are the table's columns (a property the
        table lacks is null) and other pattern variables are unbound."""
        saved = self.frame, self.bindings
        self.frame, self.bindings = table, {var: Binding("own")}
        try:
            return self._expr(e)
        finally:
            self.frame, self.bindings = saved

    def _target_ids(self, var: str) -> DataFrame:
        if var in self._created:
            return literal_df(self.cat.spark, [(self._created[var],)], "_target_id string")
        if self.frame is None or f"{var}_id" not in self.frame.columns:
            raise ValueError(f"cypher: {var} is not bound")
        return self.frame.select(F.col(f"{var}_id").alias("_target_id")).distinct()

    def _compile_create(self, c: "A.CreateClause") -> None:
        self._wrote = True
        for path in c.paths:
            elems = path.elements
            for node in elems[0::2]:
                var = node.var
                if var and (var in self.bindings or var in self._created):
                    continue
                if node.label is None:
                    raise NotImplementedError("cypher: CREATE needs a node label")
                try:
                    props = {k: self._py_value(v) for k, v in node.props}
                except NotImplementedError:
                    # non-literal property expressions → per-row CREATE
                    # over the current frame (one node per pipeline row).
                    # Literal props stay on the scalar one-node path even
                    # under a frame — a DELIBERATE divergence from
                    # Neo4j's per-row CREATE: node identity here is
                    # '<Label>:<key>', so N rows creating the same
                    # literal key would collide into one id anyway;
                    # row-dependent nodes need row-dependent properties.
                    self._bulk_create_node(var, node)
                    continue
                nid = self.store.create_node(node.label, props)
                self.stats.add(nodes_created=1)
                if var:
                    self._created[var] = nid
            for i in range(1, len(elems), 2):
                rel: A.RelPat = elems[i]
                if not rel.types or rel.direction == "both":
                    raise NotImplementedError(
                        "cypher: CREATE relationship needs a type and direction"
                    )
                a, b = elems[i - 1].var, elems[i + 1].var
                if rel.direction == "in":
                    a, b = b, a
                pairs = self._endpoint_pairs(a, b)
                eprops = {k: self._py_value(v) for k, v in (rel.props or ())}
                n = self.store.create_edge(pairs, rel.types[0], eprops)
                self.stats.add(relationships_created=n)

    def _bulk_create_node(self, var: str | None, node: "A.NodePat") -> None:
        """Per-row CREATE: evaluate the property expressions against the
        current frame and create one node per row (distributed — the
        rows never visit the driver). Dynamic labels get generated keys
        (store.bulk_key_base + monotonically_increasing_id), frozen by a
        checkpoint BEFORE the table union and the variable binding read
        them, so both see identical ids. The created variable binds like
        any matched node (``{var}_id`` + property columns), so chained
        relationship CREATEs are per-row too."""
        if self.frame is None:
            raise ValueError(
                "cypher: CREATE with non-literal properties needs rows "
                "in scope (MATCH/UNWIND first)"
            )
        label = node.label
        table, key, _df = self.store.table_for(label)
        names = []
        aug = self.frame
        for k, v in node.props:
            aug = aug.withColumn(f"_cr_{k}", self._expr_on(aug, v))
            names.append(k)
        if key not in names:
            if label in LABEL_TABLES:
                raise ValueError(
                    f"CREATE (:{label}) needs the key property {key}"
                )
            base = self.store.bulk_key_base()
            aug = aug.withColumn(
                f"_cr_{key}", F.lit(base) + F.monotonically_increasing_id()
            )
            names.append(key)
        aug = self._sink_ckpt(aug)
        rows = aug.select(*[F.col(f"_cr_{k}").alias(k) for k in names])
        n = self.store.create_nodes_bulk(label, rows)
        self.stats.add(nodes_created=n)
        if var:
            renames = {f"_cr_{k}": f"{var}_{k}" for k in names}
            out = aug.select(
                *[c for c in aug.columns if not c.startswith("_cr_")],
                *[F.col(old).alias(new) for old, new in renames.items()],
            ).withColumn(f"{var}_id", node_id(label, f"{var}_{key}"))
            self.frame = out
            self.bindings[var] = Binding("node", label=label)
        else:
            self.frame = aug.select(
                *[c for c in aug.columns if not c.startswith("_cr_")]
            )

    def _expr_on(self, frame: DataFrame, e) -> Column:
        """Evaluate an expression against an explicit frame (the bulk
        CREATE builds its frame incrementally)."""
        saved, self.frame = self.frame, frame
        try:
            return self._expr(e)
        finally:
            self.frame = saved

    def _endpoint_pairs(self, a: str | None, b: str | None) -> DataFrame:
        spark = self.cat.spark

        def frame_col(v):
            return (
                self.frame is not None
                and v is not None
                and f"{v}_id" in self.frame.columns
            )

        if frame_col(a) and frame_col(b):
            return self.frame.select(
                F.col(f"{a}_id").alias("src"), F.col(f"{b}_id").alias("dst")
            ).distinct()
        if frame_col(a) and b in self._created:
            return self.frame.select(F.col(f"{a}_id").alias("src")).distinct().withColumn(
                "dst", F.lit(self._created[b])
            )
        if a in self._created and frame_col(b):
            return self.frame.select(F.col(f"{b}_id").alias("dst")).distinct().withColumn(
                "src", F.lit(self._created[a])
            ).select("src", "dst")
        if a in self._created and b in self._created:
            return literal_df(
                spark, [(self._created[a], self._created[b])], "src string, dst string"
            )
        raise ValueError("cypher: CREATE relationship endpoints must be bound")

    def _compile_set(self, items) -> None:
        self._wrote = True
        # SET n += {map} (reference set_helpers.go map-merge) expands to
        # one property assignment per map entry
        expanded = []
        for item in items:
            if isinstance(item, A.SetPlus):
                m = item.map
                if isinstance(m, A.Param):
                    val = self.params[m.name]
                    if not isinstance(val, dict):
                        raise ValueError("cypher: SET += needs a map")
                    m = A.MapLit(tuple((k, A.Lit(v)) for k, v in val.items()))
                if not isinstance(m, A.MapLit):
                    raise NotImplementedError("cypher: SET += needs a map literal")
                for k, v in m.items:
                    expanded.append((A.Prop(A.Var(item.var), k), v))
            else:
                expanded.append(item)
        items = expanded
        per_var: dict[str, dict] = {}
        for target, expr in items:
            if not (isinstance(target, A.Prop) and isinstance(target.subject, A.Var)):
                raise NotImplementedError("cypher: SET target must be var.prop")
            per_var.setdefault(target.subject.name, {})[target.name] = expr
        for var, exprs in per_var.items():
            label = (
                self.bindings[var].label
                if var in self.bindings
                else self._created.get(var, ":").split(":")[0]
            )
            if not label:
                raise ValueError(f"cypher: SET needs a labeled node for {var}")
            table = self.store.table_for(label)[2]
            assignments = {p: self._table_expr(e, var, table) for p, e in exprs.items()}
            n = self.store.set_props(label, self._target_ids(var), assignments)
            self.stats.add(properties_set=n)

    def _compile_delete(self, c: "A.DeleteClause") -> None:
        self._wrote = True
        for var in c.vars:
            b = self.bindings.get(var)
            if b is None or b.kind != "node" or b.label is None:
                raise ValueError(f"cypher: DELETE needs a labeled bound node ({var})")
            n_nodes, n_edges = self.store.delete_nodes(
                b.label, self._target_ids(var), c.detach
            )
            self.stats.add(nodes_deleted=n_nodes, relationships_deleted=n_edges)

    def _compile_merge(self, c: "A.MergeClause") -> None:
        self._wrote = True
        elems = c.path.elements
        if len(elems) > 1:
            if len(elems) % 2 != 1:
                raise NotImplementedError("cypher: malformed MERGE pattern")
            return self._merge_rel_chain(c, elems)
        node: A.NodePat = elems[0]
        if node.label is None or not node.props:
            raise NotImplementedError("cypher: MERGE needs (n:Label {props})")
        var, ids, created = self._merge_endpoint_ids(node)
        ids = ids.select(F.col("id").alias("_target_id"))
        sets = c.on_create if created else c.on_match
        if sets:
            table = self.store.table_for(node.label)[2]
            per: dict[str, Column] = {}
            for target, expr in sets:
                if not (isinstance(target, A.Prop) and isinstance(target.subject, A.Var)):
                    raise NotImplementedError("cypher: SET target must be var.prop")
                per[target.name] = self._table_expr(expr, target.subject.name, table)
            n = self.store.set_props(node.label, ids, per)
            self.stats.add(properties_set=n)
        first = ids.first()
        self._created[var] = first["_target_id"] if first else None

    # ---- MERGE on relationship patterns ---------------------------------

    def _merge_endpoint_ids(self, pat: "A.NodePat"):
        """Resolve one MERGE node to ``(var, id frame, created)``; the
        frame's column is ``id``.

        Bound variables (MATCHed frame columns or CREATE/MERGE-created ids)
        are used as-is; an unbound ``(n:Label {props})`` node is merged
        (match by props, else create) — the reference's per-row merge loop
        (merge.go mergeNodes) collapses to a set-level match-else-create
        in batch. ``created`` says whether this call created the node."""
        var = pat.var or self._fresh()
        if (
            self.frame is not None
            and pat.var is not None
            and f"{var}_id" in self.frame.columns
        ):
            return var, self.frame.select(F.col(f"{var}_id").alias("id")).distinct(), False
        if self._created.get(var) is not None:
            return var, literal_df(self.cat.spark, [(self._created[var],)], "id string"), False
        if pat.label is None or not pat.props:
            raise NotImplementedError(
                "cypher: MERGE node must be bound or (n:Label {props})"
            )
        table, key, df = self.store.table_for(pat.label)
        props = {k: self._py_value(v) for k, v in pat.props}
        created = (
            any(k not in df.columns for k in props)
            or df.filter(_props_equal(df, props)).limit(1).count() == 0
        )
        if created:
            self._created[var] = self.store.create_node(pat.label, props)
            self.stats.add(nodes_created=1)
        # target ids = rows matching the merge props (covers both fates);
        # re-derive the predicate against the post-create table — a
        # dynamic-label create may have added the property columns
        fresh = self.store.tables[table]
        ids = fresh.filter(_props_equal(fresh, props)).select(
            node_id(pat.label, key).alias("id")
        )
        self.bindings[var] = Binding("node", label=pat.label)
        return var, ids, created

    def _merge_rel_chain(self, c: "A.MergeClause", elems) -> None:
        """MERGE over relationship patterns (reference merge.go:14-1847
        mergeRelationships / merge chains).

        Batch reformulation: for each hop, the candidate (src, dst) pair set
        is derived from the bound frame / endpoint merges, existing edges of
        the hop's type+props are matched set-wise, and only the missing
        pairs are created — one anti-join + one union per hop instead of the
        reference's per-row loop. ON CREATE SET applies to created edges'
        endpoints/rels, ON MATCH SET to pre-existing ones (per-pair fates,
        like Neo4j). Chains merge hop-by-hop left-to-right."""
        created_pair_frames: list[tuple] = []
        matched_pair_frames: list[tuple] = []
        for i in range(1, len(elems), 2):
            rel: A.RelPat = elems[i]
            if not rel.types or len(rel.types) != 1:
                raise NotImplementedError("cypher: MERGE relationship needs one type")
            if rel.min_hops != 1 or rel.max_hops != 1:
                raise NotImplementedError("cypher: MERGE relationship cannot be var-length")
            if rel.direction == "both":
                raise NotImplementedError("cypher: MERGE relationship needs a direction")
            a_var, a_ids, _ = self._merge_endpoint_ids(elems[i - 1])
            b_var, b_ids, _ = self._merge_endpoint_ids(elems[i + 1])
            etype = rel.types[0]
            eprops = {k: self._py_value(v) for k, v in rel.props}
            rel_var = rel.var

            if rel.direction == "in":
                a_var, b_var = b_var, a_var
                a_ids, b_ids = b_ids, a_ids
            if (
                self.frame is not None
                and f"{a_var}_id" in self.frame.columns
                and f"{b_var}_id" in self.frame.columns
            ):
                # both bound in the same frame: pair per frame row
                pairs = self.frame.select(
                    F.col(f"{a_var}_id").alias("src"),
                    F.col(f"{b_var}_id").alias("dst"),
                ).distinct()
            else:
                # endpoint sets resolved independently (either side is a
                # singleton created/merged node or a bound id set)
                pairs = (
                    a_ids.select(F.col("id").alias("src"))
                    .crossJoin(b_ids.select(F.col("id").alias("dst")))
                    .distinct()
                )

            edges = self.store.edges
            existing_pairs = (
                edges.filter(_props_equal(edges, eprops, F.col("type") == F.lit(etype)))
                .select("src", "dst")
                .join(pairs, ["src", "dst"])
                .distinct()
            )
            existing_pairs = self._sink_ckpt(existing_pairs)
            missing = pairs.join(existing_pairs, ["src", "dst"], "left_anti")
            n_new = self.store.create_edge(missing, etype, eprops)
            self.stats.add(relationships_created=n_new)
            if n_new:
                created_pair_frames.append(
                    (a_var, b_var, rel_var, etype, eprops, missing)
                )
            if not existing_pairs.isEmpty():
                matched_pair_frames.append(
                    (a_var, b_var, rel_var, etype, eprops, existing_pairs)
                )

        for sets, frames in ((c.on_create, created_pair_frames),
                             (c.on_match, matched_pair_frames)):
            if sets and frames:
                self._apply_merge_sets(sets, frames)

    def _apply_merge_sets(self, sets, pair_frames) -> None:
        """ON CREATE SET / ON MATCH SET for relationship MERGE — targets may
        be endpoint node vars or the relationship var; applied per fate
        (created vs matched pair sets)."""
        for target, expr in sets:
            if not (isinstance(target, A.Prop) and isinstance(target.subject, A.Var)):
                raise NotImplementedError("cypher: SET target must be var.prop")
            tvar = target.subject.name
            done = False
            for a_var, b_var, rel_var, etype, eprops, pairs in pair_frames:
                if tvar == rel_var:
                    edges = self.store.edges
                    edge_ids = (
                        edges.filter(
                            _props_equal(edges, eprops, F.col("type") == F.lit(etype))
                        )
                        .join(pairs, ["src", "dst"])
                        .select(F.col("edge_id").alias("_target_id"))
                    )
                    n = self.store.set_edge_props(
                        edge_ids, {target.name: self._table_expr(expr, tvar, edges)}
                    )
                    self.stats.add(properties_set=n)
                    done = True
                elif tvar in (a_var, b_var):
                    binding = self.bindings.get(tvar)
                    if binding is None or binding.label is None:
                        raise NotImplementedError(
                            "cypher: MERGE SET needs a labeled endpoint"
                        )
                    side = "src" if tvar == a_var else "dst"
                    ids = pairs.select(F.col(side).alias("_target_id")).distinct()
                    table = self.store.table_for(binding.label)[2]
                    n = self.store.set_props(
                        binding.label, ids,
                        {target.name: self._table_expr(expr, tvar, table)},
                    )
                    self.stats.add(properties_set=n)
                    done = True
            if not done:
                raise ValueError(f"cypher: MERGE SET target {tvar!r} is not bound")

    # ---- UNWIND ---------------------------------------------------------

    def _compile_unwind(self, u: A.UnwindClause) -> None:
        # UNWIND $p over a list of maps: Spark has no heterogeneous-map
        # literal, so the list becomes a one-struct-column DataFrame
        # (createDataFrame infers the struct schema from the dicts) —
        # field access then works through getField like any struct.
        if isinstance(u.expr, A.Param):
            v = self.params.get(u.expr.name)
            if isinstance(v, list) and v and all(
                isinstance(x, dict) for x in v
            ):
                rows = literal_df(self.cat.spark, v, schema=_dicts_schema(v))
                packed = rows.select(
                    F.struct(*rows.columns).alias(u.var)
                )
                if self.frame is None:
                    self.frame = packed
                else:
                    self.frame = cartesian(self.frame, packed)
                self.bindings[u.var] = Binding("value", column=u.var)
                return
        col = self._expr(u.expr)
        if self.frame is None:
            self.frame = self.cat.spark.range(1).select(
                F.explode(col).alias(u.var)
            )
        else:
            self.frame = self.frame.select("*", F.explode(col).alias(u.var))
        self.bindings[u.var] = Binding("value", column=u.var)

    # ---- WITH / RETURN --------------------------------------------------

    def _projection_columns(self, items) -> tuple[list, dict, list]:
        """Resolve items → (select columns, new bindings, group keys).
        Bare node vars expand to all their columns (identity grouping);
        everything else becomes one named column."""
        cols: list[Column] = []
        new_bindings: dict[str, Binding] = {}
        key_cols: list[str] = []
        for item in items:
            e, alias = item.expr, item.alias
            if isinstance(e, A.Var) and e.name in self.bindings and (
                self.bindings[e.name].kind in ("node", "rel") and alias is None
            ):
                var = e.name
                prefix = f"{var}_"
                var_cols = [c for c in self.frame.columns if c.startswith(prefix)]
                cols.extend(F.col(c) for c in var_cols)
                key_cols.extend(var_cols)
                new_bindings[var] = self.bindings[var]
                continue
            name = alias or expr_name(e)
            cols.append(self._expr(e).alias(name))
            key_cols.append(name)
            new_bindings[name] = Binding("value", column=name)
        return cols, new_bindings, key_cols

    @staticmethod
    def _collect_var_names(e, acc: set) -> None:
        if isinstance(e, A.Var):
            acc.add(e.name)
        elif isinstance(e, A.Prop):
            Compiler._collect_var_names(e.subject, acc)
        elif isinstance(e, A.BinOp):
            Compiler._collect_var_names(e.left, acc)
            Compiler._collect_var_names(e.right, acc)
        elif isinstance(e, A.UnOp):
            Compiler._collect_var_names(e.operand, acc)
        elif isinstance(e, A.IsNull):
            Compiler._collect_var_names(e.operand, acc)
        elif isinstance(e, A.Func):
            for a in e.args:
                Compiler._collect_var_names(a, acc)
        elif isinstance(e, A.Index):
            Compiler._collect_var_names(e.subject, acc)
            Compiler._collect_var_names(e.index, acc)
        elif isinstance(e, A.Case):
            parts = [e.subject, e.default] + [x for w in e.whens for x in w]
            for p in parts:
                if p is not None:
                    Compiler._collect_var_names(p, acc)

    def _compile_projection(self, clause) -> DataFrame:
        if self.frame is not None:
            items = tuple(
                A.ReturnItem(self._rewrite_count_patterns(it.expr), it.alias)
                for it in clause.items
            )
        else:
            items = clause.items
        has_agg = any(_contains_agg(it.expr) for it in items)
        # correlation carry columns (_corr<i> from CALL { WITH x ... }):
        # reserved names threaded through every projection — extra group
        # keys under aggregation, partition keys for SKIP/LIMIT
        carry = [
            c for c in getattr(self, "_carry", ())
            if self.frame is not None and c in self.frame.columns
        ]

        # ORDER BY may reference pattern variables that the projection
        # drops (Cypher allows `RETURN c.name ORDER BY c.acctbal`):
        # resolve each sort item now — exact structural match to a
        # projected item sorts on its output column; otherwise, when the
        # sort expression uses vars the projection loses, compute it on
        # the PRE-projection frame as a hidden column.
        presort: dict[int, str] = {}
        if clause.order and not has_agg and not clause.distinct and self.frame is not None:
            out_names = {
                it.alias or expr_name(it.expr) for it in items
            } | {
                it.expr.name
                for it in items
                if isinstance(it.expr, A.Var) and it.expr.name in self.bindings
            }
            for n, s in enumerate(clause.order):
                if any(it.expr == s.expr for it in items):
                    continue
                used: set = set()
                self._collect_var_names(s.expr, used)
                lost = {
                    v for v in used
                    if v in self.bindings and v not in out_names
                }
                if lost:
                    name = f"_presort{n}"
                    self.frame = self.frame.withColumn(name, self._expr(s.expr))
                    presort[n] = name

        if has_agg:
            group_items = [it for it in items if not _contains_agg(it.expr)]
            agg_items = [it for it in items if _contains_agg(it.expr)]
            if self.frame is None:
                self.frame = self.cat.spark.range(1)
            gcols, gbind, gkeys = self._projection_columns(group_items)
            aggs = []
            abind: dict[str, Binding] = {}
            for it in agg_items:
                name = it.alias or expr_name(it.expr)
                aggs.append(self._expr(it.expr, agg=True).alias(name))
                abind[name] = Binding("value", column=name)
            if gcols or carry:
                # compute group keys as columns first so expression keys
                # (e.g. substring(...)) group correctly
                tmp = self.frame
                key_names = list(carry)
                for c, k in zip(gcols, gkeys):
                    if k not in tmp.columns:
                        tmp = tmp.withColumn(k, c)
                    key_names.append(k)
                # backticks: unaliased keys like `n.n_name` contain dots
                key_refs = [F.col(f"`{k}`") for k in key_names]
                df = tmp.groupBy(*key_refs).agg(*aggs)
                df = df.select(*key_refs, *[F.col(f"`{a}`") for a in abind])
            else:
                df = self.frame.agg(*aggs)
            self.frame = df
            self.bindings = {**gbind, **abind}
        else:
            if self.frame is None:
                self.frame = self.cat.spark.range(1)
            cols, nbind, _ = self._projection_columns(items)
            cols = [F.col(c) for c in carry] + cols
            cols += [F.col(n) for n in presort.values()]
            self.frame = self.frame.select(*cols)
            self.bindings = nbind

        if clause.distinct:
            self.frame = self.frame.distinct()
        if getattr(clause, "where", None) is not None:
            self.frame = self.frame.filter(self._expr(clause.where))
        # per-key cut: inside a correlated CALL{}, SKIP/LIMIT apply per
        # outer row (reference executor_subqueries.go) — a windowed rank
        # partitioned by the carry keys, never a global limit
        per_key_cut = bool(carry) and (
            clause.skip is not None or clause.limit is not None
        )
        sort_cols: list = []
        extra = list(presort.values())
        if clause.order:
            out_names = [it.alias or expr_name(it.expr) for it in items]
            for n, s in enumerate(clause.order):
                matched = next(
                    (nm for it, nm in zip(items, out_names) if it.expr == s.expr),
                    None,
                )
                if n in presort:
                    c = F.col(presort[n])
                elif matched is not None and matched in self.frame.columns:
                    c = F.col(f"`{matched}`")
                elif isinstance(s.expr, A.Var) and s.expr.name in self.frame.columns:
                    c = F.col(f"`{s.expr.name}`")
                else:
                    name = f"_sort{n}"
                    self.frame = self.frame.withColumn(name, self._expr(s.expr))
                    extra.append(name)
                    c = F.col(name)
                sort_cols.append(c.asc() if s.ascending else c.desc())
            if not per_key_cut:
                self.frame = self.frame.orderBy(*sort_cols)
        if per_key_cut:
            from pyspark.sql import Window

            order_cols = sort_cols or [F.monotonically_increasing_id().asc()]
            w = Window.partitionBy(*[F.col(c) for c in carry]).orderBy(*order_cols)
            self.frame = self.frame.withColumn("_corr_rk", F.row_number().over(w))
            lo = int(self._lit_value(clause.skip)) if clause.skip is not None else 0
            cond = F.col("_corr_rk") > F.lit(lo)
            if clause.limit is not None:
                cond = cond & (
                    F.col("_corr_rk") <= F.lit(lo + int(self._lit_value(clause.limit)))
                )
            self.frame = self.frame.filter(cond).drop("_corr_rk")
        for name in extra:
            self.frame = self.frame.drop(name)
        if not per_key_cut:
            if clause.skip is not None:
                self.frame = self.frame.offset(int(self._lit_value(clause.skip)))
            if clause.limit is not None:
                self.frame = self.frame.limit(int(self._lit_value(clause.limit)))
        return self.frame

    def _lit_value(self, e):
        if isinstance(e, A.Lit):
            return e.value
        if isinstance(e, A.Param):
            return self.params[e.name]
        raise ValueError("cypher: SKIP/LIMIT must be literal or parameter")

    # ---- expressions ----------------------------------------------------

    def _dtype(self, col: Column) -> str:
        probe = self.frame if self.frame is not None else self.cat.spark.range(1)
        return probe.select(col.alias("_t")).schema[0].dataType.typeName()

    _STRING_FUNCS = {
        "tolower", "lower", "toupper", "upper", "trim", "ltrim", "rtrim",
        "replace", "substring", "left", "right", "lpad", "rpad", "tostring",
    }
    _ARRAY_FUNCS = {"split", "collect", "tail", "range", "labels"}

    def _dtype_ast(self, e) -> str:
        """Static type of an AST expression where derivable (lambda vars,
        literals, known function shapes); falls back to a frame probe."""
        if isinstance(e, A.Lit):
            return {
                bool: "boolean", int: "long", float: "double", str: "string",
            }.get(type(e.value), "unknown")
        if isinstance(e, (A.ListLit, A.ListComp)):
            return "array"
        if isinstance(e, A.Var) and e.name in self._lambda_types:
            return self._lambda_types[e.name]
        if isinstance(e, A.Func):
            if e.name in self._STRING_FUNCS:
                return "string"
            if e.name in self._ARRAY_FUNCS:
                return "array"
        try:
            return self._dtype(self._expr(e))
        except Exception:
            return "unknown"

    def _expr(self, e, agg: bool = False) -> Column:
        if isinstance(e, A.Lit):
            return F.lit(e.value)
        if isinstance(e, A.Param):
            v = self.params[e.name]
            if isinstance(v, (list, tuple)):
                return F.array(*[F.lit(x) for x in v])
            return F.lit(v)
        if isinstance(e, A.Var):
            if e.name in self._lambda_vars:
                return self._lambda_vars[e.name]
            if e.name in self._scalar_vars:
                return F.lit(self._scalar_vars[e.name])
            b = self.bindings.get(e.name)
            if b is None:
                raise ValueError(f"cypher: unbound variable {e.name!r}")
            if b.kind == "value":
                return F.col(f"`{b.column}`")
            return F.col(f"{e.name}_id")
        if isinstance(e, A.Prop):
            if isinstance(e.subject, A.Var):
                var = e.subject.name
                b = self.bindings.get(var)
                if b is not None and b.kind in ("node", "rel", "own"):
                    col = e.name if b.kind == "own" else f"{var}_{e.name}"
                    if col not in self.frame.columns:
                        # schema-free reference semantics: a property the
                        # entity doesn't have is null, not an error
                        return F.lit(None)
                    return F.col(col)
            return self._expr(e.subject).getField(e.name)
        if isinstance(e, A.ListLit):
            return F.array(*[self._expr(i) for i in e.items])
        if isinstance(e, A.MapLit):
            # Cypher maps are heterogeneous → struct (named fields),
            # which also keeps .key access and to-JSON shape
            return F.struct(
                *[self._expr(v).alias(k) for k, v in e.items]
            )
        if isinstance(e, A.Reduce):
            return self._reduce(e)
        if isinstance(e, A.QuantPred):
            return self._quantifier(e)
        if isinstance(e, (A.PatternComp, A.CollectSubquery, A.CountPattern)):
            raise NotImplementedError(
                "cypher: pattern subquery must appear in WHERE / WITH / RETURN"
            )
        if isinstance(e, A.ListComp):
            src_col = self._expr(e.source)
            probe = self.frame if self.frame is not None else self.cat.spark.range(1)
            src_type = probe.select(src_col.alias("_t")).schema[0].dataType
            elem_type = (
                src_type.elementType.typeName()
                if src_type.typeName() == "array"
                else "unknown"
            )

            def scoped(expr_ast):
                def fn(x):
                    self._lambda_vars[e.var] = x
                    self._lambda_types[e.var] = elem_type
                    try:
                        return self._expr(expr_ast)
                    finally:
                        del self._lambda_vars[e.var]
                        del self._lambda_types[e.var]
                return fn

            out = src_col
            if e.where is not None:
                out = F.filter(out, scoped(e.where))
            if e.map is not None:
                out = F.transform(out, scoped(e.map))
            return out
        if isinstance(e, A.Index):
            return F.element_at(
                self._expr(e.subject), self._expr(e.index).cast("int") + 1
            )
        if isinstance(e, A.IsNull):
            c = self._expr(e.operand)
            return c.isNotNull() if e.negated else c.isNull()
        if isinstance(e, A.UnOp):
            c = self._expr(e.operand, agg=agg)
            return (~c) if e.op == "NOT" else (-c)
        if isinstance(e, A.Case):
            return self._case(e)
        if isinstance(e, A.CountStar):
            return F.count(F.lit(1))
        if isinstance(e, A.Func):
            return self._func(e, agg=agg)
        if isinstance(e, A.BinOp):
            return self._binop(e, agg=agg)
        raise NotImplementedError(f"cypher: expression {type(e).__name__}")

    def _elem_type(self, source_ast) -> str:
        """Element type of a list-valued expression (for lambda vars)."""
        probe = self.frame if self.frame is not None else self.cat.spark.range(1)
        try:
            t = probe.select(self._expr(source_ast).alias("_t")).schema[0].dataType
            return t.elementType.typeName() if t.typeName() == "array" else "unknown"
        except Exception:
            return "unknown"

    def _scoped_lambda(self, var: str, elem_type: str, expr_ast):
        def fn(x):
            self._lambda_vars[var] = x
            self._lambda_types[var] = elem_type
            try:
                return self._expr(expr_ast)
            finally:
                del self._lambda_vars[var]
                del self._lambda_types[var]

        return fn

    def _reduce(self, e: A.Reduce) -> Column:
        """reduce(acc = init, x IN list | expr) → F.aggregate."""
        src = self._expr(e.source)
        elem_type = self._elem_type(e.source)
        init = self._expr(e.init)
        # F.aggregate needs acc/init type stability: widen an integer
        # seed to double when folding doubles (Cypher coerces freely)
        if elem_type == "double" and self._dtype_ast(e.init) in (
            "long", "integer", "unknown"
        ):
            init = init.cast("double")

        def merge(acc, x):
            self._lambda_vars[e.acc] = acc
            self._lambda_vars[e.var] = x
            self._lambda_types[e.var] = elem_type
            try:
                return self._expr(e.expr)
            finally:
                del self._lambda_vars[e.acc]
                del self._lambda_vars[e.var]
                del self._lambda_types[e.var]

        return F.aggregate(src, init, merge)

    def _quantifier(self, e: A.QuantPred) -> Column:
        """all/any/none/single(x IN list WHERE p) — higher-order preds."""
        src = self._expr(e.source)
        pred = self._scoped_lambda(e.var, self._elem_type(e.source), e.where)
        if e.kind == "all":
            return F.forall(src, pred)
        if e.kind == "any":
            return F.exists(src, pred)
        if e.kind == "none":
            return ~F.exists(src, pred)
        # single: exactly one element satisfies
        return F.size(F.filter(src, pred)) == 1

    def _case(self, e: A.Case) -> Column:
        col = None
        for cond, res in e.whens:
            if e.subject is not None:
                test = self._expr(e.subject) == self._expr(cond)
            else:
                test = self._expr(cond)
            col = F.when(test, self._expr(res)) if col is None else col.when(
                test, self._expr(res)
            )
        if e.default is not None:
            col = col.otherwise(self._expr(e.default))
        return col

    def _binop(self, e: A.BinOp, agg: bool = False) -> Column:
        op = e.op
        if op in ("AND", "OR", "XOR"):
            l, r = self._expr(e.left, agg), self._expr(e.right, agg)
            if op == "AND":
                return l & r
            if op == "OR":
                return l | r
            return l != r  # 3VL XOR
        l = self._expr(e.left, agg)
        r = self._expr(e.right, agg)
        if op == "+":
            lt, rt = self._dtype_ast(e.left), self._dtype_ast(e.right)
            if "string" in (lt, rt):
                return F.concat(l.cast("string"), r.cast("string"))
            if lt == "array" or rt == "array":
                return F.concat(l, r)
            return l + r
        if op == "-":
            return l - r
        if op == "*":
            return l * r
        if op == "/":
            # Cypher: integer / integer truncates; any float side → float
            int_types = ("long", "integer", "short", "byte")
            if self._dtype_ast(e.left) in int_types and self._dtype_ast(e.right) in int_types:
                return (l / r).cast("long")
            return l / r
        if op == "%":
            return l % r
        if op == "=":
            return l == r
        if op == "<>":
            return l != r
        if op == "<":
            return l < r
        if op == ">":
            return l > r
        if op == "<=":
            return l <= r
        if op == ">=":
            return l >= r
        if op == "IN":
            if isinstance(e.right, A.ListLit) and all(
                isinstance(i, A.Lit) for i in e.right.items
            ):
                return l.isin([i.value for i in e.right.items])
            if isinstance(e.right, A.Param) and isinstance(
                self.params.get(e.right.name), (list, tuple)
            ):
                return l.isin(list(self.params[e.right.name]))
            return F.array_contains(r, l)
        if op == "STARTS":
            return l.startswith(r)
        if op == "ENDS":
            return l.endswith(r)
        if op == "CONTAINS":
            return l.contains(r)
        if op == "=~":
            # Cypher =~ is a FULL-string match; rlike searches, so anchor.
            return F.regexp_like(
                l, F.concat(F.lit("^(?:"), r.cast("string"), F.lit(")$"))
            )
        raise NotImplementedError(f"cypher: operator {op}")

    # ---- functions ------------------------------------------------------

    def _func(self, e: A.Func, agg: bool = False) -> Column:
        name = e.name
        args = e.args

        if name in AGG_FUNCS:
            a = self._expr(args[0]) if args else None
            if name == "count":
                return F.countDistinct(a) if e.distinct else F.count(a)
            if name == "sum":
                return F.sum(a)
            if name == "avg":
                return F.avg(a)
            if name == "min":
                return F.min(a)
            if name == "max":
                return F.max(a)
            if name == "collect":
                inner = F.collect_set(a) if e.distinct else F.collect_list(a)
                return F.array_sort(inner)
            if name == "stdev":
                return F.stddev_samp(a)
            if name == "stdevp":
                return F.stddev_pop(a)
            if name == "percentilecont":
                return F.percentile(a, self._expr(args[1]))
            if name == "percentiledisc":
                return F.percentile_approx(a, self._expr(args[1]), F.lit(2147483647))

        if name in ("id", "elementid"):
            v = args[0]
            if isinstance(v, A.Var):
                return F.col(f"{v.name}_id")
        if name == "labels":
            v = args[0]
            b = self.bindings.get(v.name) if isinstance(v, A.Var) else None
            if b is not None and b.label:
                return F.array(F.lit(b.label))
            return F.array(F.col(f"{v.name}_label"))
        if name == "type":
            v = args[0]
            if isinstance(v, A.Var):
                return F.col(f"{v.name}_type")
        if name in ("startnode", "endnode"):
            # returns the endpoint's graph id (batch stand-in for the
            # entity; reference fn/builtins_core.go startNode/endNode)
            v = args[0]
            if isinstance(v, A.Var):
                side = "src" if name == "startnode" else "dst"
                return F.col(f"{v.name}_{side}")
        if name == "haslabels" and args and isinstance(args[0], A.Var):
            b = self.bindings.get(args[0].name)
            want = self._py_value(args[1])
            want = want if isinstance(want, list) else [want]
            if b is not None and b.label is not None:
                return F.lit(all(w == b.label for w in want))
            lbl = F.col(f"{args[0].name}_label")
            out = F.lit(True)
            for w in want:
                out = out & (lbl == F.lit(w))
            return out
        if name in ("point.x", "point.y", "point.srid", "point.latitude",
                    "point.longitude", "point.z", "point.height", "point.crs"):
            p = self._expr(args[0])
            field = name.split(".", 1)[1]
            if field in ("z", "height"):
                return F.lit(None).cast("double")  # 2-D points only
            if field == "crs":
                return F.when(
                    p["srid"] == F.lit(7203), F.lit("cartesian")
                ).otherwise(F.lit("wgs-84"))
            return p[{"latitude": "y", "longitude": "x"}.get(field, field)]
        if name in ("properties", "keys") and args and isinstance(args[0], A.Var):
            var = args[0].name
            b = self.bindings.get(var)
            if b is not None and b.kind in ("node", "rel"):
                prefix = f"{var}_"
                props = [
                    c[len(prefix):]
                    for c in self.frame.columns
                    if c.startswith(prefix) and c != f"{var}_id"
                ]
                if name == "keys":
                    return F.array(*[F.lit(p) for p in props])
                return F.struct(
                    *[F.col(f"{prefix}{p}").alias(p) for p in props]
                )
        if name.startswith("kalman."):
            from nornicdb_spark.functions import kalman_scalar as KS

            if name == "kalman.init":
                cfg = self._py_value(args[0]) if args else None
                return KS.kalman_init(cfg)
            if name == "kalman.process":
                tgt = self._expr(args[2]) if len(args) > 2 else None
                return KS.kalman_process(
                    self._expr(args[0]), self._expr(args[1]), tgt
                )
            if name == "kalman.predict":
                return KS.kalman_predict(self._expr(args[0]), self._expr(args[1]))
            if name == "kalman.state":
                return KS.kalman_state_value(self._expr(args[0]))
            if name == "kalman.reset":
                return KS.kalman_reset(self._expr(args[0]))
            if name == "kalman.velocity.init":
                pos = self._py_value(args[0]) if args else None
                vel = self._py_value(args[1]) if len(args) > 1 else None
                return KS.kalman_velocity_init(pos, vel)
            if name == "kalman.velocity.process":
                return KS.kalman_velocity_process(
                    self._expr(args[0]), self._expr(args[1])
                )
            if name == "kalman.velocity.predict":
                return KS.kalman_velocity_predict(
                    self._expr(args[0]), self._expr(args[1])
                )
            if name == "kalman.adaptive.init":
                cfg = self._py_value(args[0]) if args else None
                return KS.kalman_adaptive_init(cfg)
            if name == "kalman.adaptive.process":
                return KS.kalman_adaptive_process(
                    self._expr(args[0]), self._expr(args[1])
                )

        if name.startswith("duration"):
            from nornicdb_spark.functions import temporal as T

            dur_map = {
                "duration.between": T.duration_between,
                "duration.inmonths": T.duration_in_months,
                "duration.indays": T.duration_in_days,
                "duration.inseconds": T.duration_in_seconds,
            }
            if name in dur_map:
                return dur_map[name](self._expr(args[0]), self._expr(args[1]))

        if (
            name in ("length", "nodes", "relationships")
            and args
            and isinstance(args[0], A.Var)
            and args[0].name in self._paths
        ):
            info = self._paths[args[0].name]
            if info.get("shortest"):
                if name == "length":
                    return F.col(info["len_col"]).cast("long")
                if name == "nodes":
                    return F.col(info["nodes_col"])
                raise NotImplementedError(
                    "cypher: relationships() on shortestPath paths"
                )
            if name == "length":
                total = None
                for kind, entry in info["rels"]:
                    c = F.lit(1) if kind == "fixed" else F.col(entry["depth"])
                    total = c if total is None else total + c
                return (total if total is not None else F.lit(0)).cast("long")
            if name == "nodes":
                acc = F.array(F.col(f"{info['nodes'][0]}_id"))
                for (kind, entry), nv in zip(info["rels"], info["nodes"][1:]):
                    if kind == "fixed":
                        acc = F.array_append(acc, F.col(f"{nv}_id"))
                    else:
                        nc = F.col(entry["nodes"])
                        acc = F.concat(
                            acc,
                            F.slice(nc, 2, F.greatest(F.size(nc) - 1, F.lit(0))),
                        )
                return acc
            acc = None
            for kind, entry in info["rels"]:
                c = (
                    F.array(F.col(f"{entry}_edge_id"))
                    if kind == "fixed"
                    else F.col(entry["rels"])
                )
                acc = c if acc is None else F.concat(acc, c)
            return acc if acc is not None else F.array().cast("array<long>")

        cols = [self._expr(a, agg=agg) for a in args]

        if name == "length":
            t = self._dtype_ast(args[0])
            return (
                F.length(cols[0]).cast("long")
                if t == "string"
                else F.size(cols[0]).cast("long")
            )
        if name == "size":
            t = self._dtype_ast(args[0])
            return F.length(cols[0]).cast("long") if t == "string" else F.size(cols[0]).cast("long")
        if name in ("tolower", "lower"):
            return F.lower(cols[0])
        if name in ("toupper", "upper"):
            return F.upper(cols[0])
        if name == "trim":
            return F.trim(cols[0])
        if name == "ltrim":
            return F.ltrim(cols[0])
        if name == "rtrim":
            return F.rtrim(cols[0])
        if name == "replace":
            return F.replace(cols[0], cols[1], cols[2])
        if name == "split":
            return F.split(cols[0], cols[1])
        if name == "substring":
            start = cols[1].cast("int") + 1  # Cypher is 0-based
            if len(cols) > 2:
                return F.substr(cols[0], start, cols[2].cast("int"))
            return F.substr(cols[0], start)
        if name == "left":
            return F.substr(cols[0], F.lit(1), cols[1].cast("int"))
        if name == "right":
            return F.substr(
                cols[0], F.length(cols[0]) - cols[1].cast("int") + 1, cols[1].cast("int")
            )
        if name == "char_length":
            return F.length(cols[0])
        if name == "btrim":
            return F.btrim(cols[0], cols[1]) if len(cols) > 1 else F.btrim(cols[0])
        if name == "format":
            return F.format_string(self._lit_value(args[0]), *cols[1:])
        if name == "indexof":
            # 0-based first occurrence, −1 when absent (apoc.text.indexOf
            # semantics; the reference routes string indexOf there)
            return F.instr(cols[0], cols[1]) - 1
        if name == "normalize":
            # Unicode NFC/NFD/NFKC/NFKD normalization — no JVM-native
            # expression exists; Arrow-batched pandas UDF (the sanctioned
            # Python path, SURVEY §2.12), not a row-at-a-time UDF
            form = (
                str(self._lit_value(args[1])).upper() if len(args) > 1 else "NFC"
            )
            from nornicdb_spark.functions.strings import unicode_normalize

            return unicode_normalize(cols[0], form)
        if name == "lpad":
            return F.lpad(cols[0], int(self._lit_value(args[1])), self._lit_value(args[2]))
        if name == "rpad":
            return F.rpad(cols[0], int(self._lit_value(args[1])), self._lit_value(args[2]))
        if name == "tostring":
            return cols[0].cast("string")
        if name in ("tointeger", "tointegerornull"):
            if name.endswith("ornull"):
                return cols[0].cast("string").try_cast("long")
            return cols[0].cast("long")
        if name in ("tofloat", "tofloatornull"):
            if name.endswith("ornull"):
                return cols[0].cast("string").try_cast("double")
            return cols[0].cast("double")
        if name == "toboolean":
            return cols[0].cast("boolean")
        if name == "tostringornull":
            return cols[0].try_cast("string")
        if name == "tobooleanornull":
            return cols[0].try_cast("boolean")
        if name in (
            "tostringlist", "tointegerlist", "tofloatlist", "tobooleanlist"
        ):
            target = {"tostringlist": "string", "tointegerlist": "long",
                      "tofloatlist": "double", "tobooleanlist": "boolean"}[name]
            # per-element try-cast: non-convertible entries become null,
            # matching the reference's element-wise coercion
            # (functions_eval_functions.go:952-1002)
            return F.transform(cols[0], lambda x: x.try_cast(target))
        if name == "valuetype":
            # Cypher type name of the value (functions_eval_functions.go:
            # 1004-1026); static — Spark columns are typed at plan time
            t = self._dtype_ast(args[0])
            base = (t or "").lower()
            if base in ("bigint", "int", "long", "smallint", "tinyint"):
                return F.lit("INTEGER")
            if base in ("double", "float", "decimal"):
                return F.lit("FLOAT")
            if base == "string":
                return F.lit("STRING")
            if base == "boolean":
                return F.lit("BOOLEAN")
            if base.startswith("array"):
                return F.lit("LIST")
            if base.startswith("map") or base.startswith("struct"):
                return F.lit("MAP")
            if base in ("void", "null"):
                return F.lit("NULL")
            return F.lit("ANY")
        if name == "coalesce":
            return F.coalesce(*cols)
        if name == "nullif":
            return F.nullif(cols[0], cols[1])
        if name == "abs":
            return F.abs(cols[0])
        if name == "ceil":
            return F.ceil(cols[0]).cast("double")
        if name == "floor":
            return F.floor(cols[0]).cast("double")
        if name == "round":
            if len(cols) > 1:
                return F.round(cols[0], int(self._lit_value(args[1])))
            return F.round(cols[0], 0)
        if name == "sign":
            return F.signum(cols[0]).cast("long")
        if name == "sqrt":
            return F.sqrt(cols[0])
        if name in ("sin", "cos", "tan", "asin", "acos", "atan", "exp", "log10"):
            return getattr(F, name)(cols[0])
        if name in ("sinh", "cosh", "tanh"):
            return getattr(F, name)(cols[0])
        if name == "cot":
            return F.lit(1.0) / F.tan(cols[0])
        if name == "coth":
            return F.lit(1.0) / F.tanh(cols[0])
        if name == "haversin":
            # half versine = (1 − cos(x)) / 2 (functions_eval_math.go:178)
            return (F.lit(1.0) - F.cos(cols[0])) / 2
        if name == "atan2":
            return F.atan2(cols[0], cols[1])
        if name == "log":
            return F.log(cols[0])
        if name == "pi":
            return F.lit(3.141592653589793)
        if name == "e":
            return F.lit(2.718281828459045)
        if name in ("power", "pow"):
            return F.pow(cols[0], cols[1])
        if name == "degrees":
            return F.degrees(cols[0])
        if name == "radians":
            return F.radians(cols[0])
        if name == "rand":
            return F.rand()
        if name == "randomuuid":
            return F.expr("uuid()")
        if name == "head":
            return F.element_at(cols[0], 1)
        if name == "last":
            return F.element_at(cols[0], -1)
        if name == "tail":
            return F.slice(cols[0], 2, F.greatest(F.size(cols[0]) - 1, F.lit(0)))
        if name == "reverse":
            return F.reverse(cols[0])
        if name == "range":
            step = cols[2] if len(cols) > 2 else F.lit(1)
            return F.sequence(cols[0], cols[1], step)
        if name == "isempty":
            t = self._dtype_ast(args[0])
            return (F.length(cols[0]) == 0) if t == "string" else (F.size(cols[0]) == 0)
        if name == "timestamp":
            return (F.unix_timestamp() * 1000).cast("long")
        if name == "date":
            return F.to_date(cols[0]) if cols else F.current_date()
        if name == "datetime":
            return F.to_timestamp(cols[0]) if cols else F.current_timestamp()
        if name == "time":
            # time-of-day as HH:mm:ss (reference executor_show.go:126
            # time(); no TIME type in Spark — string form, like the
            # reference's string-backed temporal values)
            src_ts = F.to_timestamp(cols[0]) if cols else F.current_timestamp()
            return F.date_format(src_ts, "HH:mm:ss")
        if name == "exists" and cols:
            # scalar exists(expr) — true iff not null (executor_show.go:136);
            # pattern EXISTS{} is handled by the subquery path, not here
            return cols[0].isNotNull()

        # vector similarity (reference executor_show.go:151-152,
        # call_vector.go:153-232 — euclidean similarity is 1/(1+d²))
        if name == "vector.similarity.cosine":
            from nornicdb_spark.search.vector import cosine_sim

            return cosine_sim(
                cols[0].cast("array<double>"), cols[1].cast("array<double>")
            )
        if name == "vector.similarity.euclidean":
            from nornicdb_spark.search.vector import euclidean_dist

            d = euclidean_dist(
                cols[0].cast("array<double>"), cols[1].cast("array<double>")
            )
            return F.lit(1.0) / (F.lit(1.0) + d * d)

        # spatial (reference executor_show.go:141-148)
        if name == "point" and args and isinstance(args[0], A.MapLit):
            from nornicdb_spark.functions import spatial

            keys = {k.lower(): self._expr(v) for k, v in args[0].items}
            if "longitude" in keys or "latitude" in keys:
                return spatial.point(keys["longitude"], keys["latitude"])
            return spatial.point(keys["x"], keys["y"], srid=7203)
        if name in ("distance", "point.distance"):
            from nornicdb_spark.functions import spatial

            return spatial.point_distance(cols[0], cols[1])
        if name == "point.withindistance":
            from nornicdb_spark.functions import spatial

            return spatial.within_distance(cols[0], cols[1], cols[2])
        if name in ("polygon", "linestring"):
            from nornicdb_spark.functions import spatial

            fn = spatial.polygon if name == "polygon" else spatial.line_string
            if len(args) == 1 and isinstance(args[0], A.ListLit):
                return fn(F.array(*[self._expr(a) for a in args[0].items]))
            return fn(cols[0])
        if name == "point.intersects":
            from nornicdb_spark.functions import spatial

            return spatial.point_in_polygon(cols[0], cols[1])
        if name == "point.contains":
            from nornicdb_spark.functions import spatial

            return spatial.point_in_polygon(cols[1], cols[0])

        # APOC passthroughs to our function library
        from nornicdb_spark.functions import apoc as apoc_fns

        apoc_map = {
            "apoc.coll.sum": apoc_fns.coll_sum,
            "apoc.coll.avg": apoc_fns.coll_avg,
            "apoc.coll.min": apoc_fns.coll_min,
            "apoc.coll.max": apoc_fns.coll_max,
            "apoc.coll.toset": apoc_fns.coll_to_set,
            "apoc.coll.flatten": apoc_fns.coll_flatten,
            "apoc.coll.sort": apoc_fns.coll_sort,
            "apoc.coll.subtract": apoc_fns.coll_subtract,
            "apoc.coll.union": apoc_fns.coll_union,
            "apoc.coll.unionall": apoc_fns.coll_union_all,
            "apoc.coll.intersection": apoc_fns.coll_intersection,
            "apoc.coll.indexof": apoc_fns.coll_index_of,
            "apoc.coll.containsall": apoc_fns.coll_contains_all,
            "apoc.coll.containsany": apoc_fns.coll_contains_any,
            "apoc.coll.contains": lambda a, v: F.array_contains(a, v),
            "apoc.coll.occurrences": apoc_fns.coll_occurrences,
            "apoc.coll.frequencies": apoc_fns.coll_frequencies,
            "apoc.coll.pairs": apoc_fns.coll_pairs,
            "apoc.coll.zip": apoc_fns.coll_zip,
            "apoc.coll.reverse": lambda a: F.reverse(a),
            "apoc.map.merge": apoc_fns.map_merge,
            "apoc.map.frompairs": apoc_fns.map_from_pairs,
            "apoc.map.clean": apoc_fns.map_clean,
            "apoc.text.join": lambda a, b: F.array_join(a, self._lit_value(args[1])),
            "apoc.convert.tojson": apoc_fns.convert_to_json,
            "apoc.convert.fromjsonmap": apoc_fns.convert_from_json_map,
            "apoc.convert.fromjsonlist": apoc_fns.convert_from_json_list,
            "apoc.meta.type": lambda c: F.typeof(c),
            "apoc.meta.istype": apoc_fns.meta_is_type,
            "apoc.map.fromlists": apoc_fns.map_from_lists,
            "apoc.coll.split": apoc_fns.coll_split,
            "apoc.create.uuid": lambda: F.expr("uuid()"),
        }
        if name in apoc_map:
            return apoc_map[name](*cols)
        if name == "apoc.coll.sortnodes":
            return apoc_fns.coll_sort_nodes(cols[0], str(self._lit_value(args[1])))
        if name == "apoc.coll.partition":
            return apoc_fns.coll_partition(cols[0], int(self._lit_value(args[1])))
        if name == "apoc.map.setkey":
            return apoc_fns.map_set_key(cols[0], cols[1], cols[2])
        if name == "apoc.map.removekey":
            return apoc_fns.map_remove_key(cols[0], self._lit_value(args[1]))

        raise NotImplementedError(f"cypher: function {name}()")

