"""Engine facade — the embedded-API equivalent of the reference's
``nornicdb.Open(dir) → DB.Cypher(ctx, query, params)``
(pkg/nornicdb/db.go:434, 1620), Spark-first: queries return DataFrames,
never collected driver-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from nornicdb_spark.catalog import shared_catalog
from nornicdb_spark.cypher.parser import parse
from nornicdb_spark.cypher.store import GraphStore
from nornicdb_spark.operators import scope
from nornicdb_spark.operators.localframe import literal_df

# Parse-tree memo (reference QueryPlanCache(500) + analyzer AST cache,
# executor.go:188-199): the AST is immutable once built — the compiler
# only reads it — so one parse per distinct query text per process.
_AST_CACHE: dict = {}
_AST_CACHE_CAP = 1000

# CALL targets that mutate catalog/index state — their results must not
# be served from the read cache, and their presence marks a query as
# writing. apoc.cypher.run/runMany execute arbitrary inner queries.
_MUTATING_CALLS = (
    "db.index.vector.create", "db.index.fulltext.create", "db.index.vector.drop",
    "db.index.fulltext.drop", "db.create.setnodevectorproperty",
    "apoc.periodic.", "apoc.cypher.",
    # projection-catalog mutations — project/drop change what list/stats
    # return, so they must bust the read cache
    "gds.graph.project", "gds.graph.drop",
)


def _cached_parse(query: str):
    ast = _AST_CACHE.get(query)
    if ast is None:
        ast = parse(query)
        if len(_AST_CACHE) >= _AST_CACHE_CAP:
            _AST_CACHE.pop(next(iter(_AST_CACHE)))
        _AST_CACHE[query] = ast
    return ast


def _is_read_only(q) -> bool:
    """True when no clause (at any nesting level) writes — the gate for
    the result cache, mirroring the reference's IsReadOnly analyzer bit
    (query_info.go)."""
    from nornicdb_spark.cypher import ast as A

    for clause in getattr(q, "clauses", ()):
        if isinstance(
            clause,
            (A.CreateClause, A.MergeClause, A.SetClause, A.RemoveClause,
             A.DeleteClause, A.ForeachClause),
        ):
            return False
        if isinstance(clause, A.CallClause):
            name = (clause.proc or "").lower()
            if any(name.startswith(m) for m in _MUTATING_CALLS):
                return False
        if isinstance(clause, A.CallSubquery) and not _is_read_only(clause.query):
            return False
    for _all, sub in getattr(q, "unions", ()):
        if not _is_read_only(sub):
            return False
    return True


class Engine:
    """One graph database over a directory of parquet tables.

    >>> eng = Engine(spark, "/root/testdata/sf0.001")
    >>> eng.cypher("MATCH (c:Customer) RETURN count(*) AS n").show()
    """

    RESULT_CACHE_CAP = 256

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        # shared read-only catalog: plans and the materialized adjacency
        # are reused across Engines; writes live in this Engine's store
        self.catalog = shared_catalog(spark, sf_dir)
        # this Engine's mutable graph store: reads and writes share its
        # table versions (the batch analogue of the reference's implicit
        # transaction), and every query compiles against it
        self.store = GraphStore(self.catalog)
        # read-query result cache (reference SmartQueryCache,
        # cache.go:476-560 / executor.go:659-692): keyed on
        # (query, params, store snapshot). The cached value is the lazy
        # compiled DataFrame — immutable plan, so re-serving it is safe;
        # what's saved is parse+compile latency, not execution (Spark
        # decides recompute-vs-cache of the data itself). Any write
        # changes the store snapshot key, which invalidates everything —
        # coarser than the reference's per-label invalidation, never
        # stale.
        self._result_cache: dict = {}
        # pattern memo: the frame of each leading fixed-length MATCH
        # pattern, keyed on the clause with its inline property maps
        # stripped plus the store snapshot (Compiler._memo_match). A read
        # with new parameters filters a reused frame instead of rebuilding
        # its scans and joins over py4j. Plans only, no blocks.
        self._pattern_memo: dict = {}
        # unique token tagging this engine's FIFO-escaped frames so
        # close() frees only ours (not frames other live Engines'
        # consumers still read)
        self._escape_owner = object()

    def cypher(self, query: str, params: dict | None = None) -> DataFrame:
        """Execute a Cypher query; returns the result DataFrame
        (lazy — Catalyst plans it with the rest of the job). Write
        queries (CREATE/MERGE/SET/REMOVE/DELETE) mutate this Engine's
        store eagerly and return a one-row stats summary."""
        stripped = query.lstrip()
        head = stripped.split(None, 1)[0].upper() if stripped else ""
        if head in ("USE", ":USE"):
            # `:USE db` / `USE db` prefix (reference executor.go:490-541
            # database extraction). An Engine maps 1:1 to a catalog
            # directory — the named database must be THIS one (or the
            # Neo4j default alias); cross-database routing is done by
            # holding one Engine per directory (see multidb.py for
            # composite graph views).
            parts = stripped.split(None, 2)
            if len(parts) < 3:
                raise ValueError("USE requires a database name and a query")
            name = parts[1].strip("`;")
            known = {"neo4j", "default", self.catalog.sf_dir.rsplit("/", 1)[-1]}
            if name.lower() not in known:
                raise ValueError(
                    f"database {name!r} not attached to this engine "
                    f"(attached: {sorted(known)})"
                )
            query = parts[2]
            stripped = query.lstrip()
            head = stripped.split(None, 1)[0].upper() if stripped else ""
        if head == "EXPLAIN":
            # Neo4j EXPLAIN: plan only, nothing executes (reference
            # explain.go:37-63) — one row with the formatted Spark plan
            body = stripped.split(None, 1)[1]
            return literal_df(self.spark, [(self.explain(body, params),)], "plan string")
        if head == "PROFILE":
            # PROFILE runs the query; per-operator runtime rows are a
            # server-side concern — results come back like a plain run
            query = stripped.split(None, 1)[1]
        return self._compile(query, _cached_parse(query), params)

    def _compile(self, query: str, ast, params: dict | None) -> DataFrame:
        from nornicdb_spark.cypher.compiler import Compiler

        cache_key = snapshot = None
        if _is_read_only(ast):
            # repr-encode params: values may be unhashable (list-valued
            # vector parameters), and repr is deterministic for the
            # literal types Cypher parameters allow
            pkey = repr(sorted((params or {}).items(), key=lambda kv: kv[0]))
            snapshot = self._snapshot()
            cache_key = (query, pkey, snapshot)
            hit = self._result_cache.get(cache_key)
            if hit is not None:
                return hit[0]
        # only read-only queries take pattern frames from the memo: a
        # write query changes the store while it compiles
        compiler = Compiler(
            self.catalog, params, store=self.store,
            pattern_memo=self._pattern_memo if cache_key is not None else None,
            snapshot=snapshot,
        )
        # compile-time checkpoint blocks (row tags, merge/export frames)
        # AND operator-internal kept frames (e.g. a CALL'd gds operator's
        # contribs frame, escaped by CkptScope.finish mid-compile) live
        # exactly as long as the compiled plan can be re-served: for a
        # cacheable query, capture_escapes() pins the operator escapes to
        # the cache entry instead of the bounded FIFO (where 64 later
        # escapes would free a block the cached plan still reads); for
        # write queries (never cached) everything moves straight to the
        # deferred-release session registry, tagged with this engine.
        with scope.owned_by(self._escape_owner):
            if cache_key is not None:
                with scope.capture_escapes() as pinned:
                    df = compiler.compile(ast)
                if len(self._result_cache) >= self.RESULT_CACHE_CAP:
                    _df, old_ckpts, old_pinned = self._result_cache.pop(
                        next(iter(self._result_cache))
                    )
                    for f in old_ckpts:
                        scope.escape_frame(f)
                    for jrdd in old_pinned:
                        scope.escape_rdd(jrdd)
                self._result_cache[cache_key] = (df, compiler.ckpts, pinned)
            else:
                df = compiler.compile(ast)
                for f in compiler.ckpts:
                    scope.escape_frame(f)
        return df

    def close(self) -> None:
        """Release this Engine's session-lifetime block-manager state: the
        mutable store's version checkpoints, every cached compiled plan's
        row-tag checkpoints, and the process-wide escape registry (the
        Spark analogue of the reference's cache lifecycle,
        executor.go:659-692). The shared read catalog (adjacency, memoized
        bases) is deliberately left resident — it is shared across
        Engines; release it with :func:`shutdown`. Only frames owned by
        THIS engine are freed — other live Engines' cached plans and
        their consumers are untouched. Engine-owned frames (cached plans'
        checkpoints, store versions) are unpersisted DIRECTLY, never via
        the bounded FIFO: a warm cache releases far more than
        _ESCAPE_CAP frames at once, and routing them through the FIFO
        would force out the oldest entries regardless of owner (ADVICE
        r8 — the exact invariant this method exists for)."""
        for _df, ckpts, pinned in self._result_cache.values():
            for f in ckpts:
                scope.unpersist_frame(f)
            for jrdd in pinned:
                scope.unpersist_rdd(jrdd)
        self._result_cache.clear()
        self._pattern_memo.clear()
        self.store.close()  # store versions and their graphs are engine-owned
        scope.release_escaped(owner=self._escape_owner)

    def _snapshot(self):
        """What a read-only query's result depends on besides its text
        and parameters: the store version, the index definitions and the
        projection names (project/drop change what gds.graph.list and
        fastRP.stats return)."""
        from nornicdb_spark.projections import DEFAULT_CATALOG

        ic = getattr(self.catalog, "_index_catalog", None)
        return (
            self.store.version(),
            tuple(sorted(ic._defs)) if ic is not None else None,
            tuple(sorted(DEFAULT_CATALOG._graphs)),
        )

    def shutdown(self) -> None:
        """Full release: :meth:`close` plus every process-shared resident
        artifact — shared catalogs' adjacency/memo checkpoints, shared
        BM25 indexes, gds projections. After this, block-manager storage
        from this engine family is empty (tests assert it); the next query
        rebuilds the working set lazily."""
        from nornicdb_spark.catalog import _SHARED_CATALOGS
        from nornicdb_spark.projections import DEFAULT_CATALOG
        from nornicdb_spark.search import bm25

        self.close()
        for cat in _SHARED_CATALOGS.values():
            g = cat.__dict__.get("graph")  # cached_property: only if built
            if g is not None:
                g.release()
            cat.__dict__.pop("graph", None)
        _SHARED_CATALOGS.clear()
        for name in list(DEFAULT_CATALOG._graphs):
            DEFAULT_CATALOG.drop(name)
        for idx in bm25._shared_memo().values():
            scope.escape_frame(idx.postings)
        bm25._shared_memo().clear()
        scope.release_escaped()

    def explain(self, query: str, params: dict | None = None) -> str:
        """EXPLAIN (reference explain.go:37-63): parsed clause summary +
        Spark's formatted physical plan for the DataFrame :meth:`cypher`
        would return — same parse cache, same store-aware compile, so
        the plan reads this Engine's writes. Write queries are refused:
        compiling one applies its writes."""
        ast = _cached_parse(query)
        if not _is_read_only(ast):
            raise ValueError("EXPLAIN takes a read-only query: compiling a write runs it")
        lines = ["=== Cypher AST ==="]
        for clause in ast.clauses:
            lines.append(f"  {type(clause).__name__}")
        df = self._compile(query, ast, params)
        lines.append("=== Physical plan ===")
        lines.append(df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), "formatted"
        ))
        return "\n".join(lines)
