"""Introspection procedures — SURVEY §2.8 (CALL db.* / dbms.* routing,
reference pkg/cypher/call.go:596-803, executor_show.go:16-70).

Each procedure is a DataFrame producer over the catalog/graph — the batch
analogue of the reference's metadata calls. Schema-derived results
(property keys, schema visualization) read parquet FOOTERS only, no data
scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nornicdb_spark.catalog import NODE_SPECS, Catalog
from nornicdb_spark.operators.localframe import literal_df


def db_labels(graph) -> DataFrame:
    """CALL db.labels (reference call.go:610-): every node label with its
    count (the reference yields just the label; the count costs nothing
    extra here and backs db.stats)."""
    return graph.nodes.groupBy("label").agg(F.count(F.lit(1)).alias("n_nodes"))


def db_relationship_types(graph) -> DataFrame:
    """CALL db.relationshipTypes + per-type counts."""
    return graph.edges.groupBy("type").agg(F.count(F.lit(1)).alias("n_edges"))


def db_property_keys(cat: Catalog) -> DataFrame:
    """CALL db.propertyKeys — per-label property names. Derived from the
    base-table schemas (schema-on-read: the typed columns ARE the
    properties), driver-side only."""
    rows = []
    for label, table, _key in NODE_SPECS:
        for field in cat.table(table).schema.fields:
            rows.append((label, field.name, field.dataType.simpleString()))
    return literal_df(cat.spark, rows, "label string, key string, type string")


def db_schema_visualization(graph) -> DataFrame:
    """CALL db.schema.visualization (reference executor_show.go /
    call.go:700s): distinct (source label, relationship type, target
    label) triples — the graph's shape."""
    src_label = F.split(F.col("src"), ":").getItem(0)
    dst_label = F.split(F.col("dst"), ":").getItem(0)
    return (
        graph.edges.select(
            src_label.alias("src_label"), F.col("type"), dst_label.alias("dst_label")
        )
        .distinct()
    )


def db_info(cat: Catalog) -> DataFrame:
    """CALL db.info / dbms.components — engine identity + table stats."""
    rows = [("nornicdb_spark", "0.1", t) for t in ("batch",)]
    return literal_df(cat.spark, rows, "name string, version string, mode string")


def db_ping(cat: Catalog) -> DataFrame:
    """CALL db.ping (reference call.go:676)."""
    return literal_df(cat.spark, [("ok",)], "status string")


def db_indexes(cat: Catalog) -> DataFrame:
    """CALL db.indexes / SHOW INDEXES (reference executor_show.go:16-32).
    Catalyst pushdown subsumes property/range/composite indexes; the
    rows come from the IndexCatalog registry (db.index.*.createNodeIndex
    adds to it, drop removes)."""
    rows = [
        (d["name"], d["kind"], d["label"], d["properties"], "ONLINE")
        for d in index_catalog(cat).defs()
    ]
    return literal_df(cat.spark, 
        rows,
        "name string, type string, labelsOrTypes string, properties array<string>, "
        "state string",
    )


def db_constraints(cat: Catalog) -> DataFrame:
    """CALL db.constraints / SHOW CONSTRAINTS — the key column of every
    base table behaves as a uniqueness constraint (enforced by the
    write path's groupBy-count check)."""
    rows = [
        (f"unique_{label.lower()}_{key}", "UNIQUENESS", label, [key])
        for label, _table, key in NODE_SPECS
    ]
    return literal_df(cat.spark, 
        rows, "name string, type string, label string, properties array<string>"
    )


def dbms_components(cat: Catalog) -> DataFrame:
    """CALL dbms.components (reference call.go:750s)."""
    import pyspark

    return literal_df(cat.spark, 
        [("nornicdb-spark", [pyspark.__version__], "community")],
        "name string, versions array<string>, edition string",
    )


# ---- index management (reference call.go:728-748, call_index_mgmt.go) ----

class IndexCatalog:
    """Catalog-backed vector/fulltext index registry — the state behind
    db.index.*.createNodeIndex/drop so search is driven by DDL rather
    than ad-hoc calls (reference call_index_mgmt.go; hnsw_config.go for
    the vector options surface). Batch engine: an index *definition* is
    metadata; the physical structure (BM25 postings, HNSW shards) is
    built lazily on first query and memoized per index name, with the
    source frame it was built from."""

    def __init__(self):
        self._defs: dict[str, dict] = {}
        self._impls: dict[str, tuple] = {}  # name -> (source frame, structure)

    def create(self, name: str, kind: str, label: str, properties, **options):
        if name in self._defs:
            raise ValueError(f"index {name!r} already exists")
        self._defs[name] = {
            "name": name, "kind": kind, "label": label,
            "properties": list(properties), "options": options,
        }

    def drop(self, name: str) -> None:
        if name not in self._defs:
            raise ValueError(f"no such index {name!r}")
        del self._defs[name]
        self._impls.pop(name, None)

    def get(self, name: str, kind: str | None = None) -> dict:
        d = self._defs.get(name)
        if d is None or (kind is not None and d["kind"] != kind):
            raise ValueError(f"no such {kind or 'index'} index {name!r}")
        return d

    def defs(self):
        return list(self._defs.values())


def index_catalog(cat: Catalog) -> IndexCatalog:
    """Per-catalog IndexCatalog, seeded with the fixture's two default
    indexes (the names db.indexes always advertised)."""
    ic = getattr(cat, "_index_catalog", None)
    if ic is None:
        ic = IndexCatalog()
        ic.create("embeddings_cosine", "VECTOR", "Embedding",
                  ["embedding"], dimensions=64, similarity="cosine")
        ic.create("documents_fulltext", "FULLTEXT", "Document", ["text"])
        cat._index_catalog = ic
    return ic


def fulltext_analyzers(cat: Catalog) -> DataFrame:
    """CALL db.index.fulltext.listAvailableAnalyzers (reference
    call_index_mgmt.go): the reference ships one standard analyzer
    (lowercase + stopwords, fulltext_index.go); exposed under its
    Lucene-compatible names."""
    rows = [("standard", "lowercase, English stopwords (the reference's "
             "fulltext_index.go tokenizer)"),
            ("whitespace", "whitespace split, no stopword removal"),
            ("keyword", "no tokenization — exact value")]
    return literal_df(cat.spark, rows, "analyzer string, description string")


# ---- introspection tail (reference call.go:610-784, executor_show.go) ----

def db_schema_node_type_properties(cat: Catalog) -> DataFrame:
    """CALL db.schema.nodeTypeProperties (reference call.go:700s) — one
    row per (label, property, spark type); parquet FOOTER read only."""
    rows = []
    for label, table, _key in NODE_SPECS:
        for f in cat.table(table).schema.fields:
            rows.append((f":`{label}`", label, f.name, f.dataType.simpleString(), True))
    return literal_df(cat.spark, 
        rows,
        "nodeType string, nodeLabels string, propertyName string, "
        "propertyTypes string, mandatory boolean",
    )


def db_schema_rel_type_properties(cat: Catalog) -> DataFrame:
    """CALL db.schema.relTypeProperties — relationship property surface
    from the edge projection."""
    edges = cat.graph.edges
    prop_cols = [
        f for f in edges.schema.fields
        if f.name not in ("src", "dst", "type", "edge_id")
    ]
    types = [r[0] for r in edges.select("type").distinct().collect()]
    rows = []
    for t in sorted(types):
        for f in prop_cols:
            rows.append((f":`{t}`", t, f.name, f.dataType.simpleString(), False))
    return literal_df(cat.spark, 
        rows,
        "relType string, relationshipType string, propertyName string, "
        "propertyTypes string, mandatory boolean",
    )


def dbms_info(cat: Catalog) -> DataFrame:
    return db_info(cat)


def dbms_list_config(cat: Catalog) -> DataFrame:
    """CALL dbms.listConfig — the Spark session confs that shape this
    engine's execution (the batch analogue of server config)."""
    keys = [
        "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
        "spark.sql.session.timeZone", "spark.sql.autoBroadcastJoinThreshold",
    ]
    rows = [(k, cat.spark.conf.get(k, None)) for k in keys]
    return literal_df(cat.spark, rows, "name string, value string")


def dbms_procedures(cat: Catalog, procedures: list[str]) -> DataFrame:
    """CALL dbms.procedures — every CALL target this engine routes."""
    return literal_df(cat.spark, 
        [(p,) for p in sorted(procedures)], "name string"
    )


def db_await_index(cat: Catalog, name: str | None = None) -> DataFrame:
    """db.awaitIndex(es)/resampleIndex/clearQueryCaches — synchronous
    no-ops in a batch engine (indexes are built on first use); returns an
    ok row so scripts that call them keep working."""
    return literal_df(cat.spark, 
        [(name or "*", "ONLINE")], "name string, state string"
    )


def db_index_stats(cat: Catalog) -> DataFrame:
    """CALL db.index.stats — row counts behind each registered index."""
    rows = []
    for d in index_catalog(cat).defs():
        table = {"Embedding": "embeddings", "Document": "documents"}.get(d["label"])
        n = cat.table(table).count() if table else 0
        rows.append((d["name"], d["kind"], n))
    return literal_df(cat.spark, 
        rows, "name string, type string, entries long"
    )


# ---- SHOW command frames (reference executor_show.go) -------------------

FUNCTION_SURFACE = {
    "entity": ["id", "elementId", "labels", "type", "keys", "properties",
               "startNode", "endNode", "hasLabels", "degree", "inDegree",
               "outDegree"],
    "null": ["coalesce", "nullIf"],
    "list": ["head", "last", "tail", "size", "reverse", "range", "reduce",
             "all", "any", "none", "single", "nodes", "relationships",
             "length"],
    "conversion": ["toString", "toInteger", "toFloat", "toBoolean",
                   "toStringList", "toIntegerList", "toFloatList",
                   "toBooleanList", "toStringOrNull", "toIntegerOrNull",
                   "toFloatOrNull", "toBooleanOrNull", "valueType"],
    "string": ["toLower", "toUpper", "trim", "ltrim", "rtrim", "btrim",
               "replace", "split", "substring", "left", "right", "lpad",
               "rpad", "normalize", "char_length", "format", "indexOf"],
    "math": ["abs", "ceil", "floor", "round", "sign", "sqrt", "sin", "cos",
             "tan", "asin", "acos", "atan", "atan2", "sinh", "cosh", "tanh",
             "cot", "coth", "log", "log10", "exp",
             "pi", "e", "power", "degrees", "radians", "haversin", "isNaN",
             "rand", "randomUUID"],
    "temporal": ["timestamp", "date", "datetime", "time", "duration",
                 "duration.between", "duration.inDays", "duration.inMonths",
                 "duration.inSeconds"],
    "aggregating": ["count", "sum", "avg", "min", "max", "collect",
                    "stDev", "stDevP", "percentileCont", "percentileDisc"],
    "predicate": ["exists", "isEmpty"],
    "spatial": ["point", "distance", "point.distance", "polygon",
                "lineString", "point.intersects", "point.contains",
                "point.withinBBox", "point.withinDistance", "point.x",
                "point.y", "point.latitude", "point.longitude", "point.srid",
                "point.crs"],
    "vector": ["vector.similarity.cosine", "vector.similarity.euclidean"],
    "kalman": ["kalman.init", "kalman.process", "kalman.predict",
               "kalman.state", "kalman.reset", "kalman.velocity.init",
               "kalman.velocity.process", "kalman.velocity.predict",
               "kalman.adaptive.init", "kalman.adaptive.process"],
}


def show_functions(cat: Catalog) -> DataFrame:
    """SHOW FUNCTIONS (reference executor_show.go:72-160) — the scalar
    surface this engine routes, one row per (name, category)."""
    rows = [
        (name, category)
        for category, names in FUNCTION_SURFACE.items()
        for name in names
    ]
    return literal_df(cat.spark, 
        sorted(rows), "name string, category string"
    )


def show_databases(cat: Catalog) -> DataFrame:
    """SHOW DATABASE(S) (executor_show.go:171-237): single default
    database in the batch engine; namespacing lives in multidb.py."""
    return literal_df(cat.spark, 
        [("nornicdb", "standard", "online", True)],
        "name string, type string, currentStatus string, default boolean",
    )


def show_aliases(cat: Catalog) -> DataFrame:
    """SHOW ALIASES (executor_show.go:718-760) — none in batch."""
    return literal_df(cat.spark, [], "alias string, database string")


def show_limits(cat: Catalog) -> DataFrame:
    """SHOW LIMITS (executor_show.go:1036-1060) — unlimited batch engine."""
    return literal_df(cat.spark, 
        [("node_count", -1), ("relationship_count", -1)],
        "name string, value long",
    )


def db_stats_retrieve(cat: Catalog, section: str = "GRAPH COUNTS") -> DataFrame:
    """CALL db.stats.retrieve(section) (reference call.go db.stats.* ) —
    graph count statistics as (section, data) rows; the batch analogue of
    the reference's stats collector snapshot."""
    g = cat.graph
    rows = [
        (section, "nodes", g.nodes.count()),
        (section, "relationships", g.edges.count()),
    ]
    return literal_df(cat.spark, rows, "section string, name string, value long")


def db_stats_collect(cat: Catalog, section: str = "QUERIES") -> DataFrame:
    """CALL db.stats.collect/stop/clear — stats collection is always-on
    in a batch engine (plans are one-shot); report success."""
    return literal_df(cat.spark, 
        [(section, True, "batch engine: stats are computed per query")],
        "section string, success boolean, message string",
    )


def dbms_functions(cat: Catalog) -> DataFrame:
    """CALL dbms.functions() — same registry as SHOW FUNCTIONS."""
    return show_functions(cat)


def dbms_client_config(cat: Catalog) -> DataFrame:
    """CALL dbms.clientConfig — reference returns the subset of config
    relevant to drivers; we surface none (no wire protocol)."""
    return literal_df(cat.spark, [], "name string, value string")


def dbms_list_connections(cat: Catalog) -> DataFrame:
    """CALL dbms.listConnections — a batch engine has no long-lived
    client connections; empty result with the reference's shape."""
    return literal_df(cat.spark, 
        [],
        "connectionId string, connectTime string, connector string, "
        "username string, userAgent string, serverAddress string, "
        "clientAddress string",
    )


def tx_set_meta_data(cat: Catalog) -> DataFrame:
    """CALL tx.setMetaData(map) — transaction metadata is meaningless for
    one-shot batch plans; accept and acknowledge (parser-level
    compatibility, reference call.go tx.setMetaData)."""
    return literal_df(cat.spark, [(True,)], "success boolean")
