"""Batch mutations — SURVEY §2.7 (CREATE / MERGE / SET / REMOVE / DELETE /
FOREACH) re-expressed as pure DataFrame→DataFrame table rewrites.

The reference mutates an in-process store row-at-a-time
(pkg/cypher/create.go:15-2298, merge.go:14-1847,
executor_mutations.go:65-700). A batch engine instead *rewrites tables*:
every mutation takes the current table(s) and returns the next version
plus :class:`MutationStats` (mirroring ExecuteResult's QueryStats,
reference pkg/cypher/types.go:13-20). Snapshot semantics: one mutation
call = one atomic rewrite of the whole table — the batch analogue of the
reference's implicit transaction (executor.go:707-801); writers persist
the returned DataFrame (e.g. Delta/Iceberg overwrite or MERGE INTO).

Scale notes: MERGE is one full-outer join on the merge keys (shuffle on
key, AQE-skew-safe); DELETE/REMOVE are filters (no shuffle); DETACH
DELETE adds two semi-joins against the deleted-id set, which Catalyst
broadcasts when small. Nothing collects to the driver except optional
stat counts.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nornicdb_spark.operators.localframe import sql_col


@dataclass
class MutationStats:
    """QueryStats analogue (reference pkg/cypher/types.go:13-20).

    Counts are computed eagerly (each is one Spark count job) — call sites
    that don't need stats pass ``with_stats=False`` and get zeros.
    """

    nodes_created: int = 0
    nodes_deleted: int = 0
    relationships_created: int = 0
    relationships_deleted: int = 0
    properties_set: int = 0
    labels_added: int = 0
    labels_removed: int = 0

    def add(self, **kw) -> None:
        for k, v in kw.items():
            setattr(self, k, getattr(self, k) + v)


@dataclass
class MutationResult:
    """New table version(s) + stats for one mutation."""

    df: DataFrame
    edges: DataFrame | None = None
    stats: MutationStats = field(default_factory=MutationStats)


NEW = "_new_"  # prefix for incoming-row columns visible to SET expressions
TARGET = "_target_id"  # the target-id column SET and DELETE match on


def create_rows(
    base: DataFrame, new_rows: DataFrame, with_stats: bool = True
) -> MutationResult:
    """CREATE — append rows (reference create.go:15-...; batch insert).

    ``new_rows`` must carry a subset of base's columns; missing columns
    become NULL (Cypher: absent properties), and every column takes
    base's type, so the table's schema does not drift.
    """
    have = set(new_rows.columns)
    filled = new_rows.selectExpr(*[
        f"CAST({sql_col(f.name) if f.name in have else 'NULL'} AS "
        f"{f.dataType.simpleString()}) AS {sql_col(f.name)}"
        for f in base.schema.fields
    ])
    stats = MutationStats(nodes_created=filled.count() if with_stats else 0)
    return MutationResult(df=base.unionByName(filled), stats=stats)


def merge_rows(
    base: DataFrame,
    incoming: DataFrame,
    keys: list[str],
    on_create: dict[str, Column] | None = None,
    on_match: dict[str, Column] | None = None,
    with_stats: bool = True,
) -> MutationResult:
    """MERGE + ON CREATE SET / ON MATCH SET (reference merge.go:14-1847)
    as one full-outer join on the merge keys — Delta-style ``MERGE INTO``
    semantics without requiring a table format.

    Row fates: base-only → unchanged; incoming-only → inserted with
    ``on_create`` overrides (default: incoming values); both → ``on_match``
    overrides (default: keep base values — Cypher MERGE without ON MATCH
    SET mutates nothing).

    SET expressions may reference the existing row as ``F.col(c)`` and the
    incoming row as ``F.col("_new_" + c)`` (e.g. increment:
    ``F.coalesce(F.col("n"), F.lit(0)) + F.col("_new_n")``).

    Incoming-only columns become new properties on the result table
    (NULL for rows the merge never touched) — Cypher's ON MATCH SET can
    introduce properties the node didn't have.
    """
    on_create = on_create or {}
    on_match = on_match or {}
    inc = incoming
    for c in incoming.columns:
        if c not in keys:
            inc = inc.withColumnRenamed(c, NEW + c)
    joined = base.withColumn("_matched", F.lit(True)).join(
        inc.withColumn("_incoming", F.lit(True)), keys, "full_outer"
    )

    def value_for(c: str) -> Column:
        if c in keys:
            return F.col(c)
        base_v = F.col(c) if c in base.columns else F.lit(None)
        inc_v = F.col(NEW + c) if (NEW + c) in joined.columns else F.lit(None)
        match_v = on_match.get(c, base_v)
        create_v = on_create.get(c, inc_v if (NEW + c) in joined.columns else base_v)
        return (
            F.when(F.col("_matched").isNotNull() & F.col("_incoming").isNotNull(), match_v)
            .when(F.col("_incoming").isNotNull(), create_v)
            .otherwise(base_v)
        )

    out_cols = list(base.columns) + [
        c for c in incoming.columns if c not in base.columns and c not in keys
    ]
    result = joined.select(
        *[value_for(c).alias(c) for c in out_cols],
        F.col("_matched"),
        F.col("_incoming"),
    )
    stats = MutationStats()
    if with_stats:
        counts = result.agg(
            F.count(F.when(F.col("_matched").isNull(), 1)).alias("created"),
            F.count(F.when(F.col("_matched").isNotNull() & F.col("_incoming").isNotNull(), 1)).alias("matched"),
        ).collect()[0]
        stats.nodes_created = counts["created"]
        stats.properties_set = counts["matched"] * len(on_match) + counts["created"] * len(on_create)
    return MutationResult(df=result.select(*out_cols), stats=stats)


def _id_frame(ids: DataFrame) -> DataFrame:
    """A one-column frame of target ids, its column named :data:`TARGET`."""
    (name,) = ids.columns
    return ids if name == TARGET else ids.withColumnRenamed(name, TARGET)


def _ids(id_col: Column | None) -> Column:
    return F.col("id") if id_col is None else id_col


def set_properties(
    df: DataFrame,
    condition: Column | DataFrame,
    assignments: dict[str, Column],
    id_col: Column | None = None,
    with_stats: bool = True,
) -> MutationResult:
    """SET n.prop = expr [, ...] on rows matching ``condition`` (reference
    executor_mutations.go:247-566). Unmatched rows pass through unchanged.
    ``+=``-style map merge is just multiple assignments here — properties
    are typed columns, not a map blob. Expressions see ``df``'s own
    columns; an assignment to a column ``df`` lacks adds a property.

    ``condition`` is a boolean Column, or a one-column frame of distinct
    target ids (the MATCH that bound the nodes) matched against
    ``id_col`` (default: column ``id``) by a left-outer tag join."""
    cols = df.columns
    if isinstance(condition, DataFrame):
        targets, tid = _id_frame(condition), F.col(TARGET)
        out = df.join(targets, _ids(id_col) == tid, "left_outer")
        hit = tid.isNotNull()
    else:
        targets, out, hit = df.filter(condition), df, condition
    for c, expr in assignments.items():
        prev = F.col(c) if c in cols else F.lit(None)
        out = out.withColumn(c, F.when(hit, expr).otherwise(prev))
    n = targets.count() if with_stats else 0
    keep = cols + [c for c in assignments if c not in cols]
    return MutationResult(
        df=out.select(*keep),
        stats=MutationStats(properties_set=n * len(assignments)),
    )


def remove_properties(
    df: DataFrame, condition: Column, *props: str, with_stats: bool = True
) -> MutationResult:
    """REMOVE n.prop — set NULL under ``condition`` (reference
    executor_mutations.go:567; Cypher removes the key, our schema keeps a
    typed column so NULL is the removed state)."""
    return set_properties(
        df,
        condition,
        {p: F.lit(None).cast(df.schema[p].dataType) for p in props},
        with_stats=with_stats,
    )


def add_label(
    nodes: DataFrame, condition: Column, label: str, labels_col: str = "labels",
    with_stats: bool = True,
) -> MutationResult:
    """SET n:Label on an ``array<string>`` labels column (idempotent —
    array_union dedups, matching the reference's label-set semantics)."""
    out = nodes.withColumn(
        labels_col,
        F.when(
            condition, F.array_union(F.col(labels_col), F.array(F.lit(label)))
        ).otherwise(F.col(labels_col)),
    )
    n = (
        nodes.filter(condition & ~F.array_contains(F.col(labels_col), label)).count()
        if with_stats
        else 0
    )
    return MutationResult(df=out, stats=MutationStats(labels_added=n))


def remove_label(
    nodes: DataFrame, condition: Column, label: str, labels_col: str = "labels",
    with_stats: bool = True,
) -> MutationResult:
    """REMOVE n:Label — array_remove under ``condition``."""
    out = nodes.withColumn(
        labels_col,
        F.when(condition, F.array_remove(F.col(labels_col), label)).otherwise(
            F.col(labels_col)
        ),
    )
    n = (
        nodes.filter(condition & F.array_contains(F.col(labels_col), label)).count()
        if with_stats
        else 0
    )
    return MutationResult(df=out, stats=MutationStats(labels_removed=n))


def delete_nodes(
    nodes: DataFrame,
    condition: Column | DataFrame,
    edges: DataFrame | None = None,
    detach: bool = False,
    id_col: Column | None = None,
    with_stats: bool = True,
) -> MutationResult:
    """DELETE / DETACH DELETE (reference executor_mutations.go:65-246).

    ``condition`` is either a boolean Column (DELETE ... WHERE pred) or a
    one-column frame of distinct target ids (the MATCH that bound the
    nodes) — the latter keeps pattern-driven deletes join-based instead
    of collecting ids to the driver. ``id_col`` is the node id (default:
    column ``id``); edges reference it in ``src`` and ``dst``.

    Plain DELETE refuses when a targeted node still has relationships —
    the Neo4j ConstraintValidationFailed behavior the reference mirrors.
    DETACH DELETE cascades: edges touching a deleted node go too (two
    anti-joins against the deleted-id set; Catalyst broadcasts it when
    small).
    """
    tid = F.col(TARGET)
    if isinstance(condition, DataFrame):
        doomed = _id_frame(condition)
        survivors = nodes.join(doomed, _ids(id_col) == tid, "left_anti")
    else:
        # Cypher 3VL: a NULL predicate is no-match — the node survives.
        # Without the coalesce, rows where the predicate evaluates NULL
        # would fall out of BOTH the doomed set and the survivors.
        cond = F.coalesce(condition, F.lit(False))
        doomed = nodes.filter(cond).select(_ids(id_col).alias(TARGET))
        survivors = nodes.filter(~cond)
    new_edges = edges
    stats = MutationStats()
    if edges is not None:
        src, dst = edges.src, edges.dst
        touching = edges.join(doomed, (src == tid) | (dst == tid), "left_semi")
        if not detach:
            if touching.limit(1).count():
                raise ValueError(
                    "Cannot delete nodes that still have relationships; "
                    "use DETACH DELETE"
                )
        else:
            if with_stats:
                stats.relationships_deleted = touching.count()
            new_edges = (
                edges.join(doomed, src == tid, "left_anti")
                .join(doomed, dst == tid, "left_anti")
            )
    if with_stats:
        stats.nodes_deleted = doomed.count()
    return MutationResult(df=survivors, edges=new_edges, stats=stats)


def foreach_set(df: DataFrame, list_col: str, element_fn) -> DataFrame:
    """FOREACH (x IN list | SET ...) over an array column (reference
    clauses.go:1689-1797). The per-element update is a pure function →
    ``transform`` keeps it JVM-side; no explode/regroup shuffle."""
    return df.withColumn(list_col, F.transform(F.col(list_col), element_fn))


def unique_violations(df: DataFrame, cols: list[str]) -> DataFrame:
    """Unique-constraint check (reference pkg/storage/schema.go:327-412):
    returns key tuples appearing more than once — empty means the
    constraint holds. Write-time enforcement = assert this is empty
    before persisting."""
    return (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


def assert_unique(df: DataFrame, cols: list[str]) -> None:
    """Raise if a unique constraint is violated (CREATE CONSTRAINT path,
    reference executor.go:1324-1330)."""
    if unique_violations(df, cols).limit(1).count():
        raise ValueError(f"unique constraint violated on {cols}")
