"""Cypher frontend — SURVEY §3 "Spark translation": Cypher text → AST →
DataFrame plan compiled against an Engine's graph store.

The reference routes raw query strings through ~40 regex fast paths with
no logical plan (pkg/cypher/executor.go:994-1447). We do what the survey
prescribes instead: a real parse (recursive descent over the openCypher
subset the reference exercises), a small AST, and a compiler that emits
declarative DataFrame operations so Catalyst plans the physical
execution (join order, broadcast, pushdown).

Entry point: :class:`nornicdb_spark.engine.Engine`.
"""

from nornicdb_spark.cypher.parser import parse  # noqa: F401
