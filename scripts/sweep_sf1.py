"""Run the full oracle-backed registry sweep at an arbitrary SF dir.

The driver's correctness gate runs at sf0.01; this script replays the same
Spark-vs-DuckDB comparison at sf1 (10x the bench SF) to validate that
correctness holds through an order-of-magnitude scale-up — the round-6
scale-validation task. Records per-query status + wall time to JSON.

Usage: python scripts/sweep_sf1.py [sf_dir] [out_json] [name_filter...]
"""

from __future__ import annotations

import json
import os
import pathlib
import sys
import time
import traceback

import duckdb

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else str(ROOT / ".scale" / "sf1")
OUT = sys.argv[2] if len(sys.argv) > 2 else str(ROOT / "SWEEP_sf1.json")
ONLY = set(sys.argv[3:])

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def summary_compare(df, n_rows: int, con, sql: str) -> None:
    """Distributive fingerprint compare for results too large to collect:
    exact row count, per-numeric-column sum/min/max (doubles rounded to
    6 decimals before summing, compared at 1e-6 relative), per-string
    column count-distinct/min/max. Weaker than the row-level value hash,
    recorded as 'pass-summary' in the artifact."""
    from pyspark.sql import functions as F

    con.execute(f"CREATE OR REPLACE TEMP VIEW _big AS ({sql})")
    o_n = con.execute("SELECT count(*) FROM _big").fetchone()[0]
    assert o_n == n_rows, f"row count: spark={n_rows} oracle={o_n}"
    aggs, o_exprs = [], []
    for f in df.schema.fields:
        c, t = f.name, f.dataType.simpleString()
        if t in ("double", "float"):
            aggs += [F.sum(F.round(F.col(c), 6)), F.min(c), F.max(c)]
            o_exprs += [f"sum(round({c}, 6))", f"min({c})", f"max({c})"]
        elif t in ("int", "bigint", "smallint", "tinyint"):
            aggs += [F.sum(c), F.min(c), F.max(c)]
            o_exprs += [f"sum({c})", f"min({c})", f"max({c})"]
        else:
            aggs += [F.countDistinct(c), F.min(c), F.max(c)]
            o_exprs += [f"count(DISTINCT {c})", f"min({c})", f"max({c})"]
    got = df.agg(*aggs).collect()[0]
    want = con.execute(f"SELECT {', '.join(o_exprs)} FROM _big").fetchone()
    for g, w, label in zip(got, want, o_exprs):
        if isinstance(g, float) or isinstance(w, float):
            scale = max(abs(float(g)), abs(float(w)), 1.0)
            assert abs(float(g) - float(w)) <= 1e-6 * scale, (
                f"{label}: spark={g} oracle={w}"
            )
        else:
            assert g == w, f"{label}: spark={g} oracle={w}"


def main() -> None:
    from pyspark.sql import SparkSession

    from nornicdb_spark.queries import ORACLES, QUERIES
    from nornicdb_spark.session import default_cpus
    from tests.oracle_harness import compare

    # env knobs (same names as nornicdb_spark.session): heavy iterative
    # rows at sf10 need SPARK_GRAFT_SHUFFLE≈256 — shuffle partitions
    # must scale with data, not cores, or per-task sorts OOM the JVM
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or default_cpus()
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE", "32")
    driver_mem = os.environ.get("SPARK_DRIVER_MEM", "48g")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_mem)
        # the sweep compare collects full result sets; pair-mining
        # queries legitimately return >1 GiB at sf1
        .config("spark.driver.maxResultSize", "8g")
        .getOrCreate()
    )
    def fresh_con():
        # one connection PER QUERY: DuckDB's temp-spill files
        # (duckdb_temp_storage-N.tmp) live for the connection, so a
        # long sweep accumulates every heavy oracle's spill (~80 GB
        # observed) unless the connection is recycled. The memory cap
        # keeps the oracle side from OOM-killing the process next to
        # the 48g driver JVM; the spill dir is repo-local.
        c = duckdb.connect()
        c.execute("SET memory_limit='32GB'")
        c.execute(f"SET temp_directory='{ROOT / '.tmp'}'")
        for t in TABLES:
            c.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/{t}.parquet')"
            )
        return c

    # resume: keep prior passes from an interrupted sweep (the file is
    # rewritten after every query), re-run anything else
    results: dict[str, dict] = {}
    out_path = pathlib.Path(OUT)
    if out_path.exists():
        try:
            results = {
                k: v
                for k, v in json.loads(out_path.read_text()).items()
                if v.get("status") in ("pass", "pass-summary")
            }
        except (ValueError, AttributeError):
            results = {}
    names = [
        n
        for n in QUERIES
        if n in ORACLES and n not in results and (not ONLY or n in ONLY)
    ]
    for i, name in enumerate(names):
        t0 = time.time()
        con = fresh_con()
        try:
            df = QUERIES[name](spark, SF_DIR)
            n = df.count()
            if n > 5_000_000:
                # pair-mining results legitimately reach 1e8 rows at sf1;
                # collecting both sides into pandas is the wrong shape —
                # compare distributive per-column fingerprints instead
                # (recorded as its own status so the artifact is honest)
                summary_compare(df, n, con, ORACLES[name])
                status, err = "pass-summary", None
            else:
                compare(df, con, ORACLES[name])
                status, err = "pass", None
        except Exception as e:  # noqa: BLE001 — record, keep sweeping
            status = "fail"
            err = f"{type(e).__name__}: {e}"[:400]
            traceback.print_exc(limit=3)
        con.close()
        dt = round(time.time() - t0, 2)
        results[name] = {"status": status, "sec": dt, "err": err}
        print(f"[{i + 1}/{len(names)}] {name}: {status} ({dt}s)", flush=True)
        pathlib.Path(OUT).write_text(json.dumps(results, indent=1))

    n_pass = sum(
        1 for r in results.values() if r["status"] in ("pass", "pass-summary")
    )
    print(f"\n{n_pass}/{len(results)} pass -> {OUT}")
    spark.stop()


if __name__ == "__main__":
    main()
