"""Capture .explain("formatted") for the headline bench queries.

Usage: python scripts/capture_plans.py <suffix> [sf_dir] [query ...]

Writes plans/r11/<query>_<suffix>.txt for each headline query (or the
explicitly listed ones). Planning only — nothing is executed, so this is
safe to run alongside other jobs.
"""

from __future__ import annotations

import io
import os
import pathlib
import sys
from contextlib import redirect_stdout

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from nornicdb_spark import get_spark  # noqa: E402
from nornicdb_spark.queries import QUERIES  # noqa: E402

from bench import HEADLINE  # noqa: E402


def main():
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    names = sys.argv[3:] or HEADLINE
    out_dir = ROOT / "plans" / os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r12")
    out_dir.mkdir(parents=True, exist_ok=True)

    spark = get_spark(app_name="plan-capture")
    for name in names:
        try:
            df = QUERIES[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as e:  # record the failure instead of dying
            text = f"PLAN CAPTURE FAILED: {type(e).__name__}: {e}\n"
        (out_dir / f"{name}_{suffix}.txt").write_text(text)
        print(f"{name}: {len(text)} chars")


if __name__ == "__main__":
    main()
