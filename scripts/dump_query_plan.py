#!/usr/bin/env python
"""Capture .explain("formatted") for named catalog queries into
plans/r16/<query>_<tag>.txt — the before/after plan receipts of a
change (run once on the parent commit with TAG=before, once on the
change with TAG=after, then diff modulo expression ids).

Usage: python scripts/dump_query_plan.py TAG [sf_dir] name [name ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from mongodb_etl_migration_spark import get_spark  # noqa: E402
from mongodb_etl_migration_spark.queries import QUERIES  # noqa: E402


def main() -> int:
    tag = sys.argv[1]
    args = sys.argv[2:]
    if args and "/" in args[0]:
        sf_dir, names = args[0], args[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.1", args
    out_dir = Path(__file__).resolve().parents[1] / "plans" / "r16"
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark(app_name="dump_query_plan")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        p = out_dir / f"{name}_{tag}.txt"
        p.write_text(plan)
        print(f"wrote {p} ({plan.count(chr(10))} lines)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
