#!/usr/bin/env python3
"""``perfbench/run.py`` at a tiny scale, for the benchmark's own tests.

    python3 perfbench/tests/smoke.py --workload catalog_headline --seed 1 --seconds 1 --trace 0

The migration uses 1x fixtures and the catalog two queries over tables
the size of scale factor 0.001, with one staging. The goldens are
derived on the spot: the catalog's from the DuckDB oracles, the
migration's from the DAG over the unpermuted in-memory fixtures. With
``PERFBENCH_SMOKE_CORRUPT=1`` one catalog golden is made wrong.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

QUERIES = ("a1_pricing_summary", "t_text_stats")
SF0_001 = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
}


def catalog_golden(data: str) -> dict:
    import duckdb

    from mongodb_etl_migration_spark.catalog import TABLES
    from mongodb_etl_migration_spark.queries import ORACLES
    from perfbench.catalog import result_digest

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    golden = {q: result_digest(con.execute(ORACLES[q]).fetchdf()) for q in QUERIES}
    con.close()
    if os.environ.get("PERFBENCH_SMOKE_CORRUPT") == "1":
        golden[QUERIES[0]]["sha256"] = "0" * 64
    return golden


def migration_golden() -> dict:
    from pyspark.sql import SparkSession

    from mongodb_etl_migration_spark.pipeline import run_reference_pipeline
    from perfbench.migration import RUN_TS, checksums, source_frames

    spark = SparkSession.getActiveSession()
    outputs = run_reference_pipeline(source_frames(spark), RUN_TS)
    return {name: list(v) for name, v in checksums(outputs).items()}


def main() -> int:
    from perfbench import catalog, migration, run

    migration.SCALE = 1
    catalog.SIZES.update(SF0_001)
    catalog.HEADLINE = QUERIES
    run.STAGINGS = 1

    def load_catalog_golden():
        # the run's working directory, removed when it ends
        data = os.path.join(os.getcwd(), "smoke-golden")
        catalog.write_tables(data)
        return catalog_golden(data)

    catalog.load_golden = load_catalog_golden
    migration.load_golden = migration_golden
    return run.main(sys.argv[1:])


if __name__ == "__main__":
    sys.exit(main())
