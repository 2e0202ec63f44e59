#!/usr/bin/env python3
"""Write the benchmark's golden files from a checkout's code.

    python3 perfbench/make_golden.py

``golden_catalog.json``: for each headline query, the digest of its
DuckDB oracle's result on the generated catalog tables. The Spark
result is compared too, and a mismatch is printed.

``golden_migration.json``: (n_rows, table_checksum) of every output of
one migration iteration, for each of two seeds; the two must agree,
because the seed only reorders the source documents, and must match
the outputs of the DAG over the unshuffled fixtures.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def catalog_golden(spark, data: str) -> dict:
    import duckdb

    from mongodb_etl_migration_spark.catalog import TABLES
    from mongodb_etl_migration_spark.queries import ORACLES, QUERIES
    from perfbench.catalog import HEADLINE, result_digest, write_tables

    write_tables(data)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')"
        )
    out = {}
    for name in HEADLINE:
        want = result_digest(con.execute(ORACLES[name]).fetchdf())
        got = result_digest(QUERIES[name](spark, data).toPandas())
        print(f"{name:28s} rows={want['rows']:6d} spark={'OK' if got == want else got}")
        out[name] = want
    con.close()
    return out


def migration_golden(spark, workdir: str) -> dict:
    from perfbench.migration import Migration, checksums
    from perfbench.tracer import Tracer

    sums = []
    for seed in (0, 1):
        wl = Migration(spark, os.path.join(workdir, f"m{seed}"), seed, Tracer())
        wl.stage()
        wl.reset()
        wl.iteration(traced=False)
        tables = {
            name: spark.read.parquet(os.path.join(wl.sink, name))
            for name in os.listdir(wl.sink)
        }
        sums.append(checksums(tables))
    if sums[0] != sums[1]:
        raise SystemExit(f"outputs depend on the seed: {sums}")
    # the staged sources give what the in-memory fixtures give
    from mongodb_etl_migration_spark.pipeline import run_reference_pipeline
    from perfbench.migration import RUN_TS, source_frames

    direct = checksums(run_reference_pipeline(source_frames(spark), RUN_TS))
    if direct != sums[0]:
        raise SystemExit(f"staged sources change the outputs: {direct} {sums[0]}")
    return {name: list(v) for name, v in sorted(sums[0].items())}


def main() -> int:
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    from mongodb_etl_migration_spark import get_spark
    from perfbench import catalog, migration

    spark = get_spark(app_name="perfbench-golden")
    spark.sparkContext.setLogLevel("ERROR")
    (ROOT / ".perfbench_work").mkdir(exist_ok=True)
    work = tempfile.mkdtemp(dir=ROOT / ".perfbench_work")
    try:
        queries = catalog_golden(spark, os.path.join(work, "sf"))
        catalog.GOLDEN.write_text(
            json.dumps({"data_seed": catalog.DATA_SEED, "queries": queries}, indent=1)
            + "\n"
        )
        outputs = migration_golden(spark, work)
        migration.GOLDEN.write_text(
            json.dumps({"scale": migration.SCALE, "outputs": outputs}, indent=1)
            + "\n"
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
