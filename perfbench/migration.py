"""The ``migration`` workload: the reference's 15-entity DAG from its 12
source collections to 22 parquet tables, as ``scripts/run_pipeline.py``
runs it.

Set-up builds the 12 collections with the package's fixture generators
at ``SCALE`` times their default sizes; the seed permutes the order of
each collection's documents. One iteration reads those sources, calls
``run_reference_pipeline`` and writes every output to parquet through
``RunMetrics.observed`` and ``harvest``.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from datetime import datetime
from functools import reduce
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mongodb_etl_migration_spark import fixtures as FX
from mongodb_etl_migration_spark.metrics import RunMetrics
from mongodb_etl_migration_spark.operators.validation import (
    orphan_check,
    set_membership_violations,
    table_checksum,
)
from mongodb_etl_migration_spark.pipeline import run_reference_pipeline

from perfbench.tracer import Tracer, catalyst_phases

# the run timestamp scripts/run_pipeline.py uses
RUN_TS = datetime(2021, 6, 1)
# multiple of the fixture generators' default sizes
SCALE = 10
GOLDEN = Path(__file__).resolve().parent / "golden_migration.json"


class _RowCapture:
    """Stands in for the session while a fixture generator runs: keeps
    the rows and schema it would have made a DataFrame of."""

    def createDataFrame(self, rows, schema):
        return list(rows), schema


def source_rows() -> dict[str, tuple[list, T.StructType]]:
    """The rows and schema of the 12 collections of
    ``fixtures.all_sources``, the size-bearing ones grown ``SCALE``
    times; lookup collections keep their fixed vocabularies."""
    scale = SCALE
    cap = _RowCapture()
    users, rooms, channels = 120 * scale, 30 * scale, 10 * scale
    return {
        "roles": FX.roles_df(cap),
        "provinces": FX.provinces_df(cap),
        "municipalities": FX.municipalities_df(cap),
        "parroquias": FX.parroquias_df(cap),
        "users": FX.users_df(cap, users),
        "rooms": FX.rooms_df(cap, rooms),
        "messages": FX.messages_df(cap, 400 * scale, rooms, users),
        "roommembers": FX.members_df(cap, rooms, users),
        "professions": FX.professions_df(cap),
        "channels": FX.channels_df(cap, channels, users),
        "lives": FX.lives_df(cap, 20 * scale, channels),
        "docs": FX.docs_df(cap, 30 * scale),
    }


def source_frames(spark: SparkSession, seed: int | None = None) -> dict[str, DataFrame]:
    """The sources as DataFrames, each collection's documents in an
    order drawn from ``seed`` (generator order when it is None)."""
    frames = {}
    for name, (rows, schema) in source_rows().items():
        if seed is not None:
            random.Random(f"{seed}:{name}").shuffle(rows)
        frames[name] = spark.createDataFrame(rows, schema)
    return frames


def dir_bytes(path: str) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


class Migration:
    """One run's migration sources, sink directory and checks."""

    def __init__(self, spark: SparkSession, workdir: str, seed: int, tracer: Tracer):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.sink = os.path.join(workdir, "sink")
        self.sources: dict[str, DataFrame] = {}
        self.last_metrics: RunMetrics | None = None
        self.counters = None

    # -- set-up ---------------------------------------------------------

    def stage(self) -> dict[str, float]:
        """Generate the sources; returns the step's timing. Set-up calls
        this more than once and keeps the median."""
        with self.tracer.span("fixtures.generate") as gen:
            self.sources = source_frames(self.spark, self.seed)
        return {"fixtures.generate_s": gen.duration}

    # -- one iteration ----------------------------------------------------

    def iteration(self, traced: bool) -> list[tuple[str, float]]:
        """Read, build, write. Returns one (output, seconds) sample per
        sink write; the caller's span around this call is the
        iteration's wall time."""
        tr = self.tracer
        with tr.span("pipeline.build") as build:
            before = self.counters.job_ids() if traced else None
            outputs = run_reference_pipeline(self.sources, RUN_TS)
            if traced:
                build.counts["jobs"] = len(set(self.counters.job_ids()) - set(before))
        metrics = RunMetrics()
        samples = []
        for name, df in outputs.items():
            with tr.span(f"sink.{name}") as s:
                observed = metrics.observed(name, df)
                if traced:
                    with tr.span("catalyst.plan") as plan:
                        plan.counts.update(catalyst_phases(observed))
                with tr.span("sink.write"):
                    observed.write.mode("overwrite").parquet(
                        os.path.join(self.sink, name)
                    )
                metrics.harvest()
            samples.append((name, s.duration))
        self.last_metrics = metrics
        return samples

    def reset(self) -> None:
        """Between iterations: drop what the previous one cached (the
        compiler persists multi-output entities and nothing unpersists
        them) and its sink directory."""
        self.spark.catalog.clearCache()
        shutil.rmtree(self.sink, ignore_errors=True)

    def source_scan(self) -> float:
        """Traced run only: scan every source once on its own."""
        with self.tracer.span("sources.scan") as s:
            for df in self.sources.values():
                df.write.format("noop").mode("overwrite").save()
        return s.duration

    def sink_stats(self) -> dict[str, float]:
        m = self.last_metrics
        return {
            "sink.rows": m.total_rows if m else 0,
            "sink.bytes": dir_bytes(self.sink),
        }

    # -- correctness --------------------------------------------------------

    def check(self, golden: dict | None = None) -> list[tuple[str, bool, str]]:
        """Check the last iteration's written outputs; one
        (check, passed, detail) entry per check."""
        golden = load_golden() if golden is None else golden
        tables = {
            name: self.spark.read.parquet(os.path.join(self.sink, name))
            for name in golden
        }
        results = []
        sums = checksums(tables)
        observed = {e.entity: e.rows for e in self.last_metrics.entities}
        for name, want in sorted(golden.items()):
            got = sums.get(name)
            results.append(
                (f"golden.{name}", got == tuple(want), f"got {got}, golden {want}")
            )
            rows = observed.get(name)
            results.append(
                (
                    f"observed_rows.{name}",
                    got is not None and rows == got[0],
                    f"RunMetrics {rows}, read back {got and got[0]}",
                )
            )
        results.extend(validation_checks(tables))
        return results


def checksum_columns(schema: T.StructType) -> list[tuple[str, object]]:
    """(name, column) pairs a checksum covers: integer, string and
    boolean columns as they are, timestamps as epoch microseconds."""
    cols = []
    for f in schema.fields:
        t = f.dataType
        if isinstance(t, (T.IntegralType, T.StringType, T.BooleanType)):
            cols.append((f.name, F.col(f.name)))
        elif isinstance(t, (T.TimestampType, T.TimestampNTZType)):
            cols.append((f.name, F.unix_micros(F.col(f.name).cast("timestamp"))))
        elif isinstance(t, T.DateType):
            cols.append((f.name, F.unix_date(F.col(f.name))))
    return cols


def checksums(tables: dict[str, DataFrame]) -> dict[str, tuple[int, int]]:
    """(n_rows, table_checksum) of every table, in one Spark job."""
    parts = []
    for name, df in tables.items():
        cols = checksum_columns(df.schema)
        projected = df.select(*[c.alias(n) for n, c in cols])
        parts.append(
            table_checksum(projected, [n for n, _ in cols]).select(
                F.lit(name).alias("table"),
                "n_rows",
                # an empty table sums to NULL
                F.coalesce("checksum", F.lit(0)).alias("checksum"),
            )
        )
    rows = reduce(DataFrame.unionByName, parts).collect()
    return {r["table"]: (int(r["n_rows"]), int(r["checksum"])) for r in rows}


def validation_checks(t: dict[str, DataFrame]) -> list[tuple[str, bool, str]]:
    """The reference's post-migration checks as validation-operator
    derivations: foreign keys without orphans, fact keys inside their
    dimension, and every lookup table holding exactly the keys of its
    base table. All of them run as one Spark job."""

    def keys(name: str, *cols: str) -> DataFrame:
        return t[name].select(*cols)

    violations = {
        # orphan anti-joins (validate_migration.py's NOT EXISTS checks)
        "orphans.municipality.province_id": orphan_check(
            t["municipality"], t["province"], "province_id", "id"
        ),
        "orphans.parroquia.municipality_id": orphan_check(
            t["parroquia"].filter(F.col("municipality_id").isNotNull()),
            t["municipality"],
            "municipality_id",
            "id",
        ),
        "orphans.participants_by_room.user_id": orphan_check(
            t["participants_by_room"], t["user"], "user_id", "id"
        ),
        "orphans.user_professions.user_id": orphan_check(
            t["user_professions"], t["user"], "user_id", "id"
        ),
        "orphans.user_professions.profession_id": orphan_check(
            t["user_professions"], t["profession"], "profession_id", "id"
        ),
        "orphans.live.channel_id": orphan_check(
            t["live"].filter(F.col("channel_id").isNotNull()),
            t["channel"],
            "channel_id",
            "id",
        ),
        "orphans.docs_roles.docs_id": orphan_check(
            t["docs_roles"], t["docs"], "docs_id", "id"
        ),
        "orphans.docs_roles.role_id": orphan_check(
            t["docs_roles"], t["role"], "role_id", "id"
        ),
        "orphans.p2p_room_by_users.room_id": orphan_check(
            t["p2p_room_by_users"], t["room_details"], "room_id", "room_id"
        ),
        # set membership (message and member room ids ⊆ room_details)
        "membership.messages_by_room.room_id": set_membership_violations(
            t["messages_by_room"], t["room_details"], "room_id"
        ),
        "membership.participants_by_room.room_id": set_membership_violations(
            t["participants_by_room"], t["room_details"], "room_id"
        ),
        "membership.rooms_by_user.room_id": set_membership_violations(
            t["rooms_by_user"], t["room_details"], "room_id"
        ),
    }
    # lookup tables against their base tables: both directions empty
    pairs = {
        "lookup.room_by_message": (
            keys("room_by_message", "message_id", "room_id"),
            keys("messages_by_room", "message_id", "room_id"),
        ),
        "lookup.room_membership_lookup": (
            keys("room_membership_lookup", "user_id", "room_id"),
            keys("participants_by_room", "user_id", "room_id"),
        ),
        "lookup.room_membership_lookup_updated": (
            keys("room_membership_lookup_updated", "user_id", "room_id"),
            keys("room_membership_lookup", "user_id", "room_id"),
        ),
        "lookup.rooms_by_user": (
            keys("rooms_by_user", "user_id", "room_id"),
            keys("participants_by_room", "user_id", "room_id"),
        ),
        "lookup.rooms_by_mongo": (
            keys("rooms_by_mongo", "room_id"),
            keys("room_details", "room_id"),
        ),
        "lookup.users_cassandra": (
            keys("users_cassandra", "user_id"),
            t["user"].select(F.col("id").alias("user_id")),
        ),
    }
    for name, (lookup, base) in pairs.items():
        violations[name] = lookup.exceptAll(base).unionByName(base.exceptAll(lookup))
    counted = [
        df.agg(F.count(F.lit(1)).alias("n")).select(F.lit(name).alias("check"), "n")
        for name, df in violations.items()
    ]
    got = {r["check"]: r["n"] for r in reduce(DataFrame.unionByName, counted).collect()}
    return [
        (name, got.get(name) == 0, f"{got.get(name)} violating rows")
        for name in violations
    ]


def load_golden() -> dict[str, list[int]]:
    with open(GOLDEN) as f:
        return json.load(f)["outputs"]
