"""The ``catalog_headline`` workload: the 18 headline catalog queries,
each built and its result collected, over generated TPC-H-style tables.

The tables have the schemas and value ranges of the package's testdata
(TESTDATA.md) at scale factor 0.01: region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings. They
are generated here, from a fixed seed, so the benchmark needs nothing
outside its checkout; the workload is the same for every ``--seed``.
Correctness is checked against golden digests of the queries' DuckDB
oracle results on these tables (``make_golden.py`` writes them).
"""

from __future__ import annotations

import hashlib
import json
import os
from datetime import datetime, timezone
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from mongodb_etl_migration_spark.queries import QUERIES

from perfbench.tracer import SparkCounters, Tracer, catalyst_phases
from tests.oracle_compare import _spark_container_cols, canonical_rows

# bench.py's HEADLINE set, fixed here so the workload cannot drift
HEADLINE = (
    "a1_pricing_summary",
    "j6_denormalized_view",
    "j1_fk_resolution",
    "d2_minhash_lsh_pairs",
    "sim_topk_bruteforce",
    "t_text_stats",
    "e_windowed_counts",
    "j9_hierarchy_resolution",
    "k1_uuid5",
    "o2_global_topk",
    "t_curation_pipeline",
    "e_sessionization",
    "t_gopher_repetition",
    "t_bm25_retrieval",
    "sim_bitext_margin",
    "c_sft_tokens",
    "m_image_neardup",
    "m_audio_neardup",
)

DATA_SEED = 20240101
# rows per table (TESTDATA.md's sf0.01)
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
GOLDEN = Path(__file__).resolve().parent / "golden_catalog.json"

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window big small group data column join order "
    "customer query stream filter vector"
).split()
_ADJ = "small red hot old large blue green dark".split()
_NOUN = "ring widget plate rod bolt gear pipe valve".split()


def _ts(start: datetime, micros: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=timezone.utc).timestamp() * 1_000_000)
    return pa.array(base + micros.astype(np.int64), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """Every catalog table as an Arrow table; the same seed gives the
    same bytes."""
    rng = np.random.default_rng(seed)
    n = SIZES
    day = 86_400_000_000
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(rng.integers(0, 5, 25), i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n["customer"]), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                n["customer"],
            ),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n["supplier"]), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    parts = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(parts), i64),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, parts), rng.integers(0, 8, parts))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, parts)],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], parts
            ),
            "p_size": pa.array(rng.integers(1, 51, parts), i32),
            "p_retailprice": np.round(900.0 + (np.arange(parts) % 1000) * 0.1, 2),
        }
    )
    orders = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(orders), i64),
            "o_custkey": pa.array(rng.integers(0, n["customer"], orders), i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], orders),
            "o_totalprice": _money(rng, 1000.0, 500000.0, orders),
            "o_orderdate": _ts(
                datetime(1995, 1, 1), rng.integers(0, 2400, orders) * day
            ),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], orders
            ),
        }
    )
    lines = n["lineitem"]
    qty = rng.integers(1, 51, lines).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, orders, lines), i64),
            "l_partkey": pa.array(rng.integers(0, parts, lines), i64),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], lines), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, lines), i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, lines), 2),
            "l_discount": rng.integers(0, 11, lines) / 100.0,
            "l_tax": rng.integers(0, 9, lines) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], lines),
            "l_linestatus": rng.choice(["F", "O"], lines),
            "l_shipdate": _ts(datetime(1995, 1, 2), rng.integers(0, 2500, lines) * day),
        }
    )
    events = n["events"]
    gaps = rng.integers(1, 2 * 30 * day // events, events)
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(events), i64),
            "ts": _ts(datetime(2024, 1, 1), np.cumsum(gaps)),
            "user_id": pa.array(rng.integers(0, 150, events), i64),
            "event_type": rng.choice(
                ["click", "error", "purchase", "signup", "view"], events
            ),
            "value": np.round(rng.exponential(50.0, events), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, events)],
        }
    )
    docs = n["documents"]
    texts: list[str] = []
    for i in range(docs):
        if i > 20 and rng.random() < 0.05:
            # a near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(_WORDS, int(rng.integers(10, 90)))
            texts.append(" ".join(words))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(docs), i64),
            "text": texts,
            "lang": rng.choice(
                ["en", "de", "es", "fr", "zh"], docs, p=[0.44, 0.14, 0.14, 0.14, 0.14]
            ),
            "source": [f"src{i % 20}" for i in range(docs)],
            "n_chars": pa.array([len(s) for s in texts], i64),
        }
    )
    vecs = n["embeddings"]
    labels = rng.integers(0, 10, vecs)
    centers = rng.normal(size=(10, 64))
    emb = centers[labels] * 0.15 + rng.normal(size=(vecs, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(vecs), i64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    return t


def write_tables(out_dir: str, seed: int = DATA_SEED) -> None:
    """Write every table to ``out_dir/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def result_digest(pdf) -> dict:
    """Row count, column names and a SHA-256 over the order-insensitive
    canonical rows of ``tests/oracle_compare.py``."""
    h = hashlib.sha256()
    for row in canonical_rows(pdf):
        h.update("\x1f".join(row).encode())
        h.update(b"\n")
    return {"rows": len(pdf), "columns": sorted(pdf.columns), "sha256": h.hexdigest()}


def load_golden() -> dict[str, dict]:
    with open(GOLDEN) as f:
        return json.load(f)["queries"]


class CatalogHeadline:
    """One run's catalog tables, query results and checks; the seed
    does not change the workload."""

    def __init__(self, spark: SparkSession, workdir: str, seed: int, tracer: Tracer):
        self.spark = spark
        self.tracer = tracer
        self.data = os.path.join(workdir, "sf")
        self.counters: SparkCounters | None = None
        self.queries = HEADLINE
        # the last iteration's result of each query, for the check
        self.results: dict[str, tuple[list[str], object]] = {}

    def stage(self) -> dict[str, float]:
        with self.tracer.span("fixtures.generate") as gen:
            write_tables(self.data)
        return {"fixtures.generate_s": gen.duration}

    def check(self, golden: dict | None = None) -> list[tuple[str, bool, str]]:
        """Compare the last iteration's result of every query with the
        golden digest of its DuckDB oracle."""
        golden = load_golden() if golden is None else golden
        results = []
        for name in self.queries:
            bad, pdf = self.results.get(name, ([], None))
            got = None if bad or pdf is None else result_digest(pdf)
            want = golden.get(name)
            detail = (
                f"unhashable columns {bad}" if bad else f"got {got}, golden {want}"
            )
            results.append((f"oracle.{name}", got is not None and got == want, detail))
        return results

    def iteration(self, traced: bool) -> list[tuple[str, float]]:
        """One pass: build each query and collect its result. Returns
        one (query, seconds) sample per query."""
        tr = self.tracer
        samples = []
        self.results = {}
        for name in self.queries:
            with tr.span(f"query.{name}") as q:
                before = self.counters.job_ids() if traced else None
                with tr.span("catalog.construct"):
                    df = QUERIES[name](self.spark, self.data)
                if traced:
                    with tr.span("catalyst.plan") as plan:
                        plan.counts.update(catalyst_phases(df))
                with tr.span("catalog.exec"):
                    pdf = df.toPandas()
                if traced:
                    q.counts["jobs"] = len(set(self.counters.job_ids()) - set(before))
            self.results[name] = (_spark_container_cols(df), pdf)
            samples.append((name, q.duration))
        return samples

    def reset(self) -> None:
        pass

    def sink_stats(self) -> dict[str, float]:
        return {}
