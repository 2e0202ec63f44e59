"""Vector helpers (one SQL template each) against numpy references.

``operators/similarity.py`` builds every vector helper as ONE parsed
SQL fragment over column NAMES. This file pins those expressions to
independent numpy/Python references over the edge shapes that could
go wrong (empty / NULL / NULL-element / unequal-length arrays,
integer inputs, negative zero and extreme-exponent plane literals —
the repr()-based double serialization must round-trip exactly), and
pins ``text.sql_ref`` to the name rules of ``F.col``.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from mongodb_etl_migration_spark.operators.similarity import (
    _dvec,
    dot,
    hyperplane_bucket,
    norm,
)
from mongodb_etl_migration_spark.operators.text import sql_ref

ROWS = [
    (1, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
    (2, [], []),
    (3, None, [1.0, 2.0]),
    (4, [1.0, None, 3.0], [1.0, 1.0, 1.0]),
    (5, [1.0, 2.0], [1.0, 2.0, 3.0]),          # unequal → zip_with pads NULL
    (6, [-0.0, 0.0], [1.0, -1.0]),
    (7, [1e-300, -1e300], [1e300, 1e-300]),
    (8, [-1.5, 2.5], None),
]

PLANES = [
    [1.0, -1.0, 0.5],
    [-0.0, 1e-300, -2.5e17],
    [0.1, 0.2, 0.30000000000000004],            # non-terminating binary reprs
]


def _np_dot(a, b):
    """SQL semantics of aggregate(zip_with(a, b, *), 0.0, +): NULL for a
    NULL side, an unequal length (zip_with pads NULL) or a NULL element."""
    if a is None or b is None or len(a) != len(b):
        return None
    if any(x is None for x in a) or any(x is None for x in b):
        return None
    with np.errstate(over="ignore", under="ignore"):
        return float(np.sum(np.multiply(a, b, dtype=np.float64)))


def _np_norm(a):
    if a is None or any(x is None for x in a):
        return None
    with np.errstate(over="ignore", under="ignore"):
        sq = np.square(np.asarray(a, dtype=np.float64))
        return float(np.sqrt(np.sum(sq)))


def _np_bucket(v):
    """Sign bits against PLANES; a NULL dot product takes the '0' branch."""
    bits = []
    for p in PLANES:
        d = _np_dot(v, p)
        bits.append("1" if d is not None and d >= 0 else "0")
    return "".join(bits)


def _same(got, want):
    if isinstance(got, float) and isinstance(want, float):
        return got == want or (math.isnan(got) and math.isnan(want)) or (
            math.isclose(got, want, rel_tol=1e-12)
        )
    return got == want


@pytest.fixture(scope="module")
def vec_df(spark):
    return spark.createDataFrame(
        ROWS, "id int, a array<double>, b array<double>"
    )


def test_dot_sql_matches_column_form(vec_df):
    """dot() equals the numpy dot product on every edge row."""
    for r in vec_df.select("id", "a", "b", dot("a", "b").alias("d")).collect():
        assert _same(r["d"], _np_dot(r["a"], r["b"])), (r["id"], r["d"])


def test_norm_sql_matches_column_form(vec_df):
    """norm() equals the numpy L2 norm (inf on overflow, NULL on NULL)."""
    for r in vec_df.select("id", "a", norm("a").alias("n")).collect():
        assert _same(r["n"], _np_norm(r["a"])), (r["id"], r["n"])


def test_dvec_sql_matches_column_form(spark):
    """_dvec() casts every element to double, keeping NULLs."""
    df = spark.createDataFrame(
        [(1, [1, 2, 3]), (2, []), (3, None), (4, [-7, None])],
        "id int, a array<int>",
    )
    for r in df.select("a", _dvec("a").alias("v")).collect():
        want = None if r["a"] is None else [
            None if x is None else float(x) for x in r["a"]
        ]
        assert r["v"] == want


def test_hyperplane_bucket_sql_matches_column_form(spark, vec_df):
    """Bucket bits equal numpy's sign bits — non-NULL vectors, the
    NULL vector and the unequal-length (NULL dot) plane shapes. The
    last two vectors sit on a plane's sign boundary, so a plane
    literal that did not round-trip exactly (1e-300 or
    0.30000000000000004) would flip their bit."""
    edge = spark.createDataFrame(
        [(9, [1.0, -1.0, 0.0]), (10, [-1.0, -1.0, 1.0])],
        "id int, a array<double>",
    )
    out = (
        vec_df.select("id", "a")
        .union(edge)
        .select("id", "a", hyperplane_bucket("a", PLANES).alias("b"))
        .collect()
    )
    for r in out:
        assert r["b"] == _np_bucket(r["a"]), (r["id"], r["b"])
    got = {r["id"]: r["b"] for r in out}
    assert (got[1], got[9], got[10]) == ("101", "100", "101")


def test_dotted_names_fall_back_to_column_path(spark):
    """A dotted name resolves a nested field exactly like F.col (the
    helpers render names through sql_ref)."""
    df = spark.createDataFrame(
        [(1, ([1.0, 2.0], [3.0, 4.0]))],
        "id int, s struct<vec:array<double>, w:array<double>>",
    )
    out = df.select(
        dot("s.vec", "s.w").alias("d"),
        norm("s.vec").alias("n"),
        _dvec("s.vec").alias("v"),
        hyperplane_bucket("s.vec", PLANES).alias("b"),
    ).collect()[0]
    assert out["d"] == 11.0
    assert out["n"] == _np_norm([1.0, 2.0])
    assert out["v"] == [1.0, 2.0]
    assert out["b"] == _np_bucket([1.0, 2.0])


def test_sql_ref_matches_f_col(spark):
    """sql_ref renders a name exactly as F.col parses it: a nested
    struct field, a backticked top-level column whose name holds a
    dot, a name with a space, and an embedded doubled backtick."""
    df = spark.createDataFrame(
        [((1,), 2, 3, 4)],
        "s struct<x:int>, `a.b` int, `a b` int, `we``ird` int",
    )
    cases = {
        "s.x": "`s`.`x`",
        "`a.b`": "`a.b`",
        "a b": "`a b`",
        "`we``ird`": "`we``ird`",
    }
    for name, rendered in cases.items():
        assert sql_ref(name) == rendered
        want = df.select(F.col(name).alias("v")).collect()
        got = df.select(F.expr(sql_ref(name)).alias("v")).collect()
        assert got == want, name
    for bad in ("a..b", "`a", "`a`b", "a."):
        with pytest.raises(ValueError):
            sql_ref(bad)


def test_nonfinite_plane_literals_match_column_form(spark):
    """ADVICE r14: repr() spells non-finite floats 'inf'/'nan', which
    the SQL parser rejects — _f8_sql must emit the CAST spelling so
    both forms build AND agree."""
    import math

    from mongodb_etl_migration_spark.operators.similarity import (
        _f8_sql,
        lit_vec,
        lit_vec_sql,
    )

    assert _f8_sql(float("inf")) == "cast('Infinity' as double)"
    assert _f8_sql(float("-inf")) == "cast('-Infinity' as double)"
    assert _f8_sql(float("nan")) == "cast('NaN' as double)"
    v = [1.5, float("inf"), float("-inf"), float("nan")]
    got_sql = spark.sql(f"select {lit_vec_sql(v)} as v").collect()[0]["v"]
    got_col = spark.range(1).select(lit_vec(v).alias("v")).collect()[0]["v"]
    assert got_sql[:3] == got_col[:3] == [1.5, math.inf, -math.inf]
    assert math.isnan(got_sql[3]) and math.isnan(got_col[3])


def test_pq_sql_form_matches_column_form(spark):
    """r15: pq_encode/ivf_pq_topk build their per-subspace argmin as
    ONE parsed SQL expression (_pq_best_sql) instead of per-element
    F.lit Column chatter (~4 s construction per PQ query). The SQL
    form must stay value-equal to the original Column tree — pinned
    here over md5-derived subvectors incl. tie shapes (equal d2 →
    smaller code wins via struct ordering)."""
    import hashlib

    from mongodb_etl_migration_spark.operators.similarity import (
        _pq_best_sql,
    )

    def h(s, lo, hi):
        v = int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
        return v % (hi - lo) + lo

    book = [
        [h(f"b{c}:{e}", -50, 50) for e in range(4)] for c in range(6)
    ]
    book[3] = list(book[1])  # duplicate centroid: forced d2 tie
    rows = [
        (i, [h(f"v{i}:{e}", -50, 50) for e in range(4)]) for i in range(40)
    ] + [(100, list(book[1])), (101, [0, 0, 0, 0])]
    df = spark.createDataFrame(rows, "id int, sub array<bigint>")

    def column_form(sub):
        return F.array_min(
            F.array(
                *[
                    F.struct(
                        F.aggregate(
                            F.zip_with(
                                sub,
                                F.array(
                                    *[
                                        F.lit(int(v)).cast("long")
                                        for v in cvec
                                    ]
                                ),
                                lambda a, b: (a - b) * (a - b),
                            ),
                            F.lit(0).cast("long"),
                            lambda acc, x: acc + x,
                        ).alias("d2"),
                        F.lit(c).cast("int").alias("code"),
                    )
                    for c, cvec in enumerate(book)
                ]
            )
        )

    out = df.select(
        F.expr(_pq_best_sql("`sub`", book)).alias("s"),
        column_form(F.col("sub")).alias("c"),
    ).collect()
    for r in out:
        assert r["s"] == r["c"]
    # the duplicated centroid's tie resolves to the smaller code
    tie = df.filter("id = 100").select(
        F.expr(_pq_best_sql("`sub`", book)).alias("s")
    ).collect()[0]["s"]
    assert tie["code"] == 1 and tie["d2"] == 0
