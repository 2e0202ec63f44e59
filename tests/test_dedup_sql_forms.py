"""MinHash SQL templates against plain-Python references.

``with_shingle_column``, ``shingles`` and ``minhash_signatures_narrow``
build their shingle/base-hash/affine expressions as one parsed SQL
fragment each. This file pins them to references computed with
``re`` and ``hashlib.md5`` — over empty/short/NULL texts, duplicate
shingles, unicode, and every affine seed.
"""

from __future__ import annotations

import hashlib
import re

from mongodb_etl_migration_spark.operators.dedup import (
    MINHASH_P,
    affine_params,
    minhash_signatures_narrow,
    shingles,
    with_shingle_column,
)
from mongodb_etl_migration_spark.operators.text import TOKEN_RE

TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "a b",                                   # shorter than k → empty array
    "",
    None,
    "dup dup dup dup dup",                   # duplicate shingles collapse
    "ñ unicode 💡 tokens here and more",
    "x " * 200,
]


def _ref_shingles(text: str | None, k: int = 3) -> list[str]:
    """Distinct k-token shingles in first-occurrence order."""
    toks = re.findall(TOKEN_RE, text.lower()) if text is not None else []
    out: list[str] = []
    for i in range(len(toks) - k + 1):
        sh = " ".join(toks[i : i + k])
        if sh not in out:
            out.append(sh)
    return out


def _ref_base_hash(shingle: str) -> int:
    return int(hashlib.md5(shingle.encode()).hexdigest()[:15], 16) % MINHASH_P


def test_shingle_sql_matches_column_form(spark):
    """with_shingle_column and shingles equal the Python shingler."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id int, text string"
    )
    arrays = {
        r["doc_id"]: r["_shingles"]
        for r in with_shingle_column(df, "doc_id", "text").collect()
    }
    rows: dict[int, set[str]] = {}
    for r in shingles(df, "doc_id", "text").collect():
        rows.setdefault(r["doc_id"], set()).add(r["shingle"])
    for i, t in enumerate(TEXTS):
        want = _ref_shingles(t)
        assert arrays[i] == want, repr(t)
        assert rows.get(i, set()) == set(want), repr(t)


def test_minhash_narrow_sql_matches_column_form(spark):
    """Every signature equals min over shingles of (a*h + b) mod p with
    h the md5-derived base hash; fewer than k tokens → all NULL."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id int, text string"
    )
    got = {
        r["doc_id"]: r
        for r in minhash_signatures_narrow(df, "doc_id", "text").collect()
    }
    for i, t in enumerate(TEXTS):
        hs = [_ref_base_hash(s) for s in _ref_shingles(t)]
        for j, (a, b) in enumerate(affine_params(16)):
            want = min(((a * h + b) % MINHASH_P for h in hs), default=None)
            assert got[i][f"sig_{j}"] == want, (i, j)
