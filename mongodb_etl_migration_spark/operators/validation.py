"""Validation-suite operators — SURVEY.md §5 / §2.5 J10–J11.

The reference's scripts/validate_migration.py runs 14 end-to-end checks
as SQL/CQL against its sinks; these are the same checks as reusable
DataFrame derivations over the engine's outputs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def orphan_check(
    child: DataFrame, parent: DataFrame, child_fk: str, parent_key: str
) -> DataFrame:
    """J10: NOT-EXISTS orphan rows — validate_migration.py:594-641.
    Left-anti join; returns the orphan child rows (count() it for the
    pass/fail gate). No distinct on the parent side: anti-join output
    depends only on key EXISTENCE, and the join's hash relation
    dedupes internally — a distinct would add a shuffle+aggregate and
    can push a broadcast-sized parent over the broadcast threshold."""
    keys = parent.select(F.col(parent_key).alias(child_fk))
    return child.join(keys, child_fk, "left_anti")


def set_membership_violations(
    facts: DataFrame, dim: DataFrame, key: str
) -> DataFrame:
    """J11/U1: distinct fact keys missing from the dimension —
    validate_migration.py:183-228 (message room_ids ⊆ room_details).
    The fact side keeps its distinct (it defines the output rows); the
    dimension side needs none (see orphan_check)."""
    return facts.select(key).distinct().join(dim.select(key), key, "left_anti")


def group_count(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """A2: group-by counts — validate_migration.py:656-658."""
    return df.groupBy(*cols).agg(F.count("*").alias("cnt"))


def _canonical_row(cols: Sequence[str]) -> Column:
    """Collision-pinned row serialization shared by table_checksum and
    table_diff: every field LENGTH-PREFIXED (NULL → ``N``, value →
    ``V<len>:<value>``) before the '|' join, so a '|' inside a string
    cannot shift content across columns and no value collides with
    the NULL token. Restrict to integer/string columns — float and
    timestamp stringification is engine-specific."""

    def token(c: str) -> Column:
        s = F.col(c).cast("string")
        return F.when(F.col(c).isNull(), F.lit("N")).otherwise(
            F.concat(
                F.lit("V"), F.length(s).cast("string"), F.lit(":"), s
            )
        )

    return F.concat_ws("|", *[token(c) for c in cols])


def table_checksum(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Order-independent content checksum over selected columns — the
    validation rung above count reconciliation (two tables can match
    counts while disagreeing on every row; the reference's count-only
    gate can't see that). A migration passes when source and target
    checksums agree.

    Per row: md5 over a canonical serialization where every field is
    LENGTH-PREFIXED — NULL → ``N``, value → ``V<len>:<value>`` —
    before the '|' join, so the field boundaries are pinned: a '|'
    inside a string value cannot shift content across columns
    ('a|b','c' vs 'a','b|c' serialize differently), and no string
    value can collide with the NULL token. The row hash is a 60-bit
    integer (15 hex chars of the md5); per table: SUM of the row
    hashes in decimal(38,0), reduced mod 2^62. SUM — not XOR — because
    XOR is blind to even multiplicities (a row duplicated twice XORs
    to zero, so two tables differing only in paired duplicates would
    collide); a sum moves by h per extra copy. The wide-decimal
    accumulator is overflow-safe past 10^37 rows, commutative and
    associative, so it still runs as a map-side-combinable one-pass
    aggregate — at 100 TB the exchange carries one accumulator per
    partition. Restrict ``cols`` to integer/string columns: float and
    timestamp STRINGIFICATION is engine-specific, integer and string
    rendering is not.

    Output: one row (n_rows, checksum) — both bigint.
    """
    canon = _canonical_row(cols)
    row_hash = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast(
        "decimal(38,0)"
    )
    return df.select(row_hash.alias("__h")).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        (F.sum("__h") % F.lit(2**62)).cast("bigint").alias("checksum"),
    )


def table_diff(
    left: DataFrame,
    right: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """Row-level migration diff — the validation rung ABOVE
    table_checksum: when source and target checksums disagree, this
    names the keys that differ and how. The reference's gate stops at
    counts (validate_migration.py:50-131); a checksum says "something
    differs"; the diff says WHICH rows, so a re-migration can be
    targeted instead of full.

    Full-outer join on ``key_cols``; non-key content is compared via
    the same length-prefixed md5 canonicalization as table_checksum
    (one string compare per row regardless of column count — at 100 TB
    the join carries two hash columns, not 2× the table width).
    Output: one row per differing key with status
    'removed' (key only in left) / 'added' (only in right) /
    'changed' (both, content hash differs); matching rows are dropped
    before the output so result size is bounded by the drift, not the
    table. The sole exchange is the key-partitioned join — both sides
    hash-partition on the same keys, and AQE turns it into a broadcast
    when one side's drift set is small.

    ``key_cols`` must be NULL-free and unique per table (primary-key
    contract — the same precondition the reference's per-id spot
    checks assume).
    """
    keys = list(key_cols)
    lh = left.select(
        *keys, F.md5(_canonical_row(compare_cols)).alias("__lh")
    )
    rh = right.select(
        *keys, F.md5(_canonical_row(compare_cols)).alias("__rh")
    )
    j = lh.join(rh, keys, "full_outer")
    status = (
        F.when(F.col("__rh").isNull(), F.lit("removed"))
        .when(F.col("__lh").isNull(), F.lit("added"))
        .when(F.col("__lh") != F.col("__rh"), F.lit("changed"))
    )
    return j.select(*keys, status.alias("status")).filter(
        F.col("status").isNotNull()
    )
