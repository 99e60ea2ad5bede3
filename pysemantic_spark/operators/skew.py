"""Skew handling: deterministic salts for pathological conversations.

A 10^12-turn table partitioned by hashed conv_id can contain conversations
with 10^8 turns (FIXTURES.md skew fixture). Keyed on conv_id alone, such a
conversation lands in ONE task. A salt in [0, salt_factor) taken from a
hash of within-key columns spreads it over ``salt_factor`` tasks while
staying deterministic:

- :func:`salt_expr` — the salt column. ``ParquetManifestIO.write_bucketed``
  repartitions its write on (bucket, salt).
- :func:`salted_group_count` — two-stage ``groupBy(key).count()``: partial
  count per (key, salt), then a sum per key. Its result does not depend on
  salt_factor (tests/test_drift_and_skew.py).
- :func:`hashable_cols` — the default entropy columns (every column
  xxhash64 can take).

AQE skew-join splitting handles *join* skew at runtime; the salt handles
*partitioning/agg* skew, which AQE does not re-balance for custom layouts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT_COL = "_salt"


def hashable_cols(df: DataFrame) -> tuple[str, ...]:
    """Columns xxhash64 can take — MapType (unordered, unhashable) is
    excluded. Used wherever entropy/row hashes default to 'all columns'."""
    from pyspark.sql import types as T

    def ok(dt) -> bool:
        if isinstance(dt, T.MapType):
            return False
        if isinstance(dt, T.ArrayType):
            return ok(dt.elementType)
        if isinstance(dt, T.StructType):
            return all(ok(f.dataType) for f in dt.fields)
        return True

    return tuple(f.name for f in df.schema.fields if ok(f.dataType))


def salt_expr(salt_factor: int, *entropy_cols: str) -> Column:
    """Deterministic salt in [0, salt_factor): hash of within-key entropy
    columns (e.g. turn_idx), NOT random — reruns repartition identically,
    which the checkpoint/resume manifest relies on. Entropy columns are
    required: a nondeterministic fallback (monotonically_increasing_id)
    would corrupt data on stage retries when used as a shuffle key."""
    if salt_factor <= 1:
        return F.lit(0)
    if not entropy_cols:
        raise ValueError(
            "salt_expr needs entropy columns — pass within-key varying "
            "columns (e.g. turn_idx), or all data columns"
        )
    cols = [F.col(c) for c in entropy_cols]
    return F.pmod(F.xxhash64(*cols), F.lit(salt_factor)).cast("int")


def salted_group_count(
    df: DataFrame, key_cols: list[str], salt_factor: int = 8,
    entropy_cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """Two-stage skew-safe ``groupBy(key).count()``:
    partial count per (key, salt) → final sum per key.
    Returns (key_cols..., cnt). Equivalent to the one-stage plan for any
    salt_factor ≥ 1 (Spark's partial agg already map-combines; the explicit
    salt guarantees no single reducer owns a mega-key's final merge)."""
    cols = tuple(entropy_cols) if entropy_cols else hashable_cols(df)
    salted = df.withColumn(SALT_COL, salt_expr(salt_factor, *cols))
    partial = salted.groupBy(*key_cols, SALT_COL).agg(F.count(F.lit(1)).alias("__c"))
    return partial.groupBy(*key_cols).agg(F.sum("__c").alias("cnt"))
