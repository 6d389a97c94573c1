"""Skew-defusing salted join.

A shuffle equi-join sends every row of a key to ONE reducer; at
10^12-turn scale one hot conversation / hot entity makes that reducer
the whole job's critical path (the "curse of the last reducer"). AQE
skew-join splitting handles sort-merge cases after the fact; this
operator is the explicit, planner-independent fix for the classic
big-skewed ⋈ small-ish shape:

- LEFT (big, skewed) rows get a deterministic salt in [0, N_SALTS)
  hashed from the whole row — NO rand(), so retries and re-runs
  produce identical placement;
- RIGHT rows are replicated once per salt (explode of a literal
  sequence — cost N_SALTS × |right|, which is why right should be the
  smaller side);
- the join key becomes (key, salt): the hot key's rows now land on
  N_SALTS reducers instead of one.

Result set is IDENTICAL to the plain join (verified property-style in
tests); only the physical distribution changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: reducers each hot left key is spread across
N_SALTS = 8


def _xxhashable(dt: T.DataType) -> bool:
    """xxhash64 rejects MapType anywhere in the type tree (maps have no
    canonical entry order, so they're not hashable in Spark)."""
    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _xxhashable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_xxhashable(f.dataType) for f in dt.fields)
    return True


def salted_join(left: DataFrame, right: DataFrame, on: list[str]) -> DataFrame:
    """Inner equi-join of ``left`` and ``right`` on ``on`` with the left
    side's hot keys spread across ``N_SALTS`` reducers.

    The salt is hashed from the left row's *hashable* columns (map-typed
    columns are skipped — xxhash64 can't hash them); the internal salt
    column name is chosen to not collide with any existing column on
    either side. Rows identical in every hashable column land on the
    same salt — acceptable, since indistinguishable rows gain nothing
    from being split."""
    hashable = [f.name for f in left.schema.fields if _xxhashable(f.dataType)]
    if not hashable:
        raise ValueError("salted_join: no hashable columns on the left side")
    salt_col = "_salt"
    taken = set(left.columns) | set(right.columns)
    while salt_col in taken:
        salt_col += "_"
    salt = F.pmod(F.xxhash64(F.struct(*hashable)), F.lit(N_SALTS))
    l_salted = left.withColumn(salt_col, salt.cast("int"))
    r_salted = right.withColumn(
        salt_col, F.explode(F.sequence(F.lit(0), F.lit(N_SALTS - 1)))
    )
    out = l_salted.join(r_salted, [*on, salt_col])
    return out.drop(salt_col)
