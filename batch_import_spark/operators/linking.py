"""Entity linking: the reference's exact-index lookup as a join.

Reference semantics (SURVEY.md §2.3):
- J1: endpoint key ``(property, value)`` → node-id via a named exact
  index; ``getSingle()`` returns a hit only when it is UNIQUE
  (Importer.java:129-132, 177-184; LongIterableIndexHits.java:36-38);
- P7/J3: an edge with ANY unresolved endpoint is skipped and counted
  (Importer.java:149-152, 160-162; tested ImporterTest.java:137-145).

Spark realization: pre-aggregate the alias dictionary to unique keys
(ambiguous key → dropped ⇒ later join miss ⇒ skip, exactly
getSingle-→null), then a BROADCAST left equi-join and a null filter
with ``df.observe`` counters for the skipped side. When the dict
outgrows the broadcast threshold, Catalyst/AQE falls back to a shuffle
hash join on its own — no code change (MapDB cache analog, J2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_unique_alias_dict(
    alias_df: DataFrame,
    key_col: str = "key_value",
    id_col: str = "entity_id",
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Collapse an alias table to unique-key entries.

    A key mapping to >1 distinct entity id is AMBIGUOUS and removed —
    the reference's ``getSingle()`` yields null unless exactly one hit.
    Duplicate rows for the same (key, id) are fine (count distinct ids).
    """
    extra = extra_cols or []
    agg = [F.count_distinct(F.col(id_col)).alias("_n_ids"), F.min(id_col).alias(id_col)]
    agg += [F.min(c).alias(c) for c in extra]
    return (
        alias_df.groupBy(key_col)
        .agg(*agg)
        .where(F.col("_n_ids") == 1)
        .drop("_n_ids")
    )
