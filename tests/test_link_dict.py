"""Equivalence pin: the per-entity-min link dictionary vs the old path.

Before, ``prepare_link_dict`` elected each surface's canonical form as
the min over a connected component of surfaces joined by shared
entity ids: a driver union-find (``min_id_components``) on one path,
``canonical_mapping`` → ``connected_components`` over xxhash64 surface
ids on the other. After the unique-key filter every surface names one
entity, so that component is one entity's surfaces and the canonical
surface is a per-entity min. The old formulations are copied below
word for word, except that they no longer pass their node list to
``min_id_components``: every node in it is also an endpoint of an edge
they pass. They are compared with the current code on seeded random
NULL-free alias tables, on both sides of the size gate.
"""

import random

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from batch_import_spark.operators.canonicalize import (
    connected_components,
    min_id_components,
)
from batch_import_spark.operators.ids import stable_id
from batch_import_spark.operators.linking import build_unique_alias_dict
from batch_import_spark.pipeline import kg
from batch_import_spark.session import DRIVER_CC_THRESHOLD, local_frame
from batch_import_spark.sources.transcripts import alias_dict_df

# the old prepare_link_dict fills its own stats dict
LAST_DICT_STATS: dict = {}


# --- the replaced formulations, verbatim --------------------------------------


def _old_prepare_link_dict(
    alias_dict: DataFrame, driver_threshold: int = DRIVER_CC_THRESHOLD
) -> DataFrame:
    """alias table → link dictionary
    (surface, entity_id, canonical_surface, canonical_node_id).

    Reference semantics preserved: an ambiguous surface (getSingle≠1,
    LongIterableIndexHits.java:36-38) is EXCLUDED — it neither links
    nor merges entities. Canonical surface = lexicographic min over
    the component of surfaces connected by shared entity ids; node id
    = xxhash64 of that surface (order-free, deterministic).

    Driver path (at most ``driver_threshold`` distinct pairs): the
    union-find runs on the fetched rows and the dictionary comes back
    as a ``session.local_frame`` LocalRelation, so its broadcast and
    the ``nodes_from_dict`` groupBy run in the JVM with no Python
    worker.
    """
    spark = alias_dict.sparkSession
    raw = alias_dict.select(
        F.col("key_value").alias("surface"), F.col("entity_id")
    ).distinct()

    # one job decides the path AND fetches the data: take(T+1) either
    # proves the dict exceeds the driver threshold or returns it whole
    rows = raw.take(driver_threshold + 1)
    LAST_DICT_STATS.clear()
    LAST_DICT_STATS.update(
        {
            "n_fetched": len(rows),
            "driver_threshold": driver_threshold,
            "path": "driver" if len(rows) <= driver_threshold else "distributed",
        }
    )
    if len(rows) <= driver_threshold:
        ents: dict = {}
        for r in rows:
            ents.setdefault(r["surface"], set()).add(r["entity_id"])
        unique = {s: next(iter(es)) for s, es in ents.items() if len(es) == 1}

        first_by_ent: dict = {}
        canon = min_id_components(
            (first_by_ent.setdefault(e, s), s) for s, e in unique.items()
        )
        out = [(s, unique[s], canon[s]) for s in sorted(unique)]
        df = local_frame(
            spark, out, "surface string, entity_id long, canonical_surface string"
        )
        return df.withColumn(
            "canonical_node_id", stable_id(F.col("canonical_surface"))
        )

    # distributed path: unique-key filter + CC, same semantics
    uniq = build_unique_alias_dict(alias_dict, key_col="key_value", id_col="entity_id")
    pairs = uniq.select(
        F.col("key_value").alias("surface"),
        F.col("entity_id"),
        stable_id(F.col("key_value")).alias("surface_id"),
    )
    cc = _old_canonical_mapping(pairs, node_col="surface_id", key_col="entity_id",
                                driver_threshold=0)
    with_comp = pairs.join(cc, pairs.surface_id == cc.node_id).select(
        "surface", "entity_id", "canonical_id"
    )
    canon_surface = with_comp.groupBy("canonical_id").agg(
        F.min("surface").alias("canonical_surface")
    )
    return (
        with_comp.join(canon_surface, "canonical_id")
        .select(
            "surface",
            "entity_id",
            "canonical_surface",
            stable_id(F.col("canonical_surface")).alias("canonical_node_id"),
        )
    )


def _old_canonical_mapping(
    nodes_with_keys: DataFrame,
    node_col: str,
    key_col: str,
    driver_threshold: int = DRIVER_CC_THRESHOLD,
) -> DataFrame:
    """CC over 'same key ⇒ same canonical node' equivalence.

    Small inputs (e.g. an alias dictionary — vocabulary-bounded, not
    corpus-bounded) take a DRIVER-SIDE union-find: the CC analog of a
    broadcast join, skipping ~6 s of iterative-shuffle latency. Large
    inputs run distributed large-star/small-star. Both elect the min
    node id per component — identical, deterministic results.
    """
    pairs_df = nodes_with_keys.select(
        F.col(node_col).alias("node_id"), F.col(key_col).alias("k")
    ).distinct()
    n_pairs = pairs_df.count()
    if n_pairs <= driver_threshold:
        return _old_driver_union_find(pairs_df)

    mins = nodes_with_keys.groupBy(key_col).agg(F.min(node_col).alias("_min_node"))
    star = (
        nodes_with_keys.join(mins, key_col)
        .select(F.col(node_col).alias("u"), F.col("_min_node").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    cc = connected_components(star)
    all_nodes = nodes_with_keys.select(F.col(node_col).alias("node_id")).distinct()
    return (
        all_nodes.join(cc, "node_id", "left")
        .select(
            "node_id",
            F.coalesce("component_id", "node_id").alias("canonical_id"),
        )
    )


def _old_driver_union_find(pairs_df: DataFrame) -> DataFrame:
    """``min_id_components`` over collected (node_id, key) pairs: nodes
    sharing a key are joined through the key's first node."""
    first_by_key: dict = {}
    edges = []
    for r in pairs_df.collect():
        node = r["node_id"]
        edges.append((first_by_key.setdefault(r["k"], node), node))
    comp = min_id_components(edges)
    return local_frame(
        pairs_df.sparkSession, sorted(comp.items()), "node_id long, canonical_id long"
    )


def _old_build_unique_alias_dict(
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


# --- the pins ------------------------------------------------------------------

ALIAS_SCHEMA = (
    "index_name string, key_prop string, key_value string, score double, "
    "kind string, entity_id long"
)
COLS = ["surface", "entity_id", "canonical_surface", "canonical_node_id"]


def _random_aliases(spark, seed: int) -> DataFrame:
    """A NULL-free alias table: surfaces drawn from a small pool (so
    some are shared by two entities and turn ambiguous), one entity
    with 12 surfaces of its own plus 10 pool surfaces, and repeated
    rows."""
    rnd = random.Random(seed)
    pool = [f"S{i:03d}" for i in range(90)]
    pairs = []
    for e in range(40):
        for s in rnd.sample(pool, rnd.randint(1, 4)):
            pairs.append((s, 1000 + e))
    pairs += [(s, 2000) for s in [f"B{i:02d}" for i in range(12)] + rnd.sample(pool, 10)]
    pairs += rnd.choices(pairs, k=len(pairs) // 3)
    rnd.shuffle(pairs)
    rows = [("surfaces", "surface", s, 1.0, "person", e) for s, e in pairs]
    return local_frame(spark, rows, ALIAS_SCHEMA)


def _rows(df: DataFrame) -> list[tuple]:
    return sorted(tuple(r) for r in df.select(COLS).collect())


@pytest.mark.parametrize("seed", [1, 2, 3])
@pytest.mark.parametrize("threshold", [DRIVER_CC_THRESHOLD, 0])
def test_per_entity_min_equals_old_components(spark, monkeypatch, seed, threshold):
    aliases = _random_aliases(spark, seed)
    old = _old_prepare_link_dict(aliases, driver_threshold=threshold)
    monkeypatch.setattr(kg, "DRIVER_CC_THRESHOLD", threshold)
    new = kg.prepare_link_dict(aliases)
    assert kg.LAST_DICT_STATS["path"] == LAST_DICT_STATS["path"]
    assert kg.LAST_DICT_STATS["path"] == ("driver" if threshold else "distributed")
    assert new.schema.simpleString() == old.schema.simpleString()
    got = _rows(new)
    assert got == _rows(old)
    # the inputs exercise what the rule is about
    ents = {e for _, e, _, _ in got}
    assert len(got) < len({r.key_value for r in aliases.collect()})  # ambiguous dropped
    assert sum(1 for _, e, _, _ in got if e == 2000) >= 12
    assert len(ents) > 20


def test_builtin_dictionary_equals_old_on_both_paths(spark, monkeypatch):
    aliases = alias_dict_df(spark)
    for threshold, path in ((DRIVER_CC_THRESHOLD, "driver"), (0, "distributed")):
        monkeypatch.setattr(kg, "DRIVER_CC_THRESHOLD", threshold)
        assert _rows(kg.prepare_link_dict(aliases)) == _rows(
            _old_prepare_link_dict(aliases, driver_threshold=threshold)
        )
        assert kg.LAST_DICT_STATS["path"] == path


def test_driver_path_runs_no_spark_job(spark):
    """Over the builtin dictionary (a LocalRelation) the driver path's
    take is answered from the local rows: building the link dictionary
    starts no Spark job."""
    sc = spark.sparkContext
    group = "link-dict-driver-path"
    sc.setJobGroup(group, group)
    try:
        kg.prepare_link_dict(alias_dict_df(spark))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert kg.LAST_DICT_STATS["path"] == "driver"
    assert kg.LAST_DICT_STATS["n_fetched"] == alias_dict_df(spark).count()
    assert sc.statusTracker().getJobIdsForGroup(group) == []


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_unique_alias_dict_equals_count_distinct(spark, seed):
    """``min(id) = max(id)`` keeps exactly the keys ``count_distinct(id)
    = 1`` kept: duplicate rows, ambiguous keys, a key with ids {NULL, 5}
    (kept), an all-NULL key (dropped) — in one aggregate."""
    rnd = random.Random(seed)
    rows = [(f"k{rnd.randint(0, 40)}", rnd.randint(0, 60), f"x{rnd.randint(0, 9)}") for _ in range(300)]
    rows += rnd.choices(rows, k=100)  # duplicate rows
    rows += [("half_null", None, "a"), ("half_null", 5, "b"), ("all_null", None, "c"), ("all_null", None, "d")]
    rnd.shuffle(rows)
    aliases = local_frame(spark, rows, "key_value string, entity_id long, extra string")
    new = build_unique_alias_dict(aliases)
    old = _old_build_unique_alias_dict(aliases)
    got = sorted(tuple(r) for r in new.collect())
    assert new.columns == old.columns
    assert got == sorted(tuple(r) for r in old.collect())
    keys = {r[0] for r in got}
    assert ("half_null", 5) in got and "all_null" not in keys
    assert 0 < len(keys) < len({r[0] for r in rows}) - 1  # some keys are ambiguous
    # one aggregate: a single shuffle, where count_distinct plans two
    new.collect()
    final = new._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1
