"""End-to-end KG construction: extract → link → canonicalize → materialize.

The Spark-native replacement for the reference's import pipeline
(Importer.doImport, Importer.java:225-241): where the reference
streams CSV rows into Neo4j store files single-threaded, we run

    transcripts ──salted repartition──▶ extract (pandas/Arrow UDF)
        ──broadcast link-dict join──▶ linked + canonicalized mentions
        ──triple-grain agg──▶ edges; dictionary → nodes

Phase barriers mirror the reference (all nodes before rels,
Importer.java:227-233): the link dictionary (unique-key filter +
canonical-surface election) is materialized before the mention join.

Scale design (100 TB / 1000 executors):
- hot-conversation skew is defused BEFORE the Python-kernel stage by a
  deterministic salted repartition on (conv_id, turn_idx) — no rand(),
  reproducible at any parallelism;
- the link dictionary is vocabulary-bounded, not corpus-bounded: when
  it fits the driver (≤ DICT_DRIVER_THRESHOLD entries) its unique-key filter AND
  connected-components canonicalization run driver-side (union-find) —
  the CC analog of a broadcast join, saving ~10 s of iterative-shuffle
  latency per run; past the threshold both fall back to the
  distributed groupBy/CC path with identical min-election semantics;
- one broadcast join per mention endpoint resolves surface →
  (canonical surface, canonical node id) in a single lookup — linking
  and canonicalization fused;
- edges are deduplicated to the (subj, pred, obj) triple grain with an
  occurrence count (map-side partial agg), so output size is
  vocabulary-bounded; provenance stays available pre-dedup.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from batch_import_spark.operators.canonicalize import canonical_mapping, min_id_components
from batch_import_spark.operators.ids import stable_id
from batch_import_spark.operators.linking import build_unique_alias_dict
from batch_import_spark.pipeline.extract import extract_mentions

# Max dictionary entries fetched to the driver for the union-find fast
# path. 500k (surface, id) string rows ≈ 25-75 MB on the driver heap —
# comfortably below broadcast-size territory; beyond it the distributed
# groupBy/CC path takes over with identical semantics.
DICT_DRIVER_THRESHOLD = 500_000


# observability for the broadcast-vs-shuffle dictionary decision:
# filled by prepare_link_dict on every call (n_fetched, threshold, path)
LAST_DICT_STATS: dict = {}


@dataclass
class KgResult:
    nodes: DataFrame  # node_id, name, surfaces array<string>, entity_id
    edges: DataFrame  # subj_id, subj, pred, obj_id, obj, n_occurrences, provenance
    triples: DataFrame  # (subj, pred, obj) canonical surface strings (P/R surface)
    _observations: tuple = ()  # pipeline Observations backing .metrics
    _metrics: dict = field(default_factory=dict)

    @property
    def metrics(self) -> dict:
        """Merged pipeline counters (n_turns, n_mentions, n_linked, …).

        Observations fill on the first Spark action over the observed
        plan. If the caller hasn't run one yet (e.g. no write path was
        configured), first access runs a count over ``edges`` so the
        counters are always available instead of silently ``{}``.
        """
        if not self._metrics and self._observations:

            def _ready(o) -> bool:
                jo = getattr(o, "_jo", None)
                return jo is not None and not jo.getRowOrEmpty().isEmpty()

            if not all(_ready(o) for o in self._observations):
                self.edges.count()
            self._metrics = {
                k: v for o in self._observations for k, v in o.get.items()
            }
        return self._metrics


def salted_repartition(
    df: DataFrame, num_partitions: int, *keys: str, salt_buckets: int | None = None
) -> DataFrame:
    """Deterministic skew-defusing repartition.

    Salt = xxhash64 of ALL key columns (e.g. conv_id + turn_idx), so a
    hot conv_id spreads across partitions while staying reproducible
    (no rand()).

    By default the repartition hashes the FULL 64-bit salt — hash
    partitioning on a low-cardinality bucket column caps fill at the
    bucket count (64 buckets would fill at most 64 of 1000 executors'
    partitions, a silent parallelism ceiling at scale). Pass
    ``salt_buckets`` only when a coarser co-grouping is wanted, and it
    is floored at 4×num_partitions so it can never cap parallelism.
    """
    salt = F.xxhash64(*[F.col(k) for k in keys])
    if salt_buckets is not None:
        salt = F.pmod(salt, F.lit(max(salt_buckets, 4 * num_partitions)))
    return df.repartition(num_partitions, salt)


def prepare_link_dict(
    alias_dict: DataFrame, driver_threshold: int = DICT_DRIVER_THRESHOLD
) -> DataFrame:
    """alias table → link dictionary
    (surface, entity_id, canonical_surface, canonical_node_id).

    Reference semantics preserved: an ambiguous surface (getSingle≠1,
    LongIterableIndexHits.java:36-38) is EXCLUDED — it neither links
    nor merges entities. Canonical surface = lexicographic min over
    the component of surfaces connected by shared entity ids; node id
    = xxhash64 of that surface (order-free, deterministic).
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
            ((first_by_ent.setdefault(e, s), s) for s, e in unique.items()), unique
        )
        out = [(s, unique[s], canon[s]) for s in sorted(unique)]
        df = spark.createDataFrame(
            out, "surface string, entity_id long, canonical_surface string"
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
    cc = canonical_mapping(pairs, node_col="surface_id", key_col="entity_id",
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


def link_and_canonicalize(
    mentions: DataFrame, link_dict: DataFrame
) -> tuple[DataFrame, Observation]:
    """Resolve both mention endpoints through the broadcast dictionary.

    One broadcast left-join per endpoint yields (canonical surface,
    canonical node id) directly; unresolved/ambiguous mentions are
    dropped AND counted (P7: Importer.java:149-152).
    """
    d = F.broadcast(
        link_dict.select("surface", "canonical_surface", "canonical_node_id")
    )
    subj_d = d.select(
        F.col("surface").alias("subj_surface"),
        F.col("canonical_surface").alias("subj"),
        F.col("canonical_node_id").alias("subj_id"),
    )
    obj_d = d.select(
        F.col("surface").alias("obj_surface"),
        F.col("canonical_surface").alias("obj"),
        F.col("canonical_node_id").alias("obj_id"),
    )
    joined = mentions.join(subj_d, "subj_surface", "left").join(
        obj_d, "obj_surface", "left"
    )
    if joined.isStreaming:
        # Observation doesn't support streams — per-microbatch metrics
        # come from StreamingQueryProgress instead
        resolved = joined.where(
            F.col("subj_id").isNotNull() & F.col("obj_id").isNotNull()
        )
        return resolved, None
    obs = Observation()
    observed = joined.observe(
        obs,
        F.count(F.lit(1)).alias("n_mentions"),
        F.sum((F.col("subj_id").isNotNull() & F.col("obj_id").isNotNull()).cast("long")).alias(
            "n_linked"
        ),
        F.sum((F.col("subj_id").isNull() | F.col("obj_id").isNull()).cast("long")).alias(
            "n_skipped"
        ),
    )
    resolved = observed.where(
        F.col("subj_id").isNotNull() & F.col("obj_id").isNotNull()
    )
    return resolved, obs


def nodes_from_dict(link_dict: DataFrame) -> DataFrame:
    return link_dict.groupBy(F.col("canonical_node_id").alias("node_id")).agg(
        F.min("canonical_surface").alias("name"),
        F.sort_array(F.collect_set("surface")).alias("surfaces"),
        F.min("entity_id").alias("entity_id"),
    )


def merge_kg_edges(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Incremental KG maintenance: fold a new batch's edge table into
    the standing one.

    The edge table is a MERGEABLE aggregate — counts sum, first/last
    seen take min/max — because canonical ids come from the shared
    link dictionary, not from corpus-dependent state, so
    merge(edges(A), edges(B)) == edges(A ∪ B) exactly (pinned by
    tests/test_kg_pipeline.py and the `kg_incremental` driver oracle).
    At 10^12-turn scale this is the continuous-ingest path: each
    landing batch runs extract→link→aggregate on its own data only,
    then one vocabulary-sized merge shuffle updates the graph —
    nothing ever reprocesses the standing corpus. (Dictionary GROWTH
    is handled upstream: prepare_link_dict is deterministic in the
    alias table, and a changed dictionary is a re-canonicalization,
    the same event it is for the reference's index rebuild.)
    """
    return (
        existing.unionByName(delta)
        .groupBy("subj_id", "subj", "pred", "obj_id", "obj")
        .agg(
            F.sum("n_occurrences").alias("n_occurrences"),
            F.min("first_seen").alias("first_seen"),
            F.max("last_seen").alias("last_seen"),
        )
    )


def run_kg_pipeline(
    transcripts: DataFrame,
    alias_dict: DataFrame,
    num_partitions: int | None = None,
    nodes_out: str | None = None,
    edges_out: str | None = None,
    link_dict: DataFrame | None = None,
    extraction: str = "pandas",
    salt_input: bool = False,
    write_mode: str = "overwrite",
) -> KgResult:
    """Run the full pipeline; optionally materialize Parquet tables.

    Pass a pre-built ``link_dict`` (prepare_link_dict) to amortize
    dictionary prep across repeated runs. ``extraction``: "pandas"
    (Arrow-batched kernel, the general path) or "expr" (pure JVM
    regexp expressions — identical output for regex-expressible
    grammars, no Python workers).
    """
    spark = transcripts.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # Salting (OFF by default — BENCH/BASELINE.md) re-spreads a
    # conversation-clustered source (e.g. an Iceberg table partitioned
    # by conv bucket with a hot conversation) before the extraction
    # kernel. When the source's splits are already byte-even (plain
    # file splits usually are), keep it off: extraction is a narrow
    # map and the shuffle of full-text rows is pure bandwidth cost.
    if salt_input:
        t = salted_repartition(transcripts, num_partitions, "conv_id", "turn_idx")
    else:
        t = transcripts

    obs_turns = Observation()
    t = t.observe(obs_turns, F.count(F.lit(1)).alias("n_turns"))

    if extraction == "expr":
        from batch_import_spark.pipeline.extract import extract_mentions_expr

        mentions = extract_mentions_expr(t)
    else:
        mentions = extract_mentions(t)
    if link_dict is None:
        link_dict = prepare_link_dict(alias_dict)
    resolved, obs_link = link_and_canonicalize(mentions, link_dict)

    # triple grain: map-side partial agg keeps the shuffle tiny
    edges = resolved.groupBy("subj_id", "subj", "pred", "obj_id", "obj").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.min(F.struct("conv_id", "turn_idx")).alias("first_seen"),
        F.max(F.struct("conv_id", "turn_idx")).alias("last_seen"),
    )
    triples = edges.select("subj", "pred", "obj")
    nodes = nodes_from_dict(link_dict)

    # write_mode mirrors the reference's keep_db (Config.java:197-199):
    # "overwrite" replaces the target store, "append" keeps it (A7);
    # idempotent per-partition resume lives in pipeline/checkpoint.py
    if nodes_out:
        nodes.write.mode(write_mode).parquet(nodes_out)
        nodes = spark.read.parquet(nodes_out)
    if edges_out:
        # this write is the action that fills both observations
        edges.write.mode(write_mode).parquet(edges_out)
        edges = spark.read.parquet(edges_out)
        triples = edges.select("subj", "pred", "obj")

    return KgResult(
        nodes=nodes,
        edges=edges,
        triples=triples,
        _observations=(obs_turns, obs_link),
    )
