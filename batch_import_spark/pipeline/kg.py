"""End-to-end KG construction: extract → link → canonicalize → materialize.

The Spark-native replacement for the reference's import pipeline
(Importer.doImport, Importer.java:225-241): where the reference
streams CSV rows into Neo4j store files single-threaded, we run

    transcripts ──▶ extract (pandas/Arrow UDF)
        ──broadcast link-dict join──▶ linked + canonicalized mentions
        ──triple-grain agg──▶ edges; dictionary → nodes

``run_kg_pipeline`` only builds the graph; ``sinks.GraphSink`` is the
one writer of its tables (the ``kg`` job's write_graph and the
``resume`` job's per-bucket checkpoint alike).

Phase barriers mirror the reference (all nodes before rels,
Importer.java:227-233): the link dictionary (unique-key filter +
canonical-surface election) is materialized before the mention join.

Scale design (100 TB / 1000 executors):
- extraction is a narrow map over the scan's own splits — no shuffle of
  full-text rows before the Python kernel (a salted repartition was
  measured 4× slower, BASELINE.md);
- the link dictionary is vocabulary-bounded, not corpus-bounded: when
  it fits the driver (≤ DRIVER_CC_THRESHOLD entries) its unique-key filter AND
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

from batch_import_spark.operators.canonicalize import (
    DRIVER_CC_THRESHOLD,
    canonical_mapping,
    min_id_components,
)
from batch_import_spark.operators.ids import stable_id
from batch_import_spark.operators.linking import build_unique_alias_dict
from batch_import_spark.pipeline.extract import extract_mentions
from batch_import_spark.session import local_frame

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
        plan (normally the caller's edges write). If the caller hasn't
        run one yet, first access runs a count over ``edges`` so the
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


def prepare_link_dict(
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
            ((first_by_ent.setdefault(e, s), s) for s, e in unique.items()), unique
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
    link_dict: DataFrame | None = None,
    extraction: str = "pandas",
) -> KgResult:
    """Build the graph: lazy ``nodes``/``edges`` frames plus counters.

    Writing is the caller's step, through ``sinks.GraphSink`` (whose
    first action over ``edges`` fills ``metrics``). Pass a pre-built
    ``link_dict`` (prepare_link_dict) to amortize dictionary prep
    across repeated runs. ``extraction``: "pandas" (Arrow-batched
    kernel, the general path) or "expr" (pure JVM regexp expressions —
    identical output for regex-expressible grammars, no Python workers).
    """
    obs_turns = Observation()
    t = transcripts.observe(obs_turns, F.count(F.lit(1)).alias("n_turns"))

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
    return KgResult(
        nodes=nodes_from_dict(link_dict),
        edges=edges,
        triples=edges.select("subj", "pred", "obj"),
        _observations=(obs_turns, obs_link),
    )
