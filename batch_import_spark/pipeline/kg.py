"""End-to-end KG construction: extract → link → canonicalize → materialize.

The Spark-native replacement for the reference's import pipeline
(Importer.doImport, Importer.java:225-241): where the reference
streams CSV rows into Neo4j store files single-threaded, we run

    transcripts ──▶ extract (pandas/Arrow UDF)
        ──broadcast link-dict join──▶ linked + canonicalized mentions
        ──triple-grain agg──▶ edges; dictionary → nodes

``run_kg_pipeline`` only builds the graph; ``sinks.GraphSink`` is the
one writer of its tables (the ``kg`` job's write_graph and the
``resume`` job's per-bucket checkpoint alike). Both jobs build through
it: ``resume`` passes its conversation bucket as ``by``, a grouping
key in front of the triple grain, so a bucket's edges have the ``kg``
schema plus ``bucket`` and fold back with ``merge_kg_edges``.

Phase barriers mirror the reference (all nodes before rels,
Importer.java:227-233): the link dictionary (unique-key filter +
canonical-surface election) is materialized before the mention join.
After the unique-key filter every surface names one entity, so the
canonical surface is a per-entity min.

Scale design (100 TB / 1000 executors):
- extraction is a narrow map over the scan's own splits — no shuffle of
  full-text rows before the Python kernel (a salted repartition was
  measured 4× slower, BASELINE.md);
- the link dictionary is vocabulary-bounded, not corpus-bounded: when
  it fits the driver (≤ DRIVER_CC_THRESHOLD rows) its unique-key filter
  and per-entity min run driver-side on one fetch — the analog of a
  broadcast join; past the threshold the same rule runs as a groupBy
  plus a window min;
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
from pyspark.sql.window import Window

from batch_import_spark.operators.ids import stable_id
from batch_import_spark.operators.linking import build_unique_alias_dict
from batch_import_spark.pipeline.extract import extract_mentions, extract_mentions_expr
from batch_import_spark.session import DRIVER_CC_THRESHOLD, local_frame

EXTRACTORS = {"pandas": extract_mentions, "expr": extract_mentions_expr}


def extractor(extraction: str):
    """The mention extractor named ``extraction``; an unknown name
    raises before any Spark job (a typo must not fall back to a kernel
    nobody asked for)."""
    if extraction not in EXTRACTORS:
        raise ValueError(
            f"extraction must be one of {sorted(EXTRACTORS)}, got {extraction!r}"
        )
    return EXTRACTORS[extraction]


# observability for the broadcast-vs-shuffle dictionary decision:
# filled by prepare_link_dict on every call (path, driver_threshold,
# n_fetched = non-NULL alias rows fetched, at most threshold + 1)
LAST_DICT_STATS: dict = {}


@dataclass
class KgResult:
    nodes: DataFrame  # node_id, name, surfaces array<string>, entity_id
    edges: DataFrame  # [by…,] subj_id, subj, pred, obj_id, obj, n_occurrences, first/last_seen
    triples: DataFrame  # (subj, pred, obj) canonical surface strings (P/R surface)
    mentions: DataFrame  # every mention; subj_id/obj_id NULL when unresolved
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


def prepare_link_dict(alias_dict: DataFrame) -> DataFrame:
    """alias table → link dictionary
    (surface, entity_id, canonical_surface, canonical_node_id).

    Reference semantics preserved: alias rows with a NULL surface or
    entity id are dropped (index.add skips NULL values,
    AbstractLineData.java:92-107); an ambiguous surface (getSingle≠1,
    LongIterableIndexHits.java:36-38) is EXCLUDED — it neither links
    nor merges entities. After that unique-key filter every surface
    names one entity, so the canonical surface is the lexicographic
    min of its entity's surfaces; node id = xxhash64 of that surface
    (order-free, deterministic).

    Both paths compute that one rule over the same non-NULL pairs.
    Driver path (at most ``DRIVER_CC_THRESHOLD`` rows, read at call
    time): plain dict operations on the fetched rows, and the
    dictionary comes back as a ``session.local_frame`` LocalRelation,
    so its broadcast and the ``nodes_from_dict`` groupBy run in the JVM
    with no Python worker.
    Distributed path: the unique-key groupBy plus a per-entity window
    min.
    """
    pairs = alias_dict.select(
        F.col("key_value").alias("surface"), F.col("entity_id")
    ).where(F.col("surface").isNotNull() & F.col("entity_id").isNotNull())

    # one take decides the path AND fetches the data: T+1 rows either
    # prove the dict exceeds the driver threshold or are the dict whole
    rows = pairs.take(DRIVER_CC_THRESHOLD + 1)
    on_driver = len(rows) <= DRIVER_CC_THRESHOLD
    LAST_DICT_STATS.clear()
    LAST_DICT_STATS.update(
        {
            "n_fetched": len(rows),
            "driver_threshold": DRIVER_CC_THRESHOLD,
            "path": "driver" if on_driver else "distributed",
        }
    )
    if on_driver:
        ents: dict = {}
        for surface, entity_id in rows:
            ents.setdefault(surface, set()).add(entity_id)
        unique = {s: next(iter(es)) for s, es in ents.items() if len(es) == 1}
        canon: dict = {}
        for s, e in unique.items():
            canon[e] = min(canon.get(e, s), s)
        link_dict = local_frame(
            alias_dict.sparkSession,
            [(s, unique[s], canon[unique[s]]) for s in sorted(unique)],
            "surface string, entity_id long, canonical_surface string",
        )
    else:
        link_dict = build_unique_alias_dict(pairs, "surface", "entity_id").withColumn(
            "canonical_surface", F.min("surface").over(Window.partitionBy("entity_id"))
        )
    return link_dict.withColumn(
        "canonical_node_id", stable_id(F.col("canonical_surface"))
    )


def _linked():
    return F.col("subj_id").isNotNull() & F.col("obj_id").isNotNull()


def _flag_links(
    mentions: DataFrame, link_dict: DataFrame
) -> tuple[DataFrame, Observation | None]:
    """Every mention with both endpoints looked up in the broadcast
    dictionary: one left-join per endpoint yields (canonical surface,
    canonical node id) directly, NULL for an unresolved or ambiguous
    surface. Counted by an Observation on batch frames."""
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
        return joined, None
    obs = Observation()
    observed = joined.observe(
        obs,
        F.count(F.lit(1)).alias("n_mentions"),
        F.sum(_linked().cast("long")).alias("n_linked"),
        F.sum((~_linked()).cast("long")).alias("n_skipped"),
    )
    return observed, obs


def link_and_canonicalize(
    mentions: DataFrame, link_dict: DataFrame
) -> tuple[DataFrame, Observation]:
    """Resolve both mention endpoints through the broadcast dictionary;
    unresolved/ambiguous mentions are dropped AND counted (P7:
    Importer.java:149-152)."""
    flagged, obs = _flag_links(mentions, link_dict)
    return flagged.where(_linked()), obs


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
    return _triple_grain(
        existing.unionByName(delta), F.sum("n_occurrences"), "first_seen", "last_seen"
    )


def _triple_grain(rows: DataFrame, n_occurrences, first_seen, last_seen, by=()) -> DataFrame:
    """The edge grain, shared by the build and the merge: one row per
    ``by`` key and (subj, pred, obj) triple."""
    return rows.groupBy(*by, "subj_id", "subj", "pred", "obj_id", "obj").agg(
        n_occurrences.alias("n_occurrences"),
        F.min(first_seen).alias("first_seen"),
        F.max(last_seen).alias("last_seen"),
    )


def run_kg_pipeline(
    transcripts: DataFrame,
    alias_dict: DataFrame,
    link_dict: DataFrame | None = None,
    extraction: str = "pandas",
    by: tuple = (),
) -> KgResult:
    """Build the graph: lazy ``nodes``/``edges`` frames plus counters.

    Writing is the caller's step, through ``sinks.GraphSink`` (whose
    first action over ``edges`` fills ``metrics``). Pass a pre-built
    ``link_dict`` (prepare_link_dict) to amortize dictionary prep
    across repeated runs. ``extraction``: "pandas" (Arrow-batched
    kernel, the general path) or "expr" (pure JVM regexp expressions —
    identical output for regex-expressible grammars, no Python workers);
    any other name raises ``ValueError`` before any Spark job.
    ``by``: grouping expressions over mention rows (conv_id, turn_idx,
    surfaces), put in front of the triple grain — the ``resume`` job
    passes its conversation bucket, so each bucket's edges fold into
    the ``kg`` job's by ``merge_kg_edges``. With ``by=()`` the plan is
    the ``kg`` job's.
    """
    extract = extractor(extraction)
    obs_turns = Observation()
    t = transcripts.observe(obs_turns, F.count(F.lit(1)).alias("n_turns"))
    mentions = extract(t)
    if link_dict is None:
        link_dict = prepare_link_dict(alias_dict)
    flagged, obs_link = _flag_links(mentions, link_dict)

    # triple grain: map-side partial agg keeps the shuffle tiny
    seen = F.struct("conv_id", "turn_idx")
    edges = _triple_grain(flagged.where(_linked()), F.count(F.lit(1)), seen, seen, by)
    return KgResult(
        nodes=nodes_from_dict(link_dict),
        edges=edges,
        triples=edges.select("subj", "pred", "obj"),
        mentions=flagged,
        _observations=(obs_turns, obs_link),
    )
