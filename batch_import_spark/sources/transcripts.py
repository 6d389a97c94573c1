"""Transcripts input table + deterministic synthetic generator.

Input contract (BASELINE.json input_hint): a table of multi-turn
conversation / agent transcripts with columns
``(conv_id string, turn_idx int, role string, text string,
tool string, ts timestamp)``. At production scale this is an Iceberg
table (``spark.table``); here we read/write Parquet through the same
helper so the pipeline is storage-agnostic.

The generator is fully Spark-native and deterministic: every value is
a pure function of (seed, conv_id, turn_idx) via ``xxhash64`` column
expressions — no ``rand()``, no ``monotonically_increasing_id`` — so
the SAME rows are produced at ANY parallelism (the determinism
invariant the two-cluster-size comparison needs; SURVEY.md §7.3).
Mirrors the reference's TestDataGenerator (TestDataGenerator.java:17-80)
in spirit: seeded fixtures with known structure.

Planted structure for the KG pipeline:
- entity surfaces: people ``Person<k>`` (alias ``P<k>``), orgs
  ``Org<k>`` (alias ``O<k>``), tools ``Tool<k>``;
- relation phrases: ``works at / manages / uses / reports to /
  located in`` between surfaces, embedded in lowercase filler text;
- a known-unknown entity pool (``Ghost<k>``) that the alias dict does
  NOT contain → exercises skip-unresolved counting
  (Importer.java:149-152);
- conversation 0 is "hot": ``hot_factor``× the median turn count →
  exercises conversation skew (its turns spread over the scan's
  splits for extraction, but all land in one resume bucket).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from batch_import_spark.session import local_frame

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

ROLES = ["user", "assistant", "tool"]
TOOLS = ["search", "code", "browser"]
RELATION_PHRASES = ["works at", "manages", "uses", "reports to", "located in"]
# phrase → predicate name emitted in triples
PREDICATE_OF = {
    "works at": "works_at",
    "manages": "manages",
    "uses": "uses",
    "reports to": "reports_to",
    "located in": "located_in",
}
FILLER = (
    "ok let me check the plan and rerun the failing step first "
    "then we compare the output against the expected table rows"
).split()

N_PERSONS = 40
N_ORGS = 12
N_TOOLS = 8
N_GHOSTS = 6  # surfaces absent from the alias dict → unresolved
AMBIGUOUS_SURFACE = "Amb"  # maps to 2 entity ids → getSingle→null → skip


def entity_catalog() -> list[tuple[str, str, int]]:
    """(surface, kind, entity_id) for every known surface form.

    Multiple surfaces per entity (canonical + short alias) — the
    canonicalization stage must merge them. Entity ids are stable
    small ints; kind encodes the label.
    """
    rows: list[tuple[str, str, int]] = []
    for k in range(N_PERSONS):
        rows.append((f"Person{k}", "Person", k))
        rows.append((f"P{k}", "Person", k))  # alias surface
    for k in range(N_ORGS):
        rows.append((f"Org{k}", "Org", 1000 + k))
        rows.append((f"O{k}", "Org", 1000 + k))
    for k in range(N_TOOLS):
        rows.append((f"Tool{k}", "Tool", 2000 + k))
    # ambiguous surface: two entity ids share it (LongIterableIndexHits
    # getSingle → null when hits != 1)
    rows.append((AMBIGUOUS_SURFACE, "Person", 0))
    rows.append((AMBIGUOUS_SURFACE, "Person", 1))
    return rows


def alias_dict_df(spark: SparkSession) -> DataFrame:
    """The entity-linking dictionary (FIXTURES.md F4 shape)."""
    rows = [("surfaces", "surface", s, float(1.0), k, e) for (s, k, e) in entity_catalog()]
    return local_frame(
        spark, rows, "index_name string, key_prop string, key_value string, score double, kind string, entity_id long"
    )


def _h(seed: int, *cols: Column | str) -> Column:
    """Deterministic non-negative hash of (seed, cols...)."""
    return F.abs(F.xxhash64(F.lit(seed), *[F.col(c) if isinstance(c, str) else c for c in cols]))


def _pick(arr: list[str], h: Column) -> Column:
    return F.element_at(F.array(*[F.lit(x) for x in arr]), (h % len(arr) + 1).cast("int"))


def _surface_pool() -> list[str]:
    pool = [f"Person{k}" for k in range(N_PERSONS)]
    pool += [f"P{k}" for k in range(N_PERSONS)]
    pool += [f"Org{k}" for k in range(N_ORGS)]
    pool += [f"O{k}" for k in range(N_ORGS)]
    pool += [f"Tool{k}" for k in range(N_TOOLS)]
    return pool


def generate_transcripts(
    spark: SparkSession,
    n_convs: int = 200,
    median_turns: int = 16,
    hot_factor: int = 100,
    seed: int = 42,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic transcript table; same rows at any parallelism."""
    surfaces = _surface_pool()
    ghosts = [f"Ghost{k}" for k in range(N_GHOSTS)]
    phrases = RELATION_PHRASES

    convs = spark.range(n_convs).select(
        F.format_string("conv%06d", F.col("id")).alias("conv_id"),
        F.col("id").alias("conv_seq"),
    )
    # turn count: median ± hash jitter; conv 0 is the hot conversation
    n_turns = F.when(
        F.col("conv_seq") == 0, F.lit(median_turns * hot_factor)
    ).otherwise((_h(seed, "conv_id") % median_turns + median_turns // 2 + 1).cast("int"))
    turns = convs.withColumn("n_turns", n_turns).select(
        "conv_id",
        "conv_seq",
        F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"),
    )
    if partitions:
        turns = turns.repartition(partitions, "conv_id", "turn_idx")

    def sentence(slot: int) -> Column:
        ha = _h(seed, "conv_id", "turn_idx", F.lit(slot * 4 + 0))
        hr = _h(seed, "conv_id", "turn_idx", F.lit(slot * 4 + 1))
        hb = _h(seed, "conv_id", "turn_idx", F.lit(slot * 4 + 2))
        gate = _h(seed, "conv_id", "turn_idx", F.lit(slot * 4 + 3)) % 100
        # ~8% of subject slots use an unknown Ghost surface; ~4% the
        # ambiguous surface — both must be skipped+counted by linking
        subj = (
            F.when(ha % 100 < 8, _pick(ghosts, ha))
            .when(ha % 100 < 12, F.lit(AMBIGUOUS_SURFACE))
            .otherwise(_pick(surfaces, ha))
        )
        obj = _pick(surfaces, hb)
        s = F.concat_ws(" ", subj, _pick(phrases, hr), obj)
        thresh = [60, 35, 15][slot]  # expected ~1.1 sentences/turn
        return F.when(gate < thresh, F.concat(s, F.lit(". "))).otherwise(F.lit(""))

    filler = F.concat_ws(
        " ",
        *[_pick(FILLER, _h(seed, "conv_id", "turn_idx", F.lit(100 + i))) for i in range(6)],
    )
    text = F.concat(sentence(0), sentence(1), sentence(2), filler)

    role_h = _h(seed, "conv_id", "turn_idx", F.lit(200))
    tool_h = _h(seed, "conv_id", "turn_idx", F.lit(201))
    out = turns.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        _pick(ROLES, role_h).alias("role"),
        text.alias("text"),
        F.when(role_h % 3 == 2, _pick(TOOLS, tool_h)).alias("tool"),
        F.timestamp_seconds(
            F.lit(1735689600) + F.col("conv_seq") * 86400 + F.col("turn_idx") * 60
        ).alias("ts"),
    )
    return out


def read_transcripts(spark: SparkSession, path: str) -> DataFrame:
    """Load a transcripts table: a Parquet dir (a path with a ``/``) or
    an Iceberg/catalog table name. Both carry their own schema."""
    if "/" not in path:
        return spark.table(path)
    return spark.read.parquet(path)
