"""Triple extraction from transcript text — vectorized pandas kernel.

The reference's per-row parse stage (AbstractLineData: cells → typed
values) generalizes here to: turn text → candidate (subj_surface,
pred, obj_surface) mentions. Rule-based and deterministic so the
emitted triple set is reproducible at any parallelism (the P/R gate
compares sets).

Spark-first notes:
- `mapInPandas` (Arrow batches) — one regex pass per batch via
  pandas ``str.extractall`` (C-loop), no per-row Python (input_hint
  requirement);
- the regex is anchored on the relation-phrase dictionary, mirroring
  how the reference anchors parsing on the in-band header: the
  vocabulary IS the schema;
- extraction is a narrow map — no shuffle; partition sizing is
  inherited from the scan, so upstream salting of hot conversations
  (kg.py) is what keeps batches balanced.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from batch_import_spark.sources.transcripts import RELATION_PHRASES, PREDICATE_OF

MENTION_SCHEMA = (
    "conv_id string, turn_idx int, subj_surface string, pred string, obj_surface string"
)

# Sentence pattern: <Capitalized-token> <relation phrase> <token>.
# Surfaces are single tokens (\w+); phrases come from the dictionary.
_PHRASE_ALT = "|".join(re.escape(p) for p in sorted(RELATION_PHRASES, key=len, reverse=True))
MENTION_RE = re.compile(rf"(?P<subj>[A-Z]\w*) (?P<phrase>{_PHRASE_ALT}) (?P<obj>[A-Z]\w*)\.")
# Java-regex twin (no named groups, no escaped spaces) for the
# JVM-expression extraction path — same matches by construction
_PHRASE_ALT_JAVA = "|".join(sorted(RELATION_PHRASES, key=len, reverse=True))
MENTION_PATTERN_JAVA = rf"([A-Z]\w*) ({_PHRASE_ALT_JAVA}) ([A-Z]\w*)\."


def extract_mentions_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """Pure-pandas kernel: one batch of turns → mention rows. Every
    input column but ``text`` rides along to each of its turn's
    mentions (conv_id, turn_idx, and e.g. ts on the streaming path)."""
    keep = [c for c in pdf.columns if c != "text"]
    hits = pdf["text"].str.extractall(MENTION_RE)
    if hits.empty:
        return pd.DataFrame(columns=[*keep, "subj_surface", "pred", "obj_surface"])
    idx = hits.index.get_level_values(0)
    return pd.DataFrame(
        {
            **{c: pdf[c].values[idx] for c in keep},
            "subj_surface": hits["subj"].values,
            "pred": hits["phrase"].map(PREDICATE_OF).values,
            "obj_surface": hits["obj"].values,
        }
    )


def extract_mentions(transcripts: DataFrame) -> DataFrame:
    """transcripts(conv_id, turn_idx, …, text) → mention candidates."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield extract_mentions_pdf(pdf)

    return transcripts.select("conv_id", "turn_idx", "text").mapInPandas(
        run, schema=MENTION_SCHEMA
    )


def extract_mentions_expr(transcripts: DataFrame) -> DataFrame:
    """JVM-expression twin of ``extract_mentions`` — identical output.

    regexp_extract_all + explode keeps the whole stage inside
    whole-stage codegen: no Python workers, no Arrow hop. Used where
    the extraction grammar is regex-expressible (it is, here); the
    pandas kernel remains the general path for kernels that need real
    Python (models, tokenizers). Both are tested equal.
    """
    from pyspark.sql import functions as F

    pat = MENTION_PATTERN_JAVA
    phrase_to_pred = F.create_map(
        *[F.lit(x) for kv in PREDICATE_OF.items() for x in kv]
    )
    m = transcripts.select(
        "conv_id",
        "turn_idx",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0))
        ).alias("m"),
    )
    return m.select(
        "conv_id",
        "turn_idx",
        F.regexp_extract("m", pat, 1).alias("subj_surface"),
        phrase_to_pred[F.regexp_extract("m", pat, 2)].alias("pred"),
        F.regexp_extract("m", pat, 3).alias("obj_surface"),
    )
