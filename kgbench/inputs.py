"""Seeded input generators.

Every generator is a pure function of ``seed`` and its size arguments
and writes plain files (Parquet or reference-format TSV), so the
program under test sees only files. Nothing here reads the program's
output.

- kg_hot: the program's own ``generate_transcripts``, which plants a
  hot conversation (100x the median turn count), unknown ``Ghost``
  surfaces and the ambiguous ``Amb`` surface.
- csv_import: reference-format nodes/rels TSV keyed through the
  ``users`` exact index, with duplicated (ambiguous) names and
  endpoint keys no node carries.
- the KG query leaves traced with kg_hot: a ``documents.parquet`` with
  the test data's schema.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class TranscriptInputs:
    transcripts: str  # Parquet directory
    n_turns: int


def kg_hot(spark, root: str, seed: int, n_convs: int, n_files: int = 16) -> TranscriptInputs:
    """``generate_transcripts`` at ``n_convs`` conversations (one hot at
    100x), written as ``n_files`` Parquet parts whatever the parallelism."""
    from batch_import_spark.sources.transcripts import generate_transcripts

    path = f"{root}/transcripts"
    df = generate_transcripts(spark, n_convs=n_convs, seed=seed, partitions=n_files)
    df.write.mode("overwrite").parquet(path)
    n_turns = pq.ParquetDataset(path).read(columns=["turn_idx"]).num_rows
    return TranscriptInputs(transcripts=path, n_turns=n_turns)


@dataclass(frozen=True)
class CsvInputs:
    nodes: list[str]  # TSV paths, imported in this order
    rels: list[str]  # TSV paths, imported in this order
    node_names: list[str]  # name of node i, in file order
    rels_rows: list[tuple[str, str, str, int]]  # (start, end, type, since), file order


NODES_HEADER = "name:string:users\tage:int"
RELS_HEADER = "name:string:users\tname:string:users\ttype\tsince:int"
REL_TYPES = ["KNOWS", "FOLLOWS", "BLOCKS"]


def _write_tsv(root: str, name: str, header: str, lines: list[str], n_files: int) -> list[str]:
    """Split ``lines`` over ``n_files`` files, each with the header."""
    paths = []
    for i in range(n_files):
        path = f"{root}/{name}_{i}.tsv"
        with open(path, "w", encoding="utf-8") as f:
            f.write(header + "\n")
            f.writelines(lines[i * len(lines) // n_files:(i + 1) * len(lines) // n_files])
        paths.append(path)
    return paths


def csv_import(
    root: str, seed: int, n_nodes: int, n_rels: int, node_files: int = 2, rel_files: int = 4
) -> CsvInputs:
    """Reference-format TSV: ``n_nodes`` users, ``n_rels`` relationships
    whose endpoints resolve by name through the ``users`` index, split
    over several files as the reference's comma-separated lists allow
    (a quoted CSV file is one scan task, so one file would serialize
    the scan).

    Half a percent of the names repeat an earlier name (ambiguous keys:
    both nodes import, neither resolves); two percent of endpoint keys
    name no node at all.
    """
    rng = np.random.default_rng(seed)
    names = [f"user{k}" for k in rng.permutation(n_nodes * 4)[:n_nodes]]
    dup = rng.choice(n_nodes - 1, size=max(1, n_nodes // 200), replace=False)
    for i in dup:
        names[i + 1] = names[i]
    ages = rng.integers(18, 90, n_nodes)
    os.makedirs(root, exist_ok=True)
    nodes = _write_tsv(root, "nodes", NODES_HEADER, [f"{n}\t{a}\n" for n, a in zip(names, ages)], node_files)

    ends = rng.integers(0, n_nodes, (n_rels, 2))
    ghost = rng.random((n_rels, 2)) < 0.01  # ~2% of rels have a ghost endpoint
    types = rng.integers(0, len(REL_TYPES), n_rels)
    since = rng.integers(1990, 2026, n_rels)
    rows = []
    for i in range(n_rels):
        a = f"ghost{ends[i, 0]}" if ghost[i, 0] else names[ends[i, 0]]
        b = f"ghost{ends[i, 1]}" if ghost[i, 1] else names[ends[i, 1]]
        rows.append((a, b, REL_TYPES[types[i]], int(since[i])))
    rels = _write_tsv(root, "rels", RELS_HEADER, [f"{a}\t{b}\t{t}\t{s}\n" for a, b, t, s in rows], rel_files)
    return CsvInputs(nodes=nodes, rels=rels, node_names=names, rels_rows=rows)


_WORDS = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query table key window row stream merge data vector big a"
).split()
_LANGS = ["en", "de", "fr", "es", "zh"]


def documents(root: str, seed: int, n_docs: int, id_space: int = 1_000_000) -> str:
    """A ``documents.parquet`` in the test data's schema: ``n_docs``
    distinct doc ids drawn from ``[0, id_space)`` (the KG leaves plant
    their entity sentences from the doc id) and lowercase filler text."""
    rng = np.random.default_rng(seed)
    doc_id = np.sort(rng.choice(id_space, size=n_docs, replace=False)).astype(np.int64)
    n_words = rng.integers(8, 90, n_docs)
    text = [" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)) for k in n_words]
    table = pa.table(
        {
            "doc_id": pa.array(doc_id),
            "text": pa.array(text),
            "lang": pa.array(np.array(_LANGS)[rng.integers(0, len(_LANGS), n_docs)]),
            "source": pa.array(np.char.add("src", (doc_id % 20).astype(str))),
            "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
        }
    )
    os.makedirs(root, exist_ok=True)
    path = f"{root}/documents.parquet"
    pq.write_table(table, path)
    return path
