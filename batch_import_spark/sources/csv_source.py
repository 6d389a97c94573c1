"""Reference-style CSV node/relationship/index file source.

Reproduces the reference's scan stack (SURVEY.md §2.1 S1-S9) on
Spark's CSV reader:

- S1/S2: buffered scan + transparent .gz — built into spark.read.csv;
  .zip (also reference-supported, Importer.java:248-250) is extracted
  driver-side to local temp first — Spark's reader can't split or
  decompress zip;
- S3: multi-file lists imported *in declared order* (Config.java:145-154)
  — one scan reads the whole list, and each row's file comes back
  from ``_metadata.file_path`` as its declared index ``file_seq``, so
  dense row-number IDs span files in sequence (readme.md:38);
- S4: first row is the schema: ``name[:type[:indexName]]``
  (AbstractLineData.java:39-58) — parsed driver-side from the first
  line, data read with an explicit all-string schema and header
  skipped, then typed by expression (schema.convert_column);
- S5/S6/S7: quoted CSV (OpenCSV: quote ``"``, escape ``\\``, embedded
  newlines — CsvLineData.java:13-37) vs raw fast tokenizer — maps to
  reader options quote/escape/multiLine; ``quotes=False`` mirrors
  batch_import.csv.quotes=false (Config.java:185-187);
- S8: delimiter config, default TAB (Config.java:179-183);
- P2: empty cell → NULL (property later omitted);
- P6: short rows null-padded, extra columns dropped (PERMISSIVE).

DIVERGENCE (deliberate): blank lines are SKIPPED, not treated as
end-of-data. The reference stops the whole import at the first blank
line (AbstractLineData.java:70-73 ``processLine = parse() > 0`` +
Importer.java:96 loop) — silent truncation, a data-loss hazard at
100 TB. Tested in test_reference_semantics.py.

Plan shape: ONE scan of the whole file list → ``number_runs``
(operators/ids.py) over (partition, ``_metadata.file_path``,
``_metadata.file_block_start``) runs: one count job for the whole list,
then a narrow projection plus a broadcast of one offset row per run,
which also carries the run's ``file_seq``. No Window, no union and no
shuffle of the rows. Spark packs a multi-file scan's splits by size,
not in declared order, so a partition may hold the tail of one file and
the whole of another; runs are therefore numbered in (file_seq, block
start) order, not in partition order, and each run must be contiguous
in its partition (checked). This depends on the scan's partitions
being PINNED: splits and their packing are a pure function of the file
listing and the session's file-split settings — never sampled — and a
split's rows keep file order. So the count job and every later
execution see the same rows in the same places.

Output sizing: ``ReferenceCsv.files`` is ceil(scan file bytes /
``spark.sql.files.maxPartitionBytes``), the bytes taken from the
listing's own ``_metadata.file_size`` in the count job. The import
operators coalesce each table they derive to that many partitions, so
a small import writes one file per table however its scan was split.

Scale note: a single .gz file is unsplittable; at 100 TB inputs arrive
as many files so parallelism comes from the file list — same contract
as the reference's comma-separated multi-file config.
"""

from __future__ import annotations

import gzip
import io
import math
import os
import tempfile
import zipfile
from dataclasses import dataclass
from urllib.parse import unquote, urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from batch_import_spark.operators.ids import number_runs
from batch_import_spark.schema import HeaderField, assert_ansi, convert_column, parse_header


@dataclass(frozen=True)
class ReferenceCsv:
    """A typed, reference-semantics view of one or more CSV files."""

    df: DataFrame  # typed columns, plus file_seq, line_no (0-based per file), row_no
    header: list[HeaderField]
    files: int | None = None  # output files per derived import table (None: leave as is)

    def fit(self, df: DataFrame) -> DataFrame:
        """``df`` coalesced to ``files`` partitions, one output file each."""
        return df.coalesce(self.files) if self.files else df


def _read_first_line(path: str) -> str:
    """Driver-side header peek (the header is one tiny line).

    Handles .gz / .zip like Importer.java:248-250.
    """
    if path.endswith(".gz"):
        with gzip.open(path, "rb") as f:
            raw = f.readline()
    elif path.endswith(".zip"):
        with zipfile.ZipFile(path) as z:
            name = z.namelist()[0]
            with z.open(name) as f:
                raw = io.BufferedReader(f).readline()
    else:
        with open(path, "rb") as f:
            raw = f.readline()
    return raw.decode("utf-8").rstrip("\r\n")


def _split_header_line(line: str, delim: str, quotes: bool) -> list[str]:
    if not quotes:
        return line.split(delim)
    # minimal quoted split for the header line only (data goes through
    # Spark's parser); headers in practice are unquoted identifiers
    import csv as _csv

    return next(_csv.reader([line], delimiter=delim, quotechar='"', escapechar="\\"))


def _maybe_extract_zip(paths: list[str]) -> list[str]:
    """Driver-side .zip extraction (Spark's CSV reader decompresses
    .gz by extension but NOT .zip; Importer.java:248-250 supports both).

    Mirrors the reference's posture: zip decompression is inherently
    single-stream. At 100 TB, inputs should arrive as .gz/parquet — a
    .zip is a convenience path, extracted once to local temp.
    """
    out = []
    for p in paths:
        if p.endswith(".zip"):
            d = tempfile.mkdtemp(prefix="batch_import_zip_")
            with zipfile.ZipFile(p) as z:
                names = z.namelist()
                if not names:
                    raise ValueError(f"empty zip archive: {p}")
                out.append(z.extract(names[0], d))
        else:
            out.append(p)
    return out


def read_reference_csv(
    spark: SparkSession,
    paths: list[str] | str,
    delim: str = "\t",
    quotes: bool = True,
    array_separator: str = ",",
) -> ReferenceCsv:
    """Read reference-format CSV file(s) into one typed DataFrame.

    Columns are named per the header; extra trailing ``file_seq``,
    ``line_no`` and ``row_no`` columns give the file index in the
    declared list, the 0-based data row within the file, and the
    0-based data row across all files in (file_seq, line_no) order —
    the reference's row-number node ID (readme.md:38).
    """
    # fail-fast typed conversion needs ANSI casts on THIS path, not
    # just under pytest (readme.md:41-42: bad cells abort the import)
    assert_ansi(spark)
    if isinstance(paths, str):
        paths = [p for p in paths.split(",") if p]
    paths = _maybe_extract_zip(paths)
    first_lines = [_read_first_line(p) for p in paths]
    header = parse_header(_split_header_line(first_lines[0], delim, quotes))
    # the reference imports each file under its OWN header
    # (Importer.doImport per file); a list is only mergeable when the
    # headers agree — otherwise file 1's schema silently mislabels the
    # rest, so fail fast: dense row-number ids span one file list, so
    # files under different headers are not one node import.
    for p, line in zip(paths[1:], first_lines[1:]):
        if _split_header_line(line, delim, quotes) != _split_header_line(
            first_lines[0], delim, quotes
        ):
            raise ValueError(
                f"header of {p!r} differs from {paths[0]!r}; every file of "
                "one list must share its header (Importer.doImport)"
            )

    raw_schema = T.StructType(
        [T.StructField(f"_c{i}", T.StringType(), True) for i in range(len(header))]
    )
    reader_opts = {
        "sep": delim,
        "header": "true",  # skip the in-band schema row (schema enforced)
        "enforceSchema": "true",
        "mode": "PERMISSIVE",  # P6: pad short rows, drop extra columns
        "encoding": "UTF-8",
    }
    if quotes:
        reader_opts.update({"quote": '"', "escape": "\\", "multiLine": "true"})
    else:
        # raw tokenizer path (Chunker): no quote handling at all
        reader_opts.update({"quote": "\u0000"})

    seq_of = {os.path.abspath(p): i for i, p in enumerate(paths)}
    if len(seq_of) < len(paths):
        raise ValueError(f"a file is declared twice in {paths!r}")

    def run_key(run):
        # _metadata.file_path is the listing's URL-encoded URI
        # ("file:/a%20b.csv"): decode it to match a declared path
        path = unquote(urlsplit(run["_path"]).path)
        if path not in seq_of:
            raise ValueError(f"scan read {run['_path']!r}, which is not in {paths!r}")
        return seq_of[path], run["_block"]

    scan = spark.read.options(**reader_opts).schema(raw_schema).csv(paths).select(
        "*",
        F.col("_metadata.file_path").alias("_path"),
        F.col("_metadata.file_block_start").alias("_block"),
        F.col("_metadata.file_size").alias("_size"),
    )
    raw, runs = number_runs(
        scan,
        "row_no",
        run_cols=("_path", "_block"),
        key=run_key,
        aggs=[F.max("_size").alias("_size")],
        group=("file_seq", "line_no"),
    )
    scan_bytes = sum({run["_path"]: run["_size"] for run in runs}.values())
    max_bytes = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()

    typed = raw.select(
        *[
            convert_column(F.col(f"_c{h.column}"), h.type_name, array_separator).alias(h.col_name)
            for h in header
        ],
        "file_seq",
        "line_no",
        "row_no",
    )
    return ReferenceCsv(df=typed, header=header, files=max(1, math.ceil(scan_bytes / max_bytes)))
