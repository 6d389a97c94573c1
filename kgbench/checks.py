"""Independent output checks, computed with DuckDB.

Each check derives the expected result once per process from the
generated inputs (never from the program's output), then compares the
committed output of a run against it by re-reading the files the sink
wrote. A check returns a list of problems; an empty list means the run
is correct.
"""

from __future__ import annotations

import hashlib
import math
from decimal import Decimal

import duckdb
import pyarrow as pa

from kgbench.inputs import CsvInputs, TranscriptInputs

# the extraction grammar, <Capitalized token> <relation phrase> <Capitalized token>.,
# and the predicate each relation phrase emits
PHRASE_TO_PRED = {
    "works at": "works_at",
    "manages": "manages",
    "uses": "uses",
    "reports to": "reports_to",
    "located in": "located_in",
}
MENTION_RE = r"([A-Z]\w*) (" + "|".join(PHRASE_TO_PRED) + r") ([A-Z]\w*)\."

# (conv_id, turn_idx) as one string that sorts like the struct Spark
# compares for first_seen/last_seen: the conv id, a separator below any
# printable byte, the zero-padded turn (min/max over a DuckDB struct is
# far slower and larger)
_SEEN_KEY = "conv_id || chr(1) || lpad(CAST(turn_idx AS VARCHAR), 10, '0')"


def connect() -> duckdb.DuckDBPyConnection:
    """A DuckDB connection that leaves the cores and memory to Spark."""
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '1GB'")
    return con


def _sym_diff(con, left: str, right: str) -> int:
    """Rows in either multiset but not the other."""
    return con.execute(
        f"SELECT (SELECT count(*) FROM ({left} EXCEPT ALL {right})) "
        f"+ (SELECT count(*) FROM ({right} EXCEPT ALL {left}))"
    ).fetchone()[0]


class KgCheck:
    """Expected KG for a transcripts input: the exact
    (subj, pred, obj, n, first_seen, last_seen) multiset and node names.

    Derivation: regex extraction over every turn, the unique-key filter
    (a surface naming more than one entity never links), and the
    minimum surface of each entity as its canonical surface.
    """

    def __init__(self, inputs: TranscriptInputs, aliases: list[tuple[str, int]]):
        self.con = con = connect()
        con.execute(
            f"CREATE VIEW transcripts AS SELECT * FROM read_parquet('{inputs.transcripts}/*.parquet')"
        )
        rows = pa.table({"key_value": [s for s, _ in aliases], "entity_id": [e for _, e in aliases]})
        con.register("alias_rows", rows)
        con.execute("CREATE TABLE aliases AS SELECT * FROM alias_rows")
        preds = pa.table({"phrase": list(PHRASE_TO_PRED), "pred": list(PHRASE_TO_PRED.values())})
        con.register("preds_rows", preds)
        con.execute("CREATE TABLE preds AS SELECT * FROM preds_rows")
        con.execute(
            """
            CREATE TABLE canon AS
            WITH u AS (
              SELECT key_value AS surface, min(entity_id) AS e FROM aliases
              GROUP BY key_value HAVING count(DISTINCT entity_id) = 1)
            SELECT surface, min(surface) OVER (PARTITION BY e) AS canon FROM u
            """
        )
        con.execute(
            f"""
            CREATE TABLE expected AS
            WITH m AS (
              SELECT conv_id, turn_idx, unnest(regexp_extract_all(text, '{MENTION_RE}')) AS m
              FROM transcripts),
            g AS (
              SELECT conv_id, turn_idx,
                     regexp_extract(m, '{MENTION_RE}', 1) AS s,
                     regexp_extract(m, '{MENTION_RE}', 2) AS phrase,
                     regexp_extract(m, '{MENTION_RE}', 3) AS o
              FROM m)
            SELECT cs.canon AS subj, p.pred, co.canon AS obj, count(*) AS n,
                   min({_SEEN_KEY}) AS fs, max({_SEEN_KEY}) AS ls
            FROM g
            JOIN canon cs ON g.s = cs.surface
            JOIN canon co ON g.o = co.surface
            JOIN preds p ON p.phrase = g.phrase
            GROUP BY ALL
            """
        )
        self.n_triples, self.n_occurrences = con.execute(
            "SELECT count(*), sum(n) FROM expected"
        ).fetchone()
        self.n_nodes = con.execute("SELECT count(DISTINCT canon) FROM canon").fetchone()[0]

    def check_graph(self, out: str) -> list[str]:
        """Check a ``GraphSink.write_graph`` output directory."""
        con = self.con
        edges = f"read_parquet('{out}/edges/*.parquet')"
        nodes = f"read_parquet('{out}/nodes/*.parquet')"
        problems = []
        got = (
            f"SELECT subj, pred, obj, CAST(n_occurrences AS BIGINT), first_seen.conv_id, "
            f"CAST(first_seen.turn_idx AS BIGINT), last_seen.conv_id, "
            f"CAST(last_seen.turn_idx AS BIGINT) FROM {edges}"
        )
        want = (
            "SELECT subj, pred, obj, n, split_part(fs, chr(1), 1), "
            "CAST(split_part(fs, chr(1), 2) AS BIGINT), split_part(ls, chr(1), 1), "
            "CAST(split_part(ls, chr(1), 2) AS BIGINT) FROM expected"
        )
        if d := _sym_diff(con, got, want):
            problems.append(f"edges differ from the expected multiset in {d} rows")
        if d := _sym_diff(con, f"SELECT name FROM {nodes}", "SELECT DISTINCT canon FROM canon"):
            problems.append(f"node names differ in {d} rows")
        dangling = con.execute(
            f"SELECT count(*) FROM {edges} e "
            f"LEFT JOIN {nodes} s ON e.subj_id = s.node_id AND e.subj = s.name "
            f"LEFT JOIN {nodes} o ON e.obj_id = o.node_id AND e.obj = o.name "
            "WHERE s.node_id IS NULL OR o.node_id IS NULL"
        ).fetchone()[0]
        if dangling:
            problems.append(f"{dangling} edges name an endpoint id no node carries")
        return problems

    def check_checkpoint(self, base: str, n_turns: int, n_buckets: int) -> list[str]:
        """Check a ``KgCheckpointer`` base dir after a completed resume:
        the union over buckets is the expected multiset, the manifest
        holds each bucket once and its turn counts sum to the input."""
        con = self.con
        problems = []
        got = (
            "SELECT subj, pred, obj, CAST(sum(n_occurrences) AS BIGINT) "
            f"FROM read_parquet('{base}/edges/*/*.parquet') GROUP BY ALL"
        )
        if d := _sym_diff(con, got, "SELECT subj, pred, obj, n FROM expected"):
            problems.append(f"bucket union differs from the expected multiset in {d} rows")
        rows, buckets, turns, lo, hi = con.execute(
            "SELECT count(*), count(DISTINCT bucket), sum(n_turns), min(bucket), max(bucket) "
            f"FROM read_parquet('{base}/manifest/*.parquet')"
        ).fetchone()
        if rows != buckets:
            problems.append(f"manifest has {rows} rows for {buckets} buckets")
        if turns != n_turns:
            problems.append(f"manifest counts {turns} turns, input has {n_turns}")
        if lo is None or lo < 0 or hi >= n_buckets:
            problems.append(f"manifest buckets outside [0, {n_buckets}): {lo}..{hi}")
        return problems


class CsvCheck:
    """Expected import of reference-format TSV: dense node ids in file
    order, and the rels whose two endpoint names each name exactly one
    node, joined in DuckDB, with dense rel ids in file order."""

    def __init__(self, inputs: CsvInputs):
        self.con = con = connect()
        con.register(
            "nodes_rows",
            pa.table({"id": range(len(inputs.node_names)), "name": inputs.node_names}),
        )
        con.execute("CREATE TABLE want_nodes AS SELECT * FROM nodes_rows")
        start, end, rtype, _ = zip(*inputs.rels_rows)
        con.register(
            "rels_rows",
            pa.table({"line": range(len(start)), "a": start, "b": end, "t": rtype}),
        )
        con.execute(
            """
            CREATE TABLE want_rels AS
            WITH u AS (SELECT name, min(id) AS id FROM want_nodes
                       GROUP BY name HAVING count(*) = 1)
            SELECT row_number() OVER (ORDER BY r.line) - 1 AS rel_id,
                   s.id AS src, d.id AS dst, r.t
            FROM rels_rows r JOIN u s ON r.a = s.name JOIN u d ON r.b = d.name
            """
        )
        self.n_nodes = len(inputs.node_names)
        self.n_rels = len(inputs.rels_rows)
        self.n_resolved = con.execute("SELECT count(*) FROM want_rels").fetchone()[0]
        self.n_skipped = self.n_rels - self.n_resolved

    def check(self, out: str, observed: dict) -> list[str]:
        con = self.con
        nodes = f"read_parquet('{out}/nodes/*.parquet')"
        edges = f"read_parquet('{out}/edges/*.parquet')"
        problems = []
        if d := _sym_diff(con, f"SELECT node_id, name FROM {nodes}", "SELECT id, name FROM want_nodes"):
            problems.append(f"nodes are not dense file-order ids: {d} rows differ")
        got = f"SELECT rel_id, src_id, dst_id, rel_type FROM {edges}"
        if d := _sym_diff(con, got, "SELECT rel_id, src, dst, t FROM want_rels"):
            problems.append(f"(rel_id, src, dst, type) differs from the DuckDB join in {d} rows")
        want = {"n_input": self.n_rels, "n_resolved": self.n_resolved, "n_skipped": self.n_skipped}
        if {k: observed.get(k) for k in want} != want:
            problems.append(f"resolution counters {observed} != {want}")
        return problems


def _row_key(row) -> tuple:
    """The oracle gate's comparison rule: decimals compare as floats,
    floats after rounding to 9 digits, everything else exactly."""
    out = []
    for v in row:
        if isinstance(v, Decimal):
            v = float(v)
        if isinstance(v, float) and not math.isnan(v):
            v = round(v, 9)
        out.append(v)
    return tuple(out)


def rows_digest(columns: list[str], rows: list) -> str:
    """Order-insensitive digest of a collected result, columns sorted
    by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    keys = sorted((repr(_row_key([r[i] for i in order])) for r in rows))
    h = hashlib.sha256("|".join(sorted(columns)).encode())
    for k in keys:
        h.update(k.encode())
    return h.hexdigest()


def oracle_digest(documents_path: str, sql: str) -> tuple[list[str], str]:
    """Run a leaf's oracle SQL in DuckDB over ``documents``; returns its
    column names and row digest."""
    con = connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{documents_path}')")
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return cols, rows_digest(cols, res.fetchall())
