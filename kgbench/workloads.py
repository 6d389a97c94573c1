"""The workloads: inputs, the untraced job, its check, and the traced
run that calls each layer's public function in its own span.

A workload's ``run`` is exactly the job a user runs, timed from the
first call until the sink has committed (or, for query leaves, until a
full ``collect()`` returned). ``check`` runs after the timer stops and
re-reads the committed output. ``traced`` calls the layers one by one,
each on the previous layer's materialized output, and ``layer_metrics``
turns the harvested spans into the per-layer metrics.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, replace

from kgbench import inputs as gen
from kgbench.checks import CsvCheck, KgCheck, oracle_digest, rows_digest
from kgbench.trace import MB, Span, Tracer


def materialize(df):
    """Compute every column of ``df`` once and cut its lineage, so the
    next layer starts from stored rows."""
    return df.localCheckpoint(eager=True)


def tree_size(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring hidden and marker files."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def generic(span: Span, layer: str) -> dict:
    """The generic metrics every layer called as a function reports."""
    return {
        f"{layer}.wall_s": span.wall_s,
        f"{layer}.jobs": span.jobs,
        f"{layer}.stages": span.stages,
        f"{layer}.task_cpu_s": span.task_cpu_s,
        f"{layer}.shuffle_write_mb": span.shuffle_write_mb,
        f"{layer}.failed_tasks": span.failed_tasks,
    }


@dataclass
class RunOutput:
    records: int  # rows the job delivered (BENCHMARK.json records_per_s)
    output_bytes: int  # bytes the sink wrote, or bytes of the collected rows
    problems: list  # empty when the output check passed
    per_run: dict  # what one run delivered, printed per second of run_s


class Workload:
    name = ""
    # spans the traced run compares to name the dominant layer
    layers: tuple[str, ...] = ()

    def setup(self, spark, work: str, seed: int) -> dict:
        """Write the inputs and derive the expected output; returns the
        input sizes for the report."""
        raise NotImplementedError

    def run(self, spark, out: str):
        """The timed job; returns what ``check`` needs besides the files."""
        raise NotImplementedError

    def check(self, out: str, state) -> RunOutput:
        """Check one run's committed output (after the timer stopped)."""
        raise NotImplementedError

    def traced(self, spark, tr: Tracer, out: str) -> dict:
        """Call each layer in its own span; returns what the spans
        cannot see (observations, row counts) and any ``problems``."""
        raise NotImplementedError

    def layer_metrics(self, tr: Tracer, counts: dict) -> dict:
        raise NotImplementedError

    def prepare_trace(self, work: str, seed: int) -> None:
        """Inputs that only the traced run needs."""


# --- KG construction -------------------------------------------------------


# ``queries()`` KG leaves traced after the kg job: kg_incremental reads
# through the scan fan-out helper, kg_pagerank iterates on the per-stage floor
LEAVES = ("kg_incremental", "kg_pagerank")
LEAF_DOCS = 2000


class KgHot(Workload):
    """The ``kg`` job: read_transcripts -> run_kg_pipeline(pandas) ->
    GraphSink.write_graph, over ``generate_transcripts`` with the
    builtin dictionary.

    Its traced run adds two side layers that have no timed job of their
    own: the ``resume`` job's checkpoint layer on the same transcripts,
    and the KG query leaves over a seeded ``documents.parquet``, each
    leaf ending at a full ``collect()`` checked against its DuckDB oracle.
    """

    name = "kg_hot"
    # the kg job's layers; checkpoint and leaf spans belong to other jobs
    layers = ("sources", "extract", "link_dict", "link", "nodes", "sinks")
    n_buckets = 64

    def __init__(self, n_convs: int):
        self.n_convs = n_convs

    def prepare_trace(self, work, seed):
        import __spark_entry__ as entry

        self.sf = f"{work}/input/leaves"
        docs = gen.documents(self.sf, seed, LEAF_DOCS)
        self.leaves = {q: entry.queries()[q] for q in LEAVES}
        self.oracles = {q: oracle_digest(docs, entry.oracle_sql()[q]) for q in LEAVES}

    def setup(self, spark, work, seed):
        from batch_import_spark.sources.transcripts import entity_catalog

        self.inputs = gen.kg_hot(spark, f"{work}/input", seed, self.n_convs)
        self.expect = KgCheck(self.inputs, [(s, e) for s, _, e in entity_catalog()])
        return {
            "turns": self.inputs.n_turns,
            "expected_triples": self.expect.n_triples,
            "expected_occurrences": self.expect.n_occurrences,
            "expected_nodes": self.expect.n_nodes,
        }

    def run(self, spark, out):
        from batch_import_spark.pipeline.kg import prepare_link_dict, run_kg_pipeline
        from batch_import_spark.sinks import GraphSink
        from batch_import_spark.sources.transcripts import alias_dict_df, read_transcripts

        t = read_transcripts(spark, self.inputs.transcripts)
        aliases = alias_dict_df(spark)
        res = run_kg_pipeline(t, aliases, link_dict=prepare_link_dict(aliases), extraction="pandas")
        GraphSink(spark, out).write_graph(res.nodes, res.edges)
        return res.metrics

    def check(self, out, counters):
        problems = self.expect.check_graph(out)
        want = {"n_turns": self.inputs.n_turns, "n_linked": self.expect.n_occurrences}
        if {k: counters.get(k) for k in want} != want:
            problems.append(f"pipeline counters {counters} != {want}")
        return RunOutput(
            records=self.expect.n_occurrences,
            output_bytes=tree_size(out)[1],
            problems=problems,
            per_run={"turns": self.inputs.n_turns, "triples": self.expect.n_occurrences},
        )

    def traced(self, spark, tr, out):
        from batch_import_spark.pipeline import kg
        from batch_import_spark.pipeline.checkpoint import KgCheckpointer
        from batch_import_spark.pipeline.extract import extract_mentions
        from batch_import_spark.sinks import GraphSink
        from batch_import_spark.sources.transcripts import alias_dict_df, read_transcripts

        c: dict = {}
        aliases = alias_dict_df(spark)
        with tr.span("sources"):
            t = materialize(read_transcripts(spark, self.inputs.transcripts))
            c["sources.rows"] = t.count()
        with tr.span("extract"):
            m = materialize(extract_mentions(t))
            c["extract.mentions"] = m.count()
        with tr.span("link_dict"):
            ld = materialize(kg.prepare_link_dict(aliases))
            c["link_dict.entries"] = ld.count()
            c["dict_stats"] = dict(kg.LAST_DICT_STATS)
        with tr.span("link"):
            resolved, obs = kg.link_and_canonicalize(m, ld)
            materialize(resolved)
            c["link.obs"] = obs.get
        with tr.span("nodes"):
            nodes = materialize(kg.nodes_from_dict(ld))
            c["nodes.rows"] = nodes.count()
        # not a public layer: the pipeline's own triple-grain aggregate,
        # re-running extract and link on the stored sources
        with tr.span("aggregate"):
            edges = materialize(kg.run_kg_pipeline(t, aliases, link_dict=ld, extraction="pandas").edges)
        c["edges.rows"] = edges.count()
        with tr.span("sinks"):
            GraphSink(spark, f"{out}/graph").write_graph(nodes, edges)
        c["sinks.files"], c["sinks.bytes"] = tree_size(f"{out}/graph")

        # the resume job on the same input: a partial call standing in
        # for a crash, a finishing call and a no-op, in a fresh base dir
        base = f"{out}/checkpoint"
        ck = KgCheckpointer(spark, base, n_buckets=self.n_buckets)
        calls = [("partial", self.n_buckets // 2), ("finish", None), ("noop", None)]
        done = []
        with tr.span("checkpoint"):
            for run_id, max_buckets in calls:
                with tr.span(f"checkpoint.{run_id}"):
                    stats = ck.resume(t, aliases, run_id=run_id, max_buckets=max_buckets)
                done.append(stats["buckets_processed"])
        problems = self.expect.check_checkpoint(base, self.inputs.n_turns, self.n_buckets)
        if done[0] != self.n_buckets // 2 or done[2] != 0:
            problems.append(f"buckets processed per resume call {done}")
        c["checkpoint.files"] = tree_size(f"{base}/edges")[0]
        manifest = spark.read.parquet(f"{base}/manifest")
        c["checkpoint.manifest_rows"] = manifest.count()
        c["checkpoint.buckets"] = manifest.select("bucket").distinct().count()

        for q in LEAVES:
            with tr.span(f"leaf.{q}"):
                df = self.leaves[q](spark, self.sf)
                cols, rows = df.columns, df.collect()
            want_cols, want = self.oracles[q]
            if sorted(cols) != sorted(want_cols) or rows_digest(cols, rows) != want:
                problems.append(f"{q}: {len(rows)} rows differ from the DuckDB oracle")
        c["problems"] = problems
        return c

    def layer_metrics(self, tr, c):
        m: dict = {}
        for layer in ("sources", "extract", "link_dict", "link", "sinks", "checkpoint"):
            m.update(generic(tr.find(layer), layer))
        ext, lnk, agg = tr.find("extract"), tr.find("link"), tr.find("aggregate")

        m["sources.rows"] = c["sources.rows"]
        m["sources.read_mb"] = tr.find("sources").input_mb

        def pandas_udf(metric: str) -> float:
            return tr.operator_metric(ext, "MapInPandas", metric)

        m["extract.mentions"] = c["extract.mentions"]
        m["extract.python_run_ms"] = pandas_udf("time to run Python workers")
        m["extract.python_init_ms"] = pandas_udf("time to start Python workers") + pandas_udf(
            "time to initialize Python workers"
        )
        m["extract.arrow_out_mb"] = pandas_udf("data sent to Python workers") / MB
        m["extract.arrow_in_mb"] = pandas_udf("data returned from Python workers") / MB

        stats, entries = c["dict_stats"], c["link_dict.entries"]
        distributed = stats.get("path") == "distributed"
        fetched = stats.get("n_fetched", 0)
        m["link_dict.entries"] = entries
        m["link_dict.fetched_rows"] = fetched
        # rows fetched to the driver and then thrown away, per entry
        m["link_dict.fetch_waste_ratio"] = fetched / entries if distributed and entries else 0.0
        m["link_dict.distributed"] = int(distributed)

        obs = c["link.obs"]
        m["link.n_mentions"] = obs["n_mentions"]
        m["link.n_linked"] = obs["n_linked"]
        m["link.n_skipped"] = obs["n_skipped"]
        m["link.linked_ratio"] = obs["n_linked"] / obs["n_mentions"] if obs["n_mentions"] else 0.0
        m["link.broadcast_mb"] = tr.operator_metric(lnk, "BroadcastExchange", "data size") / MB

        # the triple-grain aggregate: Hash- or SortAggregate keyed on
        # (subj_id, subj, pred, obj_id, obj), and the sort feeding a SortAggregate
        triple = r"keys?=\[subj_id#\w+, subj#\w+, pred#\w+, obj_id#\w+, obj#\w+\]"
        agg_ops = [
            (n, d, v)
            for n, d, v in agg.operators
            if (n.endswith("Aggregate") and re.search(triple, d))
            or (n == "Sort" and d.startswith("Sort [subj_id"))
        ]
        final = [op for op in agg_ops if op[0].endswith("Aggregate") and "partial_" not in op[1]]

        def total(metric: str, ops=agg_ops) -> float:
            return sum(v.get(metric, 0.0) for _, _, v in ops)

        m["aggregate.rows_in"] = tr.operator_metric(
            agg, "Filter", "number of output rows", r"isnotnull\(subj_id.*isnotnull\(obj_id"
        )
        m["aggregate.rows_out"] = total("number of output rows", final)
        m["aggregate.build_ms"] = total("time in aggregation build") + total("sort time")
        m["aggregate.shuffle_mb"] = (
            tr.operator_metric(agg, "Exchange", "shuffle bytes written", r"hashpartitioning\(subj_id") / MB
        )
        m["aggregate.spill_mb"] = total("spill size") / MB
        m["aggregate.peak_mem_mb"] = total("peak memory") / MB

        nodes = tr.find("nodes")
        m.update({"nodes.wall_s": nodes.wall_s, "nodes.rows": c["nodes.rows"], "nodes.jobs": nodes.jobs})

        rows = c["nodes.rows"] + c["edges.rows"]
        m["sinks.files"] = c["sinks.files"]
        m["sinks.rows"] = rows
        m["sinks.bytes_per_row"] = c["sinks.bytes"] / rows

        for part in ("partial", "finish", "noop"):
            m[f"checkpoint.{part}_s"] = tr.find(f"checkpoint.{part}").wall_s
        for k in ("buckets", "files", "manifest_rows"):
            m[f"checkpoint.{k}"] = c[f"checkpoint.{k}"]

        roundrobin = 0
        for q in LEAVES:
            s = tr.find(f"leaf.{q}")
            m.update({
                f"leaf.{q}.wall_s": s.wall_s,
                f"leaf.{q}.jobs": s.jobs,
                f"leaf.{q}.stages": s.stages,
                f"leaf.{q}.shuffle_write_mb": s.shuffle_write_mb,
            })
            roundrobin += sum(
                1 for name, desc, _ in s.operators
                if name == "Exchange" and "RoundRobinPartitioning" in desc
            )
        m["queries.roundrobin_exchanges"] = roundrobin
        return m


# --- reference CSV import --------------------------------------------------


class CsvImport(Workload):
    """The ``import-csv`` job: read_reference_csv -> import_nodes ->
    import_relationships -> GraphSink.write, in the CLI's order."""

    name = "csv_import"
    layers = ("csv_source", "import_nodes", "import_rels", "sinks")

    def __init__(self, n_nodes: int, n_rels: int):
        self.n_nodes, self.n_rels = n_nodes, n_rels

    def setup(self, spark, work, seed):
        self.inputs = gen.csv_import(f"{work}/input", seed, self.n_nodes, self.n_rels)
        self.expect = CsvCheck(self.inputs)
        return {
            "nodes": self.n_nodes,
            "rels": self.n_rels,
            "expected_resolved": self.expect.n_resolved,
            "expected_skipped": self.expect.n_skipped,
        }

    def run(self, spark, out):
        from batch_import_spark.operators.graph_import import import_nodes, import_relationships
        from batch_import_spark.sinks import GraphSink
        from batch_import_spark.sources.csv_source import read_reference_csv

        sink = GraphSink(spark, out)
        nodes = import_nodes(read_reference_csv(spark, self.inputs.nodes))
        sink.write(nodes.nodes, "nodes")
        sink.write(nodes.index_entries, "index_entries")
        rels = import_relationships(read_reference_csv(spark, self.inputs.rels), sink.read("index_entries"))
        sink.write(rels.edges, "edges")
        sink.write(rels.index_entries, "rel_index_entries")
        return rels.observation.get

    def check(self, out, observed):
        return RunOutput(
            records=self.n_nodes + self.expect.n_resolved,
            output_bytes=tree_size(out)[1],
            problems=self.expect.check(out, observed),
            per_run={"nodes": self.n_nodes, "rels": self.expect.n_resolved},
        )

    def traced(self, spark, tr, out):
        from batch_import_spark.operators.graph_import import import_nodes, import_relationships
        from batch_import_spark.sinks import GraphSink
        from batch_import_spark.sources.csv_source import read_reference_csv

        c: dict = {}
        with tr.span("csv_source"):
            refs = [read_reference_csv(spark, p) for p in (self.inputs.nodes, self.inputs.rels)]
            nref, rref = (replace(r, df=materialize(r.df)) for r in refs)
            c["csv_source.rows"] = nref.df.count() + rref.df.count()
        with tr.span("import_nodes"):
            nodes = import_nodes(nref)
            n_df, idx = materialize(nodes.nodes), materialize(nodes.index_entries)
        with tr.span("import_rels"):
            rels = import_relationships(rref, idx)
            e_df, ridx = materialize(rels.edges), materialize(rels.index_entries)
            c["obs"] = rels.observation.get
        with tr.span("sinks"):
            sink = GraphSink(spark, out)
            for df, table in ((n_df, "nodes"), (idx, "index_entries"), (e_df, "edges"), (ridx, "rel_index_entries")):
                sink.write(df, table)
        c["sinks.rows"] = n_df.count() + idx.count() + e_df.count() + ridx.count()
        c["sinks.files"], c["sinks.bytes"] = tree_size(out)
        c["problems"] = self.expect.check(out, c["obs"])
        return c

    def layer_metrics(self, tr, c):
        m: dict = {}
        for layer in self.layers:
            m.update(generic(tr.find(layer), layer))
        m["csv_source.rows"] = c["csv_source.rows"]
        obs = c["obs"]
        m["import_rels.n_resolved"] = obs["n_resolved"]
        m["import_rels.n_skipped"] = obs["n_skipped"]
        m["import_rels.resolve_ratio"] = obs["n_resolved"] / obs["n_input"] if obs["n_input"] else 0.0
        m["sinks.files"] = c["sinks.files"]
        m["sinks.rows"] = c["sinks.rows"]
        m["sinks.bytes_per_row"] = c["sinks.bytes"] / c["sinks.rows"]
        return m


WORKLOADS = {
    "kg_hot": lambda: KgHot(n_convs=6000),
    "csv_import": lambda: CsvImport(n_nodes=10000, n_rels=40000),
}
