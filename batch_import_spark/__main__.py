"""spark-submit-able job entry point.

Deployment shape named by the project contract: ship the package with
``--py-files`` and drive one of three jobs::

    spark-submit --py-files batch_import_spark.zip run_kg_job.py kg \
        --transcripts s3://…/transcripts --alias-dict s3://…/aliases \
        --out kg_out --extraction expr [--write-mode append]

    … resume --transcripts … --alias-dict … --base-dir ckpt \
        [--n-buckets 4096] [--max-buckets N]

    … import-csv --nodes n1.csv,n2.csv --rels rels.csv --out graph_out \
        [--properties batch.properties]

On a cluster the master/deploy-mode come from spark-submit and
``build_session`` just ``getOrCreate``s; locally it falls back to
``local[$SPARK_GRAFT_CPUS]``. ``--out`` is a directory (Parquet) or a
``catalog.db`` prefix (Iceberg, when the runtime is on the classpath) —
see sinks.GraphSink, the one writer of every job's tables (``resume``
writes its per-bucket checkpoint through it too). ``import-csv``
accepts the reference's own
``batch.properties`` keys (config.load_config; Config.java:36-100).
"""

from __future__ import annotations

import argparse
import json
import sys


def _kg_inputs(args, app_name: str):
    """Session, transcripts and alias table shared by ``kg`` and ``resume``."""
    from batch_import_spark.session import build_session
    from batch_import_spark.sources.transcripts import alias_dict_df, read_transcripts

    spark = build_session(app_name=app_name)
    t = read_transcripts(spark, args.transcripts)
    if args.alias_dict == "builtin":
        aliases = alias_dict_df(spark)
    else:
        aliases = spark.read.parquet(args.alias_dict)
    return spark, t, aliases


def _kg(args) -> int:
    from batch_import_spark.pipeline.kg import (
        LAST_DICT_STATS,
        prepare_link_dict,
        run_kg_pipeline,
    )
    from batch_import_spark.sinks import GraphSink

    spark, t, aliases = _kg_inputs(args, "kg-construct")
    res = run_kg_pipeline(
        t, aliases, link_dict=prepare_link_dict(aliases), extraction=args.extraction
    )
    GraphSink(spark, args.out, fmt=args.format).write_graph(
        res.nodes, res.edges, mode=args.write_mode
    )
    print(json.dumps({"job": "kg", "out": args.out, **res.metrics, "link_dict": LAST_DICT_STATS}))
    return 0


def _resume(args) -> int:
    from batch_import_spark.pipeline.checkpoint import KgCheckpointer

    spark, t, aliases = _kg_inputs(args, "kg-resume")
    ck = KgCheckpointer(spark, args.base_dir, n_buckets=args.n_buckets)
    stats = ck.resume(t, aliases, run_id=args.run_id, max_buckets=args.max_buckets)
    print(json.dumps({"job": "resume", "base_dir": args.base_dir, **stats}))
    return 0


def _import_csv(args) -> int:
    from batch_import_spark.config import load_config

    props = open(args.properties).read() if args.properties else ""
    cfg = load_config(props, nodes_files=args.nodes, rels_files=args.rels)
    return _run_csv_import(cfg, args.out, args.format)


def _legacy(args) -> int:
    """The reference's positional CLI (Importer.main, Config.java:36-47):
    <graphdb-out> <nodes-files> [rels-files] [elementType indexName
    indexType indexFile]..., with an optional leading batch.properties
    path (Importer.java:41-46)."""
    from batch_import_spark.config import load_config

    argv = list(args.args)
    props = ""
    if argv and argv[0].endswith(".properties"):
        props = open(argv.pop(0)).read()
    if not argv:
        raise SystemExit("legacy: <graphdb-out> [nodes-files] [rels-files] [quads...]")
    out = argv.pop(0)
    nodes = argv.pop(0) if argv and len(argv) % 4 != 0 else None
    rels = argv.pop(0) if argv and len(argv) % 4 != 0 else None
    cfg = load_config(props, nodes_files=nodes, rels_files=rels, index_args=argv)
    return _run_csv_import(cfg, out, "auto")


def _run_csv_import(cfg, out: str, fmt: str) -> int:
    """Import the configured files and print one JSON record: the
    written node count and, when rel files ran, the ``rel_import``
    counters (n_input / n_resolved / n_skipped). Both come from
    Observations on the writes; nothing is read back."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from batch_import_spark.config import to_files
    from batch_import_spark.operators.graph_import import (
        INDEX_SCHEMA,
        REL_INDEX_SCHEMA,
        import_index,
        import_nodes,
        import_relationships,
    )
    from batch_import_spark.session import build_session, local_frame
    from batch_import_spark.sinks import GraphSink
    from batch_import_spark.sources.csv_source import read_reference_csv

    spark = build_session(app_name="batch-import")
    sink = GraphSink(spark, out, fmt=fmt)
    mode = "append" if cfg.keep_db else "overwrite"

    # Config.toFiles discipline (drop empties/"null"/missing local
    # paths). An empty post-filter list means "nothing to import" for
    # that stage — the reference skips the stage (Importer.doImport),
    # it does not fail. No fallback to the unfiltered list: that would
    # reintroduce exactly the paths toFiles dropped.
    nodes_files = to_files(",".join(cfg.nodes_files)) if cfg.nodes_files else []
    record = {"job": "import-csv", "out": out, "n_nodes": 0}
    index_entries = local_frame(spark, [], INDEX_SCHEMA)
    if nodes_files:
        nodes = import_nodes(
            read_reference_csv(
                spark, nodes_files, delim=cfg.delim, quotes=cfg.quotes,
                array_separator=cfg.array_separator,
            )
        )
        index_entries = nodes.index_entries
        obs_nodes = Observation()
        sink.write(
            nodes.nodes.observe(obs_nodes, F.count(F.lit(1)).alias("n_nodes")),
            "nodes",
            mode=mode,
        )
        record.update(obs_nodes.get)
    rel_index_entries = local_frame(spark, [], REL_INDEX_SCHEMA)
    for info in cfg.indexes.values():
        # standalone index files — only existing, readable ones import
        # (Importer.java:186-196 + IndexInfo.shouldImportFile); column 0
        # is the entity id, node or relationship per the element type
        if info.should_import_file():
            extra = import_index(
                read_reference_csv(spark, [info.file], delim=cfg.delim, quotes=cfg.quotes)
            )
            if info.is_node_index:
                index_entries = index_entries.unionByName(extra)
            else:
                rel_index_entries = rel_index_entries.unionByName(
                    extra.withColumnRenamed("node_id", "rel_id")
                )
    sink.write(index_entries, "index_entries", mode=mode)

    rels_files = to_files(",".join(cfg.rels_files)) if cfg.rels_files else []
    if rels_files:
        rels = import_relationships(
            read_reference_csv(
                spark, rels_files, delim=cfg.delim, quotes=cfg.quotes,
                array_separator=cfg.array_separator,
            ),
            sink.read("index_entries"),
        )
        sink.write(rels.edges, "edges", mode=mode)
        rel_index_entries = rel_index_entries.unionByName(rels.index_entries)
        record.update(rels.observation.get)
    sink.write(rel_index_entries, "rel_index_entries", mode=mode)
    print(json.dumps(record))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="batch_import_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    kg = sub.add_parser("kg", help="end-to-end KG construction")
    kg.add_argument("--transcripts", required=True, help="parquet dir or table name")
    kg.add_argument("--alias-dict", default="builtin", help="parquet dir or 'builtin'")
    kg.add_argument("--out", required=True, help="output dir or catalog.db prefix")
    kg.add_argument("--extraction", choices=["pandas", "expr"], default="pandas")
    kg.add_argument("--write-mode", choices=["overwrite", "append"], default="overwrite")
    kg.add_argument("--format", choices=["auto", "parquet", "iceberg"], default="auto")
    kg.set_defaults(fn=_kg)

    rs = sub.add_parser("resume", help="checkpointed per-bucket resume")
    rs.add_argument("--transcripts", required=True)
    rs.add_argument("--alias-dict", default="builtin")
    rs.add_argument("--base-dir", required=True)
    rs.add_argument("--n-buckets", type=int, default=64)
    rs.add_argument("--max-buckets", type=int, default=None)
    rs.add_argument("--run-id", default="run")
    rs.set_defaults(fn=_resume)

    ic = sub.add_parser("import-csv", help="reference-format CSV import")
    ic.add_argument("--nodes", default=None, help="comma-separated node files")
    ic.add_argument("--rels", default=None, help="comma-separated rel files")
    ic.add_argument("--out", required=True)
    ic.add_argument("--properties", default=None, help="batch.properties file")
    ic.add_argument("--format", choices=["auto", "parquet", "iceberg"], default="auto")
    ic.set_defaults(fn=_import_csv)

    lg = sub.add_parser(
        "legacy",
        help="reference positional form: [batch.properties] <out> <nodes> [rels] [quads...]",
    )
    lg.add_argument("args", nargs="+")
    lg.set_defaults(fn=_legacy)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
