"""batch-import-style configuration (reference G3, Config.java:36-100).

Parses the reference's ``batch.properties`` format + positional args
(graphdb, nodes-files, rels-files, index quadruples) into a typed
pipeline config driving ``read_reference_csv`` / ``import_nodes`` /
``import_relationships``. Property names follow the reference exactly
(ConfigTest.java:53-120):

- ``batch_import.csv.delim``   — field delimiter (default TAB)
- ``batch_import.csv.quotes``  — quoted-CSV parsing (default true)
- ``batch_import.array_separator`` — array element separator (',')
- ``batch_import.node_index.<name>=<exact|fulltext>``
- ``batch_import.relationship_index.<name>=<exact|fulltext>``
- ``batch_import.nodes_files`` / ``batch_import.rels_files``
- ``batch_import.keep_db``     — append instead of replace (A7)

Neo4j store-tuning keys (mmap sizes etc.) are accepted and ignored —
they configure the reference's sink, which Parquet/Iceberg replaces.
"""

from __future__ import annotations

from dataclasses import dataclass, field


_ELEMENT_TYPES = {"node-index", "node_index", "relationship-index", "relationship_index"}
# exact + fulltext are the reference's two (IndexInfo.java:20);
# spatial is this engine's extension (operators/spatial.py, A8)
_INDEX_TYPES = {"exact", "fulltext", "spatial"}


@dataclass
class IndexInfo:
    """An index declaration (IndexInfo.java:18-38).

    Validates like the reference's constructor (IndexInfo.java:19-20):
    bad element/index types abort at config time, not mid-import.
    """

    element_type: str  # node-index | relationship-index
    name: str
    index_type: str  # exact | fulltext | spatial (spatial: ours)
    file: str | None = None

    def __post_init__(self) -> None:
        if self.element_type not in _ELEMENT_TYPES:
            raise ValueError(
                "ElementType has to be node_index or relationship_index, "
                f"but is {self.element_type}"
            )
        if self.index_type not in _INDEX_TYPES:
            raise ValueError(
                f"IndexType has to be one of {sorted(_INDEX_TYPES)}, "
                f"but is {self.index_type}"
            )

    @property
    def is_node_index(self) -> bool:
        return self.element_type in ("node-index", "node_index")

    def should_import_file(self) -> bool:
        """True when a standalone index file exists to import (A5);
        mirrors IndexInfo.shouldImportFile (IndexInfo.java:59-63)."""
        import os

        return (
            self.file is not None
            and os.path.isfile(self.file)
            and os.access(self.file, os.R_OK)
        )


@dataclass
class ImportConfig:
    graph_db: str | None = None
    nodes_files: list[str] = field(default_factory=list)
    rels_files: list[str] = field(default_factory=list)
    delim: str = "\t"
    quotes: bool = True
    array_separator: str = ","
    keep_db: bool = False
    indexes: dict[str, IndexInfo] = field(default_factory=dict)
    raw: dict[str, str] = field(default_factory=dict)


def to_files(spec: str) -> list[str]:
    """Config.toFiles semantics (ConfigTest.java:54-59): split a
    comma-separated list, drop empties and the literal ``null``, and
    drop LOCAL paths that do not exist. Non-local URIs (hdfs://,
    s3a://, ...) pass through — existence there is the cluster
    filesystem's call, not the driver's."""
    import os

    out: list[str] = []
    for p in (spec or "").split(","):
        p = p.strip()
        if not p or p == "null":
            continue
        if "://" not in p and not os.path.exists(p):
            continue
        out.append(p)
    return out


def parse_properties(text: str) -> dict[str, str]:
    """Minimal java-properties parser (key=value, # / ! comments)."""
    out: dict[str, str] = {}
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith(("#", "!")):
            continue
        if "=" in line:
            k, v = line.split("=", 1)
            out[k.strip()] = v.strip()
    return out


def load_config(
    properties_text: str = "",
    nodes_files: str | None = None,
    rels_files: str | None = None,
    index_args: list[str] | None = None,
) -> ImportConfig:
    """properties + positional args → ImportConfig.

    ``index_args`` are the trailing quadruples
    (element-type, index-name, index-type, file) of Importer.main
    (Config.java:94-100, IndexInfo.fromParams).
    """
    props = parse_properties(properties_text)
    cfg = ImportConfig(raw=props)
    cfg.graph_db = props.get("batch_import.graph_db")
    files = nodes_files or props.get("batch_import.nodes_files", "")
    cfg.nodes_files = [f for f in files.split(",") if f]
    files = rels_files or props.get("batch_import.rels_files", "")
    cfg.rels_files = [f for f in files.split(",") if f]
    cfg.delim = props.get("batch_import.csv.delim", "\t")
    cfg.quotes = props.get("batch_import.csv.quotes", "true").lower() == "true"
    cfg.array_separator = props.get("batch_import.array_separator", ",")
    cfg.keep_db = props.get("batch_import.keep_db", "false").lower() == "true"

    for k, v in props.items():
        for prefix, etype in (
            ("batch_import.node_index.", "node-index"),
            ("batch_import.relationship_index.", "relationship-index"),
        ):
            if k.startswith(prefix):
                name = k[len(prefix):]
                # value may carry a file: "exact:file" (fromConfigEntry,
                # IndexInfo.java:29-38). DELIBERATE DIVERGENCE: the
                # reference does split(":")[1], truncating the file at
                # any second colon; we keep everything after the FIRST
                # colon so URI-style files ("exact:hdfs://host/path")
                # survive intact. Covered by
                # test_fulltext_config.test_index_value_keeps_uri_files.
                itype, _, ifile = v.partition(":")
                cfg.indexes[name] = IndexInfo(etype, name, itype, ifile or None)
    for quad_start in range(0, len(index_args or []), 4):
        et, name, itype, file = (index_args or [])[quad_start : quad_start + 4]
        # the reference passes "null"/"none" for index-without-file
        # quadruples (Config.toFiles drops them; shouldImportFile is
        # false for them) — normalize to no-file here
        if file in ("null", "none", ""):
            file = None
        cfg.indexes[name] = IndexInfo(et, name, itype, file)
    return cfg
