"""Every top-level definition in the package is reached from a
production root.

The roots are the query registry (the module-level ``query(...)``
declarations in ``batch_import_spark/queries/``), the spark-submit CLI
(``batch_import_spark.__main__.main``), the entry contract
(``__spark_entry__.py``), ``bench.py``, ``kgbench/`` and ``scripts/``.
The walk reads source only (``ast``); nothing is imported and no Spark
session is needed.

A reference is a name or a dotted attribute chain that resolves,
through the module's imports (re-exports followed), to a top-level
``def``/``class`` of the package. An import alone is not a use: a name
that ``operators/__init__.py`` re-exports and nothing calls is still
unreached. Loading a module runs its module-level statements, so the
statements of every module a reached unit imports are reached too.
Reaching a class reaches its whole body.

A definition the guard reports is either deleted or, when tests reach
it on purpose, listed in ``ALLOWLIST`` with the reason. Option values
no caller passes are not covered: those branches still need a review.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "batch_import_spark"

ROOT_FILES = ("__spark_entry__.py", "bench.py", "kgbench/*.py", "scripts/*.py")
ROOT_MODULES = (f"{PKG}.queries",)
ROOT_DEFS = ((f"{PKG}.__main__", "main"),)

ALLOWLIST = {
    f"{PKG}.sources.testdata_gen.generate_reference_csv": "test fixture generator",
    f"{PKG}.functions.bpe.decode_segments": "the BPE lossless-decode check",
    f"{PKG}.operators.similarity._long_lit_2d": "round-7 PQ pins rebuild the old formulation",
    f"{PKG}.operators.similarity._long_lit_3d": "round-7 PQ pins rebuild the old formulation",
    f"{PKG}.operators.similarity._q_int": "round-7 PQ pins rebuild the old formulation",
    f"{PKG}.operators.packing.packing_waste": "the packing test compares waste with it",
    f"{PKG}.operators.edges.normalize_edges": "port of the reference's RelationshipSorter",
    f"{PKG}.operators.edges.cluster_edges": "port of the reference's RelationshipSorter",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_IMPORTS = (ast.Import, ast.ImportFrom)


class _Module:
    def __init__(self, source: str) -> None:
        tree = ast.parse(source)
        self.defs = {n.name: n for n in tree.body if isinstance(n, _DEFS)}
        # local name -> {(module, attr or None)}; nested imports are
        # folded in with the module-level ones (conservative: a name
        # bound anywhere in the file resolves to every binding)
        self.imports: dict[str, set[tuple[str, str | None]]] = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        self._bind(a.asname, a.name, None)
                    else:
                        top = a.name.split(".")[0]
                        self._bind(top, top, None)
            elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
                for a in node.names:
                    self._bind(a.asname or a.name, node.module, a.name)
        self.statements = [n for n in tree.body if not isinstance(n, _DEFS + _IMPORTS)]
        self.loads = {
            (node.module, a.name) if isinstance(node, ast.ImportFrom) else (a.name, None)
            for node in tree.body
            if isinstance(node, _IMPORTS) and getattr(node, "module", "") is not None
            for a in node.names
        }

    def _bind(self, local: str, module: str, attr: str | None) -> None:
        self.imports.setdefault(local, set()).add((module, attr))


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _load_modules(extra: dict[str, str] | None = None) -> dict[str, _Module]:
    """The package's modules by dotted name, plus the root files;
    ``extra`` appends source to a module (the guard's own control)."""
    paths = sorted((ROOT / PKG).rglob("*.py"))
    for pattern in ROOT_FILES:
        paths += sorted(ROOT.glob(pattern))
    extra = extra or {}
    return {
        _module_name(p): _Module(p.read_text() + extra.get(_module_name(p), ""))
        for p in paths
    }


def _chains(node: ast.AST):
    """Every Name and dotted Attribute chain (``a.b.c``) under node."""
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield [n.id]
        elif isinstance(n, ast.Attribute):
            parts, cur = [], n
            while isinstance(cur, ast.Attribute):
                parts.append(cur.attr)
                cur = cur.value
            if isinstance(cur, ast.Name):
                yield [cur.id, *reversed(parts)]


def unreached(
    extra: dict[str, str] | None = None, allowed: tuple[str, ...] = ()
) -> list[str]:
    """``module.name`` of every package top-level definition that no
    production root reaches. ``allowed`` names are walked as roots (so
    what only they call is reached) and left out of the result."""
    mods = _load_modules(extra)
    reached: set[tuple[str, str]] = set()
    loaded: set[str] = set()
    work: list[ast.AST] = []
    work_mod: list[str] = []

    def push(mod: str, node: ast.AST) -> None:
        work.append(node)
        work_mod.append(mod)

    def load(mod: str) -> None:
        # importing a.b.c runs a, a.b and a.b.c
        parts = mod.split(".")
        for i in range(1, len(parts) + 1):
            m = ".".join(parts[:i])
            if m in mods and m not in loaded:
                loaded.add(m)
                for stmt in mods[m].statements:
                    push(m, stmt)
                for target, attr in mods[m].loads:
                    load(target)
                    if attr is not None and f"{target}.{attr}" in mods:
                        load(f"{target}.{attr}")

    def reach(mod: str, name: str) -> None:
        if (mod, name) not in reached:
            reached.add((mod, name))
            push(mod, mods[mod].defs[name])

    def attr(mod: str, rest: list[str], seen: frozenset = frozenset()) -> None:
        """Resolve ``rest`` inside module ``mod``."""
        if mod not in mods:
            return
        load(mod)
        if not rest:
            return
        head, tail = rest[0], rest[1:]
        if f"{mod}.{head}" in mods:
            attr(f"{mod}.{head}", tail, seen)
        elif head in mods[mod].defs:
            reach(mod, head)
        elif head in mods[mod].imports and (mod, head) not in seen:
            for target, name in mods[mod].imports[head]:
                attr(target, ([name] if name else []) + tail, seen | {(mod, head)})

    def resolve(mod: str, chain: list[str]) -> None:
        head, tail = chain[0], chain[1:]
        if head in mods[mod].defs:
            reach(mod, head)
        for target, name in mods[mod].imports.get(head, ()):
            attr(target, ([name] if name else []) + tail)

    for m in mods:
        if not m.startswith(PKG):
            load(m)
            for name in mods[m].defs:
                push(m, mods[m].defs[name])
    for m in ROOT_MODULES:
        load(m)
    for m, name in ROOT_DEFS + tuple(tuple(q.rsplit(".", 1)) for q in allowed):
        load(m)
        reach(m, name)
    while work:
        node, mod = work.pop(), work_mod.pop()
        for chain in _chains(node):
            resolve(mod, chain)

    return sorted(
        f"{m}.{name}"
        for m, mod in mods.items()
        if m.startswith(PKG)
        for name in mod.defs
        if (m, name) not in reached or f"{m}.{name}" in allowed
    )


def test_every_package_definition_is_reached():
    orphans = [q for q in unreached(allowed=tuple(ALLOWLIST)) if q not in ALLOWLIST]
    assert orphans == [], (
        "unreached from the production roots: delete them, or allowlist "
        f"them with the reason a test reaches them: {orphans}"
    )


def test_allowlist_is_small_and_current():
    assert len(ALLOWLIST) <= 8
    assert all(reason for reason in ALLOWLIST.values())
    # an allowlisted name that production now reaches, or that no
    # longer exists, must leave the list; one no test names has no
    # reason to stay
    assert sorted(ALLOWLIST) == [q for q in unreached() if q in ALLOWLIST]
    tests = "".join(p.read_text() for p in Path(__file__).parent.glob("test_*.py")
                    if p.name != Path(__file__).name)
    assert [q for q in ALLOWLIST if q.rsplit(".", 1)[1] not in tests] == []


def test_guard_reports_an_injected_orphan():
    mod = f"{PKG}.operators.dedup"
    orphan = "\n\ndef _orphan_probe(df):\n    return exact_dedup(df, df.text)\n"
    assert f"{mod}._orphan_probe" in unreached({mod: orphan})
    assert f"{mod}._orphan_probe" not in unreached()
    # an import is not a use: a re-export of the orphan stays unreached
    reexport = f"\nfrom {mod} import _orphan_probe  # noqa: F401\n"
    found = unreached({mod: orphan, f"{PKG}.operators": reexport})
    assert f"{mod}._orphan_probe" in found
