"""Every top-level definition in the package is reached from a
production root, every option of a reached definition is set by some
production call, and every keyword a production call passes names a
parameter of its callee.

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
it on purpose, listed in ``ALLOWLIST`` with the reason.

Production code is the package and the root files; tests are not. A
production call reaches a callee through the same import resolution
(a ``Class(...)`` call reaches ``__init__`` or the dataclass fields),
through ``self``/``cls`` inside a class, or, for ``obj.method(...)``
that resolves to nothing, by method name alone. The call sets the
parameters it binds by position or by keyword (a ``*``/``**`` splat
sets them all).

- Option check: a defaulted parameter of a reached function or of a
  method of a reached class that no production call sets is an option
  nobody selects. Delete it (its default becomes a constant) with the
  branches only other values reached, or, for a deployment setting,
  list it in ``OPTION_ALLOWLIST`` with the reason (at most 8).
- Keyword check: a keyword that names no parameter of the callee it
  resolves to through the imports (or ``self``) is a ``TypeError`` the
  first time that call runs, unless the callee takes ``**kwargs``.
"""

from __future__ import annotations

import ast
from pathlib import Path
from typing import NamedTuple

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

# "module.function(param)" -> why it stays settable (deployment settings only)
OPTION_ALLOWLIST: dict[str, str] = {}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_IMPORTS = (ast.Import, ast.ImportFrom)


class _Module:
    def __init__(self, source: str) -> None:
        self.tree = tree = ast.parse(source)
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


def _chain(node: ast.AST) -> list[str] | None:
    """``["a", "b", "c"]`` for the Name or dotted Attribute chain
    ``a.b.c``; None for any other expression."""
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    return [node.id, *reversed(parts)] if isinstance(node, ast.Name) else None


def _chains(node: ast.AST):
    """Every Name and dotted Attribute chain under node."""
    for n in ast.walk(node):
        if isinstance(n, (ast.Name, ast.Attribute)) and (c := _chain(n)):
            yield c


def _targets(mods: dict[str, _Module], mod: str, chain: list[str], load=None):
    """``(module, definition, rest of chain)`` for every package
    top-level definition that ``chain`` names in module ``mod``, through
    its imports (re-exports followed). ``load`` sees every module the
    chain passes through."""

    def attr(m: str, rest: list[str], seen: frozenset):
        if m not in mods:
            return
        if load:
            load(m)
        if not rest:
            return
        head, tail = rest[0], rest[1:]
        if f"{m}.{head}" in mods:
            yield from attr(f"{m}.{head}", tail, seen)
        elif head in mods[m].defs:
            yield m, head, tail
        elif head in mods[m].imports and (m, head) not in seen:
            for target, name in mods[m].imports[head]:
                yield from attr(target, ([name] if name else []) + tail, seen | {(m, head)})

    head, tail = chain[0], chain[1:]
    if head in mods[mod].defs:
        yield mod, head, tail
    for target, name in mods[mod].imports.get(head, ()):
        yield from attr(target, ([name] if name else []) + tail, frozenset())


def _reach(
    extra: dict[str, str] | None = None, allowed: tuple[str, ...] = ()
) -> tuple[dict[str, _Module], set[tuple[str, str]]]:
    """The modules, and the ``(module, name)`` of every package
    top-level definition a production root reaches. ``allowed`` names
    are walked as roots."""
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
            for m, name, _ in _targets(mods, mod, chain, load):
                reach(m, name)
    return mods, reached


def unreached(
    extra: dict[str, str] | None = None, allowed: tuple[str, ...] = ()
) -> list[str]:
    """``module.name`` of every package top-level definition that no
    production root reaches. ``allowed`` names are walked as roots (so
    what only they call is reached) and left out of the result."""
    mods, reached = _reach(extra, allowed)
    return sorted(
        f"{m}.{name}"
        for m, mod in mods.items()
        if m.startswith(PKG)
        for name in mod.defs
        if (m, name) not in reached or f"{m}.{name}" in allowed
    )


class _Signature(NamedTuple):
    positional: list[str]  # bindable by position, after self/cls
    names: set[str]  # bindable by keyword
    defaulted: list[str]
    var_kw: bool


def _signature(fn: ast.FunctionDef, bound: bool) -> _Signature:
    a = fn.args
    positional = [p.arg for p in a.posonlyargs + a.args]
    defaulted = positional[len(positional) - len(a.defaults):] + [
        k.arg for k, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    ]
    if bound:
        positional = positional[1:]
    names = {p.arg for p in a.args + a.kwonlyargs} - {"self", "cls"}
    return _Signature(positional, names, defaulted, a.kwarg is not None)


def _decorators(fn: ast.AST) -> set[str]:
    return {ast.unparse(d).split("(")[0].split(".")[-1] for d in fn.decorator_list}


def _methods(cls: ast.ClassDef) -> dict[str, ast.FunctionDef]:
    return {n.name: n for n in cls.body if isinstance(n, _DEFS[:2])}


def _class_signature(cls: ast.ClassDef) -> _Signature | None:
    """The constructor's signature: ``__init__``, or the fields of a
    dataclass or NamedTuple; None when it comes from a base class."""
    init = _methods(cls).get("__init__")
    if init is not None:
        return _signature(init, bound=True)
    bases = {ast.unparse(b).split(".")[-1] for b in cls.bases}
    if "dataclass" not in _decorators(cls) and "NamedTuple" not in bases:
        return None
    fields = [
        n for n in cls.body
        if isinstance(n, ast.AnnAssign) and isinstance(n.target, ast.Name)
        and "ClassVar" not in ast.unparse(n.annotation)
    ]
    names = [f.target.id for f in fields]
    defaulted = [f.target.id for f in fields if f.value is not None]
    return _Signature(names, set(names), defaulted, False)


def _call_sites(mods: dict[str, _Module]):
    """``(module, call, callees)`` for every call in the production
    code. ``callees`` holds ``(qualified name, signature, resolved)``
    for each package function, method or class the call can reach:
    resolved through the imports, through ``self``/``cls`` inside a
    class, or (``resolved`` False) by method name alone."""
    by_name: dict[str, list[tuple[str, ast.FunctionDef]]] = {}
    for m, mod in mods.items():
        for cname, cls in mod.defs.items():
            if m.startswith(PKG) and isinstance(cls, ast.ClassDef):
                for meth, fn in _methods(cls).items():
                    by_name.setdefault(meth, []).append((f"{m}.{cname}.{meth}", fn))

    def of(m: str, name: str, tail: list[str]):
        node = mods[m].defs[name]
        if isinstance(node, ast.ClassDef):
            if not tail:
                sig = _class_signature(node)
                return sig and (f"{m}.{name}", sig)
            fn = _methods(node).get(tail[0])
            if len(tail) == 1 and fn is not None:
                # Class.method(...): only a classmethod binds its first parameter
                bound = "classmethod" in _decorators(fn)
                return f"{m}.{name}.{tail[0]}", _signature(fn, bound)
        elif not tail:
            return f"{m}.{name}", _signature(node, bound=False)
        return None

    for m, mod in mods.items():
        owners = {
            id(n): cls
            for cls in mod.tree.body if isinstance(cls, ast.ClassDef)
            for n in ast.walk(cls)
        }
        for call in ast.walk(mod.tree):
            if not isinstance(call, ast.Call):
                continue
            chain = _chain(call.func)
            callees = []
            if chain is not None:
                cls = owners.get(id(call))
                if cls is not None and len(chain) == 2 and chain[0] in ("self", "cls"):
                    fn = _methods(cls).get(chain[1])
                    if fn is not None:
                        callees.append((f"{m}.{cls.name}.{chain[1]}",
                                        _signature(fn, bound=True), True))
                if not callees:
                    callees = [
                        (*c, True) for t in _targets(mods, m, chain) if (c := of(*t))
                    ]
            if not callees and isinstance(call.func, ast.Attribute):
                callees = [
                    (q, _signature(fn, bound="staticmethod" not in _decorators(fn)), False)
                    for q, fn in by_name.get(call.func.attr, ())
                ]
            if callees:
                yield m, call, callees


def _binds(call: ast.Call, sig: _Signature) -> set[str]:
    """The parameters ``call`` sets."""
    if any(isinstance(a, ast.Starred) for a in call.args) or any(
        k.arg is None for k in call.keywords
    ):
        return set(sig.positional) | sig.names
    return set(sig.positional[: len(call.args)]) | {k.arg for k in call.keywords}


def unset_options(extra: dict[str, str] | None = None) -> list[str]:
    """``module.function(param)`` for every defaulted parameter of a
    reached package function or method (of a reached class) that no
    production call sets, by position or by keyword."""
    mods, reached = _reach(extra)
    options: dict[str, list[str]] = {}
    for m, name in reached:
        if not m.startswith(PKG):
            continue
        node = mods[m].defs[name]
        if isinstance(node, ast.ClassDef):
            for meth, fn in _methods(node).items():
                if meth == "__init__" or not meth.startswith("__"):
                    options[f"{m}.{name}" + ("" if meth == "__init__" else f".{meth}")] = (
                        _signature(fn, bound=False).defaulted)
        else:
            options[f"{m}.{name}"] = _signature(node, bound=False).defaulted
    bound: set[tuple[str, str]] = set()
    for _, call, callees in _call_sites(mods):
        for qual, sig, _ in callees:
            bound |= {(qual, p) for p in _binds(call, sig)}
    return sorted(
        f"{q}({p})" for q, params in options.items() for p in params if (q, p) not in bound
    )


def unknown_keywords(extra: dict[str, str] | None = None) -> list[str]:
    """``module:line callee(keyword)`` for every keyword a production
    call passes that names no parameter of the package callee it
    resolves to (a ``TypeError`` at run time)."""
    mods, _ = _reach(extra)
    found = []
    for m, call, callees in _call_sites(mods):
        for qual, sig, resolved in callees:
            if resolved and not sig.var_kw:
                found += [
                    f"{m}:{call.lineno} {qual}({k.arg})"
                    for k in call.keywords if k.arg is not None and k.arg not in sig.names
                ]
    return sorted(found)


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


def test_every_option_is_set_by_a_production_call():
    unset = [o for o in unset_options() if o not in OPTION_ALLOWLIST]
    assert unset == [], (
        "options no production call sets: delete each (its default becomes "
        "a constant) with the branches only other values reach, or allowlist "
        f"a deployment setting with the reason: {unset}"
    )


def test_option_allowlist_is_small_and_current():
    assert len(OPTION_ALLOWLIST) <= 8
    assert all(reason for reason in OPTION_ALLOWLIST.values())
    assert sorted(OPTION_ALLOWLIST) == [o for o in unset_options() if o in OPTION_ALLOWLIST]


def test_option_check_reports_an_injected_unused_option():
    mod = f"{PKG}.queries.dedup"
    probe = (
        "\n\ndef _option_probe(df, unused=1):\n    return df\n\n\n"
        "query('option_probe', lambda spark, sf: _option_probe(spark), '')\n"
    )
    assert f"{mod}._option_probe(unused)" in unset_options({mod: probe})
    # a production call that sets it, by keyword or by position
    for call in ("_option_probe(spark, unused=2)", "_option_probe(spark, 2)"):
        assert f"{mod}._option_probe(unused)" not in unset_options(
            {mod: probe.replace("_option_probe(spark)", call)}
        )


def test_every_production_keyword_names_a_parameter():
    assert unknown_keywords() == []


def test_keyword_check_reports_an_injected_unknown_keyword():
    mod = f"{PKG}.queries.dedup"
    probe = "\n\ndef _keyword_probe(d):\n    return simhash_near_duplicates(d, kernel='expr')\n"
    found = unknown_keywords({mod: probe})
    assert [f for f in found if f.endswith(
        f"{PKG}.operators.dedup.simhash_near_duplicates(kernel)")] != []
    assert all(f.startswith(f"{mod}:") for f in found)
