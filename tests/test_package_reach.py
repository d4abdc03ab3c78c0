"""Every top-level def and module-level constant in ``unfurl_spark/`` is
reached from code that runs it.

The package ships to every executor (``--py-files``) and is imported by
every Python worker, so it should hold only what a job, the query
registry or the documented library API calls.  Fixture writers and
goldens that only tests call live under ``tests/``.

Reach is followed by name through the ``ast`` of each module: a def
reaches every top-level name it mentions, in its own module or through
an import (module-level or inside the def).  Importing a module runs its
module-level statements, so those reach what they mention too; a
module-level assignment is followed only once something reads the name
it binds.  A class reaches all of its methods.

Roots:
* the job driver, ``plans/driver.py``;
* the spark-submit entry point, ``__spark_entry__.py``, and through it the
  query registry;
* every identifier perfbench mentions (names, attributes and strings:
  its tracer patches module attributes by name);
* the library modules the README documents, in ``LIBRARY``.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "unfurl_spark"

# ``sources/tables.py`` is the driver's table shim, reached through the
# driver, so ``sources/`` names its two library modules rather than the
# whole package.  ``oembed_providers`` is here for ``load_registry``, the
# documented way to swap in a full providers.json dump.
LIBRARY = (
    "sources/fixtures.py",
    "sources/synthetic.py",
    "functions/charset.py",
    "functions/engine.py",
    "functions/content.py",
    "functions/multimodal.py",
    "functions/oembed_providers.py",
)


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _flatten(body):
    """Top-level statements, with the bodies of module-level if/try/with
    blocks lifted to the top (``try: import x`` and similar)."""
    for st in body:
        if isinstance(st, (ast.If, ast.Try, ast.With)):
            yield from _flatten(st.body)
            yield from _flatten(getattr(st, "orelse", []))
            yield from _flatten(getattr(st, "finalbody", []))
            for h in getattr(st, "handlers", []):
                yield from _flatten(h.body)
        else:
            yield st


def _bound_names(st) -> list[str]:
    if isinstance(st, _DEFS):
        return [st.name]
    targets = []
    if isinstance(st, ast.Assign):
        targets = st.targets
    elif isinstance(st, (ast.AnnAssign, ast.AugAssign)):
        targets = [st.target]
    names = []
    for t in targets:
        names += [n.id for n in ast.walk(t) if isinstance(n, ast.Name)]
    return names


class _Module:
    def __init__(self, name: str, path: Path):
        self.name = name
        self.package = (name if path.name == "__init__.py"
                        else name.rpartition(".")[0])
        tree = ast.parse(path.read_text(encoding="utf-8"))
        self.nodes: dict[str, list] = {}
        self.defs: set[str] = set()
        self.constants: set[str] = set()  # bound by module-level assignment
        self.init: list = []  # statements that run on import and bind nothing
        self.aliases: dict[str, tuple] = {}
        for st in _flatten(tree.body):
            if isinstance(st, (ast.Import, ast.ImportFrom)):
                self.aliases.update(self.imports(st))
                continue
            names = _bound_names(st)
            if isinstance(st, _DEFS):
                self.defs.add(st.name)
            else:  # dunder names (``__version__``) are read by tooling
                self.constants.update(
                    n for n in names
                    if not (n.startswith("__") and n.endswith("__")))
            if not names:
                self.init.append(st)
            for n in names:
                if n != "__all__":  # lists names, reaches none
                    self.nodes.setdefault(n, []).append(st)

    def imports(self, st) -> dict[str, tuple]:
        """alias -> ("module", dotted) or ("attr", dotted, name)."""
        out = {}
        if isinstance(st, ast.Import):
            for a in st.names:
                if a.asname:
                    out[a.asname] = ("module", a.name)
                else:  # ``import a.b`` binds ``a``
                    head = a.name.split(".")[0]
                    out[head] = ("module", head)
            return out
        base = st.module or ""
        if st.level:
            pkg = self.package.split(".")
            pkg = pkg[: len(pkg) - (st.level - 1)]
            base = ".".join(pkg + ([base] if base else []))
        for a in st.names:
            out[a.asname or a.name] = ("attr", base, a.name)
        return out


def _load_modules() -> dict[str, _Module]:
    mods = {}
    for path in sorted((REPO / PKG).rglob("*.py")):
        mods[_module_name(path)] = _Module(_module_name(path), path)
    entry = REPO / "__spark_entry__.py"
    mods["__spark_entry__"] = _Module("__spark_entry__", entry)
    return mods


class _Reach:
    def __init__(self, mods: dict[str, _Module]):
        self.mods = mods
        self.seen_nodes: set[tuple[str, str]] = set()
        self.seen_mods: set[str] = set()
        self.todo: list = []

    # -- marking ---------------------------------------------------------
    def module(self, name: str) -> None:
        if name not in self.mods or name in self.seen_mods:
            return
        self.seen_mods.add(name)
        parent = name.rpartition(".")[0]
        if parent:
            self.module(parent)
        m = self.mods[name]
        self.todo.append((m, m.init))

    def node(self, mod: str, name: str) -> None:
        if f"{mod}.{name}" in self.mods:
            self.module(f"{mod}.{name}")
            return
        m = self.mods.get(mod)
        if m is None:
            return
        self.module(mod)
        if name in m.nodes:
            if (mod, name) not in self.seen_nodes:
                self.seen_nodes.add((mod, name))
                self.todo.append((m, m.nodes[name]))
        elif name in m.aliases:  # a re-export
            self.target(m.aliases[name])

    def target(self, alias: tuple) -> None:
        if alias[0] == "module":
            self.module(alias[1])
        else:
            self.node(alias[1], alias[2])

    # -- walking ---------------------------------------------------------
    def _dotted(self, expr, aliases) -> str | None:
        """The module an expression names (``pkg.mod`` or an alias)."""
        if isinstance(expr, ast.Name):
            a = aliases.get(expr.id)
            if a and a[0] == "module":
                return a[1]
            if a and a[0] == "attr" and f"{a[1]}.{a[2]}" in self.mods:
                return f"{a[1]}.{a[2]}"
            return None
        if isinstance(expr, ast.Attribute):
            base = self._dotted(expr.value, aliases)
            if base and f"{base}.{expr.attr}" in self.mods:
                return f"{base}.{expr.attr}"
        return None

    def walk(self, m: _Module, stmts) -> None:
        aliases = dict(m.aliases)
        for st in stmts:
            for n in ast.walk(st):
                if isinstance(n, (ast.Import, ast.ImportFrom)):
                    aliases.update(m.imports(n))
        for st in stmts:
            for n in ast.walk(st):
                if isinstance(n, ast.Name):
                    if n.id in aliases:
                        self.target(aliases[n.id])
                    else:
                        self.node(m.name, n.id)
                elif isinstance(n, ast.Attribute):
                    base = self._dotted(n.value, aliases)
                    if base:
                        self.node(base, n.attr)

    def run(self) -> None:
        while self.todo:
            m, stmts = self.todo.pop()
            self.walk(m, stmts)


def _perfbench_identifiers() -> set[str]:
    names = set()
    for path in sorted((REPO / "perfbench").glob("*.py")):
        for n in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(n, ast.Name):
                names.add(n.id)
            elif isinstance(n, ast.Attribute):
                names.add(n.attr)
            elif isinstance(n, ast.alias):
                names.update(n.name.split("."))
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                names.update(p for p in n.value.split(".") if p.isidentifier())
    return names


def _unreached(kind: str) -> list[str]:
    """``module.name`` of every package def (``kind="defs"``) or
    constant (``kind="constants"``) that no root reaches."""
    mods = _load_modules()
    reach = _Reach(mods)
    roots = ["__spark_entry__", f"{PKG}.plans.driver"]
    for lib in LIBRARY:
        parts = lib.removesuffix(".py").strip("/").split("/")
        prefix = ".".join([PKG, *parts])
        roots += [n for n in mods if n == prefix or n.startswith(prefix + ".")]
    for name in roots:
        for node in mods[name].nodes:
            reach.node(name, node)
    perf = _perfbench_identifiers()
    for m in mods.values():
        for name in perf & set(m.nodes):
            reach.node(m.name, name)
    reach.run()
    return sorted(
        f"{m.name}.{d}"
        for m in mods.values() if m.name.startswith(PKG)
        for d in getattr(m, kind) if (m.name, d) not in reach.seen_nodes)


def test_every_package_def_is_reached_from_a_root():
    assert _unreached("defs") == []


def test_every_package_constant_is_reached_from_a_root():
    assert _unreached("constants") == []


def test_package_imports_nothing_from_tests():
    """Neither ``tests`` nor a module in it (``encoders``, ``vp8sys``, ...,
    importable by bare name when ``tests/`` is on the path)."""
    banned = {"tests"} | {p.stem for p in (REPO / "tests").glob("*.py")}
    for path in [REPO / "__spark_entry__.py", *(REPO / PKG).rglob("*.py"),
                 *(REPO / "perfbench").glob("*.py")]:
        for n in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(n, ast.ImportFrom):
                mods = [n.module or ""]
            elif isinstance(n, ast.Import):
                mods = [a.name for a in n.names]
            else:
                continue
            assert not {x.split(".")[0] for x in mods} & banned, path
