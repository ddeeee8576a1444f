"""Every top-level definition in ``data_check_spark/`` must be reachable from
an entry point.

The roots are the launch surfaces: ``jobs/``, ``__spark_entry__.py``, every
``@register``ed query in ``queries.py``, ``tools/``, ``bench.py`` and
``perfbench/``. The audit parses the source (nothing is imported) and
resolves names through each module's import bindings, so a name that only
appears in a string or a comment is not a use, and neither is a use from
``tests/``. A definition no root reaches is dead code: delete it, or, if a
test compares live output against it, add it to ``KEEP`` with the reason.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "data_check_spark"
ROOT_PATHS = ["jobs", "__spark_entry__.py", "tools", "bench.py", "perfbench"]

KEEP = {
    # The operator recovery step that engine.reconcile_outputs is specified
    # against (tests/test_reconcile.py drives it).
    "data_check_spark.checkpoint.mark_failed",
    # Reference xlsx decoder: tests read back the workbook that
    # validate_job --export-result writes and compare it against the source rows.
    "data_check_spark.sources.xlsx",
}


def _py_files(rel: str) -> list[str]:
    path = os.path.join(REPO, rel)
    if os.path.isfile(path):
        return [path]
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        out += [os.path.join(root, f) for f in sorted(files) if f.endswith(".py")]
    return out


def _modname(path: str) -> str:
    rel = os.path.relpath(path, REPO)[: -len(".py")].split(os.sep)
    if rel[-1] == "__init__":
        rel = rel[:-1]
    return ".".join(rel)


class _Module:
    """One parsed file: its top-level defs, import bindings and, per def
    (and for the module body outside defs), the dotted names it loads."""

    def __init__(self, path: str):
        self.name = _modname(path)
        self.is_pkg = path.endswith("__init__.py")
        self.tree = ast.parse(open(path, encoding="utf-8").read(), path)
        kinds = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        self.defs = {n.name: n for n in self.tree.body if isinstance(n, kinds)}
        self.body_refs = [n for n in self.tree.body if not isinstance(n, kinds)]
        self.binds: dict[str, str] = {}  # local name -> dotted target, any scope
        for node in ast.walk(self.tree):
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                self.binds.update(self._import_binds(node))

    def _import_binds(self, node) -> dict[str, str]:
        if isinstance(node, ast.Import):
            return {
                (a.asname or a.name.split(".")[0]): (a.name if a.asname else a.name.split(".")[0])
                for a in node.names
            }
        base = node.module or ""
        if node.level:
            parts = self.name.split(".")
            parts = parts if self.is_pkg else parts[:-1]
            parts = parts[: len(parts) - (node.level - 1)]
            base = ".".join(parts + ([node.module] if node.module else []))
        return {(a.asname or a.name): f"{base}.{a.name}" for a in node.names if a.name != "*"}

    def loads(self, nodes) -> set[str]:
        """Dotted names (``a.b.c``) loaded anywhere under ``nodes``, with the
        leading local name replaced by what it is bound to."""
        out: set[str] = set()
        for top in nodes:
            for node in ast.walk(top):
                chain = []
                cur = node
                while isinstance(cur, ast.Attribute):
                    chain.append(cur.attr)
                    cur = cur.value
                if not isinstance(cur, ast.Name):
                    continue
                head = self.binds.get(cur.id, f"{self.name}.{cur.id}")
                out.add(".".join([head] + chain[::-1]))
        return out


def _is_register(dec: ast.AST) -> bool:
    fn = dec.func if isinstance(dec, ast.Call) else dec
    return isinstance(fn, ast.Name) and fn.id == "register"


def unreached() -> list[str]:
    pkg = {m.name: m for m in map(_Module, _py_files(PKG))}
    roots = [_Module(p) for rel in ROOT_PATHS for p in _py_files(rel)]

    def resolve(dotted: str, seen=()) -> str | None:
        """Follow a dotted name to ``module.def`` or ``module`` in the package."""
        parts = dotted.split(".")
        for i in range(len(parts), 0, -1):
            mod = pkg.get(".".join(parts[:i]))
            if mod is None:
                continue
            rest = parts[i:]
            if not rest:
                return mod.name
            if rest[0] in mod.defs:
                return f"{mod.name}.{rest[0]}"
            target = mod.binds.get(rest[0])
            if target and target not in seen:
                return resolve(".".join([target] + rest[1:]), seen + (target,))
            return mod.name
        return None

    reached: set[str] = set()
    todo: list[tuple[_Module, list]] = [(r, [r.tree]) for r in roots]

    def reach(hit: str) -> None:
        if hit in reached:
            return
        reached.add(hit)
        if hit in pkg:  # importing a module runs its body and its packages'
            parts = hit.split(".")
            for i in range(1, len(parts)):
                if ".".join(parts[:i]) in pkg:
                    reach(".".join(parts[:i]))
            todo.append((pkg[hit], pkg[hit].body_refs))
        else:
            owner, name = hit.rsplit(".", 1)
            reach(owner)
            todo.append((pkg[owner], [pkg[owner].defs[name]]))

    for mod in pkg.values():
        for d in mod.defs.values():
            if any(_is_register(x) for x in getattr(d, "decorator_list", [])):
                reach(f"{mod.name}.{d.name}")
    while todo:
        mod, nodes = todo.pop()
        for dotted in mod.loads(nodes):
            hit = resolve(dotted)
            if hit is not None:
                reach(hit)
    dead = []
    for mod in pkg.values():
        if mod.name not in reached and mod.defs:
            dead.append(mod.name)
            continue
        dead += [f"{mod.name}.{d}" for d in mod.defs if f"{mod.name}.{d}" not in reached]
    return sorted(dead)


def test_every_package_definition_is_reachable_from_an_entry_point():
    dead = [d for d in unreached() if d not in KEEP]
    assert not dead, (
        f"{len(dead)} definitions in {PKG}/ are reached by no entry point "
        f"({', '.join(ROOT_PATHS)}, @register queries); delete them:\n  " + "\n  ".join(dead)
    )
