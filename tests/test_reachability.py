"""Every top-level definition in ``data_check_spark/`` must be reachable from
an entry point.

The roots are the launch surfaces: ``jobs/``, ``__spark_entry__.py``, every
``@register``ed query in ``queries.py``, ``tools/``, ``bench.py`` and
``perfbench/``. The audit parses the source (nothing is imported) and
resolves names through each module's import bindings, so a name that only
appears in a string or a comment is not a use, and neither is a use from
``tests/``. A definition no root reaches is dead code: delete it, or, if a
test compares live output against it, add it to ``KEEP`` with the reason.

The option audit applies the same walk to parameters: a defaulted parameter
of a package function or method that no reached call sets has one value in
use, so it is a constant, not an option. Delete it, or, if it belongs to a
``KEEP`` definition, names a resource outside the program, or switches on
a check of outside input, add it to ``KEEP_OPTIONS`` with the reason.

The constant audit flags a module-level UPPER_CASE name of the package that
no file (package, roots or ``tests/``) reads; being assigned is not a read.
``KEEP`` is the escape hatch here too.
"""

from __future__ import annotations

import ast
import os
import re

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


KEEP_OPTIONS = {
    # KEEP definition: the reference decoder reads any sheet of a workbook.
    "data_check_spark.sources.xlsx.read_xlsx_df(sheet)",
    "data_check_spark.sources.xlsx.read_xlsx_rows(sheet)",
    # Check of outside input: nullability drift in an incoming table.
    "data_check_spark.schemas.validate_schema(strict_nullability)",
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
                if not isinstance(cur, ast.Name) or isinstance(node.ctx, ast.Store):
                    continue
                head = self.binds.get(cur.id, f"{self.name}.{cur.id}")
                out.add(".".join([head] + chain[::-1]))
        return out


def _is_register(dec: ast.AST) -> bool:
    fn = dec.func if isinstance(dec, ast.Call) else dec
    return isinstance(fn, ast.Name) and fn.id == "register"


def _resolver(pkg: dict[str, _Module], names):
    """``resolve(dotted)``: follow a dotted name through re-exports to
    ``module.name`` for a ``name`` in ``names(module)``, else to the
    innermost package ``module``, else None."""

    def resolve(dotted: str, seen=()) -> str | None:
        parts = dotted.split(".")
        for i in range(len(parts), 0, -1):
            mod = pkg.get(".".join(parts[:i]))
            if mod is None:
                continue
            rest = parts[i:]
            if not rest:
                return mod.name
            if rest[0] in names(mod):
                return f"{mod.name}.{rest[0]}"
            target = mod.binds.get(rest[0])
            if target and target not in seen:
                return resolve(".".join([target] + rest[1:]), seen + (target,))
            return mod.name
        return None

    return resolve


def _walk():
    """Parse the package and the roots and follow every use from the roots.
    Returns the package modules by name, the reached ``module`` and
    ``module.def`` names, and every (module, nodes) the walk read."""
    pkg = {m.name: m for m in map(_Module, _py_files(PKG))}
    roots = [_Module(p) for rel in ROOT_PATHS for p in _py_files(rel)]
    resolve = _resolver(pkg, lambda mod: mod.defs)

    reached: set[str] = set()
    todo: list[tuple[_Module, list]] = [(r, [r.tree]) for r in roots]
    visited: list[tuple[_Module, list]] = []

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
        visited.append((mod, nodes))
        for dotted in mod.loads(nodes):
            hit = resolve(dotted)
            if hit is not None:
                reach(hit)
    return pkg, reached, visited, resolve


def unreached() -> list[str]:
    pkg, reached, _, _ = _walk()
    dead = []
    for mod in pkg.values():
        if mod.name not in reached and mod.defs:
            dead.append(mod.name)
            continue
        dead += [f"{mod.name}.{d}" for d in mod.defs if f"{mod.name}.{d}" not in reached]
    return sorted(dead)


def unreferenced_constants() -> list[str]:
    """``module.NAME`` for each module-level UPPER_CASE assignment in the
    package that no file loads; the assignment's own target is not a load."""
    pkg = {m.name: m for m in map(_Module, _py_files(PKG))}
    consts = {
        name: {
            t.id
            for node in mod.tree.body
            if isinstance(node, (ast.Assign, ast.AnnAssign))
            for t in (node.targets if isinstance(node, ast.Assign) else [node.target])
            if isinstance(t, ast.Name) and re.fullmatch(r"_?[A-Z][A-Z0-9_]*", t.id)
        }
        for name, mod in pkg.items()
    }
    resolve = _resolver(pkg, lambda mod: consts[mod.name])
    readers = list(pkg.values()) + [_Module(p) for rel in ROOT_PATHS + ["tests"] for p in _py_files(rel)]
    used = {resolve(d) for mod in readers for d in mod.loads([mod.tree])}
    return sorted(f"{m}.{c}" for m, names in consts.items() for c in names if f"{m}.{c}" not in used)


def _defaulted(fn) -> list[str]:
    """Names of ``fn``'s parameters that carry a default."""
    a = fn.args
    pos = a.posonlyargs + a.args
    out = [p.arg for p in pos[len(pos) - len(a.defaults):]] if a.defaults else []
    return out + [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]


def _is_static(fn) -> bool:
    return any(isinstance(d, ast.Name) and d.id == "staticmethod" for d in fn.decorator_list)


def _dotted(node) -> str | None:
    chain = []
    while isinstance(node, ast.Attribute):
        chain.append(node.attr)
        node = node.value
    return ".".join([node.id] + chain[::-1]) if isinstance(node, ast.Name) else None


def option_audit() -> tuple[dict[str, list[str]], set[str]]:
    """Every defaulted parameter of a package function or method, and the ones
    no reached call sets.

    Returns ``(defaulted, unset)``: ``defaulted`` maps ``module.func`` (or
    ``module.Class.method``) to its defaulted parameter names; ``unset`` holds
    ``module.func(param)`` for each one that no call in root or reached
    package code passes, by keyword or by position. A call that passes
    ``*args`` or ``**mapping`` sets every parameter. A function that escapes
    as a value (stored, passed as an argument, used as a decorator target)
    is called where the audit cannot see, so it is exempt; so are
    ``@register`` queries, handed out by ``__spark_entry__.queries()``, and
    dunder methods other than ``__init__``. Method calls (``obj.name(...)``)
    are matched by method name, over every class in the package."""
    pkg, _, visited, resolve = _walk()
    funcs: dict[str, tuple[ast.AST, int]] = {}  # qualname -> (def, leading params to skip)
    methods: dict[str, list[str]] = {}  # method name -> qualnames
    escaped: set[str] = set()
    for mod in pkg.values():
        for d in mod.defs.values():
            if isinstance(d, ast.ClassDef):
                for m in d.body:
                    if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        q = f"{mod.name}.{d.name}.{m.name}"
                        funcs[q] = (m, 0 if _is_static(m) else 1)
                        methods.setdefault(m.name, []).append(q)
                        if m.name.startswith("__") and m.name != "__init__":
                            escaped.add(q)
            else:
                funcs[f"{mod.name}.{d.name}"] = (d, 0)
                if any(_is_register(x) for x in d.decorator_list):
                    escaped.add(f"{mod.name}.{d.name}")

    def targets(mod, func) -> list[tuple[str, int]]:
        """The package functions a call or reference to ``func`` can mean."""
        dotted = _dotted(func)
        if dotted is not None:
            head, *rest = dotted.split(".")
            hit = resolve(".".join([mod.binds.get(head, f"{mod.name}.{head}")] + rest))
            if hit and hit.rsplit(".", 1)[-1] == dotted.rsplit(".", 1)[-1]:
                if hit in funcs:
                    return [(hit, funcs[hit][1])]
                init = f"{hit}.__init__"  # a class: calling it runs __init__
                return [(init, 1)] if init in funcs else []
        if isinstance(func, ast.Attribute):
            return [(q, funcs[q][1]) for q in methods.get(func.attr, [])]
        return []

    set_params: dict[str, set[str]] = {}
    for mod, nodes in visited:
        for top in nodes:
            call_funcs, values = set(), set()
            for node in ast.walk(top):
                if isinstance(node, ast.Call):
                    call_funcs.add(id(node.func))
                if isinstance(node, ast.Attribute):
                    values.add(id(node.value))
            for node in ast.walk(top):
                if isinstance(node, ast.Call):
                    for q, skip in targets(mod, node.func):
                        fn = funcs[q][0]
                        params = [p.arg for p in fn.args.posonlyargs + fn.args.args][skip:]
                        star = any(isinstance(a, ast.Starred) for a in node.args) or any(
                            k.arg is None for k in node.keywords)
                        got = set_params.setdefault(q, set())
                        if star:
                            got.update(_defaulted(fn))
                        got.update(params[: len(node.args)])
                        got.update(k.arg for k in node.keywords if k.arg)
                elif (
                    isinstance(node, (ast.Name, ast.Attribute))
                    and isinstance(node.ctx, ast.Load)
                    and id(node) not in call_funcs
                    and id(node) not in values
                ):
                    escaped.update(q for q, _ in targets(mod, node))
    defaulted = {q: _defaulted(fn) for q, (fn, _) in funcs.items() if _defaulted(fn)}
    unset = {
        f"{q}({p})"
        for q, names in defaulted.items()
        if q not in escaped
        for p in names
        if p not in set_params.get(q, set())
    }
    return defaulted, unset


def test_every_package_definition_is_reachable_from_an_entry_point():
    dead = [d for d in unreached() if d not in KEEP]
    assert not dead, (
        f"{len(dead)} definitions in {PKG}/ are reached by no entry point "
        f"({', '.join(ROOT_PATHS)}, @register queries); delete them:\n  " + "\n  ".join(dead)
    )


def test_every_package_constant_is_referenced():
    dead = [c for c in unreferenced_constants() if c not in KEEP]
    assert not dead, (
        f"{len(dead)} module-level constants in {PKG}/ are read by no file; "
        "delete them:\n  " + "\n  ".join(dead)
    )


def test_every_defaulted_parameter_is_set_by_an_entry_point():
    _, unset = option_audit()
    flagged = sorted(unset - KEEP_OPTIONS)
    assert not flagged, (
        f"{len(flagged)} defaulted parameters in {PKG}/ are set by no call an entry "
        "point reaches; make each the constant it always takes:\n  " + "\n  ".join(flagged)
    )
    stale = sorted(KEEP_OPTIONS - unset)
    assert not stale, "KEEP_OPTIONS entries that are now set or gone:\n  " + "\n  ".join(stale)
