"""List library names that nothing outside the test suite reaches.

A *name* is a top-level function, class or constant of a
``linked_maps_spark`` module, or a method of one of its classes.  It is
*reached* when something other than its own body refers to it: library
code, ``__spark_entry__.py``, ``bench*.py``, ``tools/`` or ``perfbench/``.
Tests do not count.

The scan works on the ``ast``, so comments and docstrings never count as
references.  It iterates to a fixed point: a name whose only referrers are
themselves unreached is unreached too, so one run shows every layer a
deletion would strand.

Resolution is deliberately generous, so that a listed name really is
unreached:
- a bare name resolves to its own module's definition;
- ``from .mod import name`` refers to ``mod.name``;
- ``mod.attr`` on an imported library module refers to ``mod.attr``,
  ``Cls.attr`` on a library class to that method, and any other
  ``obj.attr`` to every method called ``attr``;
- a string constant made of dotted identifiers (``"fold_key"``,
  ``"pkg.mod:fn"``) refers to every name spelled like one of its parts,
  and so does every identifier in a string that names the package (a
  script template run in a subprocess);
- a decorated function (``@query(...)``) is reached by its decorator.

Usage: python tools/unreached.py   (one ``module.name`` per line)
"""

from __future__ import annotations

import ast
import glob
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "linked_maps_spark"
_IDENT_PATH = re.compile(r"[A-Za-z_][\w.:]*")
_PASSIVE_DECORATORS = {"property", "classmethod", "staticmethod", "dataclass"}


def _sources(root: str) -> tuple[list[str], list[str]]:
    lib = sorted(glob.glob(os.path.join(root, PKG, "*.py")))
    other = sorted(
        glob.glob(os.path.join(root, "__spark_entry__.py"))
        + glob.glob(os.path.join(root, "bench*.py"))
        + glob.glob(os.path.join(root, "tools", "*.py"))
        + glob.glob(os.path.join(root, "perfbench", "*.py"))
    )
    return lib, other


def _body(stmts: list[ast.stmt]) -> list[ast.stmt]:
    """``stmts`` without a leading docstring."""
    if (
        stmts and isinstance(stmts[0], ast.Expr)
        and isinstance(stmts[0].value, ast.Constant)
        and isinstance(stmts[0].value.value, str)
    ):
        return stmts[1:]
    return stmts


def _assigned_name(s: ast.stmt) -> str | None:
    """The one plain name an assignment binds, else None."""
    targets = (
        s.targets if isinstance(s, ast.Assign)
        else [s.target] if isinstance(s, ast.AnnAssign) else []
    )
    if len(targets) == 1 and isinstance(targets[0], ast.Name):
        return targets[0].id
    return None


def _decorator_name(d: ast.expr) -> str:
    while isinstance(d, ast.Call):
        d = d.func
    return d.attr if isinstance(d, ast.Attribute) else getattr(d, "id", "")


class _Module:
    """Definitions, import aliases and owned references of one file."""

    def __init__(self, path: str, module: str | None):
        self.module = module  # None for files outside the library
        with open(path) as fh:
            self.tree = ast.parse(fh.read(), path)
        self.defs: dict[str, str] = {}  # local name -> key
        self.methods: dict[str, dict[str, str]] = {}  # class -> method -> key
        self.aliases: dict[str, tuple[str, ...]] = {}  # local -> ("mod", m) | ("name", m, n)
        # (owner keys, kind, payload): kind is "name", "attr", "import",
        # "str" or "key" (a decorated definition, reached by its decorator)
        self.refs: list[tuple[tuple[str, ...], str, tuple]] = []
        self._collect_defs(self.tree.body)
        self._walk(_body(self.tree.body), ())

    # ------------------------------------------------------------ definitions

    def _collect_defs(self, stmts: list[ast.stmt]) -> None:
        for s in stmts:
            if isinstance(s, (ast.If, ast.Try)):
                self._collect_defs(s.body + s.orelse + getattr(s, "finalbody", []))
                for h in getattr(s, "handlers", []):
                    self._collect_defs(h.body)
            elif self.module is None:
                continue
            elif isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                self.defs[s.name] = f"{self.module}.{s.name}"
                if isinstance(s, ast.ClassDef):
                    self.methods[s.name] = {
                        f.name: f"{self.module}.{s.name}.{f.name}"
                        for f in s.body
                        if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
                        and not (f.name.startswith("__") and f.name.endswith("__"))
                    }
            elif _assigned_name(s) not in (None, "__all__"):
                self.defs[_assigned_name(s)] = f"{self.module}.{_assigned_name(s)}"

    # ------------------------------------------------------------- references

    def _walk(self, stmts: list[ast.stmt], owners: tuple[str, ...], cls: str | None = None):
        for s in stmts:
            if isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                key = None
                if self.module is not None and not owners:
                    key = self.defs.get(s.name)
                elif self.module is not None and cls is not None:
                    key = self.methods.get(cls, {}).get(s.name)
                inner = owners + (key,) if key else owners
                for d in s.decorator_list:
                    self._expr(d, owners)
                    if key and _decorator_name(d) not in _PASSIVE_DECORATORS:
                        self.refs.append((owners, "key", (key,)))
                if isinstance(s, ast.ClassDef):
                    for b in s.bases + [k.value for k in s.keywords]:
                        self._expr(b, inner)
                    self._walk(_body(s.body), inner, s.name if not owners else None)
                else:
                    a = s.args
                    for e in a.defaults + [x for x in a.kw_defaults if x is not None]:
                        self._expr(e, owners)
                    for arg in a.posonlyargs + a.args + a.kwonlyargs:
                        if arg.annotation is not None:
                            self._expr(arg.annotation, inner)
                    if s.returns is not None:
                        self._expr(s.returns, inner)
                    self._walk(_body(s.body), inner)
            elif isinstance(s, (ast.Import, ast.ImportFrom)):
                self._import(s, owners)
            elif not owners and cls is None and _assigned_name(s) in self.defs:
                if s.value is not None:
                    self._expr(s.value, (self.defs[_assigned_name(s)],))
            else:
                for child in ast.iter_child_nodes(s):
                    if isinstance(child, ast.stmt):
                        self._walk([child], owners, cls if isinstance(s, (ast.If, ast.Try)) else None)
                    elif isinstance(child, ast.excepthandler):
                        self._walk(child.body, owners)
                        if child.type is not None:
                            self._expr(child.type, owners)
                    else:
                        self._expr(child, owners)

    def _import(self, s: ast.Import | ast.ImportFrom, owners: tuple[str, ...]) -> None:
        if isinstance(s, ast.Import):
            for a in s.names:
                if a.name.startswith(PKG + ".") and a.asname:
                    self.aliases[a.asname] = ("mod", a.name.split(".")[1])
                elif a.name == PKG:
                    self.aliases[a.asname or PKG] = ("pkg",)
            return
        if s.level == 1 and self.module is not None:
            src = s.module
        elif s.module and (s.module == PKG or s.module.startswith(PKG + ".")):
            src = s.module[len(PKG) + 1:] or None
        else:
            return
        for a in s.names:
            local = a.asname or a.name
            if src is None:  # from . import mod
                self.aliases[local] = ("mod", a.name)
            else:
                self.aliases[local] = ("name", src, a.name)
                self.refs.append((owners, "import", (src, a.name)))

    def _expr(self, node: ast.AST, owners: tuple[str, ...]) -> None:
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                self.refs.append((owners, "name", (n.id,)))
            elif isinstance(n, ast.Attribute):
                self.refs.append((owners, "attr", (_base(n.value), n.attr)))
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                if _IDENT_PATH.fullmatch(n.value):
                    parts = re.split(r"[.:]", n.value)
                elif PKG in n.value:  # a script template that imports the library
                    parts = re.findall(r"[A-Za-z_]\w*", n.value)
                else:
                    continue
                for part in parts:
                    self.refs.append((owners, "str", (part,)))


def _base(node: ast.expr) -> tuple[str, ...] | None:
    """``a`` or ``a.b`` of an attribute base, else None."""
    if isinstance(node, ast.Name):
        return (node.id,)
    if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
        return (node.value.id, node.attr)
    return None


def unreached(root: str = ROOT) -> list[str]:
    lib_paths, other_paths = _sources(root)
    mods = {
        os.path.basename(p)[:-3]: _Module(p, os.path.basename(p)[:-3]) for p in lib_paths
    }
    files = list(mods.values()) + [_Module(p, None) for p in other_paths]
    by_last: dict[str, set[str]] = {}
    methods_by_name: dict[str, set[str]] = {}
    for m in mods.values():
        for name, k in m.defs.items():
            by_last.setdefault(name, set()).add(k)
        for ms in m.methods.values():
            for name, k in ms.items():
                by_last.setdefault(name, set()).add(k)
                methods_by_name.setdefault(name, set()).add(k)
    all_keys = set().union(*by_last.values())

    def resolve(f: _Module, kind: str, payload: tuple) -> set[str]:
        if kind == "key":
            return {payload[0]}
        if kind == "str":
            return by_last.get(payload[0], set())
        if kind == "import":
            src, name = payload
            m = mods.get(src)
            return {m.defs[name]} if m and name in m.defs else set()
        if kind == "name":
            return {f.defs[payload[0]]} if payload[0] in f.defs else set()
        base, attr = payload
        target = None
        if base is not None and len(base) == 1:
            target = f.aliases.get(base[0])
            if target is None and base[0] in f.defs:
                target = ("name", f.module, base[0])
        elif base is not None and f.aliases.get(base[0]) == ("pkg",):
            target = ("mod", base[1])
        if target and target[0] == "mod" and target[1] in mods:
            m = mods[target[1]]
            return {m.defs[attr]} if attr in m.defs else set()
        if target and target[0] == "name" and target[1] in mods:
            m = mods[target[1]]
            if target[2] in m.methods:
                return {m.methods[target[2]][attr]} if attr in m.methods[target[2]] else set()
        return methods_by_name.get(attr, set())

    resolved = [
        (set(owners), resolve(f, kind, payload))
        for f in files
        for owners, kind, payload in f.refs
    ]
    alive = set(all_keys)
    while True:
        reached: set[str] = set()
        for owners, targets in resolved:
            if owners <= alive:
                reached |= targets - owners
        now = alive & reached
        if now == alive:
            return sorted(all_keys - alive)
        alive = now


if __name__ == "__main__":
    print("\n".join(unreached(sys.argv[1] if len(sys.argv) > 1 else ROOT)))
