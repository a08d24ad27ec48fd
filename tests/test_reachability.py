"""Every top-level package function or class must be reachable from a
real entry point.

The roots are the catalog (the module-level ``QUERIES``/``ORACLES``
registries in ``queries/__init__.py``), the CLI (``__main__.py``), the
entry contract (``__spark_entry__.py``), the ``perfbench/`` harness
and its workloads, and ``bench.py``. Tests, ``scale_check.py``,
``tools/`` and docstrings are not roots: code that only they reach is
dead weight and gets deleted (with its tests), not kept alive by them.

The walk is AST-only (no import, no Spark). A name inside a reached
definition reaches the top-level definition it resolves to through the
module's own scope, its imports (relative, aliased, star and
function-local) and re-exports. An ``__init__`` import on its own
reaches nothing. Module-level statements other than imports run when
their module is first reached and count as reached code too.
Resolution is by name, so a local variable that shadows a top-level
name keeps that definition alive: the guard can miss dead code. It
would flag a definition reached only through a name string (getattr,
importlib); the package reaches none of its own code that way.

The same parsed trees also check that no package module other than an
``__init__`` imports a name it never uses.
"""

from __future__ import annotations

import ast
import functools
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "hse_etl_ochirov_aldar_spark"

# Definitions no entry point reaches that stay on purpose, each with
# its reason. Keep this short: anything else unreachable is deleted.
ALLOWLIST: dict[str, str] = {
    "operators.similarity.srp_signature": (
        "test reference for srp_signature_frame (bit-identical compare)"
    ),
    "operators.bootstrap.poisson_weight_expr": (
        "test reference for the bootstrap's Arrow Poisson weights"
    ),
    "operators.bootstrap._u32_slice": "helper of poisson_weight_expr",
    "functions.zorder.oracle_z_value": (
        "test reference: the DuckDB twin of z_value, compared bit for bit"
    ),
    "plans.quality.observed_checks": (
        "gates folded into a layer's own write, for the one-call "
        "reference refresh (ROADMAP item 2)"
    ),
    "plans.quality.expect_referential_integrity": (
        "gate for the one-call reference refresh (ROADMAP item 2)"
    ),
    "operators.setsim.prefix_filter_jaccard_pairs": (
        "tokenising wrapper over the catalog's prefix-filter join; its "
        "tests pin the tokeniser, which porting would copy into tests"
    ),
}

def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _sources() -> tuple[dict[str, ast.Module], dict[str, bool], set[str]]:
    """Parsed modules, whether each is a package, and the root modules."""
    files = sorted((ROOT / PKG).rglob("*.py"))
    roots = {
        "bench",
        "__spark_entry__",
        f"{PKG}.__main__",
    }
    for path in sorted((ROOT / "perfbench").rglob("*.py")):
        if "tests" not in path.relative_to(ROOT).parts:
            files.append(path)
            roots.add(_module_name(path))
    files += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    trees = {_module_name(p): ast.parse(p.read_text(), str(p)) for p in files}
    is_pkg = {_module_name(p): p.name == "__init__.py" for p in files}
    return trees, is_pkg, roots


class _Graph:
    def __init__(self) -> None:
        self.trees, self.is_pkg, self.roots = _sources()
        self.defs: dict[str, dict[str, ast.AST]] = {}
        self.imports: dict[str, dict[str, tuple[str, str | None]]] = {}
        self.stars: dict[str, list[str]] = {}
        self.body: dict[str, list[ast.stmt]] = {}
        for mod, tree in self.trees.items():
            defs, body = {}, []
            imports: dict[str, tuple[str, str | None]] = {}
            stars: list[str] = []
            for stmt in tree.body:
                if isinstance(
                    stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                ):
                    defs[stmt.name] = stmt
                elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
                    self._bind_import(mod, stmt, imports, stars)
                elif not self._is_all(stmt):
                    body.append(stmt)
            self.defs[mod], self.body[mod] = defs, body
            self.imports[mod], self.stars[mod] = imports, stars

    @staticmethod
    def _is_all(stmt: ast.stmt) -> bool:
        targets = getattr(stmt, "targets", None) or [getattr(stmt, "target", None)]
        return any(isinstance(t, ast.Name) and t.id == "__all__" for t in targets)

    def _base(self, mod: str, node: ast.ImportFrom) -> str:
        if not node.level:
            return node.module or ""
        parts = mod.split(".")
        keep = len(parts) - node.level + (1 if self.is_pkg.get(mod) else 0)
        base = ".".join(parts[:keep])
        return f"{base}.{node.module}" if node.module else base

    def _bind_import(self, mod, stmt, imports, stars) -> None:
        if isinstance(stmt, ast.Import):
            for alias in stmt.names:
                if alias.asname:
                    imports[alias.asname] = (alias.name, None)
                else:
                    head = alias.name.split(".")[0]
                    imports[head] = (head, None)
            return
        base = self._base(mod, stmt)
        for alias in stmt.names:
            if alias.name == "*":
                stars.append(base)
            else:
                imports[alias.asname or alias.name] = (base, alias.name)

    def _follow(self, target: str, attr: str | None, seen: set):
        """What an import binding names: a module, or what ``attr``
        resolves to in ``target``."""
        if attr is None:
            return (target, None) if target in self.trees else None
        if f"{target}.{attr}" in self.trees:
            return f"{target}.{attr}", None
        return self.resolve(target, attr, seen)

    def resolve(self, mod: str, name: str, seen=None) -> tuple[str, str | None] | None:
        """``(module, def_name)`` for a definition, ``(module, None)`` for
        a module, None for anything outside the parsed sources."""
        seen = seen or set()
        if (mod, name) in seen or mod not in self.trees:
            return None
        seen.add((mod, name))
        if name in self.defs[mod]:
            return mod, name
        if name in self.imports[mod]:
            return self._follow(*self.imports[mod][name], seen)
        for star in self.stars[mod]:
            hit = self.resolve(star, name, seen)
            if hit:
                return hit
        return None

    def references(self, mod: str, nodes: list[ast.AST]) -> set[tuple[str, str | None]]:
        local_imports: dict[str, tuple[str, str | None]] = {}
        for node in nodes:
            for sub in ast.walk(node):
                if isinstance(sub, (ast.Import, ast.ImportFrom)):
                    self._bind_import(mod, sub, local_imports, [])

        def lookup(name: str):
            if name in local_imports:
                return self._follow(*local_imports[name], set())
            return self.resolve(mod, name)

        hits = [lookup(name) for name in local_imports]
        for node in nodes:
            for sub in ast.walk(node):
                if isinstance(sub, ast.Name):
                    hits.append(lookup(sub.id))
                elif isinstance(sub, ast.Attribute):
                    chain = []
                    cur: ast.AST = sub
                    while isinstance(cur, ast.Attribute):
                        chain.append(cur.attr)
                        cur = cur.value
                    if not isinstance(cur, ast.Name):
                        continue
                    hit = lookup(cur.id)
                    for attr in reversed(chain):
                        if not hit or hit[1] is not None:
                            break
                        hit = self._follow(hit[0], attr, set())
                        hits.append(hit)
        return {hit for hit in hits if hit}

    def reached(self) -> set[tuple[str, str]]:
        seen_defs: set[tuple[str, str]] = set()
        loaded: set[str] = set()
        work: list[tuple[str, list[ast.AST]]] = []

        def load(mod: str) -> None:
            if mod not in loaded:
                loaded.add(mod)
                work.append((mod, list(self.body[mod])))

        for mod in self.roots:
            load(mod)
            for name in self.defs[mod]:
                seen_defs.add((mod, name))
                work.append((mod, [self.defs[mod][name]]))
        load(f"{PKG}.queries")
        while work:
            mod, nodes = work.pop()
            for target, name in self.references(mod, nodes):
                load(target)
                if name is not None and (target, name) not in seen_defs:
                    seen_defs.add((target, name))
                    work.append((target, [self.defs[target][name]]))
        return seen_defs

    def unreachable(self) -> list[str]:
        reached = self.reached()
        out = []
        for mod, defs in self.defs.items():
            if not mod.startswith(PKG) or mod in self.roots:
                continue
            for name in defs:
                if (mod, name) not in reached:
                    out.append(f"{mod[len(PKG) + 1:]}.{name}")
        return sorted(out)


@functools.cache
def _graph() -> _Graph:
    return _Graph()


@functools.cache
def _unreachable() -> tuple[str, ...]:
    return tuple(_graph().unreachable())


def _unused_imports(tree: ast.Module) -> list[str]:
    """Top-level import bindings the module never uses. A use is any
    name load (including the head of an attribute chain) outside the
    imports, or an ``__all__`` entry."""
    bound: list[str] = []
    used: set[str] = set()
    for stmt in tree.body:
        if isinstance(stmt, ast.ImportFrom) and stmt.module == "__future__":
            continue
        if isinstance(stmt, (ast.Import, ast.ImportFrom)):
            for alias in stmt.names:
                name = alias.asname or alias.name.split(".")[0]
                if name != "*":
                    bound.append(name)
        elif _Graph._is_all(stmt):
            used |= {
                elt.value
                for elt in ast.walk(stmt.value)
                if isinstance(elt, ast.Constant) and isinstance(elt.value, str)
            }
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used.add(node.id)
    return [name for name in bound if name not in used]


def test_every_package_definition_is_reachable_from_an_entry_point():
    dead = [d for d in _unreachable() if d not in ALLOWLIST]
    assert not dead, (
        "reached only by tests/tools (delete them with their tests, or "
        "allowlist with a reason):\n  " + "\n  ".join(dead)
    )


def test_allowlist_names_only_live_unreachable_definitions():
    stale = sorted(set(ALLOWLIST) - set(_unreachable()))
    assert not stale, f"listed but reachable or gone: {stale}"


def test_package_modules_use_every_name_they_import():
    """``__init__`` modules are exempt: their imports are re-exports."""
    g = _graph()
    unused = [
        f"{mod[len(PKG) + 1:]}: {name}"
        for mod, tree in g.trees.items()
        if mod.startswith(PKG) and not g.is_pkg[mod]
        for name in _unused_imports(tree)
    ]
    assert not unused, (
        f"{len(unused)} imported names never used:\n  " + "\n  ".join(unused)
    )
