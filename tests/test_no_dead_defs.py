"""Every top-level def and constant in the package has a caller outside
the tests.

The entry points are the deployment jobs (``jobs/``), the benchmark
(``perfbench/``), the tools (``tools/``), the driver benches (``bench*.py``)
and the oracle contract (``__spark_entry__.py``). A def is live when a live
context names it; names resolve through ``import`` and ``from ... import``,
so two defs that share a name in different modules do not keep each other
alive. A module's top-level code is live once a live context imports the
module or one of its submodules.

A module-level constant (``NAME = ...``) is live when some package module
or entry point names it anywhere besides its assignments, comments and
docstrings included. Dunder names (``__all__``) are read by Python itself
and are not counted as constants.

Run ``python tests/test_no_dead_defs.py`` to print the unreachable defs and
the unnamed constants.
"""

from __future__ import annotations

import ast
import collections
import pathlib
import re

REPO = pathlib.Path(__file__).resolve().parents[1]
PKG = "mapbox_vector_tile_spark"
ROOT_GLOBS = ("jobs/*.py", "perfbench/*.py", "tools/*.py", "bench*.py",
              "__spark_entry__.py")

# Reference implementations that tests compare the engine against; they have
# no caller in the engine by design.
ORACLES = {
    f"{PKG}.engine.verify.verify_roundtrip":
        "exact per-doc join that the decode tests compare decodes against",
    f"{PKG}.functions.jpeg.psnr":
        "image-quality reference that the JPEG codec tests measure against",
    f"{PKG}.codec.fsst._decode_loop":
        "scalar FSST decoder that the vectorized decode is compared against",
    f"{PKG}.codec.kernels.varint_size":
        "varint byte count that the encoder's size estimate is compared against",
    f"{PKG}.functions.g711.quantize_mulaw":
        "numpy mu-law round trip that the SQL mirror and decoder are compared "
        "against",
}


def _module_name(path: pathlib.Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _top_statements(tree: ast.Module):
    """Module-level statements, also under ``if``/``try``."""
    stack = list(tree.body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.If, ast.Try)):
            stack.extend(node.body + node.orelse
                         + getattr(node, "finalbody", []))
            for h in getattr(node, "handlers", []):
                stack.extend(h.body)
        else:
            yield node


def _top_defs(tree: ast.Module):
    """Function and class defs at module level, also under ``if``/``try``."""
    for node in _top_statements(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            yield node


def _constant_names(tree: ast.Module):
    """Names bound by module-level ``NAME = ...`` / ``A, B = ...`` /
    ``NAME: T = ...`` assignments, one per binding."""
    for node in _top_statements(tree):
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets = [node.target]
        else:
            continue
        for t in targets:
            for n in (t.elts if isinstance(t, ast.Tuple) else [t]):
                if isinstance(n, ast.Name) and not (
                        n.id.startswith("__") and n.id.endswith("__")):
                    yield n.id


def unnamed_constants() -> list[str]:
    """Package constants that no package module or entry point names
    anywhere but in their own assignments."""
    files = sorted((REPO / PKG).rglob("*.py"))
    roots = sorted({p for g in ROOT_GLOBS for p in REPO.glob(g)})
    words = collections.Counter()
    for path in files + roots:
        words.update(re.findall(r"\w+", path.read_text()))
    bound: dict[str, list[str]] = collections.defaultdict(list)
    for path in files:
        for name in _constant_names(ast.parse(path.read_text())):
            bound[name].append(_module_name(path))
    return sorted(
        f"{mod}.{name}"
        for name, mods in bound.items() if words[name] <= len(mods)
        for mod in mods)


class _Graph:
    def __init__(self):
        self.trees: dict[str, ast.Module] = {}
        self.is_pkg: dict[str, bool] = {}
        files = sorted((REPO / PKG).rglob("*.py"))
        self.roots = sorted({p for g in ROOT_GLOBS for p in REPO.glob(g)})
        for path in files + self.roots:
            mod = _module_name(path)
            self.trees[mod] = ast.parse(path.read_text(), str(path))
            self.is_pkg[mod] = path.name == "__init__.py"
        self.defs = {mod: {d.name: d for d in _top_defs(t)}
                     for mod, t in self.trees.items()}
        self._aliases = {mod: self._imports(mod, self._module_code(t))
                         for mod, t in self.trees.items()}

    @staticmethod
    def _module_code(tree: ast.Module) -> list[ast.AST]:
        """Top-level statements that are not defs."""
        defs = set(map(id, _top_defs(tree)))
        out, stack = [], list(tree.body)
        while stack:
            node = stack.pop()
            if id(node) in defs:
                continue
            if isinstance(node, (ast.If, ast.Try)):
                out.append(getattr(node, "test", None) or ast.Pass())
                stack.extend(node.body + node.orelse
                             + getattr(node, "finalbody", []))
                for h in getattr(node, "handlers", []):
                    stack.extend(h.body)
            else:
                out.append(node)
        return out

    def _resolve_from(self, mod: str, node: ast.ImportFrom) -> str:
        if not node.level:
            return node.module or ""
        base = mod.split(".")
        base = base if self.is_pkg.get(mod) else base[:-1]
        base = base[:len(base) - node.level + 1]
        return ".".join(base + ([node.module] if node.module else []))

    def _imports(self, mod: str, nodes) -> dict[str, tuple]:
        """name -> ("mod", module) | ("sym", module, name)."""
        out = {}
        for top in nodes:
            for node in ast.walk(top):
                if isinstance(node, ast.Import):
                    for a in node.names:
                        if a.asname:
                            out[a.asname] = ("mod", a.name)
                        else:
                            head = a.name.split(".")[0]
                            out[head] = ("mod", head)
                elif isinstance(node, ast.ImportFrom):
                    src = self._resolve_from(mod, node)
                    for a in node.names:
                        sub = f"{src}.{a.name}"
                        out[a.asname or a.name] = (
                            ("mod", sub) if sub in self.trees
                            else ("sym", src, a.name))
        return out

    def _symbol(self, mod: str, name: str, seen=()):
        """The def that ``mod.name`` denotes, following re-exports."""
        if name in self.defs.get(mod, {}):
            return (mod, name)
        target = self._aliases.get(mod, {}).get(name)
        if target and target[0] == "sym" and (mod, name) not in seen:
            return self._symbol(target[1], target[2], seen + ((mod, name),))
        return None

    def refs(self, mod: str, nodes):
        """Defs and modules that ``nodes`` (one context of ``mod``) name."""
        aliases = {**self._aliases[mod], **self._imports(mod, nodes)}
        defs, mods = set(), set()
        for target in aliases.values():
            if target[0] == "mod" or target[1] in self.trees:
                mods.add(target[1])
        for top in nodes:
            for node in ast.walk(top):
                if isinstance(node, (ast.Import, ast.ImportFrom)):
                    for a in node.names:
                        t = aliases.get(a.asname or a.name.split(".")[0])
                        if t and t[0] == "sym":
                            hit = self._symbol(t[1], t[2])
                            if hit:
                                defs.add(hit)
                        elif t:
                            mods.add(t[1] if a.asname else a.name)
                    continue
                if not isinstance(node, ast.Name):
                    continue
                target = aliases.get(node.id)
                if target is None:
                    if node.id in self.defs[mod]:
                        defs.add((mod, node.id))
                elif target[0] == "sym":
                    hit = self._symbol(target[1], target[2])
                    if hit:
                        defs.add(hit)
        # attribute chains off module aliases: M.f, M.sub.f
        for top in nodes:
            for node in ast.walk(top):
                if not isinstance(node, ast.Attribute):
                    continue
                chain, base = [], node
                while isinstance(base, ast.Attribute):
                    chain.append(base.attr)
                    base = base.value
                if not isinstance(base, ast.Name):
                    continue
                target = aliases.get(base.id)
                if not target or target[0] != "mod":
                    continue
                cur = target[1]
                for attr in reversed(chain):
                    if f"{cur}.{attr}" in self.trees:
                        cur = f"{cur}.{attr}"
                        mods.add(cur)
                        continue
                    hit = self._symbol(cur, attr)
                    if hit:
                        defs.add(hit)
                    break
        return defs, mods

    def dead(self) -> list[str]:
        seen_defs: set = set()
        seen_mods: set = set()
        work: list = []

        def visit_module(m: str):
            parts = m.split(".")
            for i in range(1, len(parts) + 1):
                sub = ".".join(parts[:i])
                if sub in self.trees and sub not in seen_mods:
                    seen_mods.add(sub)
                    work.append((sub, None))

        for path in self.roots:
            mod = _module_name(path)
            visit_module(mod)
            for name in self.defs[mod]:
                seen_defs.add((mod, name))
                work.append((mod, name))
        while work:
            mod, name = work.pop()
            nodes = (self._module_code(self.trees[mod]) if name is None
                     else [self.defs[mod][name]])
            defs, mods = self.refs(mod, nodes)
            for m in mods:
                visit_module(m)
            for d in defs:
                visit_module(d[0])
                if d not in seen_defs:
                    seen_defs.add(d)
                    work.append(d)
        return sorted(
            f"{mod}.{name}"
            for mod, names in self.defs.items() if mod.startswith(PKG)
            for name in names
            if (mod, name) not in seen_defs
            and f"{mod}.{name}" not in ORACLES)


def test_every_package_def_has_a_caller():
    dead = _Graph().dead()
    assert not dead, (
        "defs unreachable from jobs/, perfbench/, tools/, bench*.py and "
        "__spark_entry__.py (delete them, or give them a caller):\n  "
        + "\n  ".join(dead))


def test_every_package_constant_is_named():
    unnamed = unnamed_constants()
    assert not unnamed, (
        "module-level constants that nothing but their own assignment "
        "names (delete them, or give them a reader):\n  "
        + "\n  ".join(unnamed))


def test_oracles_exist():
    g = _Graph()
    for qual in ORACLES:
        mod, name = qual.rsplit(".", 1)
        assert name in g.defs[mod], qual


if __name__ == "__main__":
    g = _Graph()
    for qual in g.dead():
        mod, name = qual.rsplit(".", 1)
        node = g.defs[mod][name]
        print(f"{qual}\t{node.end_lineno - node.lineno + 1}")
    for qual in unnamed_constants():
        print(f"{qual}\tconstant")
