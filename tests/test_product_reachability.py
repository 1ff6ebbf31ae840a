"""Every top-level `def` and `class` in ms_ocr_spark/ has a production caller.

Production is what the registry queries, `jobs/`, `bench.py`, `perfbench/`
and `__spark_entry__.py` reach. The test parses the sources with `ast` and
walks references transitively from those entry points:

- a module's top-level code runs when the module is imported, so it is
  reached with the module (and so are the packages above it);
- a definition reaches every project name its body (decorators included)
  names: a bare name, an imported name, or an attribute of an imported
  module, resolved through package re-exports;
- a definition decorated by a project function (the registry's
  `_register`) is reached with its module, since the decorator records it;
- a string literal that names a project module imports it (perfbench warms
  its workers by module name).

The walk over-approximates (a local that shadows a top-level name counts as
a use), so a definition it flags has no caller outside `tests/`. Needs no
Spark.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "ms_ocr_spark"
ENTRY_FILES = ["__spark_entry__.py", "bench.py", "jobs/*.py", "perfbench/*.py"]

# Reference implementations that tests check the production path against.
ALLOWED = {
    f"{PKG}.operators.dedup.shingles": (
        "relational shingle relation behind the MinHash reference below"
    ),
    f"{PKG}.operators.dedup.minhash_signature_arrays": (
        "relational MinHash that the Arrow minhash_signature_arrays_from_docs must equal"
    ),
    f"{PKG}.operators.similarity.cosine": (
        "column-expression cosine that cosine_arrow must equal"
    ),
    f"{PKG}.operators.similarity.lsh_bucket": (
        "column-expression bucket fold that lsh_buckets_arrow must equal"
    ),
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


class _Module:
    def __init__(self, name: str, path: Path, is_pkg: bool = False):
        self.name = name
        self.tree = ast.parse(path.read_text(), filename=str(path))
        self.defs = {n.name: n for n in self.tree.body if isinstance(n, _DEFS)}
        # Every import in the file, function-local ones included: the walk
        # needs them to resolve a name, not to model scopes.
        package = name if is_pkg else name.rpartition(".")[0]
        self.bindings: dict[str, str] = {}
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        self.bindings[a.asname] = a.name
                    else:
                        head = a.name.split(".")[0]
                        self.bindings[head] = head
            elif isinstance(node, ast.ImportFrom):
                base = node.module or ""
                if node.level:
                    up = package.split(".")[: len(package.split(".")) - node.level + 1]
                    base = ".".join(up + ([base] if base else []))
                for a in node.names:
                    self.bindings[a.asname or a.name] = f"{base}.{a.name}"


def _load() -> tuple[dict[str, _Module], list[_Module]]:
    modules = {}
    for path in sorted((ROOT / PKG).rglob("*.py")):
        rel = path.relative_to(ROOT).with_suffix("")
        is_pkg = rel.name == "__init__"
        parts = rel.parts[:-1] if is_pkg else rel.parts
        name = ".".join(parts)
        modules[name] = _Module(name, path, is_pkg)
    entries = [
        _Module(str(p.relative_to(ROOT)), p)
        for pattern in ENTRY_FILES
        for p in sorted(ROOT.glob(pattern))
    ]
    return modules, entries


def _dotted(node: ast.AST) -> list[str] | None:
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    if not isinstance(node, ast.Name):
        return None
    parts.append(node.id)
    return parts[::-1]


def _graph() -> tuple[set[str], dict[str, set[str]], set[str]]:
    """(every top-level definition, the reference edges, the entry points'
    references), keyed by dotted name; a module's key stands for its
    top-level code."""
    modules, entries = _load()

    def with_packages(mod: str) -> set[str]:
        parts = mod.split(".")
        return {".".join(parts[:i]) for i in range(1, len(parts) + 1)} & modules.keys()

    def resolve(dotted: str, depth: int = 0) -> set[str]:
        parts = dotted.split(".")
        for i in range(len(parts), 0, -1):
            mod = ".".join(parts[:i])
            if mod not in modules:
                continue
            keys = with_packages(mod)
            rest = parts[i:]
            m = modules[mod]
            if rest and rest[0] in m.defs:
                keys.add(f"{mod}.{rest[0]}")
            elif rest and rest[0] in m.bindings and depth < 8:
                keys |= resolve(".".join([m.bindings[rest[0]], *rest[1:]]), depth + 1)
            return keys
        return set()

    def refs(m: _Module, nodes) -> set[str]:
        out: set[str] = set()
        for top in nodes:
            for node in ast.walk(top):
                parts = _dotted(node) if isinstance(node, (ast.Name, ast.Attribute)) else None
                if parts:
                    head, rest = parts[0], parts[1:]
                    if head in m.bindings:
                        out |= resolve(".".join([m.bindings[head], *rest]))
                    elif head in m.defs:
                        out.add(f"{m.name}.{head}")
                elif isinstance(node, ast.Import):
                    for a in node.names:
                        out |= resolve(a.name)
                elif isinstance(node, ast.ImportFrom):
                    a = node.names[0]
                    out |= resolve(m.bindings[a.asname or a.name].rpartition(".")[0])
                elif isinstance(node, ast.Constant) and node.value in modules:
                    out |= with_packages(node.value)
        return out

    edges: dict[str, set[str]] = {}
    every_def: set[str] = set()
    for m in modules.values():
        init = [n for n in m.tree.body if not isinstance(n, _DEFS)]
        init += [d for n in m.tree.body if isinstance(n, _DEFS) for d in n.decorator_list]
        edges[m.name] = refs(m, init) | with_packages(m.name)
        for name, node in m.defs.items():
            key = f"{m.name}.{name}"
            every_def.add(key)
            edges[key] = refs(m, [node]) | with_packages(m.name)
            # a project decorator (the registry's `_register`) records the
            # definition when the module is imported
            if any(refs(m, [d]) - modules.keys() for d in node.decorator_list):
                edges[m.name].add(key)

    roots = {k for e in entries for k in refs(e, [e.tree])}
    return every_def, edges, roots


def _reached(edges: dict[str, set[str]], roots: set[str]) -> set[str]:
    reached: set[str] = set()
    todo = list(roots)
    while todo:
        key = todo.pop()
        if key not in reached:
            reached.add(key)
            todo.extend(edges.get(key, ()))
    return reached


def test_every_product_definition_has_a_production_caller():
    # an allowed reference keeps what it uses (`similarity.cosine` its norm)
    every_def, edges, roots = _graph()
    unreached = sorted(every_def - _reached(edges, roots | ALLOWED.keys()))
    assert not unreached, (
        "top-level definitions that only tests reach (delete them, move them "
        "into tests/, or give them a production caller):\n  " + "\n  ".join(unreached)
    )


def test_allowlist_names_unreached_definitions():
    every_def, edges, roots = _graph()
    assert ALLOWED.keys() <= every_def, sorted(ALLOWED.keys() - every_def)
    reached = _reached(edges, roots)
    assert not ALLOWED.keys() & reached, sorted(ALLOWED.keys() & reached)


# The pandas side of PySpark's Python boundary; the product uses the Arrow
# side only (`F.arrow_udf`, `mapInArrow`, `applyInArrow`, `toArrow`).
PANDAS_IDIOM = {"pandas_udf", "mapInPandas", "applyInPandas", "toPandas"}


def test_product_modules_use_the_arrow_udf_idiom():
    modules, _ = _load()
    offenders = set()
    for m in modules.values():
        if any(target.split(".")[0] == "pandas" for target in m.bindings.values()):
            offenders.add(f"{m.name}: imports pandas")
        for node in ast.walk(m.tree):
            name = node.attr if isinstance(node, ast.Attribute) else getattr(node, "id", None)
            if name in PANDAS_IDIOM:
                offenders.add(f"{m.name}: {name}")
    assert not offenders, "pandas UDF idiom in product modules:\n  " + "\n  ".join(
        sorted(offenders)
    )


# The media operators are per-payload readers run by one executor loop.
MEDIA_MODULES = [f"{PKG}.operators.multimodal", f"{PKG}.operators.tables", f"{PKG}.extraction.pdf"]


def test_media_operators_share_one_payload_loop():
    modules, _ = _load()
    calls = [
        f"{name}.{top.name if isinstance(top, _DEFS) else '<module>'}"
        for name in MEDIA_MODULES
        for top in modules[name].tree.body
        for node in ast.walk(top)
        if isinstance(node, ast.Attribute) and node.attr == "mapInArrow"
    ]
    assert calls == [f"{PKG}.operators.multimodal.map_payloads"], calls
