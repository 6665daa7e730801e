"""Source fingerprints for the driver-verified query set.

A query counts as verified while its name is a key of
``operators/_verified_fingerprints.json``: that key set IS
``operators/registry.py``'s ``_DRIVER_VERIFIED``, and verified queries
are exposed to the driver after the unverified ones. A query may only
stay verified while the code it depends on is byte-identical to what
the driver verified.

A query's **fingerprint** is a hash over the source of its defining
module plus every package module that module transitively imports
(module granularity — coarser than a call graph, so it can only
over-flag, never under-flag). Every query module imports the registry,
whose entry hook imports the whole function library, so every closure
holds all function modules; a query's fingerprint differs from
another's only through its operator-side modules.
``tests/test_registry.py`` fails whenever a verified query's current
fingerprint drifts from its recorded one. The diff author then either
re-exposes the query (deletes its key) or deliberately re-records (a
visible act in the JSON's git diff, for result-invariant changes).

Record/refresh:  python -m sql_interface_to_xml_database_for_spatial_operations_spark.staleness
"""

from __future__ import annotations

import ast
import hashlib
import json
import os

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_PKG_NAME = os.path.basename(_PKG_DIR)


def _package_modules() -> dict[str, str]:
    """Dotted module name → source text, for every .py in the package."""
    out: dict[str, str] = {}
    for root, _dirs, files in os.walk(_PKG_DIR):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, _PKG_DIR)
            parts = rel[: -len(".py")].split(os.sep)
            if parts[-1] == "__init__":
                parts = parts[:-1]
            name = ".".join([_PKG_NAME, *parts]) if parts else _PKG_NAME
            with open(path, encoding="utf-8") as fh:
                out[name] = fh.read()
    return out


def _imports_of(mod: str, src: str, modules: set[str]) -> set[str]:
    """Package-internal modules imported anywhere in ``mod`` (including
    function-local imports — ingest.py imports readers lazily)."""
    deps: set[str] = set()

    def add(target: str, names: list[str] | None = None) -> None:
        if target in modules:
            deps.add(target)
        for n in names or []:
            if f"{target}.{n}" in modules:
                deps.add(f"{target}.{n}")

    tree = ast.parse(src)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name == _PKG_NAME or a.name.startswith(_PKG_NAME + "."):
                    add(a.name)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                # resolve relative to the module's package
                parts = mod.split(".")
                if mod in modules and _is_package(mod):
                    anchor = parts
                else:
                    anchor = parts[:-1]
                anchor = anchor[: len(anchor) - (node.level - 1)]
                base = ".".join(anchor)
                target = f"{base}.{node.module}" if node.module else base
            elif node.module and (
                node.module == _PKG_NAME or node.module.startswith(_PKG_NAME + ".")
            ):
                target = node.module
            else:
                continue
            add(target, [a.name for a in node.names])
    return deps


def _is_package(mod: str) -> bool:
    rel = mod[len(_PKG_NAME) :].lstrip(".").replace(".", os.sep)
    return os.path.isdir(os.path.join(_PKG_DIR, rel)) if rel else True


def _closure(start: str, modules: dict[str, str]) -> list[str]:
    names = set(modules)
    seen, stack = set(), [start]
    while stack:
        m = stack.pop()
        if m in seen or m not in modules:
            continue
        seen.add(m)
        stack.extend(_imports_of(m, modules[m], names) - seen)
    return sorted(seen)


def fingerprint_of_module(mod: str, modules: dict[str, str] | None = None) -> str:
    """sha256 over (name, source-sha) of ``mod``'s transitive package
    import closure — drifts iff any source byte a query can execute
    through drifts."""
    modules = modules if modules is not None else _package_modules()
    h = hashlib.sha256()
    for m in _closure(mod, modules):
        h.update(m.encode())
        h.update(hashlib.sha256(modules[m].encode()).digest())
    return h.hexdigest()


def current_fingerprints() -> dict[str, str]:
    """query name → fingerprint for every registered query."""
    from .operators import registry

    modules = _package_modules()
    by_mod: dict[str, str] = {}
    out: dict[str, str] = {}
    for name, q in registry.QUERIES.items():
        mod = q.fn.__module__
        if mod not in by_mod:
            by_mod[mod] = fingerprint_of_module(mod, modules)
        out[name] = by_mod[mod]
    return out


def recorded_fingerprints() -> dict[str, str]:
    from .operators import registry

    with open(registry.VERIFIED_JSON, encoding="utf-8") as fh:
        return json.load(fh)


def record() -> dict[str, str]:
    """Re-record the fingerprint of every query the JSON lists. Run this
    after adding a newly verified query's key, or to deliberately accept
    a result-invariant change."""
    from .operators import registry

    cur = current_fingerprints()
    data = {n: cur[n] for n in sorted(recorded_fingerprints())}
    with open(registry.VERIFIED_JSON, "w", encoding="utf-8") as fh:
        json.dump(data, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return data


if __name__ == "__main__":
    from .operators import load_all, registry

    load_all()  # registration side effects populate the registry
    print(f"recorded {len(record())} fingerprints -> {registry.VERIFIED_JSON}")
