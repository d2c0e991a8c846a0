#!/usr/bin/env python
"""List every registered query TRANSITIVELY affected by a code change.

``git diff --name-only BASE..HEAD`` → changed package modules →
reverse transitive closure over the intra-package import graph (a
module is affected if it changed or imports an affected module) →
registered queries whose defining module is affected. A hand-written
list misses, e.g., a streaming/jobs.py refactor that every B38-B44
query transits; the closure does not.

Usage: python tools/changed_queries.py <base_ref> [head_ref]
Prints one query name per line: direct changes (the defining module
itself changed) first, then transitive ones, each with the module
chain that pulled it in. ``tools/bench_diff.py --control-refs`` reuses
the same closure to pick its untouched control queries.
"""

from __future__ import annotations

import ast
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "openweathermapapi_etl_spark"

sys.path.insert(0, ROOT)


def package_modules() -> dict[str, str]:
    """module name -> repo-relative path, for every .py in the package."""
    mods: dict[str, str] = {}
    for dirpath, _dirs, files in os.walk(os.path.join(ROOT, PKG)):
        for f in files:
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, f), ROOT)
            mod = rel[: -len(".py")].replace(os.sep, ".")
            if mod.endswith(".__init__"):
                mod = mod[: -len(".__init__")]
            mods[mod] = rel
    return mods


def imports_of(rel_path: str, modname: str, known: set[str]) -> set[str]:
    """Intra-package modules this file imports (direct deps)."""
    with open(os.path.join(ROOT, rel_path)) as fh:
        tree = ast.parse(fh.read(), filename=rel_path)
    is_pkg = rel_path.endswith("__init__.py")
    # Relative imports resolve against the containing package.
    container = modname.split(".") if is_pkg else modname.split(".")[:-1]
    deps: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                deps.add(a.name)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = container[: len(container) - (node.level - 1)]
                mod = ".".join(base + (node.module.split(".") if node.module else []))
            else:
                mod = node.module or ""
            deps.add(mod)
            # `from .pkg import submodule` names a module, not a symbol;
            # keep candidates and let the known-set intersection filter.
            for a in node.names:
                deps.add(f"{mod}.{a.name}")
    return deps & known


def affected_modules(changed: set[str], known: dict[str, str]) -> dict[str, str]:
    """Reverse transitive closure: module -> the changed module it
    (transitively) imports, for every affected module."""
    direct = {m: imports_of(p, m, set(known)) for m, p in known.items()}
    cause: dict[str, str] = {m: m for m in changed if m in known}
    frontier = set(cause)
    while frontier:
        nxt = set()
        for m, deps in direct.items():
            if m in cause:
                continue
            hit = deps & frontier
            if hit:
                cause[m] = cause[next(iter(hit))]
                nxt.add(m)
        frontier = nxt
    return cause


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit("usage: changed_queries.py <base_ref> [head_ref]")
    base, head = sys.argv[1], sys.argv[2] if len(sys.argv) > 2 else "HEAD"
    out = subprocess.run(
        ["git", "diff", "--name-only", f"{base}..{head}"],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout.split()
    known = package_modules()
    path_to_mod = {p: m for m, p in known.items()}
    changed = {path_to_mod[p] for p in out if p in path_to_mod}

    from openweathermapapi_etl_spark.plans import QUERIES

    cause = affected_modules(changed, known) if changed else {}
    direct, transitive = [], []
    for name, fn in QUERIES.items():
        mod = fn.__module__
        if mod not in cause:
            continue
        why = cause[mod]
        short = mod.rsplit(".", 1)[-1]
        if why == mod:
            direct.append(f"{name}  # {short}")
        else:
            transitive.append(f"{name}  # {short} -> {why.rsplit('.', 1)[-1]}")
    for line in direct + transitive:
        print(line)
    print(
        f"# {len(direct) + len(transitive)} affected queries "
        f"({len(direct)} direct, {len(transitive)} transitive)",
        file=sys.stderr,
    )


if __name__ == "__main__":
    main()
