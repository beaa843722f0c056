"""Static import closure: which package modules can the entry points reach?

Starting from the given root scripts, follows every ``import`` and
``from ... import`` statement (module level and inside functions,
absolute and relative) to the local ``.py`` files it names, then
prints the package's modules split into reached and unreached, each
with its line count. Importing ``a.b.c`` counts ``a`` and ``a.b`` as
reached too, because Python runs their ``__init__.py`` first. Names
are resolved against the repository root and each root script's own
directory (a script's directory is ``sys.path[0]`` when it runs).
Only the stdlib ``ast`` parser is used; nothing is imported.

Usage:
    python tools/reachability.py                    # contract + bench roots
    python tools/reachability.py ROOT.py [ROOT.py ...]
"""

from __future__ import annotations

import argparse
import ast
import glob
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
DEFAULT_ROOTS = ("__spark_entry__.py", "bench.py", "perfbench/*.py")
PACKAGE = "trial_submission_studio_spark"


def _resolve(name: str, search: list[Path]) -> Path | None:
    """File that ``import name`` would load from ``search``, or None."""
    parts = name.split(".")
    for base in search:
        for p in (base.joinpath(*parts, "__init__.py"),
                  base.joinpath(*parts[:-1], parts[-1] + ".py")):
            if p.is_file():
                return p
    return None


def _module_name(path: Path, search: list[Path]) -> str:
    """Dotted name of ``path`` relative to the first search dir holding it."""
    for base in search:
        try:
            rel = path.relative_to(base)
        except ValueError:
            continue
        parts = list(rel.with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        return ".".join(parts)
    return path.stem


def _imported_names(tree: ast.AST, modname: str, is_pkg: bool) -> list[str]:
    """Every dotted module name an import statement in ``tree`` may load."""
    package = modname if is_pkg else modname.rpartition(".")[0]
    names: list[str] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.extend(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                pkg_parts = package.split(".") if package else []
                keep = len(pkg_parts) - (node.level - 1)
                if keep < 0:
                    continue
                base = ".".join(pkg_parts[:keep])
                mod = ".".join(p for p in (base, node.module) if p)
            else:
                mod = node.module or ""
            if mod:
                names.append(mod)
            # ``from pkg import sub`` loads pkg.sub when sub is a module
            names.extend(
                f"{mod}.{a.name}" if mod else a.name
                for a in node.names
                if a.name != "*"
            )
    return names


def reached_files(roots: list[Path], repo: Path) -> set[Path]:
    """Files loaded, transitively, by importing ``roots``."""
    roots = [r.resolve() for r in roots]
    search = list(dict.fromkeys([r.parent for r in roots] + [repo.resolve()]))
    seen: set[Path] = set()
    todo = list(roots)
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
        modname = _module_name(path, search)
        for name in _imported_names(tree, modname, path.name == "__init__.py"):
            parts = name.split(".")
            for i in range(1, len(parts) + 1):
                hit = _resolve(".".join(parts[:i]), search)
                if hit is not None and hit not in seen:
                    todo.append(hit)
    return seen


def line_count(path: Path) -> int:
    with open(path, "rb") as fh:
        return sum(1 for _ in fh)


def report(roots: list[Path], package: Path, repo: Path) -> dict:
    """Reached/unreached modules of ``package`` with their line counts."""
    package = package.resolve()
    reached = reached_files(roots, repo)
    modules = sorted(package.rglob("*.py"))
    base = [package.parent]

    def rows(files):
        return [(_module_name(f, base), line_count(f)) for f in files]

    return {
        "reached": rows(f for f in modules if f in reached),
        "unreached": rows(f for f in modules if f not in reached),
    }


def print_report(rep: dict) -> None:
    total_mods = len(rep["reached"]) + len(rep["unreached"])
    total_lines = sum(n for _, n in rep["reached"] + rep["unreached"])
    for key in ("reached", "unreached"):
        mods = rep[key]
        lines = sum(n for _, n in mods)
        print(
            f"{key}: {len(mods)}/{total_mods} modules, "
            f"{lines:,}/{total_lines:,} lines"
        )
        for name, n in sorted(mods, key=lambda m: (-m[1], m[0])):
            print(f"  {n:6d}  {name}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("roots", nargs="*", help="root scripts (globs allowed)")
    args = ap.parse_args(argv)
    patterns = args.roots or [str(REPO / p) for p in DEFAULT_ROOTS]
    roots = sorted({Path(f) for p in patterns for f in glob.glob(p)})
    if not roots:
        ap.error(f"no root scripts match {patterns}")
    print_report(report(roots, REPO / PACKAGE, REPO))
    return 0


if __name__ == "__main__":
    sys.exit(main())
