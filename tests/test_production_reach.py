"""Every top-level package function must have a production caller.

A static scan, no Spark session. Roots are the code that runs in
production: ``driver_queries`` (its module level and every ``@q`` query),
``__spark_entry__.py``, ``jobs/``, ``bench.py``, ``bench_extra.py``,
``tools/`` and ``perfbench/``. From the roots the scan follows name
references through function bodies until nothing new is reached.

The scan is conservative: it flags only what nothing outside ``tests/``
names. Matching is by bare name, so a name shared by two modules keeps
both. These count as references:

* every identifier spelled anywhere in a root file (``bench.py``,
  ``tools/dump_plans.py`` and ``perfbench/layers.py`` look queries up by
  name with ``getattr``);
* every identifier in a package module's top-level text — its docstring,
  comments and module-level statements (registries, constants) — which
  is where a module declares the operators it keeps;
* names, attributes and string contents (docstrings included) inside a
  reached function.

Reference twins named ``*_python``, ``*_sql``, ``*_expr`` or ``*_hof`` are
exempt while a function of the same module whose name contains theirs
(less the suffix) is reached: tests pin the production path against them.

The functions in ``PENDING_REMOVAL`` are known to be unreached and still
carry their own tests; they are next in line for deletion (ROADMAP.md).
The list may only shrink: an entry that becomes reached or is deleted
fails the test until it is taken off the list.

Report the unreached functions with their line counts:
``python tests/test_production_reach.py``.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "granulate_char_ocr_spark"
ROOT_FILES = ["__spark_entry__.py", "bench.py", "bench_extra.py"]
ROOT_DIRS = ["jobs", "tools", "perfbench"]
TWIN_SUFFIXES = ("_oracle_sql", "_python", "_sql", "_expr", "_hof")
_WORD = re.compile(r"[A-Za-z_]\w*")
_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

Key = tuple[str, str]  # (module path, top-level name)

# Unreached, tested, and scheduled for deletion with their tests.
PENDING_REMOVAL: frozenset[Key] = frozenset(
    (f"granulate_char_ocr_spark/{mod}.py", name)
    for mod, names in {
        "functions/tar": (
            "_checksum_ok _maybe_gunzip _octal _pax_path iter_tar"
            " tar_build tar_entries tar_read"
        ),
        "functions/zipdocx": (
            "_central_directory _decode_entities _zip64_extra docx_build"
            " docx_text odt_text xlsx_rows zip_build zip_entries zip_read"
        ),
        "operators/crawl": (
            "_feed_text cdx_first_by_digest cdx_records feed_entries"
            " resolve_redirects robots_crawl_delay robots_sitemaps"
            " sitemap_urls surt_expr"
        ),
        "operators/docparse": "archive_members docx_texts xlsx_tables",
        "operators/sampling": "temperature_resample",
    }.items()
    for name in names.split()
)


def _refs(node: ast.AST) -> set[str]:
    """Identifiers a function body names: loads, attributes, imported
    names and every word of its string constants."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.update(_WORD.findall(n.value))
    return out


def _is_query(fn: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "q"
        for d in fn.decorator_list
    )


def _package() -> tuple[dict[Key, ast.AST], set[str]]:
    """Every top-level def of the package, and the words of the package's
    own roots: module-level text and the ``@q`` queries."""
    defs: dict[Key, ast.AST] = {}
    seeds: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        mod = str(path.relative_to(REPO))
        lines = path.read_text().splitlines()
        top = [True] * len(lines)
        for node in ast.parse("\n".join(lines)).body:
            if not isinstance(node, _DEF):
                continue
            defs[(mod, node.name)] = node
            if path.name == "driver_queries.py" and _is_query(node):
                seeds |= _refs(node) | {node.name}
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            top[first - 1 : node.end_lineno] = [False] * (node.end_lineno - first + 1)
        seeds.update(_WORD.findall("\n".join(t for t, keep in zip(lines, top) if keep)))
    return defs, seeds


def _twin_of(key: Key, reached: set[Key]) -> bool:
    mod, name = key
    for suffix in TWIN_SUFFIXES:
        if name.endswith(suffix):
            base = name[: -len(suffix)].strip("_")
            return bool(base) and any(m == mod and base in n for m, n in reached)
    return False


def scan() -> tuple[dict[Key, ast.AST], set[Key]]:
    """(every top-level package def, the reached ones, twins included)."""
    defs, seeds = _package()
    for name in ROOT_FILES:
        seeds.update(_WORD.findall((REPO / name).read_text()))
    for d in ROOT_DIRS:
        for path in sorted((REPO / d).rglob("*.py")):
            seeds.update(_WORD.findall(path.read_text()))

    by_name: dict[str, list[Key]] = {}
    for key in defs:
        by_name.setdefault(key[1], []).append(key)
    reached: set[Key] = set()
    seen: set[str] = set()
    todo = list(seeds)
    while True:
        while todo:
            name = todo.pop()
            if name in seen:
                continue
            seen.add(name)
            for key in by_name.get(name, []):
                reached.add(key)
                todo.extend(_refs(defs[key]) - seen)
        # a kept twin's helpers are kept with it
        twins = [k for k in defs if k not in reached and _twin_of(k, reached)]
        if not twins:
            return defs, reached
        todo = [k[1] for k in twins]


def unreached() -> list[tuple[str, str, int]]:
    defs, reached = scan()
    return sorted(
        (mod, name, node.end_lineno - node.lineno + 1)
        for (mod, name), node in defs.items()
        if (mod, name) not in reached
    )


def test_every_package_function_has_a_production_caller():
    dead = [row for row in unreached() if row[:2] not in PENDING_REMOVAL]
    assert not dead, "package functions no query, job, stream or benchmark reaches:\n" + "\n".join(
        f"  {m}:{n} ({lines} lines)" for m, n, lines in dead
    )


def test_pending_removal_lists_only_unreached_functions():
    stale = PENDING_REMOVAL - {row[:2] for row in unreached()}
    assert not stale, "reached or deleted; take off PENDING_REMOVAL:\n" + "\n".join(
        f"  {m}:{n}" for m, n in sorted(stale)
    )


if __name__ == "__main__":
    rows = unreached()
    for m, n, lines in rows:
        print(f"{lines:5d}  {m}:{n}")
    print(f"{sum(r[2] for r in rows):5d}  total in {len(rows)} functions")
