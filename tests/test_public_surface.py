"""Every public top-level function in ``ocr_spark/`` is reached from code
that runs outside the test suite, or is named on a short allowlist with
its reason.

Roots are every function and the top level of every module in ``jobs/``,
``tools/``, ``perfbench/``, ``bench.py`` and ``__spark_entry__.py``, plus
the top level (the statements outside ``def``/``class``) of every
``ocr_spark`` module, which is where the query catalog lists its rows.
From the roots the walk follows names, attribute names and short
identifier-like strings (``getattr`` targets, dotted paths) into any
top-level function or class that carries the name, then into that
function's body, and so on. It resolves names, not modules, so it can
only over-approximate what runs; a function it cannot reach is called by
nothing but tests.

Pure ``ast``: it imports no Spark and reads each file once.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
ROOT_FILES = ["bench.py", "__spark_entry__.py"]
ROOT_DIRS = ["jobs", "tools", "perfbench"]

_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_.]{0,80}$")

# name -> why it stays public with no non-test caller
ALLOWED = {
    "set_image_backend": "test seam: tests swap the image decoder for a fake",
    "set_pdf_backend": "test seam: tests swap the PDF decoder for a fake",
    "simhash64_py": "test reference: the Spark simhash is checked against it",
    "dequantize_embeddings": "test reference: inverse of quantize_embeddings",
    "find_company": "reference port: the reference service's company lookup "
    "as one call over the compiled matcher",
    "historical_avg_vat_rate": "test reference: the reference's VAT-rate rule",
    "page_count": "test reference: PDF page splits are checked against it",
    "create_tag": "tag guard: expire(respect_tags=True) keeps tagged data",
    "read_tag": "tag guard: expire(respect_tags=True) keeps tagged data",
    "drop_tag": "tag guard: expire(respect_tags=True) keeps tagged data",
}


def _refs(nodes) -> set[str]:
    """Names, attribute names and identifier-like string parts under
    ``nodes`` (imports are not references: a call site is)."""
    out: set[str] = set()
    for top in nodes:
        for n in ast.walk(top):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif (
                isinstance(n, ast.Constant)
                and isinstance(n.value, str)
                and _IDENT.match(n.value)
            ):
                out.update(n.value.split("."))
    return out


def _walk_sources():
    """(path, is_root_file, defs, funcs, top_refs) for every source file,
    where ``defs`` maps each top-level def/class name to the names its
    body references and ``funcs`` lists the top-level functions."""
    files = [REPO / f for f in ROOT_FILES]
    for d in ROOT_DIRS + ["ocr_spark"]:
        files += sorted((REPO / d).rglob("*.py"))
    for path in files:
        tree = ast.parse(path.read_text(), str(path))
        defs: dict[str, set[str]] = {}
        funcs: list[str] = []
        top = []
        for stmt in tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
                defs[stmt.name] = _refs(stmt.body)
                top.extend(stmt.decorator_list)
                if isinstance(stmt, ast.FunctionDef):
                    funcs.append(stmt.name)
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                top.append(stmt)
        rel = path.relative_to(REPO).as_posix()
        yield rel, not rel.startswith("ocr_spark/"), defs, funcs, _refs(top)


def unreached() -> dict[str, list[str]]:
    """Public top-level ``ocr_spark`` functions no root reaches, keyed by
    module path."""
    bodies: dict[str, set[str]] = {}  # name -> union of every same-named body
    public: dict[str, list[str]] = {}
    frontier: set[str] = set()
    for rel, is_root, defs, funcs, top_refs in _walk_sources():
        frontier |= top_refs
        for name, refs in defs.items():
            bodies.setdefault(name, set()).update(refs)
            if is_root:
                frontier |= refs
        if not is_root:
            public[rel] = [n for n in funcs if not n.startswith("_")]
    seen: set[str] = set()
    while frontier:
        name = frontier.pop()
        if name not in seen:
            seen.add(name)
            frontier |= bodies.get(name, set()) - seen
    return {
        rel: miss
        for rel, names in public.items()
        if (miss := [n for n in names if n not in seen])
    }


def test_every_public_function_is_reached_or_allowed():
    missing = {
        rel: [n for n in names if n not in ALLOWED]
        for rel, names in unreached().items()
    }
    missing = {rel: names for rel, names in missing.items() if names}
    assert not missing, (
        "public functions only tests call; wire each into a job or delete it: "
        f"{missing}"
    )


def test_allowlist_names_only_unreached_functions():
    """An allowlisted name that a root now reaches is stale."""
    still = {n for names in unreached().values() for n in names}
    assert set(ALLOWED) <= still, sorted(set(ALLOWED) - still)
