"""No test-only public API: every module-level public function or class in
``ocr_obsidian_spark/`` must be named by production code — the package
itself, ``__spark_entry__.py``, ``bench*.py``, ``scripts/`` or
``perfbench/``. A public function that only tests call is code that must be
kept correct without a consumer; move the test onto the production path
and delete it, or list it below with the reason it stays. Pure AST, no
imports of the package."""

from __future__ import annotations

import ast
from functools import cache
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "ocr_obsidian_spark"

# name -> why it stays public with only test callers
ALLOWED_TEST_ONLY = {
    "is_plausible_roman": "reference port of page_numbers.py, pinned by the oracle tests",
    "fixture_trigger_rows": "source of the trigger fixture the pipeline tests run on",
    "bucket_cap_stats": "cap report over any bucketed keying, named in operator docstrings",
}


def _production_files() -> list[Path]:
    return [
        *PACKAGE.rglob("*.py"),
        REPO / "__spark_entry__.py",
        *REPO.glob("bench*.py"),
        *(REPO / "scripts").rglob("*.py"),
        *(REPO / "perfbench").rglob("*.py"),
    ]


@cache
def _public_defs() -> dict[str, str]:
    out = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.parse(path.read_text(encoding="utf-8")).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not node.name.startswith("_"):
                out[node.name] = str(path.relative_to(REPO))
    return out


def _from_package(module: str | None, level: int) -> bool:
    return level > 0 or (module or "").split(".")[0] == PACKAGE.name


def _import_bindings(tree: ast.AST) -> dict[str, bool]:
    """Each name a file binds by ``import`` → whether some binding of it
    comes from the package."""
    out: dict[str, bool] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                name = a.asname or a.name.split(".")[0]
                out[name] = out.get(name, False) or _from_package(a.name, 0)
        elif isinstance(node, ast.ImportFrom):
            for a in node.names:
                name = a.asname or a.name
                out[name] = out.get(name, False) or _from_package(node.module, node.level)
    return out


def _base_name(node: ast.Attribute) -> str | None:
    while isinstance(node, ast.Attribute):
        node = node.value
    return node.id if isinstance(node, ast.Name) else None


@cache
def _referenced_names() -> set[str]:
    """Every name a production file loads, reads as an attribute or
    imports from the package (definitions alone do not count). A name or
    attribute whose base an ``import`` binds to a module outside the
    package (``pq.read_table``) counts for nothing."""
    names: set[str] = set()
    for path in _production_files():
        tree = ast.parse(path.read_text(encoding="utf-8"))
        ours = _import_bindings(tree)
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and ours.get(node.id, True):
                names.add(node.id)
            elif isinstance(node, ast.Attribute) and ours.get(_base_name(node), True):
                names.add(node.attr)
            elif isinstance(node, ast.Import):
                names.update(
                    a.name.rsplit(".", 1)[-1] for a in node.names
                    if _from_package(a.name, 0)
                )
            elif isinstance(node, ast.ImportFrom) and _from_package(node.module, node.level):
                names.update(a.name for a in node.names)
    return names


def test_every_public_definition_has_a_production_reference():
    refs = _referenced_names()
    orphans = sorted(
        f"{where}: {name}"
        for name, where in _public_defs().items()
        if name not in refs and name not in ALLOWED_TEST_ONLY
    )
    assert not orphans, "public API with no production caller:\n" + "\n".join(orphans)


def test_allowlist_names_live_test_only_definitions():
    defs, refs = _public_defs(), _referenced_names()
    stale = sorted(n for n in ALLOWED_TEST_ONLY if n not in defs or n in refs)
    assert not stale, f"allowlist entries that are gone or now used: {stale}"


def test_stage_boundary_mode_is_decided_in_xengine_only():
    """``xengine.truncate_lineage`` is the one place that picks local or
    reliable checkpointing (from the session's checkpoint dir): no package
    function takes a ``checkpoint`` parameter, and no other production
    file calls ``localCheckpoint`` or ``checkpoint`` itself."""
    owner = PACKAGE / "operators" / "xengine.py"
    params, calls = [], []
    for path in _production_files():
        tree = ast.parse(path.read_text(encoding="utf-8"))
        where = str(path.relative_to(REPO))
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                a = node.args
                names = [x.arg for x in (*a.posonlyargs, *a.args, *a.kwonlyargs)]
                if path.is_relative_to(PACKAGE) and "checkpoint" in names:
                    params.append(f"{where}:{node.lineno}")
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("checkpoint", "localCheckpoint")
                and path != owner
            ):
                calls.append(f"{where}:{node.lineno}")
    assert not params, f"functions with a checkpoint parameter: {params}"
    assert not calls, f"checkpoint calls outside xengine.truncate_lineage: {calls}"
