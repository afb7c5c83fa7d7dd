"""No test-only public API: every module-level public function or class in
``ocr_obsidian_spark/`` must be named by production code — the package
itself, ``__spark_entry__.py``, ``bench*.py``, ``scripts/`` or
``perfbench/`` — and every optional parameter of a public function must be
passed by some production call. A public function or knob that only tests
use is code that must be kept correct without a consumer; move the test
onto the production path and delete it, or list it below with the reason
it stays. Pure AST, no imports of the package.

Names resolve through each scope's ``import`` bindings: ``from X import f``
binds ``f`` to the definition in module ``X`` (so ``lm.model_sql_tables``
and ``langid.model_sql_tables`` are different definitions), and a name or
attribute whose base an ``import`` binds outside the package
(``pq.read_table``) names nothing here."""

from __future__ import annotations

import ast
import re
from functools import cache
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "ocr_obsidian_spark"

# "module.name" -> why it stays public with only test callers
ALLOWED_TEST_ONLY = {
    "functions.romans.is_plausible_roman": "reference port of page_numbers.py, pinned by the oracle tests",
    "sources.fixtures.fixture_trigger_rows": "source of the trigger fixture the pipeline tests run on",
    "operators.similarity.bucket_cap_stats": "cap report over any bucketed keying, named in operator docstrings",
}

# "module.func:param" -> why only tests pass it. Three reasons are accepted:
# (1) a seam that forces a size-gated production path the fixtures cannot
# reach, (2) an input the function transforms, substituted to test the
# trainer or scorer itself, (3) a parameter of a sources/fixtures.py
# test-data generator. Each entry names the test that depends on it.
ALLOWED_TEST_ONLY_PARAMS = {
    "operators.dedup.minhash_lsh_candidate_pairs:max_bucket_size":
        "(1) forces the over-cap chaining path; test_dedup::test_minhash_mega_bucket_cap",
    "operators.dedup.near_duplicate_matches_against:max_bucket_size":
        "(1) forces the existing-side bucket cap; "
        "test_dedup::test_incremental_near_existing_bucket_cap_is_deterministic",
    "operators.dedup.pair_components:driver_max_edges":
        "(1) forces the distributed label-propagation path; "
        "test_dedup::test_pair_components_random_graph_vs_union_find",
    "operators.semdedup.semantic_dedup_labels:max_cell_size":
        "(1) forces over-cap cell chaining; "
        "test_semdedup::test_over_cap_cell_chains_and_components_survive",
    "operators.similarity.embedding_near_duplicates:max_bucket_size":
        "(1) forces over-cap bucket chaining; test_similarity::test_near_dup_mega_cluster_bucket_cap",
    "operators.webprep.contamination_report:bits_log2":
        "(1) a saturated Bloom filter forces false positives through the confirm join; "
        "test_webprep::test_decontaminate_bloom_equals_exact",
    "operators.webprep.contamination_report:n_hashes":
        "(1) a saturated Bloom filter forces false positives through the confirm join; "
        "test_webprep::test_decontaminate_bloom_equals_exact",
    "operators.dsir.fit_dsir_texts:target_texts":
        "(2) training corpus; test_dsir::test_fit_handles_null_and_empty_text",
    "operators.dsir.fit_dsir_texts:raw_texts":
        "(2) training corpus; test_dsir::test_fit_handles_null_and_empty_text",
    "operators.lm.train_kn_bigram:texts":
        "(2) training corpus; test_lm::test_no_singleton_bigram_corpus_trains_finite",
    "operators.qualityclf.train_quality_clf:pos_texts":
        "(2) training corpus; test_qualityclf::test_retrained_model_scores_through_udf",
    "operators.qualityclf.train_quality_clf:neg_texts":
        "(2) training corpus; test_qualityclf::test_retrained_model_scores_through_udf",
    "operators.qualityclf.with_quality_label:model":
        "(2) scored model; test_qualityclf::test_retrained_model_scores_through_udf",
    "operators.tokenize.tokenize_wordpiece:vocab":
        "(2) tokenizer vocabulary; test_tokenize::test_wordpiece_greedy_longest_match",
    "sources.fixtures.fixture_page_rows:skew_factor":
        "(3) test-data generator; conftest::fixture_pages",
    "sources.fixtures.fixture_trigger_rows:n_books":
        "(3) test-data generator; conftest::fixture_triggers",
    "sources.fixtures.fixture_trigger_rows:pages_per_book":
        "(3) test-data generator; conftest::fixture_triggers",
    "sources.fixtures.fixture_trigger_rows:seed":
        "(3) test-data generator; conftest::fixture_triggers",
}


def _production_files() -> list[Path]:
    return [
        *PACKAGE.rglob("*.py"),
        REPO / "__spark_entry__.py",
        *REPO.glob("bench*.py"),
        *(REPO / "scripts").rglob("*.py"),
        *(REPO / "perfbench").rglob("*.py"),
    ]


def _module_of(path: Path) -> str | None:
    """Dotted module of a package file (``operators.dedup``; a package's
    ``__init__`` is the package itself), None outside the package."""
    if not path.is_relative_to(PACKAGE):
        return None
    parts = path.relative_to(PACKAGE).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


@cache
def _package_modules() -> frozenset[str]:
    return frozenset(_module_of(p) for p in PACKAGE.rglob("*.py"))


@cache
def _public_nodes() -> dict[tuple[str, str], ast.AST]:
    """(module, name) → the module-level public function or class."""
    out = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.parse(path.read_text(encoding="utf-8")).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not node.name.startswith("_"):
                out[(_module_of(path), node.name)] = node
    return out


def _qualname(key: tuple[str, str]) -> str:
    return ".".join(k for k in key if k)


def _absolute(module: str | None, level: int, here: str | None) -> str | None:
    """Package-relative dotted name of an import source, None when it lies
    outside the package."""
    if level:
        if here is None:
            return None
        is_pkg = here in ("",) or (PACKAGE / here.replace(".", "/") / "__init__.py").exists()
        base = here.split(".") if here else []
        base = base if is_pkg else base[:-1]
        base = base[: len(base) - (level - 1)]
        return ".".join([*base, *([module] if module else [])])
    root, _, rest = (module or "").partition(".")
    return rest if root == PACKAGE.name else None


def _local_imports(body: list[ast.stmt], here: str | None) -> dict[str, tuple | None]:
    """The names one scope binds by ``import`` (nested function and class
    bodies excluded) → ("mod", m) | ("obj", m, name) | None (foreign)."""
    out: dict[str, tuple | None] = {}
    stack = list(body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.Lambda)):
            continue
        if isinstance(node, ast.Import):
            for a in node.names:
                mod = _absolute(a.name, 0, here)
                if a.asname:
                    out[a.asname] = None if mod is None else ("mod", mod)
                else:
                    top = a.name.split(".")[0]
                    out[top] = ("mod", "") if top == PACKAGE.name else None
        elif isinstance(node, ast.ImportFrom):
            mod = _absolute(node.module, node.level, here)
            for a in node.names:
                name = a.asname or a.name
                if mod is None:
                    out[name] = None
                elif _join(mod, a.name) in _package_modules():
                    out[name] = ("mod", _join(mod, a.name))
                else:
                    out[name] = ("obj", mod, a.name)
        stack.extend(ast.iter_child_nodes(node))
    return out


def _join(mod: str, name: str) -> str:
    return f"{mod}.{name}" if mod else name


@cache
def _module_bindings(mod: str) -> dict[str, tuple | None]:
    path = PACKAGE / (mod.replace(".", "/") + ".py")
    if not path.exists():
        path = PACKAGE / mod.replace(".", "/") / "__init__.py"
    return _local_imports(ast.parse(path.read_text(encoding="utf-8")).body, mod)


def _canonical(mod: str, name: str) -> tuple[str, str] | None:
    """Follow re-exports: the module that defines ``mod.name``."""
    for _ in range(10):
        if (mod, name) in _public_nodes():
            return (mod, name)
        b = _module_bindings(mod).get(name)
        if not b or b[0] != "obj":
            return None
        mod, name = b[1], b[2]
    return None


def _resolve(node: ast.expr, env: dict) -> tuple | None:
    """What a Name or attribute chain denotes under ``env``."""
    if isinstance(node, ast.Name):
        return env.get(node.id)
    if isinstance(node, ast.Attribute):
        base = _resolve(node.value, env)
        if base and base[0] == "mod":
            sub = _join(base[1], node.attr)
            return ("mod", sub) if sub in _package_modules() else ("obj", base[1], node.attr)
    return None


def _walk_scopes(tree: ast.Module, here: str | None):
    """Yield (node, env) for every node of a file, where ``env`` maps each
    name to what the innermost enclosing scope's imports (or the module's
    own definitions) bind it to."""
    env: dict = {}
    if here is not None:
        env.update(
            {n.name: ("obj", here, n.name) for n in tree.body
             if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))}
        )
    env.update(_local_imports(tree.body, here))

    def visit(node, env):
        yield node, env
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                body = child.body if isinstance(child.body, list) else [child.body]
                inner = {**env, **_local_imports(body, here)}
                for a in (*child.args.posonlyargs, *child.args.args, *child.args.kwonlyargs):
                    inner[a.arg] = None
                yield from visit(child, inner)
            else:
                yield from visit(child, env)

    yield from visit(tree, env)


@cache
def _production_usage() -> tuple[frozenset, dict[tuple[str, str], set[str]]]:
    """(every definition a production file names, definition → the optional
    parameters some production call passes)."""
    refs: set[tuple[str, str]] = set()
    passed: dict[tuple[str, str], set[str]] = {}
    for path in _production_files():
        here = _module_of(path)
        tree = ast.parse(path.read_text(encoding="utf-8"))
        for node, env in _walk_scopes(tree, here):
            target = None
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                target = _resolve(node, env)
            elif isinstance(node, ast.Attribute):
                target = _resolve(node, env)
            elif isinstance(node, ast.ImportFrom):
                mod = _absolute(node.module, node.level, here)
                for a in node.names if mod is not None else ():
                    target = _canonical(mod, a.name)
                    if target:
                        refs.add(target)
                continue
            key = _canonical(*target[1:]) if target and target[0] == "obj" else None
            if key is None:
                continue
            refs.add(key)
        for node, env in _walk_scopes(tree, here):
            if not isinstance(node, ast.Call):
                continue
            target = _resolve(node.func, env)
            key = _canonical(*target[1:]) if target and target[0] == "obj" else None
            fn = _public_nodes().get(key)
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            got = passed.setdefault(key, set())
            a = fn.args
            positional = [x.arg for x in (*a.posonlyargs, *a.args)]
            if any(isinstance(x, ast.Starred) for x in node.args):
                got.update(positional)
            else:
                got.update(positional[: len(node.args)])
            for kw in node.keywords:
                if kw.arg is None:
                    got.update(positional, (x.arg for x in a.kwonlyargs))
                else:
                    got.add(kw.arg)
    return frozenset(refs), passed


def _optional_params(fn: ast.FunctionDef) -> list[str]:
    a = fn.args
    positional = [*a.posonlyargs, *a.args]
    out = [x.arg for x in positional[len(positional) - len(a.defaults):]]
    out += [x.arg for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _unpassed_params() -> list[str]:
    _, passed = _production_usage()
    return sorted(
        f"{_qualname(key)}:{p}"
        for key, fn in _public_nodes().items()
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
        for p in _optional_params(fn)
        if p not in passed.get(key, ())
    )


def test_every_public_definition_has_a_production_reference():
    refs, _ = _production_usage()
    orphans = sorted(
        _qualname(key) for key in _public_nodes()
        if key not in refs and _qualname(key) not in ALLOWED_TEST_ONLY
    )
    assert not orphans, "public API with no production caller:\n" + "\n".join(orphans)


def test_allowlist_names_live_test_only_definitions():
    refs, _ = _production_usage()
    defs = {_qualname(k): k for k in _public_nodes()}
    stale = sorted(n for n in ALLOWED_TEST_ONLY if n not in defs or defs[n] in refs)
    assert not stale, f"allowlist entries that are gone or now used: {stale}"


def test_every_optional_parameter_has_a_production_caller():
    knobs = [k for k in _unpassed_params() if k not in ALLOWED_TEST_ONLY_PARAMS]
    assert not knobs, "optional parameters no production call passes:\n" + "\n".join(knobs)


def test_param_allowlist_names_live_test_only_parameters():
    unpassed = set(_unpassed_params())
    stale = sorted(k for k in ALLOWED_TEST_ONLY_PARAMS if k not in unpassed)
    assert not stale, f"parameter allowlist entries that are gone or now passed: {stale}"
    cite = re.compile(r"^\([123]\) .*; (test_\w+|conftest)::\w+$")
    bad = sorted(k for k, why in ALLOWED_TEST_ONLY_PARAMS.items() if not cite.match(why))
    assert not bad, f"entries that cite no accepted reason and test: {bad}"


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
