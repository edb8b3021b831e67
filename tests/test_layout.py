"""The package carries only code that something kept reaches.

Every module under hyperpolyglot_spark/ must be imported, directly or
transitively, from one of two roots: the job and the benchmark
(jobs/, perfbench/), or the oracle-checked query surface and its
frozen-table generator (__spark_entry__.py, tools/), or be named in
LOADED_BY_NAME below. The job's own closure is pinned exactly
(JOB_CLOSURE), so is the benchmark's (BENCH_CLOSURE: the job plus the
near-dup operator), so is what the query surface reaches beyond them
(ENTRY_CLOSURE), and so is every top-level name in them that the job
and the benchmark do not reach (ENTRY_OR_TEST_NAMES). No file imports
a name it never uses, and the label spec's modules (functions/) import
neither pyspark nor pandas. The sources are read with ``ast``, so the
checks start no Spark and run no module.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "hyperpolyglot_spark"

JOB_ROOTS = ("jobs", "perfbench")
ENTRY_ROOTS = ("__spark_entry__.py", "tools")

# Spark starts it by name through spark.python.daemon.module (session.py),
# so no import statement names it
LOADED_BY_NAME = {f"{PKG}.pydaemon"}
# exactly what the job imports: one classifier (the hashed NB) and no
# tokenizer; a module that creeps into the job's closure fails by name
JOB_CLOSURE = {
    PKG,
    f"{PKG}.datagen",
    f"{PKG}.datagen.pages",
    f"{PKG}.functions",
    f"{PKG}.functions.extract",
    f"{PKG}.functions.langdata",
    f"{PKG}.functions.langid",
    f"{PKG}.functions.metadata",
    f"{PKG}.functions.perplexity",
    f"{PKG}.functions.quality",
    f"{PKG}.functions.rules",
    f"{PKG}.functions.scrub",
    f"{PKG}.operators",
    f"{PKG}.operators.cascade",
    f"{PKG}.plans",
    f"{PKG}.plans.pipeline",
    f"{PKG}.plans.resume",
    f"{PKG}.session",
}
# the benchmark reaches the job plus the one operator beside it, the
# persisted-index MinHash near-dup join
BENCH_CLOSURE = JOB_CLOSURE | {f"{PKG}.operators.dedup"}
# what the query surface and tools/ reach beyond the job and the
# benchmark: the label spec's DuckDB SQL and the language-ID fixtures
# tools/gen_expected.py computes the frozen tables from
ENTRY_CLOSURE = {
    f"{PKG}.functions.spec_sql",
    f"{PKG}.datagen.realtext",
    f"{PKG}.datagen.unknown",
}
# top-level names of BENCH_CLOSURE modules that only the query surface,
# tools/ or the tests use; a name that neither the job nor the
# benchmark reaches, and that is not listed here, fails by name
ENTRY_OR_TEST_NAMES = {
    f"{PKG}.__version__",
    f"{PKG}.datagen.pages.gen_pages_pdf",
    f"{PKG}.functions.langid.NORM_FROM",
    f"{PKG}.functions.langid.NORM_TO",
    # the spec scorer the tests call: classify_margin_py's winner alone
    f"{PKG}.functions.langid.classify_hashed_py",
    # the NB decision with its gate statistics, for the tests: the job
    # reaches its body (_margin) through classify_or_none_py, which
    # shares one script_letters between it and the gate
    f"{PKG}.functions.langid.classify_margin_py",
    f"{PKG}.plans.pipeline.breakdown",
    # dedup's oracles, beside the indexed join:
    # the scalar hash the padding-width test holds the batch hash to
    f"{PKG}.operators.dedup._base_hash64",
    # the exact all-pairs truth of the MinHash tests (neardup_jaccard_pairs)
    f"{PKG}.operators.dedup.ngram_jaccard_pairs",
    # the re-signing oracle of the indexed join
    # (test_indexed_join_matches_resign_join)
    f"{PKG}.operators.dedup.minhash_neardup_join",
}


def package_modules() -> dict[str, Path]:
    mods = {}
    for path in (ROOT / PKG).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def imported_names(path: Path, module: str) -> set[str]:
    """Dotted names ``path``'s import statements may load, with
    relative imports resolved against ``module``; ``from a import b``
    yields both ``a`` and ``a.b`` (b may be a submodule)."""
    is_pkg = path.name == "__init__.py"
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parent = module.split(".")
                parent = parent[: len(parent) - node.level + is_pkg]
                base = ".".join(parent + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    return names


def with_parents(names: set[str]) -> set[str]:
    """``names`` plus every package above them."""
    return {n.rsplit(".", k)[0] for n in names for k in range(n.count(".") + 1)}


def closure(roots: tuple[str, ...], mods: dict[str, Path]) -> set[str]:
    """Package modules reached from the .py files under ``roots``.
    Loading a module runs its parent packages' ``__init__`` too."""
    files = []
    for root in roots:
        p = ROOT / root
        files += sorted(p.rglob("*.py")) if p.is_dir() else [p]
    todo = [(f, f.stem) for f in files]
    reached = set()
    while todo:
        path, module = todo.pop()
        for m in (with_parents(imported_names(path, module)) & mods.keys()) - reached:
            reached.add(m)
            todo.append((mods[m], m))
    return reached


def test_every_package_module_is_reached():
    mods = package_modules()
    reached = closure(JOB_ROOTS, mods) | closure(ENTRY_ROOTS, mods)
    orphans = set(mods) - with_parents(reached | LOADED_BY_NAME)
    assert not orphans, f"modules no job, benchmark or query imports: {sorted(orphans)}"
    # the exception list stays exact: no entry is stale or reached anyway
    assert LOADED_BY_NAME <= set(mods)
    assert not LOADED_BY_NAME & reached
    session = mods[f"{PKG}.session"].read_text()
    assert all(f'"{m}"' in session for m in LOADED_BY_NAME)


def test_job_closure_is_pinned():
    reached = closure(("jobs",), package_modules())
    assert not reached - JOB_CLOSURE, f"new in the job: {sorted(reached - JOB_CLOSURE)}"
    assert not JOB_CLOSURE - reached, f"gone from the job: {sorted(JOB_CLOSURE - reached)}"


def test_benchmark_closure_is_pinned():
    reached = closure(("perfbench",), package_modules())
    assert not reached - BENCH_CLOSURE, (
        f"new in the benchmark: {sorted(reached - BENCH_CLOSURE)}"
    )
    assert not BENCH_CLOSURE - reached, (
        f"gone from the benchmark: {sorted(BENCH_CLOSURE - reached)}"
    )


def test_entry_closure_is_pinned():
    mods = package_modules()
    extra = closure(ENTRY_ROOTS, mods) - closure(JOB_ROOTS, mods)
    assert not extra - ENTRY_CLOSURE, (
        f"new in the query surface: {sorted(extra - ENTRY_CLOSURE)}"
    )
    assert not ENTRY_CLOSURE - extra, (
        f"gone from the query surface: {sorted(ENTRY_CLOSURE - extra)}"
    )


DEFINITIONS = (ast.FunctionDef, ast.ClassDef, ast.Assign, ast.AnnAssign)


def top_level_names(tree: ast.Module):
    """(name, node) for each top-level def, class and assignment."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            yield node.name, node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for target in targets:
                for n in ast.walk(target):
                    if isinstance(n, ast.Name):
                        yield n.id, node


def referenced(node: ast.AST) -> set[str]:
    """Identifiers ``node`` uses: bare names and attribute names (an
    import alone uses nothing)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def unreached_names() -> set[str]:
    """Dotted top-level names of BENCH_CLOSURE modules that jobs/ and
    perfbench/ do not reach, following uses by name through the
    closure's own definitions. Statements that run on import (neither
    a definition nor an import) count as reached."""
    mods = package_modules()
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    todo = set()
    for m in BENCH_CLOSURE:
        tree = ast.parse(mods[m].read_text(), str(mods[m]))
        for name, node in top_level_names(tree):
            defs.setdefault(name, []).append((m, node))
        for node in tree.body:
            if not isinstance(node, (*DEFINITIONS, ast.Import, ast.ImportFrom)):
                todo |= referenced(node)
    for root in JOB_ROOTS:
        for path in (ROOT / root).rglob("*.py"):
            todo |= referenced(ast.parse(path.read_text(), str(path)))
    reached = set()
    todo &= defs.keys()
    while todo:
        name = todo.pop()
        reached.add(name)
        for _, node in defs[name]:
            todo |= (referenced(node) & defs.keys()) - reached
    return {f"{m}.{name}" for name, ds in defs.items() if name not in reached for m, _ in ds}


def test_job_module_names_are_reached():
    unreached = unreached_names()
    assert not unreached - ENTRY_OR_TEST_NAMES, (
        f"not reached from the job or the benchmark: {sorted(unreached - ENTRY_OR_TEST_NAMES)}"
    )
    # the list stays exact: no entry is stale or reached anyway
    assert not ENTRY_OR_TEST_NAMES - unreached, (
        f"stale: {sorted(ENTRY_OR_TEST_NAMES - unreached)}"
    )


def source_files() -> list[Path]:
    """The package (less its ``__init__`` files, which re-export), the
    job, the tools, the query surface and the tests."""
    files = [p for p in (ROOT / PKG).rglob("*.py") if p.name != "__init__.py"]
    for d in ("jobs", "tools", "tests"):
        files += (ROOT / d).rglob("*.py")
    return sorted(files) + [ROOT / "__spark_entry__.py"]


def unused_imports(path: Path) -> list[str]:
    """Names a module-level import binds that the file never uses as a
    name (``from __future__`` binds none)."""
    tree = ast.parse(path.read_text(), str(path))
    bound = []
    for node in tree.body:
        if isinstance(node, ast.Import):
            bound += [a.asname or a.name.split(".")[0] for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            bound += [a.asname or a.name for a in node.names]
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    return [name for name in bound if name not in used]


def test_no_unused_imports():
    unused = {
        str(p.relative_to(ROOT)): names
        for p in source_files()
        if (names := unused_imports(p))
    }
    assert not unused, f"imported but never used: {unused}"


def test_label_spec_modules_import_no_spark():
    """The label spec (functions/) is plain Python and numpy, so
    plans/pipeline.py stays its only Spark runner."""
    spark_imports = {
        m: sorted(names)
        for m, path in package_modules().items()
        if m.startswith(f"{PKG}.functions")
        and (names := {
            n for n in imported_names(path, m) if n.split(".")[0] in ("pyspark", "pandas")
        })
    }
    assert not spark_imports, f"the label spec imports Spark or pandas: {spark_imports}"


def test_job_labels_through_the_batch_labeller():
    """make_label_fn, which every label UDF calls, runs label_batch and
    never py_label_page: the per-row function stays the oracle only."""
    path = ROOT / PKG / "plans" / "pipeline.py"
    tree = ast.parse(path.read_text(), str(path))
    (fn,) = [n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "make_label_fn"]
    names = referenced(fn)
    assert "label_batch" in names
    assert "py_label_page" not in names
