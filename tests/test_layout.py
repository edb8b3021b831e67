"""The package carries only code that something kept reaches.

Every module under hyperpolyglot_spark/ must be imported, directly or
transitively, from one of two roots: the job and the benchmark
(jobs/, perfbench/), or the oracle-checked query surface and its
frozen-table generator (__spark_entry__.py, tools/), or be named in
TEST_ONLY or LOADED_BY_NAME below. The job's own closure is pinned
exactly (JOB_CLOSURE). The imports are read with ``ast``, so the check
starts no Spark and runs no module.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "hyperpolyglot_spark"

JOB_ROOTS = ("jobs", "perfbench")
ENTRY_ROOTS = ("__spark_entry__.py", "tools")

# reached from tests only; each is kept for a named reason (ROADMAP item 4)
TEST_ONLY = {
    f"{PKG}.functions.shebang",
    f"{PKG}.sources.pages",
    f"{PKG}.sources.bucketed",
}
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
    orphans = set(mods) - with_parents(reached | TEST_ONLY | LOADED_BY_NAME)
    assert not orphans, f"modules no job, benchmark or query imports: {sorted(orphans)}"
    # the exception lists stay exact: no entry is stale or reached anyway
    assert TEST_ONLY | LOADED_BY_NAME <= set(mods)
    assert not (TEST_ONLY | LOADED_BY_NAME) & reached
    session = mods[f"{PKG}.session"].read_text()
    assert all(f'"{m}"' in session for m in LOADED_BY_NAME)


def test_job_closure_is_pinned():
    reached = closure(("jobs",), package_modules())
    assert not reached - JOB_CLOSURE, f"new in the job: {sorted(reached - JOB_CLOSURE)}"
    assert not JOB_CLOSURE - reached, f"gone from the job: {sorted(JOB_CLOSURE - reached)}"
