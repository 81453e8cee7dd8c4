"""Every package module is reached from a surface the engine defends: the
registry queries, the spark-submit jobs, the benchmarks and the driver
entry point.  Imports are walked with ``ast`` (no JVM), including the
imports made inside functions."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "audio_quality_checker_spark"
SURFACES = (f"{PKG}/entry_queries.py", "jobs/*.py", "perfbench/*.py",
            "bench.py", "bench_extra.py", "__spark_entry__.py")

# Modules no surface imports that stay anyway, each with its reason.
ALLOWED = {
    "operators.multimodal": "the only audio-feature code, the reference "
                            "engine's own domain",
    "operators.skew": "skew must be handled explicitly; "
                      "scripts/skew_experiment.py reaches it",
}


def _module_file(name: str) -> Path | None:
    """The file of dotted module ``name`` inside the package, if any."""
    if name != PKG and not name.startswith(PKG + "."):
        return None
    base = ROOT.joinpath(*name.split("."))
    for path in (base.with_suffix(".py"), base / "__init__.py"):
        if path.is_file():
            return path
    return None


def _imported(path: Path) -> set[str]:
    """Dotted names the file imports (the package has no relative
    imports; one would leave its target unreached and fail the test)."""
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            out.add(node.module)
            out.update(f"{node.module}.{a.name}" for a in node.names)
    return out


def _reached() -> set[str]:
    queue = [p for pat in SURFACES for p in ROOT.glob(pat)]
    seen: set[str] = set()
    while queue:
        for imp in _imported(queue.pop()):
            parts = imp.split(".")
            # importing a.b.c runs the __init__ of a and of a.b too
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                f = _module_file(mod)
                if f is not None and mod not in seen:
                    seen.add(mod)
                    queue.append(f)
    return seen


def _package_modules() -> set[str]:
    out = set()
    for path in (ROOT / PKG).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out.add(".".join(parts))
    return out


def test_every_module_is_reached_from_a_surface():
    unreached = {m.removeprefix(PKG + ".")
                 for m in _package_modules() - _reached()}
    assert unreached == set(ALLOWED), (
        "imported by no query, job or benchmark (delete, or allow-list "
        f"with a reason): {sorted(unreached - set(ALLOWED))}; "
        f"allow-listed but reached: {sorted(set(ALLOWED) - unreached)}")
