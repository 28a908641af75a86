"""Every package module must be reachable from a product surface: the
extract path (pipeline.py), the CLI (__main__.py) and the driver contract
(the package modules __spark_entry__.py imports). Pure ``ast`` over the
source tree, no Spark: imports are followed wherever they appear, so the
lazy in-function imports the CLI and the UDFs use count as edges, and
importing ``a.b.c`` also runs ``a`` and ``a.b``.

A module that no surface reaches is dead weight for every run; delete it
with its tests, or list it in UNREACHED with a one-line reason."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "ai_invoice_ocr_engine_spark"

#: modules no surface reaches, each with why it is still in the package
UNREACHED = {
    f"{PKG}.sources.annotations": "reference label-file scan, used only by "
    "tests/test_annotations.py; candidate for deletion",
    f"{PKG}.sources.tables": "bucketBy catalog-table writer, used only by "
    "tests/test_plan_quality.py; candidate for deletion",
    f"{PKG}.flac": "FLAC codec, used only by ogg.py and tests/test_flac.py; "
    "left from the audio/video deletion, next to go",
    f"{PKG}.ogg": "Ogg-FLAC demux, used only by tests/test_ogg.py; left "
    "from the audio/video deletion, next to go",
    f"{PKG}.mp4": "ISO-BMFF demux, used only by tests/test_mp4.py; left "
    "from the audio/video deletion, next to go",
}


def _package_modules() -> dict[str, Path]:
    mods = {}
    for path in (ROOT / PKG).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _with_parents(name: str) -> list[str]:
    parts = name.split(".")
    return [".".join(parts[: i + 1]) for i in range(len(parts))]


def _imports(path: Path, name: str, mods: dict) -> set[str]:
    """Package modules that executing ``name`` (at ``path``) may import."""
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    out = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for alias in node.names:
                out.update(_with_parents(alias.name))
        elif isinstance(node, ast.ImportFrom):
            base = package
            for _ in range(node.level - 1):
                base = base.rpartition(".")[0]
            if node.level and node.module:
                target = f"{base}.{node.module}"
            else:
                target = base if node.level else node.module
            out.update(_with_parents(target))
            out.update(f"{target}.{alias.name}" for alias in node.names)
    return {m for m in out if m in mods}


def _reached(mods: dict) -> set[str]:
    entry = ROOT / "__spark_entry__.py"
    todo = [f"{PKG}.pipeline", f"{PKG}.__main__"]
    todo += sorted(_imports(entry, "__spark_entry__", mods))
    seen = set()
    while todo:
        name = todo.pop()
        for m in _with_parents(name):
            if m in mods and m not in seen:
                seen.add(m)
                todo.extend(_imports(mods[m], m, mods))
    return seen


def test_every_package_module_is_reached_from_a_surface():
    mods = _package_modules()
    unreached = set(mods) - _reached(mods)
    assert unreached - set(UNREACHED) == set(), (
        "modules no surface imports — delete them or add them to UNREACHED "
        "with a reason"
    )


def test_unreached_allowlist_is_current():
    mods = _package_modules()
    listed = set(UNREACHED)
    assert listed <= set(mods), "UNREACHED names a module that is gone"
    assert not listed & _reached(mods), "UNREACHED names a reached module"


def test_walk_follows_lazy_and_relative_imports():
    """api.py is reached only through the lazy ``from .api import`` inside
    the package's ``init``; functions.multimodal only through the CLI's
    in-function import."""
    reached = _reached(_package_modules())
    assert f"{PKG}.api" in reached
    assert f"{PKG}.functions.multimodal" in reached
