"""Every script under scripts/ and bench.py loads without running its
``main()``, and every package name it imports — at module level or inside a
function — still exists, so a script left pointing at a removed helper fails
here instead of on its next manual run."""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
SCRIPTS = sorted((ROOT / "scripts").glob("*.py")) + [ROOT / "bench.py"]


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.relative_to(ROOT).as_posix())
def test_script_imports_without_running_main(path):
    spec = importlib.util.spec_from_file_location(f"_script_{path.stem}", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert callable(getattr(module, "main", None))

    missing = []
    for node in ast.walk(ast.parse(path.read_text())):
        if not (isinstance(node, ast.ImportFrom)
                and (node.module or "").startswith("go_iceberg_spark")):
            continue
        target = importlib.import_module(node.module)
        missing += [f"{node.module}.{a.name}" for a in node.names
                    if not hasattr(target, a.name)]
    assert not missing, missing
