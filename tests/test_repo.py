"""Source hygiene across the package, tests/ and scripts/: no unused
imports."""

from __future__ import annotations

import ast
import glob
import os

from tests.conftest import REPO


def test_no_unused_imports():
    """Every imported name in the package, tests/ and scripts/ is used
    somewhere in its module (neither pyflakes nor ruff is installed, so
    this is the lint). Names listed in ``__all__`` count as used; an
    import kept only for its side effect says so with ``# noqa: F401``."""
    files = [
        *glob.glob(os.path.join(REPO, "ml_training_data_pipeline_spark", "**", "*.py"), recursive=True),
        *glob.glob(os.path.join(REPO, "tests", "*.py")),
        *glob.glob(os.path.join(REPO, "scripts", "*.py")),
    ]
    unused = []
    for path in sorted(files):
        src = open(path).read()
        lines = src.splitlines()
        tree = ast.parse(src)
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for n in ast.walk(tree):
            if isinstance(n, ast.Assign) and any(getattr(t, "id", None) == "__all__" for t in n.targets):
                used |= {e.value for e in n.value.elts}
        for n in ast.walk(tree):
            if not isinstance(n, (ast.Import, ast.ImportFrom)) or getattr(n, "module", "") == "__future__":
                continue
            if any("noqa: F401" in ln for ln in lines[n.lineno - 1:n.end_lineno]):
                continue
            for a in n.names:
                name = a.asname or a.name.split(".")[0]
                if name not in used:
                    unused.append(f"{os.path.relpath(path, REPO)}:{n.lineno} {name}")
    assert not unused, unused
