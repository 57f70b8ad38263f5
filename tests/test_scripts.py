"""Scripts under scripts/ find the package from any directory.

``scripts/_repo.py`` puts the repository root on the driver's
``sys.path`` and on ``PYTHONPATH``, which Spark hands to the Python
workers it forks; a script that imports pyspark or the package before
it leaves the workers unable to import the package when run from
outside the repository root.
"""

import ast
import os
import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent
SCRIPTS = REPO / "scripts"
ENGINE_MODULES = ("pyspark", "n8n_tools_api_spark")


def _imports(tree):
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield node.lineno, alias.name
        elif isinstance(node, ast.ImportFrom) and node.module:
            yield node.lineno, node.module


def test_scripts_import_repo_helper_first():
    checked = []
    for path in sorted(SCRIPTS.glob("*.py")):
        src = path.read_text()
        if path.name == "_repo.py" or "n8n_tools_api_spark" not in src:
            continue
        imports = sorted(_imports(ast.parse(src)))
        helper = [line for line, mod in imports if mod == "_repo"]
        assert helper, f"{path.name} does not import _repo"
        early = [(line, mod) for line, mod in imports
                 if mod.split(".")[0] in ENGINE_MODULES and line < helper[0]]
        assert not early, f"{path.name} imports {early} before _repo"
        assert "sys.path.insert" not in src, path.name
        checked.append(path.name)
    assert len(checked) >= 6, checked


def test_repo_helper_sets_both_paths(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    code = ("import os, sys; sys.path.insert(0, sys.argv[1]); import _repo; "
            "import n8n_tools_api_spark; "
            "print(os.environ['PYTHONPATH'].split(os.pathsep)[0])")
    out = subprocess.run([sys.executable, "-c", code, str(SCRIPTS)],
                         cwd=tmp_path, env=env, capture_output=True,
                         text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == str(REPO)
