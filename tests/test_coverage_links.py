"""COVERAGE.md names the Spark home of every SURVEY.md operation as a
backticked ``path.py:name`` (or pytest-style ``path.py::name``). Each
link must resolve to a top-level ``def``, ``class`` or assignment in
that file (a ``Class::method`` / ``Class.method`` tail resolves inside
the class body), so a rename or deletion cannot leave a dead row."""

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1]
LINK = re.compile(r"`([\w./-]+\.py)::?([A-Za-z_]\w*(?:(?:::|\.)[A-Za-z_]\w*)*)`")


def _names(body) -> dict:
    out = {}
    for node in body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            out[node.name] = node
        elif isinstance(node, ast.Assign):
            out.update((t.id, node) for t in node.targets
                       if isinstance(t, ast.Name))
        elif isinstance(node, ast.AnnAssign) \
                and isinstance(node.target, ast.Name):
            out[node.target.id] = node
    return out


def _resolves(path: str, name: str) -> bool:
    f = next((d / path for d in (ROOT, ROOT / "n8n_tools_api_spark")
              if (d / path).is_file()), None)
    if f is None:
        return False
    scope = ast.parse(f.read_text())
    for part in re.split(r"::|\.", name):
        node = _names(getattr(scope, "body", [])).get(part)
        if node is None:
            return False
        scope = node
    return True


def test_every_coverage_link_resolves():
    links = LINK.findall((ROOT / "COVERAGE.md").read_text())
    assert len(links) >= 90
    dead = sorted({f"{p}:{n}" for p, n in links if not _resolves(p, n)})
    assert dead == []
