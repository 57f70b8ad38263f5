"""The worker-side UDF wrapper (functions/pyworker.py), in-process: it
drops the zip finders on every way out of a body, imports from the same
zip still work afterwards, and every engine Python UDF body goes through
it — one idiom, pinned like tests/test_text.py pins the word split."""

import ast
import inspect
import pathlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from n8n_tools_api_spark.functions.pyworker import udf_body
from n8n_tools_api_spark.operators.extract import _extract_batches

PACKAGE_DIR = pathlib.Path(__file__).resolve().parents[1] / "n8n_tools_api_spark"

# every DataFrame method that runs a Python body on the workers
_UDF_METHODS = {"mapInPandas", "mapInArrow", "applyInPandas",
                "applyInArrow", "applyInPandasWithState"}


def _zip_finders():
    return [p for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)]


@pytest.fixture
def zip_package(tmp_path):
    """A package ``zpkg`` with three modules, importable only from a zip
    on ``sys.path``."""
    archive = tmp_path / "zpkg.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zpkg/__init__.py", "")
        for name in ("a", "b", "c"):
            zf.writestr(f"zpkg/{name}.py", f"NAME = {name!r}\n")
    sys.path.insert(0, str(archive))
    yield archive
    sys.path.remove(str(archive))
    for mod in [m for m in sys.modules if m == "zpkg" or m.startswith("zpkg.")]:
        del sys.modules[mod]
    for p in [p for p in sys.path_importer_cache if p.startswith(str(archive))]:
        del sys.path_importer_cache[p]


def _batch():
    return pd.DataFrame({
        "doc_id": ["d0", "d1"],
        "spans": [[{"kind": "text", "text": "helloWorld .Next",
                    "media_ref": "", "offset": 0}], None],
    })


class TestDropsZipFinders:
    def test_exhausted_and_closed_bodies(self, zip_package):
        import zpkg.a

        assert zpkg.a.NAME == "a"
        assert _zip_finders()
        out = list(_extract_batches(iter([_batch(), _batch()])))
        assert len(out) == 2
        assert out[0]["spans"][0] == [("text", "hello World. Next", "", 0)]
        assert _zip_finders() == []

        import zpkg.b  # the finder is rebuilt from zipimport's cache

        assert zpkg.b.NAME == "b"
        assert _zip_finders()
        gen = _extract_batches(iter([_batch(), _batch()]))
        next(gen)
        gen.close()
        assert _zip_finders() == []

        import zpkg.c

        assert zpkg.c.NAME == "c"

    def test_failed_body(self, zip_package):
        @udf_body
        def fails(batches):
            for pdf in batches:
                raise RuntimeError("boom")
                yield pdf

        import zpkg.a  # noqa: F401

        assert _zip_finders()
        with pytest.raises(RuntimeError, match="boom"):
            list(fails(iter([_batch()])))
        assert _zip_finders() == []

    def test_per_group_body_keeps_its_signature(self, zip_package):
        # applyInPandas passes the grouping key only to two-argument
        # bodies, and it counts them with getfullargspec
        @udf_body
        def with_key(key, pdf):
            return pdf

        @udf_body
        def without_key(pdf):
            return pdf

        assert inspect.getfullargspec(with_key).args == ["key", "pdf"]
        assert inspect.getfullargspec(without_key).args == ["pdf"]
        import zpkg.a  # noqa: F401

        assert _zip_finders()
        assert without_key(7) == 7
        assert _zip_finders() == []


def _decorated(fn):
    return any(isinstance(d, ast.Name) and d.id == "udf_body"
               for d in fn.decorator_list)


def test_every_engine_udf_body_goes_through_udf_body():
    sites = []
    for path in sorted(PACKAGE_DIR.rglob("*.py")):
        tree = ast.parse(path.read_text())
        defs = {n.name: n for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))}
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in _UDF_METHODS):
                body = node.args[0]
                where = f"{path.relative_to(PACKAGE_DIR)}:{node.lineno}"
                assert isinstance(body, ast.Name), where
                assert body.id in defs, where
                assert _decorated(defs[body.id]), f"{where} {body.id}"
                sites.append(where)
    # extract, formatter, boilerplate, textstats x2, lm_ppx, pdf_bronze,
    # multimodal, similarity, bench_corpus, stateful sessions
    assert len(sites) == 11, sites


def test_one_worker_shim():
    touching = sorted(str(p.relative_to(PACKAGE_DIR))
                      for p in PACKAGE_DIR.rglob("*.py")
                      if "path_importer_cache" in p.read_text())
    assert touching == ["functions/pyworker.py"]
