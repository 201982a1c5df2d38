"""One chunk-scan kernel for every row-chunked source.

A chunk scan is a function under ``dask_ms_spark/sources/`` that calls
``<session>.range(...)`` and feeds a ``mapInArrow`` or ``mapInPandas``:
the shape every row-chunked reader (zarr, CASA, katdal) takes.  The
package keeps one, ``sources.chunks.scan_chunks``; a new source reads
through it instead of growing its own loop.  Functions are top-level
functions and class methods (nested helpers count with their owner).
Stdlib only; run it alone with
``python -m pytest tests/test_one_chunk_scan.py -q``.
"""
import ast
import pathlib

SOURCES = (pathlib.Path(__file__).resolve().parent.parent
           / "dask_ms_spark" / "sources")
_MAPS = {"mapInArrow", "mapInPandas"}
_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def chunk_scans(root=SOURCES):
    """``file:function`` of every function that calls ``.range(...)``
    and ``mapInArrow``/``mapInPandas``."""
    sites = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        funcs = [n for n in tree.body if isinstance(n, _FUNCS)]
        funcs += [m for c in tree.body if isinstance(c, ast.ClassDef)
                  for m in c.body if isinstance(m, _FUNCS)]
        for fn in funcs:
            called = {n.func.attr for n in ast.walk(fn)
                      if isinstance(n, ast.Call)
                      and isinstance(n.func, ast.Attribute)}
            if "range" in called and called & _MAPS:
                sites.append(f"{path.relative_to(root)}:{fn.name}")
    return sites


def test_finder_reports_planted_scans(tmp_path):
    (tmp_path / "a.py").write_text(
        "def scan(spark, n, f, s):\n"
        "    def g(it):\n"
        "        return it\n"
        "    return spark.range(n).mapInPandas(f, s)\n"
        "def local(df, f, s):\n"
        "    return df.mapInArrow(f, s) if range(3) else None\n")
    (tmp_path / "b.py").write_text(
        "class Reader:\n"
        "    def load(self, spark, n, f, s):\n"
        "        df = spark.range(0, n, 1, 2)\n"
        "        return df.mapInArrow(f, s)\n")
    assert chunk_scans(tmp_path) == ["a.py:scan", "b.py:load"]


def test_sources_have_one_chunk_scan():
    sites = chunk_scans()
    assert len(sites) <= 1, (
        f"{len(sites)} chunk scans under dask_ms_spark/sources/ "
        f"({', '.join(sites)}); read new sources through "
        "sources.chunks.scan_chunks")
