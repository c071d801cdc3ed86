"""Python workers run only where a row needs Python code.

Every Python task still costs a worker fork and an Arrow transfer (see
SCALE.md "Python worker tax"), so the package starts Python tasks only for
CIF and media decode, the pandas_udf reference query, user rows handed to
PqDB and stateful streaming. Constant frames are built on the JVM with
``functions.literals.lit_frame``.

Two guards: a static one over the package source (every call that ships
rows or a function to Python workers sits in an allow-listed place) and a
runtime one (the BM25 and hybrid-RRF queries build and execute with
``createDataFrame`` and ``parallelize`` unavailable).

The per-task set-up itself stays cheap because local sessions start their
workers from ``pydaemon``: pyspark comes from a directory, and no archive on
the worker ``sys.path`` is re-read by ``importlib.invalidate_caches()``
(0.12-0.23 s of CPU per task with pyspark.zip and the spark-core jar there).
Those tests check it inside a task, from any working directory, and for
both pyspark layouts.
"""

from __future__ import annotations

import ast
import os
import re
import shutil
import subprocess
import sys
import textwrap

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "crystal_parquet_database_spark")

# calls that start Python tasks on the executors
_WORKER_CALL = re.compile(r"^(createDataFrame|parallelize|udf|pandas_udf|mapIn\w+|applyIn\w+)$")

# whole files whose job is per-row Python code
ALLOWED_FILES = {
    "sources/mc3d.py",         # CIF parse
    "operators/multimodal.py",  # image/video/audio header decode
    "surface/parsers.py",      # CIF parse query
    "streaming/stateful.py",   # applyInPandasWithState
}
# (file, enclosing function)
ALLOWED_FUNCTIONS = {
    ("db.py", "_to_df"),                                 # arbitrary user rows
    ("operators/text.py", "quality_score_pandas_udf"),  # the pandas_udf reference
}


def worker_calls(source: str, relpath: str) -> list[tuple[int, str, tuple[str, ...]]]:
    """(line, called name, enclosing function names) of every call — or bare
    decorator — in ``source`` whose name starts Python tasks."""
    found = []

    def name_of(node) -> str | None:
        if isinstance(node, ast.Name):
            return node.id
        if isinstance(node, ast.Attribute):
            return node.attr
        return None

    def visit(node, scope: tuple[str, ...]) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            for dec in getattr(node, "decorator_list", []):
                name = name_of(dec)  # a bare @udf / @F.pandas_udf
                if name and _WORKER_CALL.match(name):
                    found.append((dec.lineno, name, scope))
            scope = scope + (node.name,)
        if isinstance(node, ast.Call):
            name = name_of(node.func)
            if name and _WORKER_CALL.match(name):
                found.append((node.lineno, name, scope))
        for child in ast.iter_child_nodes(node):
            visit(child, scope)

    visit(ast.parse(source, relpath), ())
    return found


def allowed(relpath: str, scope: tuple[str, ...]) -> bool:
    return relpath in ALLOWED_FILES or any((relpath, fn) in ALLOWED_FUNCTIONS for fn in scope)


def _package_calls():
    for root, _, files in os.walk(PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                rel = os.path.relpath(path, PKG).replace(os.sep, "/")
                with open(path, encoding="utf-8") as fh:
                    for line, name, scope in worker_calls(fh.read(), rel):
                        yield rel, line, name, scope


def test_worker_call_scan_self_test():
    snippet = '''
import pyspark.sql.functions as F
from pyspark.sql.functions import udf

def build(spark, sc, df, g):
    a = spark.createDataFrame([(1,)], "x int")
    b = sc.parallelize([1, 2])
    c = df.mapInPandas(f, schema="x int")
    d = df.mapInArrow(f, schema="x int")
    e = g.applyInPandas(f, schema="x int")
    h = F.udf(lambda v: v)
    note = "createDataFrame in a string is not a call"
    return lit_frame(spark, [], "x int")

@udf
def bare(v):
    return v

@F.pandas_udf("double")
def vec(s):
    return s

def _to_df(spark, rows):
    return spark.createDataFrame(rows)
'''
    calls = worker_calls(snippet, "db.py")
    assert sorted(name for _, name, _ in calls) == sorted(
        ["createDataFrame", "parallelize", "mapInPandas", "mapInArrow", "applyInPandas",
         "udf", "udf", "pandas_udf", "createDataFrame"]
    )
    flagged = [(line, name) for line, name, scope in calls if not allowed("db.py", scope)]
    assert len(flagged) == len(calls) - 1  # only _to_df's call is allowed
    assert not [c for c in calls if not allowed("sources/mc3d.py", c[2])]


def test_python_worker_calls_only_in_allowed_places():
    calls = list(_package_calls())
    offenders = [
        f"{rel}:{line} {name} (in {'.'.join(scope) or 'module'})"
        for rel, line, name, scope in calls
        if not allowed(rel, scope)
    ]
    assert offenders == [], "Python-worker calls outside the allow-list:\n" + "\n".join(offenders)
    # the allow-list stays live: every entry still covers a call
    used_files = {rel for rel, _, _, _ in calls}
    used_fns = {(rel, fn) for rel, _, _, scope in calls for fn in scope}
    assert ALLOWED_FILES <= used_files, ALLOWED_FILES - used_files
    assert ALLOWED_FUNCTIONS <= used_fns, ALLOWED_FUNCTIONS - used_fns


@pytest.fixture()
def no_python_rows(monkeypatch):
    """Make every Python-side row source raise."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    def refuse(*_a, **_k):
        raise AssertionError("a Python-side row source was used")

    monkeypatch.setattr(SparkSession, "createDataFrame", refuse)
    monkeypatch.setattr(SparkContext, "parallelize", refuse)


def _run(spark, name, sf_dir):
    from crystal_parquet_database_spark.runtime import release_all_session_blocks
    from crystal_parquet_database_spark.surface import QUERIES

    try:
        return QUERIES[name](spark, sf_dir).collect()
    finally:
        release_all_session_blocks(spark)


@pytest.mark.parametrize("name", ["text_bm25_topk", "text_hybrid_rrf_search", "text_hybrid_rrf_trained"])
def test_bm25_and_rrf_queries_run_without_python_rows(spark, sf_dir, no_python_rows, name):
    assert len(_run(spark, name, sf_dir)) > 0


def test_degenerate_trained_hybrid_runs_without_python_rows(spark, sf_dir, tmp_path, no_python_rows):
    """Every training seed invalid (truncated to 32 dims): the trained
    hybrid takes its empty-vector-arm branch and degrades to BM25 only."""
    import pandas as pd

    dst = str(tmp_path / "allbadseeds")
    shutil.copytree(sf_dir, dst)
    emb = pd.read_parquet(os.path.join(dst, "embeddings.parquet"))
    mask = ((emb.vec_id >= 100) & (emb.vec_id < 116)) | ((emb.vec_id >= 200) & (emb.vec_id < 216))
    emb.loc[mask, "embedding"] = emb.loc[mask, "embedding"].apply(lambda v: v[:32])
    emb.to_parquet(os.path.join(dst, "embeddings.parquet"), index=False)
    rows = _run(spark, "text_hybrid_rrf_trained", dst)
    assert len(rows) > 0


def test_workers_import_pyspark_from_a_directory(spark):
    def worker_imports(_rows):  # defined here: cloudpickle ships it by value
        import zipimport

        import pyspark

        def archive(p):
            return "pyspark.zip" in p or ".jar" in p

        yield (
            pyspark.__file__,
            [p for p in sys.path if p.endswith(("pyspark.zip", ".jar"))],
            [k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter) and archive(k)],
        )

    [(pyspark_file, archives, importers)] = spark.sparkContext.parallelize([0], 1).mapPartitions(worker_imports).collect()
    assert ".zip" not in pyspark_file, pyspark_file
    assert archives == []
    assert importers == []


def test_drop_archives_maps_each_layout_to_its_own_tree(tmp_path):
    from crystal_parquet_database_spark.pydaemon import drop_archives, unpacked

    def touch(*parts):
        path = tmp_path.joinpath(*parts)
        path.parent.mkdir(parents=True, exist_ok=True)
        path.touch()
        return str(path)

    # a Spark binary distribution: <home>/python/pyspark beside <home>/python/lib/pyspark.zip
    dist_zip = touch("spark", "python", "lib", "pyspark.zip")
    touch("spark", "python", "pyspark", "__init__.py")
    # a pip install: <site>/pyspark/python/lib/pyspark.zip inside the package itself
    pip_zip = touch("site", "pyspark", "python", "lib", "pyspark.zip")
    touch("site", "pyspark", "__init__.py")
    # a zip with no unpacked tree beside it stays
    bare_zip = touch("bare", "python", "lib", "pyspark.zip")
    jar = touch("spark", "jars", "spark-core.jar")
    py4j = touch("spark", "python", "lib", "py4j-src.zip")

    assert unpacked(dist_zip) == str(tmp_path / "spark" / "python")
    assert unpacked(pip_zip) == str(tmp_path / "site")
    assert unpacked(bare_zip) is None and unpacked(py4j) is None

    path = ["", dist_zip, py4j, jar, pip_zip, bare_zip]
    importers = {p: object() for p in path}
    importers[dist_zip + os.sep + "pyspark"] = importers[jar + os.sep + "org"] = object()
    drop_archives(path, importers)
    assert path == ["", str(tmp_path / "spark" / "python"), py4j, str(tmp_path / "site"), bare_zip]
    assert sorted(importers) == sorted(["", py4j, bare_zip])


def _fresh_python(tmp_path, code: str, timeout: int) -> subprocess.CompletedProcess:
    """Run ``code`` in a new interpreter from ``tmp_path`` with no
    ``PYTHONPATH``: the package is on the driver's ``sys.path`` only."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    script = f"import sys\nsys.path.insert(0, {ROOT!r})\n" + textwrap.dedent(code)
    return subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=timeout
    )


def test_package_import_loads_no_pyspark(tmp_path):
    proc = _fresh_python(
        tmp_path,
        """
        import crystal_parquet_database_spark as pkg
        assert "pyspark" not in sys.modules, "the package import loaded pyspark"
        for name in pkg.__all__:
            assert getattr(pkg, name) is not None, name
        """,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr


def test_python_tasks_run_from_any_working_directory(tmp_path):
    cif = textwrap.dedent(
        """\
        data_x
        _cell_length_a 4.0
        _cell_length_b 4.0
        _cell_length_c 4.0
        _cell_angle_alpha 90
        _cell_angle_beta 90
        _cell_angle_gamma 90
        loop_
        _atom_site_type_symbol
        _atom_site_fract_x
        _atom_site_fract_y
        _atom_site_fract_z
        Si 0.0 0.0 0.0
        O 0.5 0.5 0.5
        """
    )
    raw = tmp_path / "data" / "materialscloud" / "mc3d" / "raw"
    raw.mkdir(parents=True)
    for i in range(2):
        (raw / f"c{i}.cif").write_text(cif)
    proc = _fresh_python(
        tmp_path,
        """
        root = sys.path[0]
        from crystal_parquet_database_spark import get_spark
        from crystal_parquet_database_spark.sources import LoaderConfig, get_loader

        extra = {"spark.executorEnv.PYTHONPATH": "/no/such/dir"}
        spark = get_spark(app_name="anywhere", master="local[2]", shuffle_partitions=2, extra_conf=extra)
        try:
            pythonpath = spark.sparkContext.getConf().get("spark.executorEnv.PYTHONPATH")
            assert pythonpath == root + ":/no/such/dir", pythonpath  # the package first, then the caller's
            assert spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string").collect()[1].v == "b"
            loader = get_loader(spark, "materialscloud", "mc3d", LoaderConfig(data_dir="data"))
            ids = sorted(r.source_id for r in loader.run().select("source_id").collect())
            assert ids == ["c0", "c1"], ids
        finally:
            spark.stop()
        print("ok")
        """,
        timeout=300,
    )
    assert proc.returncode == 0 and proc.stdout.strip().endswith("ok"), proc.stderr[-4000:]
