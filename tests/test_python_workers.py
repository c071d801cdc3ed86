"""Python workers run only where a row needs Python code.

Every Python task pays the worker's per-task set-up (about 0.2 s of CPU, see
SCALE.md "Python worker tax"), so the package starts Python tasks only for
CIF and media decode, the pandas_udf reference query, user rows handed to
PqDB and stateful streaming. Constant frames are built on the JVM with
``functions.literals.lit_frame``.

Two guards: a static one over the package source (every call that ships
rows or a function to Python workers sits in an allow-listed place) and a
runtime one (the BM25 and hybrid-RRF queries build and execute with
``createDataFrame`` and ``parallelize`` unavailable).
"""

from __future__ import annotations

import ast
import os
import re
import shutil

import pytest

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "crystal_parquet_database_spark")

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
