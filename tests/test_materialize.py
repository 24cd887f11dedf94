"""Write-once commits (docling_core_spark/io/materialize.py): what an
interrupted attempt left behind is cleared, a committed table is never
rebuilt, a failed build commits nothing, derived tables are keyed on
what they are derived from, and no module hand-rolls its own commit."""

from __future__ import annotations

import ast
import glob
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from docling_core_spark.io.ingest import ensure_demo_tree
from docling_core_spark.pdfpage import ensure_pdf_cells_local
from docling_core_spark.queries import ensure_corpus_local

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def scratch(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_TMP", str(tmp_path / "scratch"))
    return tmp_path


def _docs_dir(root, text: str) -> str:
    """An sf directory (basename sf0.001: 50 synthetic corpus docs)
    whose documents table holds 45 docs of ``text``."""
    sf = os.path.join(str(root), "sf0.001")
    os.makedirs(sf, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(45), pa.int64()),
        "text": [f"{text} {i}" for i in range(45)],
    }), os.path.join(sf, "documents.parquet"))
    return sf


def _tree(base: str) -> dict:
    out = {}
    for d, _, files in os.walk(base):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, base)] = fh.read()
    return out


@pytest.mark.parametrize("ensure", [ensure_corpus_local,
                                    ensure_pdf_cells_local],
                         ids=["corpus", "pdf_cells"])
def test_stray_part_file_is_cleared(scratch, ensure):
    """A crashed write leaves the directory uncommitted with one part
    file of one row in it; the next call equals a clean build."""
    sf = str(scratch / "sf0.001")
    path = ensure(sf)
    clean = pq.read_table(path)
    shutil.rmtree(path)
    os.makedirs(path)
    pq.write_table(clean.slice(0, 1),
                   os.path.join(path, "part-00003-stray.parquet"))
    got = pq.read_table(ensure(sf))
    assert got.num_rows == clean.num_rows
    assert got.equals(clean)


def test_demo_tree_stray_file_is_cleared(scratch):
    sf = _docs_dir(scratch, "alpha")
    base = ensure_demo_tree(sf)
    clean = _tree(base)
    shutil.rmtree(base)
    os.makedirs(os.path.join(base, "odd"))
    with open(os.path.join(base, "odd", "doc_999.txt"), "w") as fh:
        fh.write("stray")
    assert _tree(ensure_demo_tree(sf)) == clean


def test_demo_tree_is_keyed_on_source(scratch):
    """The tree's oracle reads documents.parquet live, so a rewritten
    documents table must give a rebuilt tree."""
    sf = _docs_dir(scratch, "alpha")
    first = _tree(ensure_demo_tree(sf))
    _docs_dir(scratch, "beta gamma")
    second = _tree(ensure_demo_tree(sf))
    assert set(second) == set(first)
    assert second[os.path.join("odd", "doc_1.txt")] == b"beta gamma 1"


def test_committed_path_is_never_rebuilt(tmp_path):
    from docling_core_spark.io.materialize import materialize_table

    calls = []

    def build():
        calls.append(1)
        return pa.table({"x": [1, 2]})

    path = str(tmp_path / "t")
    assert materialize_table(path, build) == path
    assert materialize_table(path, build) == path
    assert len(calls) == 1
    assert pq.read_table(path).column("x").to_pylist() == [1, 2]


def test_failed_build_commits_nothing(tmp_path):
    from docling_core_spark.io.materialize import (materialize,
                                                   materialize_table)

    path = str(tmp_path / "t")

    def write_then_fail(p):
        os.makedirs(p)
        pq.write_table(pa.table({"x": [9]}),
                       os.path.join(p, "part-00001.parquet"))
        raise RuntimeError("killed mid-write")

    with pytest.raises(RuntimeError):
        materialize(path, write_then_fail)
    assert not os.path.exists(os.path.join(path, "_SUCCESS"))
    materialize_table(path, lambda: pa.table({"x": [1, 2]}))
    assert pq.read_table(path).equals(pa.table({"x": [1, 2]}))


def test_materialize_df_clears_leftovers_and_commits_once(spark, tmp_path):
    from docling_core_spark.io.materialize import materialize_df

    path = str(tmp_path / "t")
    os.makedirs(path)
    pq.write_table(pa.table({"x": pa.array([9], pa.int64())}),
                   os.path.join(path, "part-00007-stray.parquet"))
    calls = []

    def build():
        calls.append(1)
        return spark.range(3).withColumnRenamed("id", "x")

    first = materialize_df(spark, path, build)
    assert sorted(r.x for r in first.collect()) == [0, 1, 2]
    again = materialize_df(spark, path, build)
    assert sorted(r.x for r in again.collect()) == [0, 1, 2]
    assert len(calls) == 1


@pytest.mark.parametrize("name", ["media_df", "attached_corpus_df"])
def test_corpus_derived_tables_follow_corpus_version(spark, scratch,
                                                     monkeypatch, name):
    """Built from corpus_df, so a CORPUS_VERSION bump must not serve
    the table built from the old corpus."""
    from docling_core_spark import corpus, rehome

    sf = str(scratch / "sf0.001")
    before = set(getattr(rehome, name)(spark, sf).inputFiles())
    monkeypatch.setattr(corpus, "CORPUS_VERSION", corpus.CORPUS_VERSION + 1)
    after = set(getattr(rehome, name)(spark, sf).inputFiles())
    assert before and after
    assert before.isdisjoint(after)


def _docstring_nodes(tree) -> set:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)):
            body = node.body
            if (body and isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)):
                out.add(id(body[0].value))
    return out


def test_one_commit_path():
    """Only io/materialize.py names the commit marker or the scratch
    root; every other write-once cache goes through it. The scan covers
    the package, the jobs, the repository-root scripts and tools/;
    perfbench/, the benchmark's own code, is left out."""
    own = os.path.join(ROOT, "docling_core_spark", "io", "materialize.py")
    paths = (glob.glob(os.path.join(ROOT, "docling_core_spark", "**",
                                    "*.py"), recursive=True)
             + glob.glob(os.path.join(ROOT, "jobs", "*.py"))
             + glob.glob(os.path.join(ROOT, "*.py"))
             + glob.glob(os.path.join(ROOT, "tools", "*.py")))
    offenders = []
    for path in sorted(paths):
        if path == own:
            continue
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read())
        docs = _docstring_nodes(tree)
        for node in ast.walk(tree):
            if (isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and id(node) not in docs
                    and ("_SUCCESS" in node.value
                         or "SPARK_GRAFT_TMP" in node.value)):
                offenders.append(
                    f"{os.path.relpath(path, ROOT)}:{node.lineno}")
    assert paths and not offenders, offenders
