"""Tests of the benchmark itself: python -m pytest perfbench -q

The repeat test runs each workload's traced run twice (a few minutes).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import verify  # noqa: E402


def _chunk_rows(n_docs: int = 3) -> list:
    from docling_core_spark.corpus import gen_doc_spans
    from workloads import ChunkHybrid

    rows = []
    for i in range(n_docs):
        tuples = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                  for s in gen_doc_spans(i, seed=3)]
        rows.extend(ChunkHybrid.reference_rows(f"doc_{i:012d}", tuples))
    return rows


def test_digest_ignores_row_order():
    rows = _chunk_rows()
    assert verify.diff_docs(verify.digest(rows[::-1]),
                            verify.digest(rows)) == []


def test_missing_row_fails_check():
    rows = _chunk_rows()
    want = verify.digest(rows)
    dropped = rows[:5] + rows[6:]
    assert verify.diff_docs(verify.digest(dropped), want) == [rows[5][0]]


def test_extra_row_fails_check():
    rows = _chunk_rows()
    want = verify.digest(rows)
    extra = rows + [rows[-1][:2] + ("planted",) + rows[-1][3:]]
    assert verify.diff_docs(verify.digest(extra), want) == [rows[-1][0]]


def test_changed_struct_field_fails_check():
    rows = _chunk_rows(1)
    org = dict(rows[0][5] or {}, filename="other.pdf")
    changed = [rows[0][:5] + (org,)] + rows[1:]
    assert verify.diff_docs(verify.digest(changed),
                            verify.digest(rows)) == [rows[0][0]]


def _run(*args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


EXACT = ("chunking.tokenizer_calls", "serializers.markdown_calls",
         "chunking.semsplit_calls", "chunking.chunks_per_doc",
         "scan.read_amp", "scan.bytes_read", "spark.jobs")


@pytest.mark.parametrize("workload", ["chunk_hybrid", "train_corpus"])
def test_counts_repeat_exactly(workload):
    runs = [_result(_run("--workload", workload, "--seed", "5",
                         "--seconds", "1", "--trace", "1"))
            for _ in range(2)]
    for r in runs:
        assert r["correct"] and r["failed"] == 0
    first, second = ({k: r["metrics"][k]["value"] for k in EXACT}
                     for r in runs)
    assert first == second
    if workload == "train_corpus":
        assert first["scan.read_amp"] == pytest.approx(8.0, rel=0.02)
        assert first["chunking.tokenizer_calls"] == 0
    else:
        assert first["scan.read_amp"] == pytest.approx(1.0, rel=0.02)


def test_traced_closure_is_the_engines(tmp_path):
    """The traced pass runs chunk_documents' own closure: its rows match
    the per-doc reference, and the timers see every doc."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import inproc
    from corpora import DOCS_SCHEMA
    from docling_core_spark.corpus import gen_doc_spans
    from workloads import ChunkHybrid

    rows = [{"doc_id": f"doc_{i:012d}", "spans": gen_doc_spans(i, seed=3)}
            for i in range(4)]
    path = str(tmp_path / "docs.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=DOCS_SCHEMA), path)
    fn = inproc.stage_closure(ChunkHybrid.stage)
    tr = inproc.Tracer()
    with tr.installed():
        out = [tuple(r.values()) for b in fn(iter(inproc.read_batches([path])))
               for r in b.to_pylist()]
    assert verify.diff_docs(verify.digest(out),
                            verify.digest(_chunk_rows(4))) == []
    assert tr.n["tree"] == tr.n["hybrid"] == 4
    assert tr.n["record_batch"] == tr.n["decode"] == 1


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = _run("--workload", "chunk_hybrid", "--seed", "1",
                "--seconds", "1", "--trace", "0", cwd=tmp_path)
    assert proc.returncode != 0
    assert "correct" not in proc.stdout
