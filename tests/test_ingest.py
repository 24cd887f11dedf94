"""File-ingestion front door: reference source-resolution parity,
format dispatch, stream reads, and tree-to-spans (io/ingest.py +
jobs/ingest_files.py)."""

from __future__ import annotations

import os
import re
import shutil
import subprocess
import sys
import time

import pytest

import tests.refstubs  # noqa: F401  (stub the reference's heavy deps)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit")


# ---------------------------------------------------------------------
# resolve_remote_filename: live parity with the reference
# ---------------------------------------------------------------------

HEADER_CASES = [
    ("https://x.example/a/b/report.pdf?q=1", {}),
    ("https://x.example/a/b/report.pdf",
     {"Content-Disposition": 'attachment; filename="quarterly.pdf"'}),
    ("https://x.example/a/b/report.pdf",
     {"Content-Disposition": "attachment; filename=plain.bin"}),
    ("https://x.example/a/b/report.pdf",
     {"Content-Disposition": "attachment; filename='sq.dat'"}),
    ("https://x.example/a/b/report.pdf",
     {"Content-Disposition": "inline"}),                 # no directive
    ("https://x.example/a/b/report.pdf",
     {"Content-Disposition": "attachment; filename="}),  # empty value
    ("https://x.example/a/b/report.pdf",
     {"Content-Disposition": "a; filename=x=y=z"}),      # '=' in value
    ("https://x.example/", {}),                          # fallback
    ("https://x.example/dir/", {}),                      # trailing /
]


@pytest.mark.parametrize("url,headers", HEADER_CASES)
def test_remote_filename_matches_reference(url, headers):
    """Byte-for-byte parity with reference utils/file.py:23-50 on the
    directive/URL-basename/fallback ladder (the live reference import
    is the oracle)."""
    from pydantic import AnyHttpUrl, TypeAdapter

    from docling_core.utils.file import (
        resolve_remote_filename as ref_resolve,
    )
    from docling_core_spark.io.ingest import resolve_remote_filename

    ref = ref_resolve(TypeAdapter(AnyHttpUrl).validate_python(url),
                      dict(headers))
    got = resolve_remote_filename(url, dict(headers))
    # one deliberate divergence: for a bare trailing-slash dir URL the
    # reference returns the fallback too (Path('').name == ''), so
    # parity must hold everywhere
    assert got == ref


def test_remote_filename_first_directive_wins():
    """The reference stops at the FIRST filename directive even when
    empty (utils/file.py:40-45) - a later non-empty one must not be
    consulted; parity checked against the live function."""
    from pydantic import AnyHttpUrl, TypeAdapter

    from docling_core.utils.file import (
        resolve_remote_filename as ref_resolve,
    )
    from docling_core_spark.io.ingest import resolve_remote_filename

    url = "https://x.example/a/b/report.pdf"
    hdr = {"Content-Disposition": "a; filename=; filename=real.pdf"}
    ref = ref_resolve(TypeAdapter(AnyHttpUrl).validate_python(url),
                      dict(hdr))
    assert resolve_remote_filename(url, dict(hdr)) == ref == "report.pdf"


def test_google_url_rewrite_matches_reference_table():
    """rewrite_google_url reproduces the reference's viewer->export
    rewrite table (utils/file.py:80-104)."""
    from docling_core_spark.io.ingest import rewrite_google_url

    cases = {
        "https://drive.google.com/file/d/AbC-123/view":
            "https://drive.google.com/uc?export=download&id=AbC-123",
        "https://docs.google.com/document/d/xYz_9/edit":
            "https://docs.google.com/document/d/xYz_9/export?format=docx",
        "https://docs.google.com/spreadsheets/d/s1/edit#gid=0":
            "https://docs.google.com/spreadsheets/d/s1/export?format=xlsx",
        "https://docs.google.com/presentation/d/p1/present":
            "https://docs.google.com/presentation/d/p1/export?format=pptx",
        "https://example.com/document/d/notgoogle":
            "https://example.com/document/d/notgoogle",
    }
    for src, want in cases.items():
        assert rewrite_google_url(src) == want, src


def test_split_sources_rejects_explicit_hidden_file(tmp_path):
    """An explicitly passed '_'/'.'-prefixed file would be silently
    skipped by Spark's hidden-file filter - refuse it loudly."""
    from docling_core_spark.io.ingest import split_sources

    f = tmp_path / "_export.html"
    f.write_text("x")
    with pytest.raises(ValueError, match="hidden-prefixed"):
        split_sources([str(f)])
    # a hidden-prefixed DIRECTORY name is fine (only files are
    # filtered by name at read time)
    d = tmp_path / "tree"
    d.mkdir()
    (d / "ok.txt").write_text("y")
    local, _ = split_sources([str(d)])
    assert local == [str(d)]


def test_remote_filename_header_key_case_insensitive():
    from docling_core_spark.io.ingest import resolve_remote_filename

    assert resolve_remote_filename(
        "https://x.example/f.bin",
        {"content-disposition": "attachment; filename=low.bin"},
    ) == "low.bin"


# ---------------------------------------------------------------------
# source splitting + format dispatch
# ---------------------------------------------------------------------

def test_split_sources(tmp_path):
    from docling_core_spark.io.ingest import split_sources

    f = tmp_path / "a.txt"
    f.write_text("x")
    local, urls = split_sources(
        [str(tmp_path), str(f), "https://h.example/x", "http://h/y"])
    assert local == [str(tmp_path), str(f)]
    assert urls == ["https://h.example/x", "http://h/y"]
    with pytest.raises(ValueError):
        split_sources([str(tmp_path / "missing.txt")])


def test_classify_format_table():
    from docling_core_spark.io.ingest import classify_format

    cases = {"page.html": "html", "p.HTM": "html", "d.dt": "doctags",
             "x.doctags": "doctags", "doc.json": "docjson",
             "doc.yaml": "docjson", "doc.yml": "docjson",
             "a.txt": "text", "readme.md": "text",
             "img.png": "binary", "noext": "binary",
             "archive.tar.gz": "binary"}
    for name, want in cases.items():
        assert classify_format(name) == want, name


def _plant_tree(tmp_path):
    base = tmp_path / "tree"
    (base / "sub").mkdir(parents=True)
    (base / "page.html").write_text(
        "<html><body><main><h1>Title</h1><p>Hello world.</p>"
        "</main></body></html>", encoding="utf-8")
    (base / "sub" / "note.txt").write_text(
        "first para\n\nsecond para", encoding="utf-8")
    (base / "sub" / "img.png").write_bytes(b"\x89PNG-fake")
    (base / "_hidden.txt").write_text("skip me", encoding="utf-8")
    return base


def test_ingest_streams_local_tree(spark, tmp_path):
    """binaryFile tree ingestion: recursive lookup, hidden files
    skipped, JVM-side name/format classification agreeing with the
    pure twin, exact bytes."""
    from docling_core_spark.io.ingest import (
        classify_format,
        ingest_streams,
    )

    base = _plant_tree(tmp_path)
    rows = {r["name"]: r for r in
            ingest_streams(spark, [str(base)]).collect()}
    assert set(rows) == {"page.html", "note.txt", "img.png"}
    for name, r in rows.items():
        assert r["fmt"] == classify_format(name)
        assert r["doc_id"].endswith(name)
    assert bytes(rows["img.png"]["content"]) == b"\x89PNG-fake"
    assert rows["note.txt"]["n_bytes"] == len(b"first para\n\nsecond para")


def test_fetch_url_times_out_on_a_stalled_origin(monkeypatch):
    """An origin that sends nothing fails the fetch within the read
    timeout instead of hanging the task."""
    import requests

    from docling_core_spark.io import ingest
    from tests.loopback import serve_once

    monkeypatch.setattr(ingest, "FETCH_TIMEOUT_S", (2.0, 0.2))
    url = serve_once(b"late", stall_s=2.0)
    t0 = time.monotonic()
    with pytest.raises(requests.Timeout):
        ingest._fetch_url(url)
    assert time.monotonic() - t0 < 1.5


def test_fetch_url_caps_the_body(monkeypatch):
    """A body past FETCH_MAX_BYTES raises an error naming the URL; a
    body at the cap is returned whole."""
    from docling_core_spark.io import ingest
    from tests.loopback import serve_once

    monkeypatch.setattr(ingest, "FETCH_MAX_BYTES", 1000)
    assert ingest._fetch_url(serve_once(b"x" * 1000)) == ("doc.txt",
                                                          b"x" * 1000)
    url = serve_once(b"x" * 200_000)
    with pytest.raises(ValueError, match=re.escape(url)):
        ingest._fetch_url(url)


def test_ingest_streams_url(spark):
    """A URL source is fetched on an executor into one stream row with
    the served bytes and the URL-resolved name."""
    from docling_core_spark.io.ingest import ingest_streams
    from tests.loopback import serve_once

    body = b"<html><body><p>remote</p></body></html>"
    url = serve_once(body, name="page.html")
    (row,) = ingest_streams(spark, [url]).collect()
    assert (row["doc_id"], row["name"], row["fmt"], row["n_bytes"],
            bytes(row["content"])) == (url, "page.html", "html",
                                       len(body), body)

def test_ingest_spans_dispatch(spark, tmp_path):
    """Tree -> spans: the html arm matches extract_spans exactly, the
    text arm emits paragraph spans, the binary arm emits the media
    stub span."""
    from docling_core_spark.extraction.extract import extract_spans
    from docling_core_spark.io.ingest import ingest_spans, ingest_streams

    base = _plant_tree(tmp_path)
    spans = ingest_spans(ingest_streams(spark, [str(base)])).collect()
    by_doc = {}
    for r in spans:
        by_doc.setdefault(r["doc_id"].rsplit("/", 1)[-1], []).append(r)
    for v in by_doc.values():
        v.sort(key=lambda r: r["ord"])

    want_html, _ = extract_spans(
        (base / "page.html").read_text(encoding="utf-8"))
    got_html = [(r["kind"], r["text"], r["media_ref"])
                for r in by_doc["page.html"]]
    assert got_html == [(s["kind"], s.get("text", ""),
                         s.get("media_ref", "")) for s in want_html]

    assert [(r["kind"], r["text"]) for r in by_doc["note.txt"]] == [
        ("text", "first para"), ("text", "second para")]

    assert [(r["kind"], r["media_ref"]) for r in by_doc["img.png"]] == [
        ("media", "stream://img.png")]


def test_ingest_spans_doctags_docjson(spark, tmp_path):
    """The doctags and docjson arms parse through the same span
    parsers the standalone queries certify."""
    from docling_core_spark.corpus import gen_corpus
    from docling_core_spark.io.ingest import ingest_spans, ingest_streams
    from docling_core_spark.model.spans import doc_from_spans
    from docling_core_spark.serializers.docjson import (
        export_to_docjson_str,
    )
    from docling_core_spark.serializers.doctags import export_to_doctags
    from docling_core_spark.sources.docjson import docjson_to_spans
    from docling_core_spark.sources.doctags import doctags_to_spans

    row = gen_corpus(1, seed=7)[0]
    doc = doc_from_spans(
        row["doc_id"],
        [(s["kind"], s["text"], s["media_ref"], s["offset"])
         for s in row["spans"]])
    dt, dj = export_to_doctags(doc), export_to_docjson_str(doc)
    base = tmp_path / "t2"
    base.mkdir()
    (base / "a.dt").write_text(dt, encoding="utf-8")
    (base / "b.json").write_text(dj, encoding="utf-8")

    spans = ingest_spans(ingest_streams(spark, [str(base)])).collect()
    by_doc = {}
    for r in spans:
        by_doc.setdefault(r["doc_id"].rsplit("/", 1)[-1], []).append(r)
    for v in by_doc.values():
        v.sort(key=lambda r: r["ord"])

    assert [(r["kind"], r["text"], r["media_ref"])
            for r in by_doc["a.dt"]] == [
        (s["kind"], s.get("text", ""), s.get("media_ref", ""))
        for s in doctags_to_spans(dt)]
    assert [(r["kind"], r["text"], r["media_ref"])
            for r in by_doc["b.json"]] == [
        (s["kind"], s.get("text", ""), s.get("media_ref", ""))
        for s in docjson_to_spans(dj)]


def test_ingest_spans_separator_in_content(spark, tmp_path):
    """A hostile file containing the packing separator (U+001F) must
    not shift span boundaries: the char is stripped, the span COUNT
    and order stay correct."""
    base = tmp_path / "t3"
    base.mkdir()
    (base / "evil.txt").write_text(
        "first\x1fpart\n\nsecond \x1f\x1f part", encoding="utf-8")
    from docling_core_spark.io.ingest import ingest_spans, ingest_streams

    rows = sorted(
        ingest_spans(ingest_streams(spark, [str(base)])).collect(),
        key=lambda r: r["ord"])
    assert [(r["kind"], r["text"]) for r in rows] == [
        ("text", "firstpart"), ("text", "second  part")]


# ---------------------------------------------------------------------
# the operational job: spark-submit, end to end, resume no-op
# ---------------------------------------------------------------------

@pytest.mark.skipif(SPARK_SUBMIT is None, reason="no spark-submit")
def test_spark_submit_ingest_job_and_resume(tmp_path):
    sys.path.insert(0, ROOT)
    import package

    package.build()
    base = _plant_tree(tmp_path)
    out = str(tmp_path / "out")
    env = dict(os.environ)
    env["PYSPARK_PYTHON"] = sys.executable
    cmd = [SPARK_SUBMIT, "--master", "local[4]",
           "--conf", "spark.sql.shuffle.partitions=8",
           "--py-files", os.path.join(ROOT, "dist",
                                      "docling_core_spark.zip"),
           os.path.join(ROOT, "jobs", "ingest_files.py"),
           "--source", str(base), "--output", out, "--n-buckets", "4"]
    r = subprocess.run(cmd, capture_output=True, text=True,
                       timeout=300, env=env, cwd=str(tmp_path))
    assert r.returncode == 0, r.stderr[-2000:]
    done = [ln for ln in r.stdout.splitlines()
            if ln.startswith("DONE")][-1]
    assert "docs=3" in done

    from docling_core_spark.session import get_spark

    spark = get_spark(app_name="ingest-check", master="local[4]",
                      shuffle_partitions=8)
    chunks = spark.read.parquet(os.path.join(out, "chunks"))
    assert chunks.count() >= 3
    assert {"doc_id", "ord", "kind", "text", "media_ref"} <= set(
        chunks.columns)
    lineage1 = spark.read.parquet(os.path.join(out, "lineage"))
    n_lineage1 = lineage1.count()
    mtimes = {p: os.path.getmtime(os.path.join(out, "chunks", p))
              for p in os.listdir(os.path.join(out, "chunks"))}

    # resume: all buckets committed -> no bucket is rewritten
    r2 = subprocess.run(cmd, capture_output=True, text=True,
                        timeout=300, env=env, cwd=str(tmp_path))
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert {p: os.path.getmtime(os.path.join(out, "chunks", p))
            for p in os.listdir(os.path.join(out, "chunks"))} == mtimes
    assert spark.read.parquet(
        os.path.join(out, "lineage")).count() == n_lineage1
