"""The per-row Arrow stage runner (engine.map_rows) and the stages on it.

Every migrated stage is captured with a stand-in DataFrame, its closure
is driven in-process over small Arrow batches, and each emitted batch
must carry exactly ``to_arrow_schema(declared schema)``. The runner's
edge cases (empty batch, zero-row docs, NULL inputs) and the traced-run
contract of perfbench/inproc.py are pinned here too, because the
benchmark's own tests are not part of this suite.
"""

from __future__ import annotations

import json

import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string

from docling_core_spark import engine
from docling_core_spark.corpus import gen_doc_spans

N_DOCS = 4


class _Recorder:
    """Stands in for a SparkSession and its DataFrames: records every
    mapInArrow as (input columns, closure, declared schema); every
    other method returns the recorder itself. Its ``schema`` is the
    documents table's."""

    class sparkContext:
        defaultParallelism = 2

    schema = engine.DOCUMENTS_SCHEMA

    def __init__(self) -> None:
        self.stages = []
        self._cols = None

    @property
    def read(self):
        return self

    def select(self, *cols):
        self._cols = cols
        return self

    def mapInArrow(self, fn, schema):
        self.stages.append((self._cols, fn, schema))
        return self

    def __getattr__(self, name):
        return lambda *a, **kw: self


def _docs_batch(n: int = N_DOCS, spans_of=None) -> pa.RecordBatch:
    rows = [{"doc_id": f"doc_{i:012d}",
             "spans": (spans_of or (lambda i: gen_doc_spans(i, seed=42)))(i)}
            for i in range(n)]
    return pa.Table.from_pylist(
        rows, schema=to_arrow_schema(engine.DOCUMENTS_SCHEMA)
    ).combine_chunks().to_batches()[0]


def _doc(i: int):
    from docling_core_spark.model.spans import doc_from_spans, span_tuples

    return doc_from_spans(f"doc_{i:012d}",
                          span_tuples(gen_doc_spans(i, seed=42)))


def _batch(**cols) -> pa.RecordBatch:
    return pa.RecordBatch.from_pydict(cols)


def _ids():
    return _batch(id=pa.array(range(N_DOCS), pa.int64()))


def _id_texts():
    return _batch(doc_id=pa.array(range(N_DOCS), pa.int64()),
                  text=[f"doc {i} text body" for i in range(N_DOCS)])


def _pages():
    from docling_core_spark.extraction.render import render_page_html

    return _batch(doc_id=[f"doc_{i}" for i in range(N_DOCS)],
                  html=[render_page_html(f"doc_{i}", gen_doc_spans(i, 42))
                        for i in range(N_DOCS)])


def _doctags():
    from docling_core_spark.serializers.doctags import export_to_doctags

    return _batch(doc_id=[f"doc_{i}" for i in range(N_DOCS)],
                  doctags=[export_to_doctags(_doc(i))
                           for i in range(N_DOCS)])


def _docjson():
    from docling_core_spark.serializers.docjson import export_to_docjson_str

    return _batch(doc_id=[f"doc_{i}" for i in range(N_DOCS)],
                  doc_json=[export_to_docjson_str(_doc(i))
                            for i in range(N_DOCS)])


def _payloads(synth):
    kinds, payloads = zip(*(synth(i) for i in range(N_DOCS)))
    payloads = [p if isinstance(p, str) else json.dumps(p)
                for p in payloads]
    return _batch(doc_id=pa.array(range(N_DOCS), pa.int64()),
                  kind=list(kinds), payload=payloads)


def _rec_payloads():
    from docling_core_spark.rectypes import synth_rec_payload

    return _payloads(lambda i: synth_rec_payload(i, f"text {i}"))


def _search_payloads():
    from docling_core_spark.searchtypes import synth_search_payload

    return _payloads(lambda i: synth_search_payload(i, f"text {i}"))


def _legacy_payloads():
    from docling_core_spark.legacytypes import synth_legacy_payload

    return _payloads(synth_legacy_payload)


def _streams():
    return _batch(doc_id=["a", "b"], name=["a.txt", "b.html"],
                  fmt=["txt", "html"],
                  content=[b"plain text body",
                           b"<html><body><p>para</p></body></html>"])


def _attached_spans(i):
    from docling_core_spark.rehome import attach_file_images

    return attach_file_images(gen_doc_spans(i, seed=42))


def _media_payloads(spans):
    from docling_core_spark.mediaops import _payload_for

    return {s["media_ref"]: _payload_for(s["media_ref"]) for s in spans
            if s["kind"].startswith(("picture", "chart"))
            and s["media_ref"]}


def _attached():
    return _docs_batch(spans_of=_attached_spans)


def _attached_with_payloads():
    """Attached docs joined with their ``_payloads`` map column."""
    docs = _attached()
    pmaps = [list(_media_payloads(_attached_spans(i)).items())
             for i in range(N_DOCS)]
    return pa.RecordBatch.from_arrays(
        [*docs.columns, pa.array(pmaps, pa.map_(pa.string(), pa.binary()))],
        names=[*docs.schema.names, "_payloads"])


def _embedded():
    from docling_core_spark.rehome import embed_spans

    def spans_of(i):
        spans = _attached_spans(i)
        return embed_spans(spans, _media_payloads(spans))
    return _docs_batch(spans_of=spans_of)


_MEDIA_REFS = [f"img_{i}" for i in range(N_DOCS)]


def _media_refs():
    return _batch(media_ref=_MEDIA_REFS)


def _media():
    from docling_core_spark.mediaops import _kind_for, _payload_for

    return _batch(media_ref=_MEDIA_REFS,
                  kind=[_kind_for(r) for r in _MEDIA_REFS],
                  payload=[_payload_for(r) for r in _MEDIA_REFS])


def _media_ref_payloads():
    return _media().select(["media_ref", "payload"])


def _urls():
    from tests.loopback import serve_once

    return _batch(doc_id=[serve_once(b"served body")])


def _stages():
    """Every stage on the runner: (name, build(recorder), the input
    batch of each mapInArrow it records, in order)."""
    from docling_core_spark import (
        legacy,
        mediaops,
        queries,
        rehome,
        validation,
        visualize,
    )
    from docling_core_spark.extraction import layout_spark
    from docling_core_spark.extraction import spark as xspark
    from docling_core_spark.io.ingest import _remote_streams, ingest_spans
    from docling_core_spark.legacytypes import validate_legacy_df
    from docling_core_spark.rectypes import validate_records_df
    from docling_core_spark.searchtypes import validate_search_df
    from docling_core_spark.sources.docjson import (
        load_docjson_documents,
        parse_and_chunk_docjson,
    )
    from docling_core_spark.sources.doctags import (
        parse_and_chunk_doctags,
        parse_doctags_documents,
    )

    return [
        ("synth_documents",
         lambda r: engine.synth_documents(r, N_DOCS), [_ids]),
        ("chunk_documents", engine.chunk_documents, [_docs_batch]),
        ("chunk_documents_page",
         lambda r: engine.chunk_documents(r, mode="page"), [_docs_batch]),
        ("parse_and_chunk_doctags", parse_and_chunk_doctags, [_doctags]),
        ("parse_and_chunk_docjson",
         lambda r: parse_and_chunk_docjson(r, mode="hybrid"), [_docjson]),
        ("export_documents_md", engine.export_documents, [_docs_batch]),
        ("export_documents_json",
         lambda r: engine.export_documents(r, fmt="json"), [_docs_batch]),
        ("doc_stats", engine.doc_stats, [_docs_batch]),
        ("parse_doctags_documents", parse_doctags_documents, [_doctags]),
        ("load_docjson_documents", load_docjson_documents, [_docjson]),
        ("export_legacy", legacy.export_legacy, [_docs_batch]),
        ("parse_legacy_roundtrip", legacy.parse_legacy_roundtrip,
         [_docs_batch]),
        ("visualize_layout", visualize.visualize_layout, [_docs_batch]),
        ("validate_docjson", validation.validate_docjson, [_docjson]),
        ("corrupt_docjson_df", validation.corrupt_docjson_df, [_docjson]),
        ("export_corrupt_validate", validation.export_corrupt_validate,
         [_docs_batch]),
        ("render_pages", xspark.render_pages, [_docs_batch]),
        ("extract_pages", xspark.extract_pages, [_pages]),
        ("extract_page_stats", xspark.extract_page_stats, [_pages]),
        ("render_layout", layout_spark.render_layout, [_docs_batch]),
        ("layout_stats", layout_spark.layout_stats, [_docs_batch]),
        ("validate_records_df", validate_records_df, [_rec_payloads]),
        ("validate_search_df", validate_search_df, [_search_payloads]),
        ("validate_legacy_df", validate_legacy_df, [_legacy_payloads]),
        ("q_token_counts_real",
         lambda r: queries.q_token_counts_real(r, "sf"), [_id_texts]),
        ("q_rec_validation",
         lambda r: queries.q_rec_validation(r, "sf"),
         [_id_texts, _rec_payloads]),
        ("q_search_validation",
         lambda r: queries.q_search_validation(r, "sf"),
         [_id_texts, _search_payloads]),
        ("ingest_spans", ingest_spans, [_streams]),
        ("_remote_streams", lambda r: _remote_streams(r, ["url"]),
         [_urls]),
        ("attach_images", rehome.attach_images, [_docs_batch]),
        ("embed_pictures", lambda r: rehome.embed_pictures(r, r),
         [_attached_with_payloads]),
        ("embed_pictures_witness",
         lambda r: rehome.embed_pictures(r, r, emit="witness"),
         [_attached_with_payloads]),
        ("reference_pictures", rehome.reference_pictures, [_embedded]),
        ("reference_pictures_files",
         lambda r: rehome.reference_pictures(r, emit="files"), [_embedded]),
        ("reference_pictures_witness",
         lambda r: rehome.reference_pictures(r, emit="witness"),
         [_embedded]),
        ("embed_then_reference_pictures",
         lambda r: rehome.embed_then_reference_pictures(r, r),
         [_attached_with_payloads]),
        ("embed_then_reference_pictures_docs",
         lambda r: rehome.embed_then_reference_pictures(r, r, emit="docs"),
         [_attached_with_payloads]),
        ("image_ref_rows", rehome.image_ref_rows, [_attached]),
        ("media_table", mediaops.media_table, [_media_refs]),
        ("extract_media_features", mediaops.extract_media_features,
         [_media]),
        ("resize_images", lambda r: mediaops.resize_images(r, 8, 8),
         [_media_ref_payloads]),
        ("sample_frames", mediaops.sample_frames, [_media_ref_payloads]),
    ]


def _declared(schema) -> StructType:
    return (_parse_datatype_string(schema) if isinstance(schema, str)
            else schema)


@pytest.mark.parametrize("name", [s[0] for s in _stages()])
def test_stage_emits_declared_arrow_schema(spark, name):
    """Each stage's batches carry exactly to_arrow_schema(declared):
    types, nullability and list child names."""
    _, build, inputs = next(s for s in _stages() if s[0] == name)
    rec = _Recorder()
    build(rec)
    assert len(rec.stages) == len(inputs)
    n_rows = 0
    for (cols, fn, schema), make_input in zip(rec.stages, inputs):
        batch = make_input()
        assert tuple(batch.schema.names) == tuple(cols)
        want = to_arrow_schema(_declared(schema))
        for out in fn(iter([batch])):
            assert out.schema.equals(want), (name, out.schema, want)
            n_rows += out.num_rows
    assert n_rows > 0


def _run(fn, batches):
    return [r for out in fn(iter(batches)) for r in out.to_pylist()]


def test_empty_batch_yields_empty_batch_of_schema():
    rec = _Recorder()
    engine.chunk_documents(rec)
    (_, fn, schema), = rec.stages
    empty = _docs_batch().slice(0, 0)
    outs = list(fn(iter([empty])))
    assert [o.num_rows for o in outs] == [0]
    assert outs[0].schema.equals(to_arrow_schema(schema))


def test_zero_row_doc_between_two_docs():
    """A doc with no chunks emits nothing; its neighbours' rows keep
    their order and ids."""
    rec = _Recorder()
    engine.chunk_documents(rec, mode="hier")
    (_, fn, _schema), = rec.stages
    batch = _docs_batch(3, lambda i: [] if i == 1 else gen_doc_spans(i, 42))
    rows = _run(fn, [batch])
    ids = [r["doc_id"] for r in rows]
    assert set(ids) == {"doc_000000000000", "doc_000000000002"}
    assert ids == sorted(ids)
    for d in set(ids):
        assert [r["chunk_idx"] for r in rows if r["doc_id"] == d] == list(
            range(ids.count(d)))


def test_null_in_nullable_input_column():
    """A NULL doctags stream parses as an empty document, not a
    failed task."""
    from docling_core_spark.sources.doctags import parse_doctags_documents

    rec = _Recorder()
    parse_doctags_documents(rec)
    (_, fn, _schema), = rec.stages
    batch = _batch(doc_id=["a", "b", "c"],
                   doctags=["<doctag><text>x</text></doctag>", None,
                            "<doctag><title>T</title></doctag>"])
    rows = _run(fn, [batch])
    assert [r["doc_id"] for r in rows] == ["a", "b", "c"]
    assert rows[1]["spans"] == []
    assert rows[0]["spans"] and rows[2]["spans"]


def test_spans_output_round_trips_through_decode():
    """The packed spans column decodes back to the generator's spans."""
    rec = _Recorder()
    engine.synth_documents(rec, N_DOCS)
    (_, fn, _schema), = rec.stages
    out, = fn(iter([_ids()]))
    for i, (doc_id, tuples) in enumerate(engine._iter_span_tuples(out)):
        assert doc_id == f"doc_{i:012d}"
        assert tuples == [(s["kind"], s["text"], s["media_ref"],
                           s["offset"]) for s in gen_doc_spans(i, seed=42)]


def test_only_the_runner_calls_map_in_arrow():
    """Every per-row stage goes through engine.map_rows: outside
    engine.py, no module calls mapInArrow or mapInPandas, except the
    two layout parse stages that carry a document across batches in
    partition order (extract_layout_packed and
    extract_layout_packed_files, one mapInArrow each)."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    layout = "docling_core_spark/extraction/layout_spark.py"
    allowed = {(layout, "extract_layout_packed", "mapInArrow"),
               (layout, "extract_layout_packed_files", "mapInArrow")}
    sites, kept = [], set()
    for path in sorted([*root.glob("docling_core_spark/**/*.py"),
                        *root.glob("jobs/**/*.py")]):
        rel = path.relative_to(root).as_posix()
        if rel == "docling_core_spark/engine.py":
            continue
        for top in ast.parse(path.read_text(), rel).body:
            for node in ast.walk(top):
                if not (isinstance(node, ast.Attribute)
                        and node.attr in ("mapInArrow", "mapInPandas")):
                    continue
                site = (rel, getattr(top, "name", None), node.attr)
                if site in allowed:
                    kept.add(site)
                else:
                    sites.append(f"{rel}:{node.lineno} {site[1]} "
                                 f"{node.attr}")
    assert not sites, sites
    assert kept == allowed, allowed - kept


@pytest.mark.parametrize("module,fn,ok_col", [
    ("rectypes", "validate_records_df", "is_valid"),
    ("searchtypes", "validate_search_df", "is_valid"),
    ("legacytypes", "validate_legacy_df", "ok"),
])
def test_sidecar_screens_quarantine_hostile_rows(spark, module, fn, ok_col):
    """NULL kind, unknown kind, NULL payload and malformed JSON land as
    invalid rows through Spark; none of them fails the stage."""
    import importlib

    mod = importlib.import_module(f"docling_core_spark.{module}")
    kind = sorted(mod.VALIDATORS)[0]
    df = spark.createDataFrame(
        [(1, None, "{}"), (2, "mystery", "{}"), (3, kind, None),
         (4, kind, "{not json")],
        "doc_id long, kind string, payload string")
    got = {r["doc_id"]: r for r in getattr(mod, fn)(df).collect()}
    assert sorted(got) == [1, 2, 3, 4]
    assert not any(r[ok_col] for r in got.values())
    assert all(r["n_errors"] == 1 for r in got.values())


class _Capture:
    """perfbench/inproc.py's stand-in: only select and mapInArrow."""

    def select(self, *cols):
        return self

    def mapInArrow(self, fn, schema):
        return fn


def test_chunk_closure_looks_up_traced_names_at_call_time(monkeypatch):
    """perfbench/inproc.py times chunk_documents' closure by patching
    five module attributes and two class attributes after the closure
    is built. Each must be looked up when the closure runs; one bound at
    import time would move its time into the benchmark's output-build
    layer, and token counting that goes around
    ``RegexTokenizer.count_tokens`` would hide from the tokenizer
    layer."""
    from docling_core_spark.chunking import hybrid as hybrid_mod
    from docling_core_spark.chunking.tokenizer import RegexTokenizer
    from docling_core_spark.model import spans as spans_mod
    from docling_core_spark.serializers.markdown import MarkdownSerializer

    fn = engine.chunk_documents(_Capture(), mode="hybrid", max_tokens=64)
    batches = [_docs_batch(20)]
    want = _run(fn, batches)

    calls = {}
    for obj, attr in [(engine, "_iter_span_tuples"),
                      (engine, "_origin_struct"),
                      (engine, "_chunk_record_batch"),
                      (spans_mod, "doc_from_spans"),
                      (hybrid_mod, "hybrid_chunk"),
                      (MarkdownSerializer, "serialize"),
                      (RegexTokenizer, "count_tokens")]:
        def counted(*a, _orig=getattr(obj, attr), _name=attr, **kw):
            calls[_name] = calls.get(_name, 0) + 1
            return _orig(*a, **kw)
        monkeypatch.setattr(obj, attr, counted)
    assert _run(fn, batches) == want
    assert calls.pop("serialize", 0) > 0
    assert calls.pop("count_tokens", 0) > 0
    assert calls == {"_iter_span_tuples": 1, "_origin_struct": 20,
                     "_chunk_record_batch": 1, "doc_from_spans": 20,
                     "hybrid_chunk": 20}
