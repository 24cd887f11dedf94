"""DoclingDocument-JSON interop parity, both directions.

Import: the reference's own export_to_dict -> engine spans -> engine
serializers must match the reference's rendering of the same doc.
Export: engine-generated JSON must validate against the reference's
pydantic schema, and the REFERENCE's rendering of the loaded doc must
match the engine's own output - proving a reference user can exchange
documents with this engine losslessly (modulo synthesized media refs).
"""

from __future__ import annotations

import pytest

from docling_core_spark.chunking.hierarchical import hierarchical_chunk
from docling_core_spark.corpus import gen_doc_spans
from docling_core_spark.model.spans import doc_from_spans
from docling_core_spark.serializers.docjson import export_to_docjson
from docling_core_spark.serializers.markdown import export_to_markdown
from docling_core_spark.sources.docjson import docjson_to_spans
from tests.refstubs import oracle_fn, reference

build_doc = oracle_fn("build_doc")
reference_hierarchical_chunks = oracle_fn("reference_hierarchical_chunks")
reference_markdown = oracle_fn("reference_markdown")

N_DOCS = 60


def _engine_doc(i):
    spans = gen_doc_spans(i, seed=42)
    return doc_from_spans(f"doc_{i}", [
        (s["kind"], s["text"], s["media_ref"], s["offset"])
        for s in spans]), spans


@pytest.mark.parametrize("i", range(N_DOCS))
def test_import_reference_json(i):
    _, spans = _engine_doc(i)
    ref_doc, _ = build_doc(f"doc_{i}", spans)
    spans2 = docjson_to_spans(ref_doc.export_to_dict())
    imported = doc_from_spans(f"doc_{i}", [
        (s["kind"], s["text"], s["media_ref"], s["offset"])
        for s in spans2])
    assert export_to_markdown(imported) == reference_markdown(ref_doc)
    # chunk-level: text + heading paths identical (offsets/media refs
    # are synthesized on import, so compare the semantic fields)
    got = [(c.text, c.headings) for c in hierarchical_chunk(imported)]
    ref_map = {}
    for ix, (it, _) in enumerate(ref_doc.iterate_items(with_groups=True)):
        ref_map[it.self_ref] = ix
    exp = [(t, h) for t, h, _ in
           reference_hierarchical_chunks(ref_doc, ref_map)]
    assert got == exp


@pytest.mark.parametrize("i", range(N_DOCS))
def test_export_json_loads_in_reference(i):
    reference()
    from docling_core.types.doc.document import DoclingDocument

    eng, _ = _engine_doc(i)
    loaded = DoclingDocument.model_validate(export_to_docjson(eng))
    assert reference_markdown(loaded) == export_to_markdown(eng)


def test_round_trip_json_json():
    """export -> import -> export is a fixed point."""
    for i in range(0, N_DOCS, 7):
        eng, _ = _engine_doc(i)
        js1 = export_to_docjson(eng)
        spans2 = docjson_to_spans(js1)
        eng2 = doc_from_spans(f"doc_{i}", [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in spans2])
        js2 = export_to_docjson(eng2)
        assert export_to_markdown(eng) == export_to_markdown(eng2)
        assert len(js1["texts"]) == len(js2["texts"])
        assert len(js1["tables"]) == len(js2["tables"])
        assert len(js1["pictures"]) == len(js2["pictures"])


# ----------------------------------------------------------------------
# S3 YAML interop (save_as_yaml document.py:4344-4369 / load_from_yaml
# 4371-4385): same dict as JSON, YAML-carried
# ----------------------------------------------------------------------

def test_export_yaml_loads_in_reference():
    import yaml as _yaml

    reference()
    from docling_core.types.doc.document import DoclingDocument
    from docling_core_spark.serializers.docjson import export_to_docyaml_str

    for i in range(0, N_DOCS, 7):
        eng, _ = _engine_doc(i)
        loaded = DoclingDocument.model_validate(
            _yaml.load(export_to_docyaml_str(eng), Loader=_yaml.FullLoader))
        assert reference_markdown(loaded) == export_to_markdown(eng)


def test_import_reference_yaml():
    import yaml as _yaml

    from docling_core_spark.sources.docjson import docyaml_to_spans

    for i in range(0, N_DOCS, 7):
        _, spans = _engine_doc(i)
        ref_doc, _ = build_doc(f"doc_{i}", spans)
        ref_yaml = _yaml.safe_dump(ref_doc.export_to_dict())
        spans2 = docyaml_to_spans(ref_yaml)
        imported = doc_from_spans(f"doc_{i}", [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in spans2])
        assert export_to_markdown(imported) == reference_markdown(ref_doc)


def test_yaml_json_same_spans():
    from docling_core_spark.serializers.docjson import (
        export_to_docjson,
        export_to_docyaml_str,
    )
    from docling_core_spark.sources.docjson import (
        docjson_to_spans,
        docyaml_to_spans,
    )

    for i in range(0, N_DOCS, 7):
        eng, _ = _engine_doc(i)
        assert (docyaml_to_spans(export_to_docyaml_str(eng))
                == docjson_to_spans(export_to_docjson(eng)))
