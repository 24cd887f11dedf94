"""Search-mapper parity: the engine's JsonSchemaToSearchMapper output
equals the reference's committed ground-truth index definitions
(test/data/json_schemas/*-ref.json), generated from the same live
pydantic schemas the reference's own tests use."""

from __future__ import annotations

import json

from docling_core_spark.search_mapper import (
    JsonSchemaToSearchMapper,
    _collapse_arrays,
    _merge_unions,
    _prune_empty,
    inline_refs,
)
from tests.refstubs import REFERENCE_DATA, reference

_GT = f"{REFERENCE_DATA}/json_schemas"


def test_document_index_definition_matches_committed_gt():
    reference()
    from docling_core.types.legacy_doc.document import ExportedCCSDocument

    mapper = JsonSchemaToSearchMapper(
        mappings_extra={
            "_meta": {
                "license": "",
                "created": "2021-09-27T17:42:10.407214+00:00",
                "description": "",
                "source": "",
                "display_name": "",
                "version": "1.0",
                "$ref": "ccs:schemas#/Document",
            },
            "dynamic": False,
            "_size": {"enabled": True},
        })
    got = mapper.get_index_definition(
        ExportedCCSDocument.model_json_schema())
    want = json.load(open(f"{_GT}/document-ref.json"))
    assert got == want


def test_record_index_definition_matches_committed_gt():
    reference()
    from docling_core.types.rec.record import Record

    _meta = {
        "aliases": [".production", "ccc"],
        "created": "2022-11-03T11:22:32.432+00:00",
        "description": "description of the collection",
        "source": "https://ccc",
        "storage": "storage location",
        "display_name": "display name",
        "type": "Record",
        "classification": ["Public", "PI"],
        "version": [
            {"name": "my-library", "version": "0.1.0-post.6+ed04c14"},
            {"name": "docling-core", "version": "0.1.0"},
        ],
        "document_license": {"code": ["NO-CC CODE", "CC BY"], "text": []},
        "license": "https://www.ccc",
        "filename": "ccc-gs.json",
        "domain": ["Healthcare & Life Sciences"],
        "$ref": "ccs:schemas#/Document",
    }
    mapper = JsonSchemaToSearchMapper(
        mappings_extra={"_meta": _meta, "dynamic": False,
                        "_size": {"enabled": True}})
    got = mapper.get_index_definition(Record.model_json_schema())
    want = json.load(open(f"{_GT}/dbrecord-ref.json"))
    assert got == want


# -- transform unit behavior -------------------------------------------

def test_inline_refs_wholesale_replacement():
    schema = {"$defs": {"X": {"type": "string", "x-es-type": "keyword"}},
              "properties": {"a": {"$ref": "#/$defs/X",
                                   "sibling": "dropped"}}}
    out = inline_refs(schema)
    assert out["properties"]["a"] == {"type": "string",
                                      "x-es-type": "keyword"}


def test_inline_refs_cycle_guard_total():
    schema = {"$defs": {"X": {"properties": {"next": {"$ref": "#/$defs/X"}}}},
              "properties": {"root": {"$ref": "#/$defs/X"}}}
    out = inline_refs(schema)  # terminates; inner cycle becomes {}
    assert out["properties"]["root"] == {"properties": {"next": {}}}


def test_merge_unions_drops_null_arm():
    v = {"anyOf": [{"type": "string"}, {"type": "null"}]}
    assert _merge_unions(v) == {"type": "string"}


def test_collapse_arrays_merges_items():
    v = {"type": "array", "items": {"type": "text", "f": 1}, "keep": 2}
    assert _collapse_arrays(v) == {"keep": 2, "type": "text", "f": 1}


def test_prune_empty():
    assert _prune_empty({"a": {}, "b": [], "c": "", "d": 0, "e": False}) \
        == {"d": 0, "e": False}


def test_suppress_and_flag_translation_end_to_end():
    mapper = JsonSchemaToSearchMapper()
    schema = {
        "type": "object",
        "properties": {
            "hidden": {"type": "string", "x-es-suppress": True},
            "kept": {"type": "string", "x-es-type": "keyword",
                     "x-es-ignore_above": 8191},
        },
    }
    out = mapper.get_index_definition(schema)
    props = out["mappings"]["properties"]
    assert "hidden" not in props
    assert props["kept"] == {"type": "keyword", "ignore_above": 8191}
