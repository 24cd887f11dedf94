"""Legacy CCS sidecar validators (legacytypes.py) vs the LIVE
reference pydantic models (types/legacy_doc/doc_ann.py, doc_ocr.py,
doc_raw.py): accept/reject agreement on deterministic fixtures plus
the full corruption matrix, and the Spark quarantine surface."""

from __future__ import annotations

import copy
import json

import pytest

import tests.refstubs  # noqa: F401

from docling_core.types.legacy_doc.doc_ann import Annotation
from docling_core.types.legacy_doc.doc_ocr import OcrOutput
from docling_core.types.legacy_doc.doc_raw import RawPdf
from docling_core_spark.legacytypes import (
    CORRUPTIONS,
    VALIDATORS,
    corrupt_legacy,
    synth_legacy_payload,
    validate_legacy_df,
)
from pydantic import ValidationError

LIVE = {"annotation": Annotation, "ocr": OcrOutput, "raw": RawPdf}


def _live_ok(kind: str, payload: dict) -> bool:
    try:
        LIVE[kind].model_validate(payload)
        return True
    except ValidationError:
        return False


@pytest.mark.parametrize("doc_id", range(60))
def test_valid_fixtures_agree(doc_id):
    """Every synthesized payload must validate on BOTH sides."""
    kind, payload = synth_legacy_payload(doc_id)
    assert _live_ok(kind, payload), (kind, doc_id)
    assert VALIDATORS[kind](payload) == [], (kind, doc_id)


@pytest.mark.parametrize("idx", range(len(CORRUPTIONS)))
def test_corruption_matrix_agrees_with_live_models(idx):
    """For every corruption cell, the from-scratch validator and the
    live reference model must agree accept-vs-reject - the
    expect_valid cells guard lax-mode conversions (int-literal
    strings, integral floats, alias/python names, nullable-but-
    required) against over-strict reimplementation."""
    kind, mutate, expect_valid = CORRUPTIONS[idx]
    base_id = {"annotation": 0, "ocr": 1, "raw": 2}[kind]
    _, payload = synth_legacy_payload(base_id)
    mutated = copy.deepcopy(payload)
    mutate(mutated)
    live = _live_ok(kind, mutated)
    ours = VALIDATORS[kind](mutated) == []
    assert live == expect_valid, (idx, "matrix label vs live model")
    assert ours == live, (idx, VALIDATORS[kind](mutated))


def test_corruptions_cover_every_kind():
    kinds = {k for k, _, _ in CORRUPTIONS}
    assert kinds == {"annotation", "ocr", "raw"}
    # both polarities per kind
    for kind in kinds:
        labels = {v for k, _, v in CORRUPTIONS if k == kind}
        assert labels == {True, False}, kind


def test_validate_legacy_df_survives_hostile_rows(spark):
    """Malformed JSON and unknown kinds are what a quarantine screen
    exists for: they must land as ok=False rows, never fail the
    stage (review finding: the first cut crashed on them)."""
    _, good = synth_legacy_payload(0)
    df = spark.createDataFrame(
        [(1, "annotation", json.dumps(good)),
         (2, "annotation", '{"annotations": [truncated'),
         (3, "mystery", "{}"),
         (4, "ocr", "not json at all"),
         (5, None, json.dumps(good)),
         (6, "annotation", None)],
        "doc_id long, kind string, payload string")
    got = {r["doc_id"]: r for r in validate_legacy_df(df).collect()}
    assert got[1]["ok"] is True
    assert got[2]["ok"] is False and "invalid JSON" in got[2][
        "first_error"]
    assert got[3]["ok"] is False and "unknown sidecar kind" in got[3][
        "first_error"]
    assert got[4]["ok"] is False and "invalid JSON" in got[4][
        "first_error"]
    assert got[5]["ok"] is False and "unknown sidecar kind" in got[5][
        "first_error"]
    assert got[6]["ok"] is False and "invalid JSON" in got[6][
        "first_error"]


def test_validate_legacy_df_quarantines(spark):
    """The fused Arrow quarantine stage: corrupted payloads land as
    ok=False rows with the first error, valid ones pass, and the
    verdicts match the live models row-for-row."""
    rows = []
    for doc_id in range(48):
        kind, payload = synth_legacy_payload(doc_id)
        js, cidx = corrupt_legacy(doc_id, kind, payload)
        rows.append((doc_id, kind, js, cidx))
    df = spark.createDataFrame(
        [(d, k, j) for d, k, j, _ in rows],
        "doc_id long, kind string, payload string")
    got = {r["doc_id"]: r for r in validate_legacy_df(df).collect()}
    assert len(got) == 48
    n_bad = 0
    for doc_id, kind, js, cidx in rows:
        r = got[doc_id]
        live = _live_ok(kind, json.loads(js))
        assert r["ok"] == live, (doc_id, kind, cidx, r["first_error"])
        if cidx >= 0:
            assert r["ok"] == CORRUPTIONS[cidx][2]
        if not r["ok"]:
            n_bad += 1
            assert r["n_errors"] >= 1 and r["first_error"]
    assert n_bad > 0  # the matrix planted real rejects
