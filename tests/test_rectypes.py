"""Record/Statement/QA validator parity vs the LIVE reference models.

Two layers:
1. every committed fixture under reference test/data/rec and
   test/data/nlp must get the same accept/reject verdict from the
   engine validators as from the reference pydantic models (the
   reference's own test strategy, test_rec_schema.py /
   test_nlp_qa.py), with the reference's pinned error phrases
   surfacing in the engine's error strings;
2. the deterministic synthesize+corrupt matrix that feeds the
   rec_validation driver query must agree verdict-for-verdict with
   the reference models across every corruption mode.
"""

from __future__ import annotations

import glob
import json
import warnings

from docling_core_spark.rectypes import (
    VALIDATORS,
    corrupt_rec,
    synth_rec_payload,
    validate_attribute,
    validate_predicate,
    validate_qapair,
    validate_record,
    validate_statement,
    validate_subject,
)
from tests.refstubs import REFERENCE_DATA, reference, reference_data

warnings.filterwarnings("ignore")

REF = REFERENCE_DATA


def _ref_models():
    reference()
    from docling_core.types.nlp.qa import QAPair
    from docling_core.types.rec.attribute import Attribute
    from docling_core.types.rec.predicate import Predicate
    from docling_core.types.rec.record import Record
    from docling_core.types.rec.statement import Statement
    from docling_core.types.rec.subject import Subject

    return {"record": Record, "statement": Statement,
            "attribute": Attribute, "predicate": Predicate,
            "subject": Subject, "qa": QAPair}


_ENGINE = {"record": validate_record, "statement": validate_statement,
           "attribute": validate_attribute,
           "predicate": validate_predicate, "subject": validate_subject,
           "qa": validate_qapair}

_FIXTURES = [
    ("record", f"{REF}/rec/record-*.json"),
    ("statement", f"{REF}/rec/statement-*.json"),
    ("attribute", f"{REF}/rec/attribute-*.json"),
    ("predicate", f"{REF}/rec/predicate-*.json"),
    ("subject", f"{REF}/rec/subject-*.json"),
    ("attribute", f"{REF}/rec/error-attribute-*.json"),
    ("predicate", f"{REF}/rec/error-predicate-*.json"),
    ("qa", f"{REF}/nlp/qa-*.json"),
    ("qa", f"{REF}/nlp/error-qa-*.json"),
]


def _ref_verdict(model, payload: str) -> bool:
    from pydantic import ValidationError

    try:
        model.model_validate_json(payload)
        return True
    except ValidationError:
        return False


def test_every_committed_fixture_agrees():
    models = _ref_models()
    n = 0
    for kind, pattern in _FIXTURES:
        files = sorted(glob.glob(pattern))
        assert files, pattern
        for fn in files:
            with open(fn, encoding="utf-8") as fh:
                payload = fh.read()
            exp = _ref_verdict(models[kind], payload)
            errs = _ENGINE[kind](json.loads(payload))
            got = not errs
            assert got == exp, f"{fn}: engine={errs} ref_valid={exp}"
            n += 1
    assert n >= 20


def test_reference_pinned_error_phrases():
    """The phrases the reference's own tests pin (test_rec_schema.py,
    test_nlp_qa.py) must appear in the engine's error strings."""
    def errs_of(kind, fn):
        reference_data()  # skips where the checkout's data is absent
        with open(fn, encoding="utf-8") as fh:
            return "; ".join(_ENGINE[kind](json.load(fh)))

    assert "invalid latitude" in errs_of(
        "predicate", f"{REF}/rec/error-predicate-01.json")
    assert "geopoint_value.conf" in errs_of(
        "predicate", f"{REF}/rec/error-predicate-02.json")
    assert "Input should be a valid string" in errs_of(
        "qa", f"{REF}/nlp/error-qa-1.json")
    assert "List must be unique" in errs_of(
        "qa", f"{REF}/nlp/error-qa-3.json")


def test_corruption_matrix_agrees_with_reference():
    """Engine verdicts across the synthesized + corrupted payloads
    (the rec_validation query input) == reference model verdicts."""
    models = _ref_models()
    outcomes = {True: 0, False: 0}
    for doc_id in range(120):
        kind, js = synth_rec_payload(doc_id, f"alpha beta g{doc_id}")
        js = corrupt_rec(doc_id, kind, js)
        try:
            obj = json.loads(js)
            errs = VALIDATORS[kind](obj)
            got = not errs
        except ValueError:
            got = False
        try:
            exp = _ref_verdict(models[kind], js)
        except Exception:
            exp = False  # json decode error
        assert got == exp, f"doc {doc_id} kind={kind}: {js[:120]}"
        outcomes[got] += 1
    # the matrix must genuinely exercise both verdicts
    assert outcomes[True] >= 30 and outcomes[False] >= 30


def test_uncorrupted_payloads_are_valid():
    models = _ref_models()
    for doc_id in range(12):
        kind, js = synth_rec_payload(doc_id, "alpha beta gamma")
        assert not VALIDATORS[kind](json.loads(js)), (doc_id, kind)
        assert _ref_verdict(models[kind], js), (doc_id, kind)


def test_validate_records_df_survives_hostile_rows(spark):
    """A NULL kind, an unknown kind, a NULL payload and malformed JSON
    land as is_valid=False quarantine rows; none fails the stage."""
    from docling_core_spark.rectypes import validate_records_df

    kind, js = synth_rec_payload(0, "alpha beta gamma")
    df = spark.createDataFrame(
        [(1, kind, js), (2, None, js), (3, "mystery", "{}"),
         (4, kind, None), (5, kind, '{"truncated')],
        "doc_id long, kind string, payload string")
    got = {r["doc_id"]: r for r in validate_records_df(df).collect()}
    assert got[1]["is_valid"] is True
    assert "unknown sidecar kind" in got[2]["errors"]
    assert "unknown sidecar kind" in got[3]["errors"]
    assert "invalid JSON" in got[4]["errors"]
    assert "invalid JSON" in got[5]["errors"]
    assert all(got[i]["is_valid"] is False and got[i]["n_errors"] == 1
               for i in (2, 3, 4, 5))
