"""Search-index Meta / Generic / Package validator parity vs the LIVE
reference models.

Layers (the reference's own strategy, test_search_meta.py /
test_collection.py):
1. every committed fixture under reference test/data/search must get
   the same accept/reject verdict, and for the error fixtures the
   same ordered top-level error locations, from the engine validators
   as from the reference pydantic Meta model;
2. the reference's Generic acceptance/rejection inputs;
3. the deterministic synthesize+corrupt matrix feeding the
   search_meta_validation driver query must agree
   verdict-for-verdict with the reference models.
"""

from __future__ import annotations

import glob
import json
import warnings

import pytest

import tests.refstubs  # noqa: F401

from docling_core_spark.searchtypes import (
    corrupt_search,
    synth_search_payload,
    validate_generic,
    validate_meta,
    validate_package,
)

warnings.filterwarnings("ignore")

REF = "/root/reference/test/data/search"

TAXONOMY = ("Public", "PI")
DOMAIN = ("Science", "Technology", "History", "Art", "Literature",
          "Geography")


def _ref_meta():
    from typing import Literal

    from docling_core.search.meta import Meta

    return Meta[Literal["Public", "PI"],
                Literal["Science", "Technology", "History", "Art",
                        "Literature", "Geography"]]


def _ref_errors(model, payload: str):
    """None if valid, else the reference's ordered top-level locs."""
    from pydantic import ValidationError

    try:
        model.model_validate_json(payload)
        return None
    except ValidationError as e:
        return [err["loc"][0] if err["loc"] else "?"
                for err in e.errors()]


def _engine_top_locs(errors, prefix: str):
    """Engine error strings -> ordered top-level field tokens."""
    out = []
    for e in errors:
        loc = e.split(":", 1)[0]
        assert loc.startswith(prefix + "."), e
        out.append(loc[len(prefix) + 1:].split(".")[0])
    return out


@pytest.mark.parametrize("path", sorted(glob.glob(f"{REF}/meta-*.json")))
def test_meta_fixtures_valid(path):
    with open(path, encoding="utf-8") as fh:
        payload = fh.read()
    assert _ref_errors(_ref_meta(), payload) is None
    errs = validate_meta(json.loads(payload), classification=TAXONOMY,
                         domain=DOMAIN)
    assert errs == [], (path, errs)


@pytest.mark.parametrize(
    "path", sorted(glob.glob(f"{REF}/error-meta-*.json")))
def test_meta_error_fixtures_match_reference(path):
    with open(path, encoding="utf-8") as fh:
        payload = fh.read()
    ref_locs = _ref_errors(_ref_meta(), payload)
    assert ref_locs is not None
    errs = validate_meta(json.loads(payload), classification=TAXONOMY,
                         domain=DOMAIN)
    got = _engine_top_locs(errs, "meta")
    # same SET of flagged fields as the live model (the installed
    # pydantic orders extra-key errors before missing-field errors,
    # unlike the version the reference's gold was written against -
    # ordering is pinned against the committed gold below instead)
    assert set(got) == set(ref_locs), (path, errs, ref_locs)


def test_meta_error_fixture_gold_ordering():
    """The reference's OWN committed gold (test_search_meta.py:33-37):
    flagged fields in model-declaration order. The engine emits that
    order natively."""
    gold = {
        "error-meta-01.json": ["type", "version"],
        "error-meta-02.json": ["version", "domain", "$ref"],
        "error-meta-03.json": ["source", "extra"],
    }

    def collapse(seq):
        out = []
        for x in seq:
            if not out or out[-1] != x:
                out.append(x)
        return out

    for fname, want in gold.items():
        with open(f"{REF}/{fname}", encoding="utf-8") as fh:
            errs = validate_meta(json.load(fh),
                                 classification=TAXONOMY, domain=DOMAIN)
        got = collapse(_engine_top_locs(errs, "meta"))
        assert got == want, (fname, errs)


def test_generic_reference_inputs():
    """The exact inputs of reference test_collection.py:test_generic."""
    ok_full = {
        "file-info": {"filename": "abc.xml",
                      "filename-prov": "abc.xml.zip",
                      "document-hash": "123457889"},
        "_name": "The ABC legacy_doc",
        "custom": ["The custom ABC content 1."],
    }
    ok_min = {
        "file-info": {"filename": "abc.xml",
                      "document-hash": "123457889"},
        "_name": "The ABC legacy_doc",
    }
    bad = {"_name": "The ABC legacy_doc", "custom": ["x"]}
    assert validate_generic(ok_full) == []
    assert validate_generic(ok_min) == []
    assert validate_generic(bad) != []

    from docling_core.types import Generic
    from pydantic import ValidationError

    Generic.model_validate(ok_full)
    Generic.model_validate(ok_min)
    with pytest.raises(ValidationError):
        Generic.model_validate(bad)


def test_package_semver():
    from docling_core.search.package import Package
    from pydantic import ValidationError

    cases = [
        ({"name": "docling-core", "version": "1.0.1"}, True),
        ({"name": "x", "version": "0.0.0"}, True),
        ({"name": "x", "version": "1.2.3-rc.1+build.5"}, True),
        ({"name": "x", "version": "beta"}, False),
        ({"name": "x", "version": "1.2"}, False),
        ({"name": "x", "version": "01.2.3"}, False),
        ({"name": 42, "version": "1.0.0"}, False),
        ({"name": "x", "version": "1.0.0", "extra": 1}, False),
    ]
    for payload, ok in cases:
        engine_ok = validate_package(payload) == []
        try:
            Package.model_validate(payload)
            ref_ok = True
        except ValidationError:
            ref_ok = False
        assert engine_ok == ref_ok == ok, payload


def _ref_verdict_for(kind: str, payload: str) -> bool:
    from pydantic import ValidationError

    from docling_core.search.meta import Meta
    from docling_core.search.package import Package
    from docling_core.types import Generic

    model = {"meta": Meta, "generic": Generic,
             "package": Package}[kind]
    try:
        model.model_validate_json(payload)
        return True
    except (ValidationError, ValueError):
        return False


def test_corruption_matrix_matches_reference():
    """Every synthesized+corrupted payload of the driver query must
    get the same verdict from the engine validators (the exact
    functions validate_search_df runs) as from the live reference
    models; both valid and invalid verdicts must occur per kind."""
    from docling_core_spark.searchtypes import VALIDATORS

    verdicts = {"meta": set(), "generic": set(), "package": set()}
    for doc_id in range(132):
        kind, js = synth_search_payload(
            doc_id, f"word{doc_id} alpha beta gamma delta")
        js = corrupt_search(doc_id, kind, js)
        try:
            obj = json.loads(js)
            engine_ok = VALIDATORS[kind](obj) == []
        except ValueError:
            engine_ok = False
        ref_ok = _ref_verdict_for(kind, js)
        assert engine_ok == ref_ok, (doc_id, kind, js)
        verdicts[kind].add(engine_ok)
    assert all(v == {True, False} for v in verdicts.values()), verdicts


def test_validate_search_df_survives_hostile_rows(spark):
    """A NULL kind, an unknown kind, a NULL payload and malformed JSON
    land as is_valid=False quarantine rows; none fails the stage."""
    from docling_core_spark.searchtypes import validate_search_df

    kind, js = synth_search_payload(0, "alpha beta gamma")
    df = spark.createDataFrame(
        [(1, kind, js), (2, None, js), (3, "mystery", "{}"),
         (4, kind, None), (5, kind, '{"truncated')],
        "doc_id long, kind string, payload string")
    got = {r["doc_id"]: r for r in validate_search_df(df).collect()}
    assert got[1]["is_valid"] is True
    assert "unknown sidecar kind" in got[2]["errors"]
    assert "unknown sidecar kind" in got[3]["errors"]
    assert "invalid JSON" in got[4]["errors"]
    assert "invalid JSON" in got[5]["errors"]
    assert all(got[i]["is_valid"] is False and got[i]["n_errors"] == 1
               for i in (2, 3, 4, 5))
