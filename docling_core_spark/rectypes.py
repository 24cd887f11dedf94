"""Record / Statement / QA collection types (SURVEY §1.3 leftovers):
from-scratch validators with S12-style quarantine semantics.

The reference defines these as pydantic models:

* ``Record`` - types/rec/record.py:57 (file-info + description +
  subject + attributes + identifiers over a conf/prov base)
* ``Statement`` - types/rec/statement.py:58 (Attribute + subject,
  extra allowed)
* ``Attribute`` / ``Predicate`` / ``Subject`` - types/rec/
  attribute.py:25, predicate.py:116, subject.py:26
* ``QAPair`` - types/nlp/qa.py:16

This module re-expresses their validation semantics as plain functions
returning error lists (empty == the reference model validates), so a
100 TB records table is screened by one fused Arrow stage emitting
quarantine rows instead of throwing - the same shape as S12
(validation.py). Constraint fidelity notes:

* strict scalars follow pydantic v2 strict-mode conversion: str/bool
  must be exact instances, float accepts int but never bool;
* ``Identifier._name`` must equal ``f"{type.lower()}#{value.lower()}"``
  (types/base.py:96-110);
* ``GeopointValue`` re-checks |lon| <= 180 / |lat| <= 90 with the
  reference's exact error strings (predicate.py:75-84);
* ``StrictDateTime`` accepts non-numeric ISO-8601 strings only
  (utils/validators.py:95-100);
* ``QAPair.paths`` must be a unique list (utils/validators.py:77-91);
* extra-field policy matches each model (`forbid` on Identifier/Log/
  Subject/Predicate value models/Attribute, allowed on Statement,
  ignored elsewhere).

Parity is pinned against the LIVE reference models on every committed
fixture under reference test/data/rec and test/data/nlp plus the
deterministic corruption matrix (tests/test_rectypes.py).
"""

from __future__ import annotations

import re
from typing import List, Optional

VERSION_PATTERN = (
    r"^(0|[1-9]\d*)\.(0|[1-9]\d*)\.(0|[1-9]\d*)"
    r"(?:-((?:0|[1-9]\d*|\d*[a-zA-Z-][0-9a-zA-Z-]*)"
    r"(?:\.(?:0|[1-9]\d*|\d*[a-zA-Z-][0-9a-zA-Z-]*))*))?"
    r"(?:\+([0-9a-zA-Z-]+(?:\.[0-9a-zA-Z-]+)*))?$")

ACQUISITION_TYPES = ("API", "FTP", "Download", "Link",
                     "Web scraping/Crawling", "Other")

_NAME_RE = re.compile(r"^.+#.+$")


def _is_str(v) -> bool:
    return isinstance(v, str)


def _is_bool(v) -> bool:
    return isinstance(v, bool)


def _is_float(v) -> bool:
    # pydantic strict float accepts int, never bool
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _is_int(v) -> bool:
    return isinstance(v, int) and not isinstance(v, bool)


# pydantic distinguishes an ABSENT required field ("Field required")
# from a present-but-null one (fails the type check); mirror that
_MISSING = object()


def _req(d: dict, key: str, loc: str, errors: List[str]) -> object:
    if not isinstance(d, dict):
        errors.append(f"{loc}: Input should be an object")
        return None
    v = d.get(key, _MISSING)
    if v is _MISSING:
        errors.append(f"{loc}.{key}: Field required")
        return None
    if v is None:
        errors.append(f"{loc}.{key}: Input should not be null")
        return None
    return v


def _str_field(d: dict, key: str, loc: str, errors: List[str],
               required: bool = True) -> Optional[str]:
    v = d.get(key, _MISSING)
    if v is _MISSING:
        if required:
            errors.append(f"{loc}.{key}: Field required")
        return None
    if v is None:
        if required:
            errors.append(f"{loc}.{key}: Input should be a valid "
                          "string")
        return None
    if not _is_str(v):
        errors.append(f"{loc}.{key}: Input should be a valid string")
        return None
    return v


def _conf_field(d: dict, loc: str, errors: List[str],
                required: bool = True, key: str = "conf") -> None:
    v = d.get(key, _MISSING)
    if v is _MISSING:
        if required:
            errors.append(f"{loc}.{key}: Field required")
        return
    if v is None:
        if required:
            errors.append(f"{loc}.{key}: Input should be a valid "
                          "number")
        return
    if not _is_float(v):
        errors.append(f"{loc}.{key}: Input should be a valid number")
    elif v != v or v in (float("inf"), float("-inf")):
        errors.append(f"{loc}.{key}: Input should be a finite number")
    elif not (0.0 <= v <= 1.0):
        errors.append(f"{loc}.{key}: Input should be between 0 and 1")


def _datetime_field(d: dict, key: str, loc: str, errors: List[str],
                    required: bool = True) -> None:
    """StrictDateTime: non-numeric ISO-8601 string
    (utils/validators.py:95)."""
    from datetime import datetime

    v = d.get(key, _MISSING)
    if v is _MISSING:
        if required:
            errors.append(f"{loc}.{key}: Field required")
        return
    if v is None:
        if required:
            errors.append(f"{loc}.{key}: Value type must be a "
                          "datetime or a non-numeric string")
        return
    if not _is_str(v) or v.isnumeric():
        errors.append(f"{loc}.{key}: Value type must be a datetime or "
                      "a non-numeric string")
        return
    try:
        datetime.fromisoformat(v.replace("Z", "+00:00"))
    except ValueError:
        errors.append(f"{loc}.{key}: Input should be a valid datetime")


def _forbid_extra(d: dict, allowed, loc: str, errors: List[str]) -> None:
    for k in d:
        if k not in allowed:
            errors.append(f"{loc}.{k}: Extra inputs are not permitted")


def validate_identifier(d, loc: str, errors: List[str]) -> None:
    """types/base.py:70-114 (extra=forbid, _name = type#value)."""
    if not isinstance(d, dict):
        errors.append(f"{loc}: Input should be an object")
        return
    typ = _str_field(d, "type", loc, errors)
    val = _str_field(d, "value", loc, errors)
    name = _str_field(d, "_name", loc, errors)
    if name is not None:
        if not _NAME_RE.match(name):
            errors.append(f"{loc}._name: String should match pattern")
        elif typ is not None and val is not None \
                and name != f"{typ.lower()}#{val.lower()}":
            errors.append(
                f"{loc}._name: the _name field must be the "
                "concatenation of type and value in lower case, "
                "separated by hash (#)")
    _forbid_extra(d, ("type", "value", "_name"), loc, errors)


def validate_prov_item(d, loc: str, errors: List[str]) -> None:
    """rec/base.py:18-72 ProvenanceItem (extra=forbid)."""
    if not isinstance(d, dict):
        errors.append(f"{loc}: Input should be an object")
        return
    _str_field(d, "type", loc, errors, required=False)
    _str_field(d, "text", loc, errors, required=False)
    if d.get("reference") is not None:
        validate_identifier(d["reference"], f"{loc}.reference", errors)
    _str_field(d, "path", loc, errors, required=False)
    if d.get("span") is not None:
        sp = d["span"]
        if (not isinstance(sp, list) or len(sp) != 2
                or not all(_is_int(x) for x in sp)):
            errors.append(f"{loc}.span: List should have exactly "
                          "2 integer items")
    _forbid_extra(d, ("type", "text", "reference", "path", "span"),
                  loc, errors)


def _prov_base(d: dict, loc: str, errors: List[str]) -> None:
    """rec/base.py:75-90 Provenance (conf + prov)."""
    _conf_field(d, loc, errors)
    prov = _req(d, "prov", loc, errors)
    if prov is not None:
        if not isinstance(prov, list):
            errors.append(f"{loc}.prov: Input should be a valid list")
        else:
            for i, p in enumerate(prov):
                validate_prov_item(p, f"{loc}.prov[{i}]", errors)


def validate_subject(d, loc: str = "subject",
                     errors: Optional[List[str]] = None) -> List[str]:
    """rec/subject.py:26-77 (extra=forbid)."""
    errors = [] if errors is None else errors
    if not isinstance(d, dict):
        errors.append(f"{loc}: Input should be an object")
        return errors
    _str_field(d, "display_name", loc, errors)
    img = d.get("display_image")
    if img is not None:
        if not isinstance(img, dict):
            errors.append(f"{loc}.display_image: Input should be "
                          "an object")
        else:
            _str_field(img, "__ref_s3_data", f"{loc}.display_image",
                       errors)
    _str_field(d, "type", loc, errors)
    names = _req(d, "names", loc, errors)
    if names is not None:
        if not isinstance(names, list):
            errors.append(f"{loc}.names: Input should be a valid list")
        else:
            for i, n in enumerate(names):
                validate_identifier(n, f"{loc}.names[{i}]", errors)
    if d.get("identifiers") is not None:
        for i, n in enumerate(d["identifiers"]):
            validate_identifier(n, f"{loc}.identifiers[{i}]", errors)
    if d.get("labels") is not None:
        for i, v in enumerate(d["labels"]):
            if not _is_str(v):
                errors.append(f"{loc}.labels[{i}]: Input should be "
                              "a valid string")
    _forbid_extra(d, ("display_name", "display_image", "type", "names",
                      "identifiers", "labels"), loc, errors)
    return errors


def _typed_value(d, loc: str, errors: List[str], fields) -> None:
    """NumericalValue/NominalValue/... (predicate.py:29-66, forbid)."""
    if not isinstance(d, dict):
        errors.append(f"{loc}: Input should be an object")
        return
    for key, check, msg in fields:
        v = _req(d, key, loc, errors)
        if v is not None and not check(v):
            errors.append(f"{loc}.{key}: {msg}")
    _forbid_extra(d, tuple(k for k, _, _ in fields), loc, errors)


_NUMERICAL = [(k, _is_float, "Input should be a valid number")
              for k in ("min", "max", "val", "err")] \
    + [("unit", _is_str, "Input should be a valid string")]


def validate_predicate(d, loc: str = "predicate",
                       errors: Optional[List[str]] = None) -> List[str]:
    """rec/predicate.py:116-133 + value models (extra=forbid)."""
    errors = [] if errors is None else errors
    if not isinstance(d, dict):
        errors.append(f"{loc}: Input should be an object")
        return errors
    key = _req(d, "key", loc, errors)
    if key is not None and isinstance(key, dict):
        _str_field(key, "name", f"{loc}.key", errors)
        _str_field(key, "type", f"{loc}.key", errors)
        _forbid_extra(key, ("name", "type"), f"{loc}.key", errors)
    value = _req(d, "value", loc, errors)
    if value is not None and isinstance(value, dict):
        _str_field(value, "name", f"{loc}.value", errors)
        _str_field(value, "type", f"{loc}.value", errors)
        _forbid_extra(value, ("name", "type"), f"{loc}.value", errors)
    for k in ("numerical_value", "numerical_value_si"):
        if d.get(k) is not None:
            _typed_value(d[k], f"{loc}.{k}", errors, _NUMERICAL)
    if d.get("nominal_value") is not None:
        _typed_value(d["nominal_value"], f"{loc}.nominal_value", errors,
                     [("value", _is_str,
                       "Input should be a valid string")])
    if d.get("text_value") is not None:
        _typed_value(d["text_value"], f"{loc}.text_value", errors,
                     [("value", _is_str,
                       "Input should be a valid string")])
    if d.get("boolean_value") is not None:
        _typed_value(d["boolean_value"], f"{loc}.boolean_value", errors,
                     [("value", _is_bool,
                       "Input should be a valid boolean")])
    if d.get("datetime_value") is not None:
        dv = d["datetime_value"]
        if not isinstance(dv, dict):
            errors.append(f"{loc}.datetime_value: Input should be "
                          "an object")
        else:
            _datetime_field(dv, "value", f"{loc}.datetime_value",
                            errors)
            _forbid_extra(dv, ("value",), f"{loc}.datetime_value",
                          errors)
    if d.get("geopoint_value") is not None:
        gv = d["geopoint_value"]
        if not isinstance(gv, dict):
            errors.append(f"{loc}.geopoint_value: Input should be "
                          "an object")
        else:
            v = _req(gv, "value", f"{loc}.geopoint_value", errors)
            if v is not None:
                if (not isinstance(v, list) or len(v) != 2
                        or not all(_is_float(x) for x in v)):
                    errors.append(f"{loc}.geopoint_value.value: "
                                  "Coordinates must be 2 numbers")
                elif abs(v[0]) > 180:
                    errors.append(f"{loc}.geopoint_value.value: "
                                  "invalid longitude")
                elif abs(v[1]) > 90:
                    errors.append(f"{loc}.geopoint_value.value: "
                                  "invalid latitude")
            _conf_field(gv, f"{loc}.geopoint_value", errors,
                        required=False)
            _forbid_extra(gv, ("value", "conf"),
                          f"{loc}.geopoint_value", errors)
    _forbid_extra(d, ("key", "value", "numerical_value",
                      "numerical_value_si", "nominal_value",
                      "text_value", "boolean_value", "datetime_value",
                      "geopoint_value"), loc, errors)
    return errors


def validate_attribute(d, loc: str = "attribute",
                       errors: Optional[List[str]] = None,
                       extra_allowed: bool = False) -> List[str]:
    """rec/attribute.py:25-55 (extra=forbid unless Statement)."""
    errors = [] if errors is None else errors
    if not isinstance(d, dict):
        errors.append(f"{loc}: Input should be an object")
        return errors
    _conf_field(d, loc, errors)
    if d.get("prov") is not None:
        if not isinstance(d["prov"], list):
            errors.append(f"{loc}.prov: Input should be a valid list")
        else:
            for i, p in enumerate(d["prov"]):
                validate_prov_item(p, f"{loc}.prov[{i}]", errors)
    preds = _req(d, "predicates", loc, errors)
    if preds is not None:
        if not isinstance(preds, list):
            errors.append(f"{loc}.predicates: Input should be "
                          "a valid list")
        else:
            for i, p in enumerate(preds):
                validate_predicate(p, f"{loc}.predicates[{i}]", errors)
    if not extra_allowed:
        _forbid_extra(d, ("conf", "prov", "predicates"), loc, errors)
    return errors


def validate_statement(d, loc: str = "statement",
                       errors: Optional[List[str]] = None) -> List[str]:
    """rec/statement.py:58-75 (Attribute + subject, extra=allow)."""
    errors = [] if errors is None else errors
    if not isinstance(d, dict):
        errors.append(f"{loc}: Input should be an object")
        return errors
    validate_attribute(d, loc, errors, extra_allowed=True)
    subj = _req(d, "subject", loc, errors)
    if subj is not None:
        validate_subject(subj, f"{loc}.subject", errors)
    return errors


def validate_record(d, loc: str = "record",
                    errors: Optional[List[str]] = None) -> List[str]:
    """rec/record.py:57-95 over the Provenance base."""
    errors = [] if errors is None else errors
    if not isinstance(d, dict):
        errors.append(f"{loc}: Input should be an object")
        return errors
    _prov_base(d, loc, errors)
    fi = _req(d, "file-info", loc, errors)
    if fi is not None:
        if not isinstance(fi, dict):
            errors.append(f"{loc}.file-info: Input should be an object")
        else:
            _str_field(fi, "filename", f"{loc}.file-info", errors)
            _str_field(fi, "filename-prov", f"{loc}.file-info", errors,
                       required=False)
            _str_field(fi, "document-hash", f"{loc}.file-info", errors)
    desc = _req(d, "description", loc, errors)
    if desc is not None:
        if not isinstance(desc, dict):
            errors.append(f"{loc}.description: Input should be "
                          "an object")
        else:
            logs = _req(desc, "logs", f"{loc}.description", errors)
            if logs is not None:
                if not isinstance(logs, list):
                    errors.append(f"{loc}.description.logs: Input "
                                  "should be a valid list")
                else:
                    for i, lg in enumerate(logs):
                        _validate_log(lg, f"{loc}.description.logs[{i}]",
                                      errors)
            _datetime_field(desc, "publication_date",
                            f"{loc}.description", errors,
                            required=False)
            if desc.get("collection") is not None:
                _validate_collection(desc["collection"],
                                     f"{loc}.description.collection",
                                     errors)
            if desc.get("acquisition") is not None:
                _validate_acquisition(desc["acquisition"],
                                      f"{loc}.description.acquisition",
                                      errors)
    subj = _req(d, "subject", loc, errors)
    if subj is not None:
        validate_subject(subj, f"{loc}.subject", errors)
    if d.get("attributes") is not None:
        for i, a in enumerate(d["attributes"]):
            validate_attribute(a, f"{loc}.attributes[{i}]", errors)
    _str_field(d, "_name", loc, errors, required=False)
    if d.get("identifiers") is not None:
        for i, n in enumerate(d["identifiers"]):
            validate_identifier(n, f"{loc}.identifiers[{i}]", errors)
    return errors


def _validate_log(d, loc: str, errors: List[str]) -> None:
    """types/base.py:116-145 Log (extra=forbid)."""
    if not isinstance(d, dict):
        errors.append(f"{loc}: Input should be an object")
        return
    _str_field(d, "task", loc, errors, required=False)
    _str_field(d, "agent", loc, errors)
    _str_field(d, "type", loc, errors)
    _str_field(d, "comment", loc, errors, required=False)
    _datetime_field(d, "date", loc, errors)
    _forbid_extra(d, ("task", "agent", "type", "comment", "date"),
                  loc, errors)


def _validate_collection(d, loc: str, errors: List[str]) -> None:
    """types/base.py:184-227 CollectionRecordInfo (type == Record)."""
    if not isinstance(d, dict):
        errors.append(f"{loc}: Input should be an object")
        return
    _str_field(d, "name", loc, errors, required=False)
    typ = _req(d, "type", loc, errors)
    if typ is not None and typ != "Record":
        errors.append(f"{loc}.type: Input should be 'Record'")
    ver = d.get("version")
    if ver is not None and (not _is_str(ver)
                            or not re.match(VERSION_PATTERN, ver)):
        errors.append(f"{loc}.version: String should match pattern")
    if d.get("alias") is not None:
        for i, v in enumerate(d["alias"]):
            if not _is_str(v):
                errors.append(f"{loc}.alias[{i}]: Input should be "
                              "a valid string")
    _forbid_extra(d, ("name", "type", "version", "alias"), loc, errors)


def _validate_acquisition(d, loc: str, errors: List[str]) -> None:
    """types/base.py:229-260 Acquisition (extra=forbid)."""
    if not isinstance(d, dict):
        errors.append(f"{loc}: Input should be an object")
        return
    typ = _req(d, "type", loc, errors)
    if typ is not None and typ not in ACQUISITION_TYPES:
        errors.append(f"{loc}.type: Input should be one of "
                      f"{ACQUISITION_TYPES}")
    _datetime_field(d, "date", loc, errors, required=False)
    link = d.get("link")
    if link is not None and (not _is_str(link)
                             or "://" not in link):
        errors.append(f"{loc}.link: Input should be a valid URL")
    size = d.get("size")
    if size is not None and (not _is_int(size) or size < 0):
        errors.append(f"{loc}.size: Input should be a non-negative "
                      "integer")
    _forbid_extra(d, ("type", "date", "link", "size"), loc, errors)


# nlp/qa_labels.py:13-26 QALabelling literal axes (extra=forbid)
_QA_LABELS = {
    "scope": ("corpus", "document", "out_of_scope"),
    "alignment": ("aligned", "tangential", "misaligned"),
    "correctness": ("entailed", "not_entailed"),
    "completeness": ("complete", "incomplete"),
    "information": ("fact_single", "fact_multi", "summary",
                    "reasoning", "choice", "procedure", "opinion",
                    "feedback"),
}


def validate_qapair(d, loc: str = "qa",
                    errors: Optional[List[str]] = None) -> List[str]:
    """nlp/qa.py:16-74 QAPair."""
    errors = [] if errors is None else errors
    if not isinstance(d, dict):
        errors.append(f"{loc}: Input should be an object")
        return errors
    for key in ("context", "question", "answer"):
        _str_field(d, key, loc, errors)
    _str_field(d, "short_answer", loc, errors, required=False)
    for key in ("retrieved_context", "generated_question",
                "generated_answer"):
        if d.get(key) is not None and not _is_bool(d[key]):
            errors.append(f"{loc}.{key}: Input should be a valid "
                          "boolean")
    _datetime_field(d, "created", loc, errors)
    _str_field(d, "user", loc, errors, required=False)
    _str_field(d, "model", loc, errors, required=False)
    paths = _req(d, "paths", loc, errors)
    if paths is not None:
        if not isinstance(paths, list) \
                or not all(_is_str(p) for p in paths):
            errors.append(f"{loc}.paths: Input should be a valid list "
                          "of strings")
        elif len(paths) != len(set(paths)):
            errors.append(f"{loc}.paths: List must be unique")
    if d.get("labels") is not None:
        lb = d["labels"]
        if not isinstance(lb, dict):
            errors.append(f"{loc}.labels: Input should be an object")
        else:
            for key, allowed in _QA_LABELS.items():
                v = lb.get(key)
                if v is not None and v not in allowed:
                    errors.append(f"{loc}.labels.{key}: Input should "
                                  f"be one of {allowed}")
            _forbid_extra(lb, tuple(_QA_LABELS), f"{loc}.labels",
                          errors)
    return errors


VALIDATORS = {
    "record": validate_record,
    "statement": validate_statement,
    "attribute": validate_attribute,
    "predicate": validate_predicate,
    "subject": validate_subject,
    "qa": validate_qapair,
}


# ----------------------------------------------------------------------
# deterministic synthesis + corruption (the rec_validation query input)
# ----------------------------------------------------------------------

def synth_rec_payload(doc_id: int, text: str) -> tuple:
    """(kind, json_str): a deterministic Record / Statement / QAPair
    built from a documents-table row."""
    import json

    words = (text or "").split()[:8]
    name = " ".join(words[:3]) or "item"
    kind = ("record", "statement", "qa")[doc_id % 3]
    subject = {
        "display_name": name,
        "type": "material",
        "names": [{"type": "chemical_name", "value": name,
                   "_name": f"chemical_name#{name.lower()}"}],
    }
    predicate = {
        "key": {"name": "length", "type": "property"},
        "value": {"name": str(len(text or "")), "type": "int"},
        "numerical_value": {"min": 0.0, "max": 1e6,
                            "val": float(len(text or "")),
                            "err": 0.0, "unit": "chars"},
        "geopoint_value": {"value": [float(doc_id % 180),
                                     float(doc_id % 90)],
                           "conf": 0.9},
    }
    if kind == "record":
        payload = {
            "_name": name,
            "file-info": {"filename": f"doc_{doc_id}.pdf",
                          "document-hash": f"h{doc_id:016d}"},
            "description": {
                "logs": [{"agent": "engine", "type": "ingest",
                          "date": "2024-01-02T03:04:05+00:00"}],
                "collection": {"name": "corpus", "type": "Record",
                               "version": "1.0.0"},
                "acquisition": {"type": "API"},
            },
            "conf": 1.0,
            "prov": [{"type": "sentence",
                      "text": " ".join(words)}],
            "subject": subject,
            "attributes": [{"conf": 0.8, "predicates": [predicate]}],
            "identifiers": [{"type": "db", "value": str(doc_id),
                             "_name": f"db#{doc_id}"}],
        }
    elif kind == "statement":
        payload = {
            "conf": 0.7,
            "prov": [{"type": "sentence", "text": " ".join(words)}],
            "predicates": [predicate],
            "subject": subject,
        }
    else:
        payload = {
            "context": " ".join(words),
            "question": f"What is {name}?",
            "answer": name,
            "created": "2024-01-02T03:04:05+00:00",
            "paths": [f"h{doc_id:016d}#/main-text/1",
                      f"h{doc_id:016d}#/main-text/2"],
            "labels": {"scope": "document", "alignment": "aligned",
                       "correctness": "entailed"},
        }
    return kind, json.dumps(payload, sort_keys=True)


def corrupt_rec(doc_id: int, kind: str, js: str) -> str:
    """Deterministic corruption matrix (pure function both sides
    replicate): every 4th -> conf out of range / non-strict string;
    every 7th -> broken Identifier._name or duplicate QA paths;
    every 9th -> invalid latitude / numeric datetime; every 11th ->
    truncated JSON."""
    import json

    if doc_id % 11 == 10:
        return js[: max(1, len(js) // 2)]
    d = json.loads(js)
    if doc_id % 4 == 3:
        if kind == "qa":
            d["question"] = 42  # Input should be a valid string
        else:
            d["conf"] = 1.5
    elif doc_id % 7 == 6:
        if kind == "qa":
            d["paths"] = [d["paths"][0], d["paths"][0]]
        elif kind == "record":
            d["identifiers"][0]["_name"] = "WRONG#name"
        else:
            d["subject"]["names"][0]["_name"] = "WRONG#name"
    elif doc_id % 9 == 8:
        if kind == "qa":
            d["created"] = "20240102"  # numeric string
        else:
            tgt = (d["attributes"][0] if kind == "record" else d)
            tgt["predicates"][0]["geopoint_value"]["value"] = \
                [10.0, 95.0]  # invalid latitude
    return json.dumps(d, sort_keys=True)


# ----------------------------------------------------------------------
# Spark operator (S12 shape: one fused Arrow stage, quarantine rows)
# ----------------------------------------------------------------------

def screen_payload(validators: dict, kind, payload) -> List[str]:
    """Errors for one (kind, payload-json) sidecar row - the per-row
    screen every sidecar quarantine stage shares. Hostile rows (a NULL
    or unknown kind, a NULL or malformed payload) become error lists,
    never exceptions that would fail the whole Arrow stage."""
    import json

    try:
        validator = validators[kind]
    except KeyError:
        return [f"payload: unknown sidecar kind {kind!r}"]
    try:
        return validator(json.loads(payload))
    except (TypeError, ValueError) as exc:
        return [f"payload: invalid JSON ({exc})"]


def screen_payloads_df(df, validators: dict, kind_col: str = "kind",
                       json_col: str = "payload"):
    """(doc_id, kind, payload) -> (doc_id, kind, is_valid, n_errors,
    errors): zero shuffle, ``screen_payload`` runs once per row inside
    one mapInArrow stage."""
    from docling_core_spark.engine import map_rows

    def row(doc_id, kind, payload):
        es = screen_payload(validators, kind, payload)
        return [(doc_id, kind, not es, len(es), "; ".join(es))]

    return map_rows(df, ("doc_id", kind_col, json_col),
                    "doc_id long, kind string, is_valid boolean, "
                    "n_errors int, errors string", lambda: row)


def validate_records_df(df, kind_col: str = "kind",
                        json_col: str = "payload"):
    """Record/Statement/QA sidecar quarantine rows (screen_payloads_df
    over this module's VALIDATORS)."""
    return screen_payloads_df(df, VALIDATORS, kind_col, json_col)
