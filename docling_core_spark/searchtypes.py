"""Search-index metadata + Generic collection types as quarantine
validators (the last SURVEY §2 sidecar surface, r3 verdict item 7).

From-scratch re-expressions of the reference pydantic models - used
as behavioral SPECS, not copied:
  - Package (reference search/package.py:24-56): semver 2.0.0 name +
    version pair;
  - S3Path / S3CcsData / DocumentLicense / Meta (reference
    search/meta.py:20-93): index metadata with the Document-$ref and
    exactly-one-docling-core-version rules;
  - Generic + FileInfoObject (reference types/gen/generic.py:17-33,
    types/base.py:147-169): alias-keyed minimal document identity.

Validators return error-string lists (empty = valid) and mirror the
reference's verdicts field-for-field - errors are emitted in the
model's field-declaration order, matching pydantic's error ordering
that reference test_search_meta.py pins. Parity is locked in
tests/test_searchtypes.py against the LIVE reference models on every
committed fixture (test/data/search/*.json, test_collection.py
inputs) plus a deterministic corruption matrix.

Scale shape (same as rectypes.py): validation is a pure per-row
function inside one fused mapInArrow stage - zero shuffle, zero
driver involvement; quarantine rows come back as columns.
"""

from __future__ import annotations

import re
from typing import List, Optional

from docling_core_spark.rectypes import (
    _MISSING,
    _datetime_field,
    _forbid_extra,
    _is_str,
    _str_field,
    screen_payloads_df,
)

# Semantic Versioning 2.0.0 (the reference pins the same published
# regex, search/package.py:15-21)
VERSION_PATTERN = (
    r"^(?P<major>0|[1-9]\d*)\.(?P<minor>0|[1-9]\d*)\.(?P<patch>0|[1-9]\d*)"
    r"(?:-(?P<prerelease>(?:0|[1-9]\d*|\d*[a-zA-Z-][0-9a-zA-Z-]*)"
    r"(?:\.(?:0|[1-9]\d*|\d*[a-zA-Z-][0-9a-zA-Z-]*))*))?(?:\+"
    r"(?P<buildmetadata>[0-9a-zA-Z-]+(?:\.[0-9a-zA-Z-]+)*))?$"
)
_VERSION_RE = re.compile(VERSION_PATTERN)

COLLECTION_TYPES = ("Generic", "Document", "Record")
DOCUMENT_REF = "ccs:schemas#/Document"


def _default_package_version() -> str:
    """Package.version defaults to the installed docling-core version
    (reference search/package.py:31); fall back to a sentinel when
    the engine runs standalone."""
    try:
        import importlib.metadata

        return importlib.metadata.version("docling-core")
    except Exception:
        return "0.0.0"


def _opt_str_list(d: dict, key: str, loc: str,
                  errors: List[str]) -> Optional[list]:
    v = d.get(key, _MISSING)
    if v is _MISSING or v is None:
        return None
    if not isinstance(v, list):
        errors.append(f"{loc}.{key}: Input should be a valid list")
        return None
    out = []
    for i, item in enumerate(v):
        if not _is_str(item):
            errors.append(f"{loc}.{key}.{i}: Input should be a valid "
                          "string")
        else:
            out.append(item)
    return out


def validate_package(d, loc: str = "package",
                     errors: Optional[List[str]] = None) -> List[str]:
    """Package (search/package.py:24): both fields default; when
    present they are strict strings and version must be semver."""
    if errors is None:
        errors = []
    if not isinstance(d, dict):
        errors.append(f"{loc}: Input should be an object")
        return errors
    name = d.get("name", _MISSING)
    if name is not _MISSING and not _is_str(name):
        errors.append(f"{loc}.name: Input should be a valid string")
    version = d.get("version", _MISSING)
    if version is not _MISSING:
        if not _is_str(version):
            errors.append(f"{loc}.version: Input should be a valid "
                          "string")
        elif not _VERSION_RE.match(version):
            errors.append(f"{loc}.version: String should match "
                          "pattern (semver 2.0.0)")
    _forbid_extra(d, ("name", "version"), loc, errors)
    return errors


def _package_key(d: dict) -> tuple:
    """Identity of a validated Package for uniqueness checks
    (defaults applied, like pydantic equality on the models)."""
    return (d.get("name", "docling-core"),
            d.get("version", _default_package_version()))


def validate_s3_path(d, loc: str = "s3_path",
                     errors: Optional[List[str]] = None) -> List[str]:
    if errors is None:
        errors = []
    if not isinstance(d, dict):
        errors.append(f"{loc}: Input should be an object")
        return errors
    _str_field(d, "bucket", loc, errors)
    _str_field(d, "prefix", loc, errors)
    _str_field(d, "infix", loc, errors)
    _forbid_extra(d, ("bucket", "prefix", "infix"), loc, errors)
    return errors


def validate_s3_ccs_data(d, loc: str = "ccs_s3_data",
                         errors: Optional[List[str]] = None
                         ) -> List[str]:
    if errors is None:
        errors = []
    if not isinstance(d, dict):
        errors.append(f"{loc}: Input should be an object")
        return errors
    _str_field(d, "endpoint", loc, errors)
    paths = d.get("paths", _MISSING)
    if paths is _MISSING or paths is None:
        errors.append(f"{loc}.paths: Field required")
    elif not isinstance(paths, list):
        errors.append(f"{loc}.paths: Input should be a valid list")
    else:
        if not paths:
            errors.append(f"{loc}.paths: List should have at least "
                          "1 item")
        seen = set()
        for i, p in enumerate(paths):
            n0 = len(errors)
            validate_s3_path(p, f"{loc}.paths.{i}", errors)
            if len(errors) == n0 and isinstance(p, dict):
                key = (p.get("bucket"), p.get("prefix"), p.get("infix"))
                if key in seen:
                    errors.append(f"{loc}.paths: List must be unique")
                seen.add(key)
    _forbid_extra(d, ("endpoint", "paths"), loc, errors)
    return errors


def validate_document_license(d, loc: str = "document_license",
                              errors: Optional[List[str]] = None
                              ) -> List[str]:
    if errors is None:
        errors = []
    if not isinstance(d, dict):
        errors.append(f"{loc}: Input should be an object")
        return errors
    for key in ("code", "text"):
        v = d.get(key, _MISSING)
        if v is _MISSING or v is None:
            continue
        if not isinstance(v, list):
            errors.append(f"{loc}.{key}: Input should be a valid list")
            continue
        for i, item in enumerate(v):
            if not _is_str(item):
                errors.append(f"{loc}.{key}.{i}: Input should be a "
                              "valid string")
    _forbid_extra(d, ("code", "text"), loc, errors)
    return errors


_META_FIELDS = (
    "aliases", "created", "description", "source", "storage",
    "display_name", "type", "classification", "version", "license",
    "filename", "domain", "$ref", "reference", "ccs_s3_data",
    "document_license", "index_key", "project_key",
)


def validate_meta(d, classification=None, domain=None,
                  loc: str = "meta") -> List[str]:
    """Meta[ClassificationT, DomainT] (search/meta.py:45-93).
    ``classification`` / ``domain`` restrict those list fields to a
    closed vocabulary (the Literal type params of the generic model);
    None admits any string. Errors are emitted in field-declaration
    order - the ordering reference test_search_meta.py asserts on."""
    errors: List[str] = []
    if not isinstance(d, dict):
        return [f"{loc}: Input should be an object"]

    _opt_str_list(d, "aliases", loc, errors)
    _datetime_field(d, "created", loc, errors)
    _str_field(d, "description", loc, errors, required=False)
    _str_field(d, "source", loc, errors)
    _str_field(d, "storage", loc, errors, required=False)
    _str_field(d, "display_name", loc, errors, required=False)

    typ = d.get("type", _MISSING)
    if typ is _MISSING or typ is None:
        errors.append(f"{loc}.type: Field required")
        typ = None
    elif typ not in COLLECTION_TYPES:
        errors.append(f"{loc}.type: Input should be 'Generic', "
                      "'Document' or 'Record'")
        typ = None

    cls_vals = _opt_str_list(d, "classification", loc, errors)
    if cls_vals and classification is not None:
        for v in cls_vals:
            if v not in classification:
                errors.append(f"{loc}.classification: Input should "
                              f"be one of {sorted(classification)}")

    version = d.get("version", _MISSING)
    if version is _MISSING or version is None:
        errors.append(f"{loc}.version: Field required")
    elif not isinstance(version, list):
        errors.append(f"{loc}.version: Input should be a valid list")
    else:
        if not version:
            errors.append(f"{loc}.version: List should have at least "
                          "1 item")
        items_ok = True
        seen = set()
        for i, item in enumerate(version):
            n0 = len(errors)
            validate_package(item, f"{loc}.version.{i}", errors)
            if len(errors) != n0:
                items_ok = False
                continue
            key = _package_key(item)
            if key in seen:
                errors.append(f"{loc}.version: List must be unique")
            seen.add(key)
        if items_ok and version:
            # exactly one docling-core entry (meta.py:79-93)
            n_core = sum(1 for item in version
                         if item.get("name", "docling-core")
                         == "docling-core")
            if n_core == 0:
                errors.append(
                    f"{loc}.version: the version should include at "
                    "least a valid docling-core package")
            elif n_core > 1:
                errors.append(
                    f"{loc}.version: the version must not include "
                    "more than 1 docling-core package")

    _str_field(d, "license", loc, errors, required=False)
    _str_field(d, "filename", loc, errors, required=False)

    dom_vals = _opt_str_list(d, "domain", loc, errors)
    if dom_vals and domain is not None:
        for v in dom_vals:
            if v not in domain:
                errors.append(f"{loc}.domain: Input should be one of "
                              f"{sorted(domain)}")

    # $ref (alias of reference; AliasModel also admits the field name)
    ref_key = "$ref" if "$ref" in d else "reference"
    ref = _str_field(d, ref_key, loc, errors, required=False)
    if ref is not None and typ == "Document" and ref != DOCUMENT_REF:
        # reference_for_document (meta.py:66-77); pydantic skips the
        # validator for an absent field (validate_default=False)
        errors.append(f"{loc}.{ref_key}: wrong reference value for "
                      "Document type")

    v = d.get("ccs_s3_data", _MISSING)
    if v is not _MISSING and v is not None:
        validate_s3_ccs_data(v, f"{loc}.ccs_s3_data", errors)
    v = d.get("document_license", _MISSING)
    if v is not _MISSING and v is not None:
        validate_document_license(v, f"{loc}.document_license", errors)
    _str_field(d, "index_key", loc, errors, required=False)
    _str_field(d, "project_key", loc, errors, required=False)

    allowed = set(_META_FIELDS)
    if "$ref" in d:
        allowed.discard("reference")  # both keys at once = one extra
    _forbid_extra(d, allowed, loc, errors)
    return errors


def validate_file_info(d, loc: str = "file_info",
                       errors: Optional[List[str]] = None
                       ) -> List[str]:
    """FileInfoObject (types/base.py:147): AliasModel with
    populate_by_name, extra ignored."""
    if errors is None:
        errors = []
    if not isinstance(d, dict):
        errors.append(f"{loc}: Input should be an object")
        return errors

    def by_alias(alias: str, name: str, required: bool) -> None:
        key = alias if alias in d else name
        _str_field(d, key, loc, errors, required=required)

    by_alias("filename", "filename", required=True)
    by_alias("filename-prov", "fileprov", required=False)
    by_alias("document-hash", "document_hash", required=True)
    return errors


def validate_generic(d, loc: str = "generic") -> List[str]:
    """Generic (types/gen/generic.py:17-33): optional _name, required
    file-info; extra keys are IGNORED (AliasModel default) - the
    reference's test_collection.py accepts a 'custom' payload key."""
    errors: List[str] = []
    if not isinstance(d, dict):
        return [f"{loc}: Input should be an object"]
    name_key = "_name" if "_name" in d else "name"
    _str_field(d, name_key, loc, errors, required=False)
    fi_key = "file-info" if "file-info" in d else "file_info"
    fi = d.get(fi_key, _MISSING)
    if fi is _MISSING or fi is None:
        errors.append(f"{loc}.{fi_key}: Field required")
    else:
        validate_file_info(fi, f"{loc}.{fi_key}", errors)
    return errors


VALIDATORS = {
    "meta": lambda d: validate_meta(d),
    "generic": validate_generic,
    "package": lambda d: validate_package(d),
}


# ----------------------------------------------------------------------
# Deterministic synthesize + corrupt matrix (driver-query feed; the
# single-process oracle replays the identical pure functions)
# ----------------------------------------------------------------------

def synth_search_payload(doc_id: int, text: str) -> tuple:
    """(kind, json_str): a deterministic Meta / Generic / Package
    built from a documents-table row."""
    import json

    words = (text or "").split()[:6]
    name = " ".join(words[:3]) or "corpus item"
    kind = ("meta", "generic", "package")[doc_id % 3]
    if kind == "meta":
        typ = COLLECTION_TYPES[doc_id % len(COLLECTION_TYPES)]
        payload = {
            "aliases": [f"alias-{doc_id}", name.lower()],
            "created": "2024-03-04T05:06:07+00:00",
            "description": name,
            "source": f"corpus://documents/{doc_id}",
            "type": typ,
            "classification": ["Public"],
            "version": [{"name": "docling-core", "version": "2.1.0"},
                        {"name": "engine", "version": "1.0.0"}],
            "domain": ["Science"],
        }
        if typ == "Document":
            payload["$ref"] = DOCUMENT_REF
        if doc_id % 5 == 0:
            payload["ccs_s3_data"] = {
                "endpoint": "store.example.org",
                "paths": [{"bucket": f"b{doc_id}", "prefix": "p",
                           "infix": "i"}],
            }
    elif kind == "generic":
        payload = {
            "_name": name,
            "file-info": {"filename": f"doc_{doc_id}.xml",
                          "filename-prov": f"doc_{doc_id}.zip",
                          "document-hash": f"h{doc_id:016d}"},
        }
    else:
        payload = {"name": "docling-core",
                   "version": f"{doc_id % 3}.{doc_id % 7}.{doc_id % 5}"}
    return kind, json.dumps(payload, sort_keys=True)


def corrupt_search(doc_id: int, kind: str, js: str) -> str:
    """Deterministic corruption matrix: every 4th -> bad semver /
    non-strict string; every 7th -> wrong $ref for Document / missing
    file-info / extra key; every 9th -> duplicate version entries or
    numeric created; every 11th -> truncated JSON."""
    import json

    if doc_id % 11 == 10:
        return js[: max(1, len(js) // 2)]
    d = json.loads(js)
    if doc_id % 4 == 3:
        if kind == "meta":
            d["version"][0]["version"] = "beta"  # not semver
        elif kind == "generic":
            d["_name"] = 42  # strict string
        else:
            d["version"] = "one.two.three"
    elif doc_id % 7 == 6:
        if kind == "meta":
            if d["type"] == "Document":
                d["$ref"] = "cps:schemas#/Record"
            else:
                d["unexpected"] = True  # extra forbid
        elif kind == "generic":
            d.pop("file-info", None)
        else:
            d["extra_field"] = 1
    elif doc_id % 9 == 8:
        if kind == "meta":
            d["version"] = [d["version"][0], dict(d["version"][0])]
            d["created"] = "20240304"  # numeric string
        elif kind == "generic":
            d["file-info"].pop("document-hash", None)
        else:
            d["name"] = None
    return json.dumps(d, sort_keys=True)


def validate_search_df(df, kind_col: str = "kind",
                       json_col: str = "payload"):
    """Search-index sidecar quarantine rows (rectypes.screen_payloads_df
    over this module's VALIDATORS)."""
    return screen_payloads_df(df, VALIDATORS, kind_col, json_col)
