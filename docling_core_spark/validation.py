"""Schema-validation surface for docjson ingest (§1.4).

Mirrors the reference's load-time validators - but as a *reporting*
operator instead of a throw, because at 10^12 documents a malformed doc
must become a quarantine row, not a dead executor:

* semver compatibility (``check_version_is_compatible``,
  document.py:5541-5557): same major, doc minor <= SDK minor; the SDK
  version is 1.6.0 (document.py:63), which the engine's serializer
  also emits (serializers/docjson.py VERSION).
* tree consistency (``validate_tree`` document.py:4045-4060 +
  ``validate_document`` document.py:5559-5569): every child ref
  resolves and its parent ref points back; rich table cells' targets
  are children of their table.
* schema-name check (document.py:1957).

``validate_docjson_dict`` returns a list of error strings (empty ==
the reference's pydantic load would pass these checks); the Spark
operator surfaces them as a ``validation_errors`` column.
"""

from __future__ import annotations

import re
from typing import Dict, List, Optional

from pyspark.sql import DataFrame

CURRENT_VERSION = "1.6.0"  # document.py:63

# SemVer 2.0.0 (the standard pattern from semver.org, as used by the
# reference via search/package.py:15)
VERSION_PATTERN = (
    r"^(?P<major>0|[1-9]\d*)\.(?P<minor>0|[1-9]\d*)\.(?P<patch>0|[1-9]\d*)"
    r"(?:-(?P<prerelease>(?:0|[1-9]\d*|\d*[a-zA-Z-][0-9a-zA-Z-]*)"
    r"(?:\.(?:0|[1-9]\d*|\d*[a-zA-Z-][0-9a-zA-Z-]*))*))?(?:\+"
    r"(?P<buildmetadata>[0-9a-zA-Z-]+(?:\.[0-9a-zA-Z-]+)*))?$"
)

SCHEMA_NAME = "DoclingDocument"

_POOL_RE = re.compile(r"^#/(texts|tables|pictures|groups|key_value_items|"
                      r"form_items)/(\d+)$")


def check_version(v: object) -> Optional[str]:
    """None when compatible; else the error message (reference
    semantics: same major, doc minor <= SDK minor)."""
    sdk = re.match(VERSION_PATTERN, CURRENT_VERSION)
    doc = re.match(VERSION_PATTERN, str(v)) if isinstance(v, str) else None
    # NB: the reference compares the regex *group strings* ("10" > "6"
    # is False), so minor must be compared lexicographically to match
    # its accept set exactly (document.py:5547-5551).
    if (doc is None or sdk is None
            or doc["major"] != sdk["major"]
            or doc["minor"] > sdk["minor"]):
        return (f"version: doc version {v!r} incompatible with SDK "
                f"schema version {CURRENT_VERSION}")
    return None


def _ref_str(obj: object) -> str:
    if isinstance(obj, dict):
        return str(obj.get("$ref") or obj.get("cref") or "")
    return ""


def _resolve(doc: dict, ref: str) -> Optional[dict]:
    if ref == "#/body":
        return doc.get("body")
    if ref == "#/furniture":
        return doc.get("furniture")
    m = _POOL_RE.match(ref)
    if not m:
        return None
    pool = doc.get(m.group(1))
    idx = int(m.group(2))
    if not isinstance(pool, list) or idx >= len(pool):
        return None
    return pool[idx]


def _self_ref_of(doc: dict, item: dict) -> str:
    return str(item.get("self_ref", "?"))


def _validate_tree(doc: dict, root: dict, errors: List[str],
                   seen: set) -> None:
    """validate_tree (document.py:4045-4060) over the raw dict: child
    refs resolve, children's parent refs point back, rich table cells'
    targets are parented by the table. ``seen`` guards ref cycles
    (the pydantic model cannot even represent one; raw JSON can).
    Iterative pre-order walk — a deep ref chain in flat JSON must not
    blow the Python recursion limit and escape the quarantine wrapper
    (same hazard the traversal avoids, model/doc.py:186)."""
    stack = [root]
    while stack:
        node = stack.pop()
        root_ref = _self_ref_of(doc, node)
        if root_ref in seen:
            errors.append(f"tree: cycle through {root_ref}")
            continue
        seen.add(root_ref)
        pending: List[dict] = []
        for child_ref_obj in node.get("children") or []:
            ref = _ref_str(child_ref_obj)
            child = _resolve(doc, ref)
            if child is None:
                errors.append(f"tree: unresolvable child ref {ref!r} "
                              f"under {root_ref}")
                continue
            parent_ref = _ref_str(child.get("parent"))
            if parent_ref != root_ref:
                errors.append(
                    f"tree: {ref} parent points at {parent_ref!r}, "
                    f"expected {root_ref}")
                continue
            pending.append(child)
        stack.extend(reversed(pending))  # preserve pre-order
        data = node.get("data")
        if isinstance(data, dict):
            for cell in data.get("table_cells") or []:
                cell_ref = (cell or {}).get("ref")
                if cell_ref is None:
                    continue  # plain TableCell
                target = _resolve(doc, _ref_str(cell_ref))
                if (target is None
                        or _ref_str(target.get("parent")) != root_ref):
                    errors.append(
                        f"tree: rich cell ref {_ref_str(cell_ref)!r} of "
                        f"{root_ref} is not a child of the table")


def validate_docjson_dict(doc: dict) -> List[str]:
    """All load-time validation errors for one docjson dict ([] ==
    passes the reference's version/schema/tree validators)."""
    errors: List[str] = []
    name = doc.get("schema_name")
    if name != SCHEMA_NAME:
        errors.append(f"schema: schema_name {name!r} != '{SCHEMA_NAME}'")
    v_err = check_version(doc.get("version"))
    if v_err:
        errors.append(v_err)
    body = doc.get("body")
    if isinstance(body, dict):
        _validate_tree(doc, body, errors, set())
    else:
        errors.append("schema: missing body tree")
    furniture = doc.get("furniture")
    if isinstance(furniture, dict):
        _validate_tree(doc, furniture, errors, set())
    return errors


# ----------------------------------------------------------------------
# Spark operator
# ----------------------------------------------------------------------

def _payload_errors(payload: str) -> List[str]:
    """Validation errors for one raw docjson payload string (the
    per-doc unit both the staged and fused Spark operators share)."""
    import json as _json

    try:
        doc = _json.loads(payload or "")
        return (validate_docjson_dict(doc) if isinstance(doc, dict)
                else ["schema: not a JSON object"])
    except ValueError as exc:
        return [f"json: {exc}"]


_VALIDATION_SCHEMA = ("doc_id string, is_valid boolean, n_errors int, "
                      "errors string")


def _validation_row(doc_id: str, payload: str) -> list:
    es = _payload_errors(payload)
    return [(doc_id, not es, len(es), "; ".join(es))]


def validate_docjson(df: DataFrame, json_col: str = "doc_json"
                     ) -> DataFrame:
    """(doc_id, doc_json) -> (doc_id, is_valid, n_errors, errors):
    quarantine-friendly validation rows, one fused Arrow stage."""
    from docling_core_spark.engine import map_rows

    return map_rows(df, ("doc_id", json_col), _VALIDATION_SCHEMA,
                    lambda: _validation_row)


def corrupt_docjson_df(df: DataFrame, json_col: str = "doc_json"
                       ) -> DataFrame:
    """Deterministic corruption stage for validation tests/benchmarks
    (see corrupt_docjson)."""
    from docling_core_spark.engine import map_rows

    def row(d, p):
        return [(d, corrupt_docjson(d, p or ""))]

    return map_rows(df, ("doc_id", json_col),
                    f"doc_id string, {json_col} string", lambda: row)


def export_corrupt_validate(docs: DataFrame) -> DataFrame:
    """export_documents(fmt='json') >> corrupt_docjson_df >>
    validate_docjson fused into ONE Arrow stage over spans.

    The staged chain is semantically identical but ships every
    full-document JSON payload across the Python<->JVM Arrow boundary
    four extra times (py->JVM after export, JVM->py->JVM around the
    corruption stage, JVM->py into validation); the payloads are the
    bulk of the bytes, and all three stages are narrow, so the fusion
    is pure crossing elimination. Per-doc units
    (export_to_docjson_str, corrupt_docjson, _payload_errors) are
    byte-identical to the staged path — pinned by
    test_fused_export_corrupt_validate_matches_chained."""
    from docling_core_spark.engine import map_rows

    def task():
        from docling_core_spark.model.spans import doc_from_spans
        from docling_core_spark.serializers.docjson import (
            export_to_docjson_str,
        )

        def row(doc_id, tuples):
            js = export_to_docjson_str(doc_from_spans(doc_id, tuples))
            return _validation_row(doc_id, corrupt_docjson(doc_id, js))
        return row

    return map_rows(docs, ("doc_id", "spans"), _VALIDATION_SCHEMA, task)


# deterministic corruption for the validation query's test input: a
# pure function of (doc_id, json) both sides replicate
def corrupt_docjson(doc_id: str, js: str) -> str:
    """Every 5th doc: bump the major version (incompatible); every 7th:
    retarget the first body child's parent (tree inconsistency); every
    11th: truncate the payload (JSON error). Indices from the numeric
    doc suffix so Spark and the oracle agree."""
    import json as _json

    try:
        idx = int(re.sub(r"\D", "", doc_id) or 0)
    except ValueError:
        idx = 0
    if idx % 11 == 10:
        return js[: max(1, len(js) // 2)]
    if idx % 5 == 4:
        doc = _json.loads(js)
        doc["version"] = "99.0.0"
        return _json.dumps(doc, ensure_ascii=False)
    if idx % 7 == 6:
        doc = _json.loads(js)
        kids = (doc.get("body") or {}).get("children") or []
        for k in kids:
            target = _resolve(doc, k.get("$ref", ""))
            if target is not None:
                # any ref != "#/body" breaks the back-pointer invariant
                target["parent"] = {"$ref": "#/texts/0"}
                return _json.dumps(doc, ensure_ascii=False)
    return js
