"""§1.4 validation surface: engine validator verdicts match the live
reference's load-time validators on the same documents."""

from __future__ import annotations

import json

import pytest

from docling_core_spark.corpus import gen_doc_spans
from docling_core_spark.model.spans import doc_from_spans
from docling_core_spark.serializers.docjson import export_to_docjson_str
from docling_core_spark.validation import (
    check_version,
    corrupt_docjson,
    validate_docjson_dict,
)


def _doc_json(i: int) -> str:
    spans = gen_doc_spans(i, seed=42)
    doc = doc_from_spans(f"doc_{i:012d}",
                         [(s["kind"], s["text"], s["media_ref"],
                           s["offset"]) for s in spans])
    return export_to_docjson_str(doc)


def _ref_accepts(js: dict) -> bool:
    from tests.refstubs import reference

    reference()
    from docling_core.types.doc.document import DoclingDocument

    try:
        DoclingDocument.model_validate(js)
        return True
    except Exception:
        return False


def test_valid_corpus_docs_pass_both():
    for i in range(20):
        js = json.loads(_doc_json(i))
        assert validate_docjson_dict(js) == []
        assert _ref_accepts(js)


@pytest.mark.parametrize("version,ok", [
    ("1.6.0", True), ("1.5.2", True), ("1.0.0", True),
    ("1.7.0", False),   # newer minor than SDK
    ("2.0.0", False),   # different major
    ("0.9.0", False),   # different major
    ("abc", False), (None, False), ("1.6", False),
    # the reference compares the regex minor groups as STRINGS
    # (document.py:5551): '10' < '6' lexicographically, so 1.10.0 is
    # accepted while 1.60.0 ('60' > '6') is rejected
    ("1.10.0", True), ("1.59.0", True), ("1.60.0", False),
])
def test_version_rule_matches_reference(version, ok):
    assert (check_version(version) is None) == ok
    # the live reference agrees wherever its pydantic can represent it
    js = json.loads(_doc_json(0))
    js["version"] = version
    if isinstance(version, str):
        assert _ref_accepts(js) == ok


def test_broken_parent_ref_fails_both():
    js = json.loads(_doc_json(3))
    child_ref = js["body"]["children"][0]["$ref"]
    pool, idx = child_ref.split("/")[1:]
    js[pool][int(idx)]["parent"] = {"$ref": "#/texts/1"
                                   if child_ref != "#/texts/1"
                                   else "#/texts/2"}
    errs = validate_docjson_dict(js)
    assert any(e.startswith("tree:") for e in errs)
    assert not _ref_accepts(js)


def test_unresolvable_child_ref_flagged():
    js = json.loads(_doc_json(3))
    js["body"]["children"].append({"$ref": "#/texts/999999"})
    errs = validate_docjson_dict(js)
    assert any("unresolvable" in e for e in errs)
    assert not _ref_accepts(js)


def test_bad_schema_name_flagged():
    js = json.loads(_doc_json(0))
    js["schema_name"] = "SomethingElse"
    assert any(e.startswith("schema:") for e in validate_docjson_dict(js))
    assert not _ref_accepts(js)


def test_rich_cell_orphan_flagged():
    """validate_tree's RichTableCell branch (document.py:4052-4058):
    a rich cell whose target is not a child of the table."""
    # find a doc with a rich table (corpus emits <rich_0> cells)
    for i in range(200):
        js = json.loads(_doc_json(i))
        hit = None
        for t in js.get("tables", []):
            for cell in t["data"]["table_cells"]:
                if "ref" in cell:
                    hit = (t, cell)
                    break
            if hit:
                break
        if not hit:
            continue
        t, cell = hit
        cell["ref"] = {"$ref": js["body"]["children"][0]["$ref"]}
        if cell["ref"]["$ref"].startswith("#/tables"):
            continue  # degenerate: first child is the table itself
        errs = validate_docjson_dict(js)
        assert any("rich cell" in e for e in errs), errs
        return
    pytest.skip("no rich table in first 200 docs")


def test_cycle_guard_total():
    """Raw JSON can express a parent/child cycle the pydantic model
    cannot; the validator must terminate and flag it."""
    js = json.loads(_doc_json(0))
    first = js["body"]["children"][0]["$ref"]
    pool, idx = first.split("/")[1:]
    item = js[pool][int(idx)]
    item["children"] = [{"$ref": first}]  # self-cycle
    item["parent"] = {"$ref": first}
    errs = validate_docjson_dict(js)
    assert errs  # flagged, did not hang


def test_deep_ref_chain_no_recursion_error():
    """A flat-JSON doc whose refs chain thousands deep must validate
    (or quarantine) without blowing the recursion limit — a
    RecursionError here would escape the quarantine wrapper and kill
    the Spark task."""
    n = 5000
    texts = []
    for i in range(n):
        texts.append({
            "self_ref": f"#/texts/{i}",
            "parent": ({"$ref": "#/body"} if i == 0
                       else {"$ref": f"#/texts/{i - 1}"}),
            "children": ([{"$ref": f"#/texts/{i + 1}"}]
                         if i + 1 < n else []),
            "label": "text", "orig": "x", "text": "x",
        })
    js = {
        "schema_name": "DoclingDocument", "version": "1.6.0",
        "name": "deep",
        "body": {"self_ref": "#/body", "children": [{"$ref": "#/texts/0"}],
                 "content_layer": "body", "name": "_root_",
                 "label": "unspecified"},
        "furniture": {"self_ref": "#/furniture", "children": [],
                      "content_layer": "furniture", "name": "_root_",
                      "label": "unspecified"},
        "groups": [], "texts": texts, "pictures": [], "tables": [],
        "key_value_items": [], "form_items": [], "pages": {},
    }
    assert validate_docjson_dict(js) == []


def test_corruption_split_deterministic():
    kinds = {"valid": 0, "version": 0, "tree": 0, "json": 0}
    for i in range(120):
        doc_id = f"doc_{i:012d}"
        payload = corrupt_docjson(doc_id, _doc_json(i))
        try:
            js = json.loads(payload)
            errs = validate_docjson_dict(js)
        except ValueError:
            kinds["json"] += 1
            continue
        if not errs:
            kinds["valid"] += 1
        elif any(e.startswith("version") for e in errs):
            kinds["version"] += 1
        else:
            kinds["tree"] += 1
    assert kinds["valid"] > 0 and kinds["version"] > 0
    assert kinds["tree"] > 0 and kinds["json"] > 0


def test_spark_validation_matches_oracle(spark):
    import pandas as pd

    from docling_core_spark.engine import export_documents, synth_documents
    from docling_core_spark.pyoracle import _rows_docjson_validation
    from docling_core_spark.validation import (
        corrupt_docjson_df,
        validate_docjson,
    )

    docs = synth_documents(spark, 40, seed=42)
    js = (export_documents(docs, fmt="json")
          .withColumnRenamed("text", "doc_json"))
    got = (validate_docjson(corrupt_docjson_df(js))
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    want = (pd.DataFrame(_rows_docjson_validation(40))
            .sort_values("doc_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(
        got.astype({"n_errors": "int64"}),
        want.astype({"n_errors": "int64"}))


def test_fused_export_corrupt_validate_matches_chained(spark):
    """export_corrupt_validate (one Arrow stage) must emit the exact
    rows of the staged export >> corrupt >> validate chain."""
    import pandas as pd

    from docling_core_spark.engine import export_documents, synth_documents
    from docling_core_spark.validation import (
        corrupt_docjson_df,
        export_corrupt_validate,
        validate_docjson,
    )

    docs = synth_documents(spark, 40, seed=42)
    js = (export_documents(docs, fmt="json")
          .withColumnRenamed("text", "doc_json"))
    chained = (validate_docjson(corrupt_docjson_df(js))
               .toPandas().sort_values("doc_id").reset_index(drop=True))
    fused = (export_corrupt_validate(docs)
             .toPandas().sort_values("doc_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(fused, chained)
