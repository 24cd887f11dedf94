"""E5 element-tree + TB2 dataframe export parity."""

from __future__ import annotations

import warnings

import pytest

from docling_core_spark.corpus import gen_doc_spans
from docling_core_spark.model.doc import K_TABLE
from docling_core_spark.model.otsl import dataframe_like, parse_otsl
from docling_core_spark.model.spans import doc_from_spans
from docling_core_spark.serializers.debug import (
    export_to_element_tree,
    table_dataframe,
)
from tests.refstubs import oracle_fn

build_doc = oracle_fn("build_doc")

warnings.filterwarnings("ignore")


@pytest.mark.parametrize("i", range(30))
def test_element_tree_parity(i):
    spans = gen_doc_spans(i, seed=42)
    ref_doc, _ = build_doc(f"doc_{i}", spans)
    eng = doc_from_spans(f"doc_{i}", [
        (s["kind"], s["text"], s["media_ref"], s["offset"])
        for s in spans])
    exp = ref_doc.export_to_element_tree()
    got = export_to_element_tree(eng)
    assert got == exp


@pytest.mark.parametrize("i", range(30))
def test_dataframe_like_parity(i):
    """TB2: header-count inference + dotted multi-header merge, vs. the
    reference TableItem.export_to_dataframe."""
    spans = gen_doc_spans(i, seed=42)
    ref_doc, _ = build_doc(f"doc_{i}", spans)
    eng = doc_from_spans(f"doc_{i}", [
        (s["kind"], s["text"], s["media_ref"], s["offset"])
        for s in spans])
    eng_tables = [n for n, _ in eng.iterate_items(with_groups=True)
                  if n.kind == K_TABLE]
    ref_tables = list(ref_doc.tables)
    assert len(ref_tables) == len(eng_tables)
    for t_node, ref_t in zip(eng_tables, ref_tables):
        pdf = ref_t.export_to_dataframe(doc=ref_doc)
        cols, rows = table_dataframe(eng, t_node)
        if pdf.empty and not rows:
            continue
        if cols is None:
            assert list(pdf.columns) == list(range(len(rows[0]))) \
                if rows else True
        else:
            assert list(pdf.columns) == cols
        assert [list(r) for r in pdf.itertuples(index=False)] == rows
