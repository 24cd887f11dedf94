"""Randomized reference parity: corpus documents from ARBITRARY
(seed, index) pairs - not just the pinned seed-42 sample - must render
and chunk identically to the live reference library. Broadens the
parity surface by orders of magnitude across hypothesis runs."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from docling_core_spark.chunking.hierarchical import hierarchical_chunk
from docling_core_spark.corpus import gen_doc_spans
from docling_core_spark.model.spans import doc_from_spans
from docling_core_spark.serializers.doctags import export_to_doctags
from docling_core_spark.serializers.html import export_to_html
from docling_core_spark.serializers.markdown import export_to_markdown
from tests.refstubs import oracle_fn

build_doc = oracle_fn("build_doc")
reference_hierarchical_chunks = oracle_fn("reference_hierarchical_chunks")
reference_hybrid_chunks = oracle_fn("reference_hybrid_chunks")


@given(st.integers(min_value=0, max_value=2**31 - 1),
       st.integers(min_value=0, max_value=10**6))
@settings(max_examples=40, deadline=None)
def test_random_corpus_doc_full_parity(seed, idx):
    spans = gen_doc_spans(idx, seed=seed)
    tup = [(s["kind"], s["text"], s["media_ref"], s["offset"])
           for s in spans]
    eng = doc_from_spans("d", tup)
    ref, ref_map = build_doc("d", spans)

    assert export_to_markdown(eng) == ref.export_to_markdown()
    assert export_to_html(eng) == ref.export_to_html()
    assert export_to_doctags(eng) == ref.export_to_doctags()

    got = [(c.text, c.headings, c.offsets)
           for c in hierarchical_chunk(eng)]
    exp = list(reference_hierarchical_chunks(ref, ref_map))
    assert got == exp


@given(st.integers(min_value=0, max_value=2**31 - 1),
       st.integers(min_value=0, max_value=10**6),
       st.sampled_from([16, 64, 256]))
@settings(max_examples=25, deadline=None)
def test_random_corpus_doc_hybrid_parity(seed, idx, max_tokens):
    from docling_core_spark.chunking.hybrid import hybrid_chunk
    from docling_core_spark.chunking.tokenizer import RegexTokenizer

    spans = gen_doc_spans(idx, seed=seed)
    tup = [(s["kind"], s["text"], s["media_ref"], s["offset"])
           for s in spans]
    eng = doc_from_spans("d", tup)
    ref, ref_map = build_doc("d", spans)
    got = [(c.text, c.headings, c.offsets)
           for c in hybrid_chunk(eng, tokenizer=RegexTokenizer(max_tokens))]
    exp = list(reference_hybrid_chunks(ref, ref_map,
                                       max_tokens=max_tokens))
    assert got == exp
