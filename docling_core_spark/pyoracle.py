"""Single-process oracle materializer for the document-engine queries.

The driver's correctness gate runs each Spark query AND a DuckDB SQL
oracle side-by-side. The document pipeline (tree reconstruction +
chunking + serialization) is not SQL-expressible, so its oracle is
*materialized*: this module recomputes the expected rows with the SAME
pure-Python per-document functions the Spark UDFs call - but running
single-process on the driver, straight off the deterministic corpus
generator - and writes them as parquet. The DuckDB oracle then becomes
``SELECT ... FROM read_parquet(...)``, which turns the driver check
into a *distributed-vs-single-process equivalence test*: Spark's
partitioning, Arrow boundaries, and UDF fusion must reproduce the
sequential result bit-for-bit.

Those per-document functions are themselves parity-locked to the live
reference library by the pytest suites (tests/test_chunk_parity.py,
tests/test_export_parity.py, ...), so transitively the driver signal
asserts engine == reference.

Canonical scalar projection: the driver's canonicalizer sorts + hashes
pandas cells, which requires hashable scalars - array columns
(headings, span_refs) are therefore projected to strings with the SAME
join convention on both sides (see HEADINGS_SEP / join_refs).
"""

from __future__ import annotations

import os
from typing import Dict, List, Optional, Tuple

from docling_core_spark.io.materialize import (
    materialize_table,
    scratch_path,
    source_key,
)

# bump when any expected-row computation here changes shape/semantics
ORACLE_VERSION = 12  # expectations are committed directories

# headings are free text; \x1f (ASCII unit separator) never appears in
# the corpus and both sides apply the identical join, so equality of
# the joined string == equality of the array
HEADINGS_SEP = "\x1f"


def join_headings(headings: Optional[List[str]]) -> str:
    return HEADINGS_SEP.join(headings) if headings else ""


def join_refs(offsets: List[int]) -> str:
    return ",".join(str(o) for o in offsets)


def join_origin(origin: Optional[dict]) -> str:
    """Same convention as the Spark side's concat_ws over the origin
    struct fields (queries._canon_chunks)."""
    if not origin:
        return ""
    return HEADINGS_SEP.join([origin["mimetype"],
                              str(origin["binary_hash"]),
                              origin["filename"]])


# ----------------------------------------------------------------------
# corpus + per-doc pipeline (memoized per process)
# ----------------------------------------------------------------------

_CORPUS_CACHE: Dict[int, list] = {}
_DOCS_CACHE: Dict[int, list] = {}


def _corpus_rows(n_docs: int) -> list:
    if n_docs not in _CORPUS_CACHE:
        from docling_core_spark.corpus import gen_corpus

        _CORPUS_CACHE[n_docs] = gen_corpus(n_docs, seed=42)
    return _CORPUS_CACHE[n_docs]


def _tuples(spans: List[dict]) -> List[Tuple[str, str, str, int]]:
    return [(s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in spans]


def _docs(n_docs: int) -> list:
    """[(doc_id, Doc)] for the corpus - reused across queries."""
    if n_docs not in _DOCS_CACHE:
        from docling_core_spark.model.spans import doc_from_spans

        _DOCS_CACHE[n_docs] = [
            (r["doc_id"], doc_from_spans(r["doc_id"], _tuples(r["spans"])))
            for r in _corpus_rows(n_docs)]
    return _DOCS_CACHE[n_docs]


def _chunk_rows(doc_chunks) -> list:
    """[(doc_id, origin, chunks)] -> canonical chunk rows."""
    rows = []
    for doc_id, origin, chunks in doc_chunks:
        ostr = join_origin(origin)
        for ci, c in enumerate(chunks):
            rows.append({
                "doc_id": doc_id, "chunk_idx": ci, "text": c.text,
                "headings_str": join_headings(c.headings),
                "span_refs_str": join_refs(c.offsets),
                "origin_str": ostr,
            })
    return rows


def _hybrid(doc):
    from docling_core_spark.chunking.hybrid import hybrid_chunk
    from docling_core_spark.chunking.tokenizer import RegexTokenizer

    return hybrid_chunk(doc, tokenizer=RegexTokenizer(64),
                        merge_peers=True)


def _hier(doc):
    from docling_core_spark.chunking.hierarchical import hierarchical_chunk

    return hierarchical_chunk(doc)


# ----------------------------------------------------------------------
# expected-row computations, one per engine query
# ----------------------------------------------------------------------

def _rows_chunks_hybrid(n: int) -> list:
    return _chunk_rows((d, doc.origin, _hybrid(doc))
                       for d, doc in _docs(n))


def _rows_chunks_hierarchical(n: int) -> list:
    return _chunk_rows((d, doc.origin, _hier(doc))
                       for d, doc in _docs(n))


def _rows_chunks_page(n: int) -> list:
    from docling_core_spark.chunking.page import page_chunk

    return _chunk_rows((d, doc.origin, page_chunk(doc))
                       for d, doc in _docs(n))


def _rows_chunks_contextualized(n: int) -> list:
    from docling_core_spark.chunking.hierarchical import contextualize

    rows = []
    for doc_id, doc in _docs(n):
        ostr = join_origin(doc.origin)
        for ci, c in enumerate(_hybrid(doc)):
            rows.append({
                "doc_id": doc_id, "chunk_idx": ci, "text": c.text,
                "headings_str": join_headings(c.headings),
                "span_refs_str": join_refs(c.offsets),
                "origin_str": ostr,
                "contextualized": contextualize(c),
            })
    return rows


def _export_rows(n: int, fmt: str) -> list:
    from docling_core_spark.serializers.docjson import export_to_docjson_str
    from docling_core_spark.serializers.doctags import export_to_doctags
    from docling_core_spark.serializers.html import export_to_html
    from docling_core_spark.serializers.markdown import (
        export_to_markdown,
        export_to_text,
    )

    fn = {"md": export_to_markdown, "txt": export_to_text,
          "dt": export_to_doctags, "html": export_to_html,
          "json": export_to_docjson_str}[fmt]
    return [{"doc_id": d, "fmt": fmt, "text": fn(doc)}
            for d, doc in _docs(n)]


def _rows_export_markdown(n: int) -> list:
    return _export_rows(n, "md")


def _rows_export_doctags(n: int) -> list:
    return _export_rows(n, "dt")


def _rows_export_html(n: int) -> list:
    return _export_rows(n, "html")


def _rows_parse_doctags(n: int) -> list:
    from docling_core_spark.model.spans import doc_from_spans
    from docling_core_spark.serializers.doctags import export_to_doctags
    from docling_core_spark.sources.doctags import doctags_to_spans

    out = []
    for doc_id, doc in _docs(n):
        spans = doctags_to_spans(export_to_doctags(doc))
        doc2 = doc_from_spans(doc_id, _tuples(spans))
        out.append((doc_id, doc2.origin, _hier(doc2)))
    return _chunk_rows(out)


def _rows_parse_docjson(n: int) -> list:
    from docling_core_spark.model.spans import doc_from_spans
    from docling_core_spark.serializers.docjson import export_to_docjson_str
    from docling_core_spark.sources.docjson import docjson_to_spans

    out = []
    for doc_id, doc in _docs(n):
        spans = docjson_to_spans(export_to_docjson_str(doc))
        doc2 = doc_from_spans(doc_id, _tuples(spans))
        out.append((doc_id, doc2.origin, _hier(doc2)))
    return _chunk_rows(out)


def _rows_html_extract(n: int) -> list:
    """Expected extraction output = the HTML projection of the source
    spans (extraction/projection.py), computed WITHOUT running the
    renderer or extractor - the driver check therefore cross-validates
    two fully independent code paths (Spark: render->DOM parse->
    boilerplate strip->emit; here: direct span normalization)."""
    from docling_core_spark.extraction.projection import project_for_html

    out = []
    for r in _corpus_rows(n):
        for row in project_for_html(r["spans"]):
            out.append({"doc_id": r["doc_id"], "ord": row["offset"],
                        "kind": row["kind"], "text": row["text"],
                        "media_ref": row["media_ref"]})
    return out


def _rows_html_page_stats(n: int) -> list:
    """Single-process render+extract per page (distributed-vs-
    sequential equivalence for the boilerplate accounting)."""
    from docling_core_spark.extraction.extract import extract_spans
    from docling_core_spark.extraction.render import render_page_html

    out = []
    for r in _corpus_rows(n):
        html = render_page_html(r["doc_id"], r["spans"])
        _, st = extract_spans(html)
        ratio = (st["content_chars"] / st["page_chars"]
                 if st["page_chars"] else 0.0)
        out.append({"doc_id": r["doc_id"],
                    "page_chars": st["page_chars"],
                    "content_chars": st["content_chars"],
                    "n_dropped": st["n_dropped"],
                    "main_found": st["main_found"],
                    "content_ratio": round(ratio, 6)})
    return out


def _rows_layout_extract(n: int) -> list:
    """Expected PDF/layout-parse output = the layout projection of the
    source spans (extraction/layout.py:project_for_layout), computed
    WITHOUT running the printer or the geometry parser - independent
    code paths, same architecture as _rows_html_extract."""
    from docling_core_spark.extraction.layout import project_for_layout

    out = []
    for r in _corpus_rows(n):
        for row in project_for_layout(r["spans"]):
            out.append({"doc_id": r["doc_id"], "ord": row["offset"],
                        "kind": row["kind"], "text": row["text"],
                        "media_ref": row["media_ref"]})
    return out


def _rows_layout_page_stats(n: int) -> list:
    """Single-process print+parse per doc (distributed-vs-sequential
    equivalence for the layout accounting)."""
    from docling_core_spark.extraction.layout import (
        extract_layout_pages,
        render_layout_pages,
    )

    out = []
    for r in _corpus_rows(n):
        _rows, st = extract_layout_pages(render_layout_pages(r["spans"]))
        row = {"doc_id": r["doc_id"]}
        row.update(st)
        out.append(row)
    return out


def _rows_export_legacy(n: int) -> list:
    import json as _json

    from docling_core_spark.legacy import spans_to_legacy

    out = []
    for r in _corpus_rows(n):
        out.append({"doc_id": r["doc_id"], "fmt": "legacy",
                    "text": _json.dumps(
                        spans_to_legacy(r["doc_id"],
                                        _tuples(r["spans"])),
                        ensure_ascii=False, sort_keys=True)})
    return out


def _rows_legacy_roundtrip(n: int) -> list:
    import json as _json

    from docling_core_spark.legacy import legacy_to_spans, spans_to_legacy

    out = []
    for r in _corpus_rows(n):
        legacy = _json.loads(_json.dumps(
            spans_to_legacy(r["doc_id"], _tuples(r["spans"])),
            ensure_ascii=False))
        _, back = legacy_to_spans(legacy)
        for row in back:
            out.append({"doc_id": r["doc_id"], "ord": row["offset"],
                        "kind": row["kind"], "text": row["text"],
                        "media_ref": row["media_ref"]})
    return out


def _span_rows(doc_id: str, tuples) -> list:
    return [{"doc_id": doc_id, "ord": o, "kind": k, "text": t,
             "media_ref": m} for k, t, m, o in tuples]


def _rows_splice_replace(n: int) -> list:
    """M6 driver oracle: the SAME pure splice the Spark UDF calls
    (docops.py_splice_spans, parity-locked in tests/test_splice.py),
    run single-process over the generator corpus."""
    from docling_core_spark.docops import (
        SPLICE_REPLACE_KINDS,
        SPLICE_SENTINEL_SPANS,
        py_splice_spans,
    )

    out = []
    for r in _corpus_rows(n):
        res = py_splice_spans(_tuples(r["spans"]), SPLICE_REPLACE_KINDS,
                              SPLICE_SENTINEL_SPANS, replace=True)
        out.extend(_span_rows(r["doc_id"], res))
    return out


def _rows_delete_range(n: int) -> list:
    """M7 deletion-half driver oracle (delete_items_range, reference
    document.py:3764-3812): the same pure range delete the Spark SQL
    folds implement (docops.py delete_spans_range), single-process.
    Docs whose anchors do not resolve - or where the end anchor
    precedes the start - pass through the skip filter on the Spark
    side and are skipped here the same way."""
    from docling_core_spark.docops import (
        DELETE_RANGE_END,
        DELETE_RANGE_START,
        py_delete_spans_range,
    )

    out = []
    for r in _corpus_rows(n):
        try:
            res = py_delete_spans_range(
                _tuples(r["spans"]), DELETE_RANGE_START,
                DELETE_RANGE_END, start_inclusive=True,
                end_inclusive=False)
        except ValueError:
            continue
        out.extend(_span_rows(r["doc_id"], res))
    return out


def _rows_append_child(n: int) -> list:
    """append_child_item driver oracle (reference document.py:
    2007-2031): the same pure append the Spark SQL folds implement
    (docops.py_append_child_span), single-process; parent semantics
    parity-locked to the live reference in tests/test_append_child.py."""
    from docling_core_spark.docops import (
        APPEND_CHILD_KINDS,
        APPEND_CHILD_SPAN,
        py_append_child_span,
    )

    out = []
    for r in _corpus_rows(n):
        res = py_append_child_span(_tuples(r["spans"]),
                                   APPEND_CHILD_KINDS,
                                   APPEND_CHILD_SPAN)
        out.extend(_span_rows(r["doc_id"], res))
    return out


def _rows_splice_graft(n: int) -> list:
    """M4+M8 driver oracle: ring-neighbour graft, single-process."""
    from docling_core_spark.docops import (
        SPLICE_GRAFT_KINDS,
        graft_body,
        py_splice_spans,
    )

    rows = _corpus_rows(n)
    out = []
    for i, r in enumerate(rows):
        partner = rows[(i + 1) % n]
        res = py_splice_spans(
            _tuples(r["spans"]), SPLICE_GRAFT_KINDS,
            graft_body(_tuples(partner["spans"])))
        out.extend(_span_rows(r["doc_id"], res))
    return out


def _rows_docjson_validation(n: int) -> list:
    """Single-process replica of export -> deterministic corruption ->
    validate (validation.py)."""
    import json as _json

    from docling_core_spark.serializers.docjson import export_to_docjson_str
    from docling_core_spark.validation import (
        corrupt_docjson,
        validate_docjson_dict,
    )

    out = []
    for doc_id, doc in _docs(n):
        payload = corrupt_docjson(doc_id, export_to_docjson_str(doc))
        try:
            parsed = _json.loads(payload)
            errs = (validate_docjson_dict(parsed)
                    if isinstance(parsed, dict)
                    else ["schema: not a JSON object"])
        except ValueError as exc:
            errs = [f"json: {exc}"]
        out.append({"doc_id": doc_id, "is_valid": not errs,
                    "n_errors": len(errs), "errors": "; ".join(errs)})
    return out


_VIZ_COLS = [("doc_id", "string"), ("page_no", "int32"),
             ("seq", "int32"), ("op", "string"), ("coords", "string"),
             ("fill", "string"), ("outline", "string"),
             ("width", "int32"), ("text", "string")]


def _rows_viz_layout(n: int) -> list:
    from docling_core_spark.visualize import layout_draw_rows

    out = []
    for r in _corpus_rows(n):
        out.extend(layout_draw_rows(r["doc_id"], r["spans"]))
    return out


def _rows_viz_reading_order(n: int) -> list:
    from docling_core_spark.visualize import reading_order_rows

    out = []
    for r in _corpus_rows(n):
        out.extend(reading_order_rows(r["doc_id"], r["spans"],
                                      show_branch_numbering=True))
    return out


def _rows_viz_tables(n: int) -> list:
    from docling_core_spark.visualize import table_viz_rows

    out = []
    for r in _corpus_rows(n):
        out.extend(table_viz_rows(r["doc_id"], r["spans"]))
    return out


def _rows_viz_key_values(n: int) -> list:
    from docling_core_spark.visualize import kv_viz_rows

    out = []
    for r in _corpus_rows(n):
        out.extend(kv_viz_rows(r["doc_id"], r["spans"]))
    return out


def _rows_rehome_embed(n: int) -> list:
    """Single-process replica of attach -> embed (rehome.py): per-
    picture ImageRef witnesses after embedding."""
    from docling_core_spark.mediaops import _payload_for
    from docling_core_spark.rehome import (
        attach_file_images,
        embed_spans,
        image_ref_rows_py,
    )

    out = []
    for r in _corpus_rows(n):
        spans = attach_file_images(r["spans"])
        refs = {s["media_ref"] for s in spans
                if s["media_ref"] and s["kind"].split(":", 1)[0]
                in ("picture", "chart")}
        spans = embed_spans(spans, {m: _payload_for(m) for m in refs})
        out.extend(image_ref_rows_py(r["doc_id"], spans))
    return out


def _rows_rehome_refs(n: int) -> list:
    """attach -> embed -> reference round trip witnesses."""
    from docling_core_spark.mediaops import _payload_for
    from docling_core_spark.rehome import (
        attach_file_images,
        embed_spans,
        image_ref_rows_py,
        reference_spans,
    )

    out = []
    for r in _corpus_rows(n):
        spans = attach_file_images(r["spans"])
        refs = {s["media_ref"] for s in spans
                if s["media_ref"] and s["kind"].split(":", 1)[0]
                in ("picture", "chart")}
        spans = embed_spans(spans, {m: _payload_for(m) for m in refs})
        spans, _ = reference_spans(spans, "artifacts")
        out.extend(image_ref_rows_py(r["doc_id"], spans))
    return out


def concat_group(doc_id: str, n_groups: int) -> int:
    """Deterministic concat grouping shared by the Spark query and this
    materializer: modulo over the numeric doc index (doc_id is
    'doc_%012d')."""
    return int(doc_id[4:]) % n_groups


def _rows_concat_chunks(n: int) -> list:
    """Python replica of docops.concatenate_documents (offset/page
    prefix-sum shifts + boundary page breaks) feeding the hierarchical
    chunker - must mirror docops._SHIFTED/_WITH_BOUNDARY_BREAK."""
    from collections import defaultdict

    from docling_core_spark.model.spans import doc_from_spans

    n_groups = max(5, n // 10)
    groups = defaultdict(list)
    for r in _corpus_rows(n):
        groups[concat_group(r["doc_id"], n_groups)].append(r)

    out = []
    for g in sorted(groups):
        docs = sorted(groups[g], key=lambda r: r["doc_id"])
        base_off = 0
        base_page = 0
        merged: List[Tuple[str, str, str, int]] = []
        for seq, r in enumerate(docs, 1):
            spans = sorted(r["spans"], key=lambda s: s["offset"])
            if seq > 1:
                merged.append((f"page_break:{base_page + 1}", "", "",
                               base_off))
            bump = 1 if seq > 1 else 0
            maxp = 1
            for s in spans:
                kind = s["kind"]
                if kind.startswith("page_break:"):
                    p = int(kind.split(":")[1])
                    maxp = max(maxp, p)
                    kind = f"page_break:{p + base_page}"
                merged.append((kind, s["text"], s["media_ref"],
                               s["offset"] + base_off + bump))
            base_off += len(spans) + 1
            base_page += maxp
        doc_id = " + ".join(r["doc_id"] for r in docs)
        mdoc = doc_from_spans(doc_id, merged)
        out.append((doc_id, mdoc.origin, _hier(mdoc)))
    return _chunk_rows(out)


def _rows_extract_range_chunks(n: int, start: int = 2, stop: int = 30
                               ) -> list:
    from docling_core_spark.model.spans import doc_from_spans

    out = []
    for r in _corpus_rows(n):
        kept = [(s["kind"], s["text"], s["media_ref"], s["offset"] - start)
                for s in r["spans"] if start <= s["offset"] < stop]
        if not kept:
            continue
        rdoc = doc_from_spans(r["doc_id"], kept)
        out.append((r["doc_id"], rdoc.origin, _hier(rdoc)))
    return _chunk_rows(out)


# ----------------------------------------------------------------------
# parquet materialization + oracle SQL
# ----------------------------------------------------------------------

_CHUNK_COLS = [("doc_id", "string"), ("chunk_idx", "int32"),
               ("text", "string"), ("headings_str", "string"),
               ("span_refs_str", "string"), ("origin_str", "string")]

_SPECS: Dict[str, tuple] = {
    # name -> (row_fn, [(col, pa_type_name)])
    "chunks_hybrid": (_rows_chunks_hybrid, _CHUNK_COLS),
    "chunks_hierarchical": (_rows_chunks_hierarchical, _CHUNK_COLS),
    "chunks_page": (_rows_chunks_page, _CHUNK_COLS),
    "chunks_contextualized": (
        _rows_chunks_contextualized,
        _CHUNK_COLS + [("contextualized", "string")]),
    "export_markdown": (
        _rows_export_markdown,
        [("doc_id", "string"), ("fmt", "string"), ("text", "string")]),
    "export_doctags": (
        _rows_export_doctags,
        [("doc_id", "string"), ("fmt", "string"), ("text", "string")]),
    "export_html": (
        _rows_export_html,
        [("doc_id", "string"), ("fmt", "string"), ("text", "string")]),
    "parse_doctags": (_rows_parse_doctags, _CHUNK_COLS),
    "parse_docjson": (_rows_parse_docjson, _CHUNK_COLS),
    "concat_chunks": (_rows_concat_chunks, _CHUNK_COLS),
    "extract_range_chunks": (_rows_extract_range_chunks, _CHUNK_COLS),
    "html_extract": (
        _rows_html_extract,
        [("doc_id", "string"), ("ord", "int32"), ("kind", "string"),
         ("text", "string"), ("media_ref", "string")]),
    "html_page_stats": (
        _rows_html_page_stats,
        [("doc_id", "string"), ("page_chars", "int64"),
         ("content_chars", "int64"), ("n_dropped", "int32"),
         ("main_found", "int32"), ("content_ratio", "float64")]),
    "layout_extract": (
        _rows_layout_extract,
        [("doc_id", "string"), ("ord", "int32"), ("kind", "string"),
         ("text", "string"), ("media_ref", "string")]),
    "layout_page_stats": (
        _rows_layout_page_stats,
        [("doc_id", "string"), ("n_pages", "int32"),
         ("n_cells", "int32"), ("n_chrome_cells", "int32"),
         ("n_lines", "int32"), ("n_blocks", "int32"),
         ("n_spans", "int32"), ("content_chars", "int64")]),
    "rehome_embed": (
        _rows_rehome_embed,
        [("doc_id", "string"), ("media_ref", "string"),
         ("mimetype", "string"), ("dpi", "int32"),
         ("width", "float64"), ("height", "float64"),
         ("uri_scheme", "string"), ("uri_sha256", "string")]),
    "viz_layout": (_rows_viz_layout, _VIZ_COLS),
    "viz_reading_order": (_rows_viz_reading_order, _VIZ_COLS),
    "viz_tables": (_rows_viz_tables, _VIZ_COLS),
    "viz_key_values": (_rows_viz_key_values, _VIZ_COLS),
    "export_legacy": (
        _rows_export_legacy,
        [("doc_id", "string"), ("fmt", "string"), ("text", "string")]),
    "legacy_roundtrip": (
        _rows_legacy_roundtrip,
        [("doc_id", "string"), ("ord", "int32"), ("kind", "string"),
         ("text", "string"), ("media_ref", "string")]),
    "splice_replace": (
        _rows_splice_replace,
        [("doc_id", "string"), ("ord", "int32"), ("kind", "string"),
         ("text", "string"), ("media_ref", "string")]),
    "splice_graft": (
        _rows_splice_graft,
        [("doc_id", "string"), ("ord", "int32"), ("kind", "string"),
         ("text", "string"), ("media_ref", "string")]),
    "delete_range": (
        _rows_delete_range,
        [("doc_id", "string"), ("ord", "int32"), ("kind", "string"),
         ("text", "string"), ("media_ref", "string")]),
    "append_child": (
        _rows_append_child,
        [("doc_id", "string"), ("ord", "int32"), ("kind", "string"),
         ("text", "string"), ("media_ref", "string")]),
    "docjson_validation": (
        _rows_docjson_validation,
        [("doc_id", "string"), ("is_valid", "bool_"),
         ("n_errors", "int32"), ("errors", "string")]),
    "rehome_refs": (
        _rows_rehome_refs,
        [("doc_id", "string"), ("media_ref", "string"),
         ("mimetype", "string"), ("dpi", "int32"),
         ("width", "float64"), ("height", "float64"),
         ("uri_scheme", "string"), ("uri_sha256", "string")]),
}

ENGINE_ORACLE_QUERIES = tuple(_SPECS)


def ensure_expected(name: str, sf_dir: str, n_docs: int) -> str:
    """Materialize the expected rows for ``name`` (idempotent; cached
    on disk keyed by corpus + oracle version)."""
    from docling_core_spark.queries import corpus_cache_path

    row_fn, cols = _SPECS[name]

    def build():
        import pyarrow as pa

        rows = row_fn(n_docs)
        return pa.Table.from_arrays(
            [pa.array([r[c] for r in rows], getattr(pa, typ)())
             for c, typ in cols],
            names=[c for c, _ in cols])

    return materialize_table(corpus_cache_path(
        f"oracle_{name}", sf_dir, ORACLE_VERSION, n_docs), build)


def oracle_sql_for(name: str, sf_dir: str, n_docs: int) -> str:
    path = ensure_expected(name, sf_dir, n_docs)
    col_list = ", ".join(c for c, _ in _SPECS[name][1])
    return f"SELECT {col_list} FROM read_parquet('{path}/*.parquet')"


# ----------------------------------------------------------------------
# real-tokenizer oracle (token_counts_real): INDEPENDENT second
# implementations of the C5 algorithms - a trie-based longest-match
# WordPiece and a heap/linked-list lowest-rank-first BPE merger -
# computed single-process over the documents parquet and materialized,
# so the driver check is engine-vs-independent-reimplementation, not
# code-vs-itself. The BPE PRE-SPLIT regex is shared with the engine
# (it is part of the published cl100k spec the fixtures pin), the
# merging and WordPiece matching are not.
# ----------------------------------------------------------------------

def _o_is_punct(ch: str) -> bool:
    import unicodedata as ud

    cp = ord(ch)
    if (33 <= cp <= 47 or 58 <= cp <= 64 or 91 <= cp <= 96
            or 123 <= cp <= 126):
        return True
    return ud.category(ch).startswith("P")


def _o_char_class(ch: str) -> str:
    import unicodedata as ud

    cp = ord(ch)
    if cp == 0 or cp == 0xFFFD:
        return "drop"
    if ch in "\t\n\r":
        return "space"
    if ud.category(ch).startswith("C"):
        return "drop"
    if ch.isspace():
        return "space"
    if (0x4E00 <= cp <= 0x9FFF or 0x3400 <= cp <= 0x4DBF
            or 0x20000 <= cp <= 0x2A6DF or 0x2A700 <= cp <= 0x2B73F
            or 0x2B740 <= cp <= 0x2B81F or 0x2B820 <= cp <= 0x2CEAF
            or 0xF900 <= cp <= 0xFAFF or 0x2F800 <= cp <= 0x2FA1F):
        return "cjk"
    return "word"


def oracle_basic_tokens(text: str, lowercase: bool = True) -> list:
    """BERT basic tokenization, reimplemented as a single
    classify-and-group pass (vs the engine's clean/join/split chain)."""
    import itertools
    import unicodedata as ud

    raw: list = []
    cur: list = []
    for ch in text:
        cls = _o_char_class(ch)
        if cls == "drop":
            continue
        if cls == "space":
            if cur:
                raw.append("".join(cur))
                cur = []
        elif cls == "cjk":
            if cur:
                raw.append("".join(cur))
                cur = []
            raw.append(ch)
        else:
            cur.append(ch)
    if cur:
        raw.append("".join(cur))
    out: list = []
    for tok in raw:
        if lowercase:
            tok = "".join(c for c in ud.normalize("NFD", tok.lower())
                          if ud.category(c) != "Mn")
        for is_p, grp in itertools.groupby(tok, key=_o_is_punct):
            if is_p:
                out.extend(grp)
            else:
                out.append("".join(grp))
    return out


def build_wp_trie(vocab_lines: list) -> tuple:
    """(root_trie, continuation_trie); terminal marked under "$"."""
    root: dict = {}
    cont: dict = {}
    for w in vocab_lines:
        if w.startswith("##"):
            node, chars = cont, w[2:]
        else:
            node, chars = root, w
        if not chars:
            continue
        for ch in chars:
            node = node.setdefault(ch, {})
        node["$"] = True
    return root, cont


def oracle_wordpiece_count(text: str, tries: tuple,
                           max_chars: int = 100) -> int:
    root, cont = tries
    count = 0
    for word in oracle_basic_tokens(text):
        if len(word) > max_chars:
            count += 1  # [UNK]
            continue
        n = len(word)
        i = 0
        pieces = 0
        while i < n:
            node = cont if i > 0 else root
            longest = -1
            for k in range(i, n):
                node = node.get(word[k])
                if node is None:
                    break
                if "$" in node:
                    longest = k + 1
            if longest < 0:
                pieces = 1  # whole word -> [UNK]
                break
            pieces += 1
            i = longest
        count += pieces
    return count


def oracle_bpe_piece_count(piece: bytes, ranks: dict) -> int:
    """Lowest-rank-first (leftmost on ties) pair merging via a heap
    over a doubly-linked parts list (vs the engine's rescan loop)."""
    import heapq

    if piece in ranks or len(piece) <= 1:
        return 1
    n = len(piece)
    parts = [piece[i:i + 1] for i in range(n)]
    alive = [True] * n
    nxt: list = list(range(1, n)) + [None]
    prv: list = [None] + list(range(n - 1))
    heap: list = []

    def push(i: int) -> None:
        j = nxt[i]
        if j is None:
            return
        r = ranks.get(parts[i] + parts[j])
        if r is not None:
            heapq.heappush(heap, (r, i, parts[i], parts[j]))

    for i in range(n - 1):
        push(i)
    count = n
    while heap:
        _, i, a, b = heapq.heappop(heap)
        if not alive[i] or parts[i] != a:
            continue
        j = nxt[i]
        if j is None or not alive[j] or parts[j] != b:
            continue
        parts[i] = a + b
        alive[j] = False
        nxt[i] = nxt[j]
        if nxt[j] is not None:
            prv[nxt[j]] = i
        count -= 1
        push(i)
        if prv[i] is not None:
            push(prv[i])
    return count


def oracle_bpe_count(text: str, ranks: dict) -> int:
    from docling_core_spark.chunking.wordpiece import _bpe_split_re

    return sum(oracle_bpe_piece_count(m.group().encode("utf-8"), ranks)
               for m in _bpe_split_re().finditer(text))


def _load_assets() -> tuple:
    """Vocab lines + BPE ranks for the independent oracle. Honors the
    same $DOCLING_SPARK_WP_VOCAB / $DOCLING_SPARK_BPE_RANKS overrides
    as the engine (queries.py asset-path contract) so pointing both
    sides at a published bert-base vocab.txt / o200k_base.tiktoken
    keeps the oracle comparison meaningful."""
    import base64

    assets = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "assets")
    wp_path = os.environ.get(
        "DOCLING_SPARK_WP_VOCAB",
        os.path.join(assets, "wordpiece_vocab.txt"))
    bpe_path = os.environ.get(
        "DOCLING_SPARK_BPE_RANKS",
        os.path.join(assets, "bpe_ranks.tiktoken"))
    with open(wp_path, encoding="utf-8") as fh:
        vocab = [line.rstrip("\n") for line in fh]
    ranks: dict = {}
    with open(bpe_path, "rb") as fh:
        for line in fh:
            if line.strip():
                tok, rank = line.split()
                ranks[base64.b64decode(tok)] = int(rank)
    return vocab, ranks


def ensure_token_counts_real(sf_dir: str) -> str:
    """Materialize the independent-implementation expected rows for
    token_counts_real, keyed by the documents parquet fingerprint."""
    # asset overrides change the expected counts - key the cache on
    # them too (empty suffix for the vendored default)
    akey = ""
    ov = (os.environ.get("DOCLING_SPARK_WP_VOCAB", "")
          + "|" + os.environ.get("DOCLING_SPARK_BPE_RANKS", ""))
    if ov != "|":
        import hashlib

        akey = "_a" + hashlib.sha1(ov.encode()).hexdigest()[:10]

    def build():
        import pyarrow as pa
        import pyarrow.parquet as pq

        vocab, ranks = _load_assets()
        tries = build_wp_trie(vocab)
        t = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                          columns=["doc_id", "text"])
        texts = t.column("text").to_pylist()
        return pa.Table.from_arrays(
            [pa.array(t.column("doc_id").to_pylist(), pa.int64()),
             pa.array([oracle_wordpiece_count(x, tries) for x in texts],
                      pa.int64()),
             pa.array([oracle_bpe_count(x, ranks) for x in texts],
                      pa.int64())],
            names=["doc_id", "wp_tokens", "bpe_tokens"])

    return materialize_table(scratch_path(
        f"docling_oracle_tokreal_{source_key(sf_dir)}"
        f"_v{ORACLE_VERSION}{akey}"), build)


def sql_token_counts_real(sf_dir: str) -> str:
    path = ensure_token_counts_real(sf_dir)
    return (f"SELECT doc_id, wp_tokens, bpe_tokens "
            f"FROM read_parquet('{path}/*.parquet') ORDER BY doc_id")


def _ensure_sidecar_validation(kind: str, sf_dir: str, synth, corrupt,
                               validators) -> str:
    """Materialize the expected ``kind`` sidecar-validation rows:
    single-process synthesize -> corrupt -> validate over the documents
    parquet (the same pure functions the Spark stage runs), keyed by
    the documents fingerprint."""
    def build():
        import pyarrow as pa
        import pyarrow.parquet as pq

        from docling_core_spark.rectypes import screen_payload

        t = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                          columns=["doc_id", "text"])
        rows = []
        for doc_id, text in zip(t.column("doc_id").to_pylist(),
                                t.column("text").to_pylist()):
            k, js = synth(int(doc_id), text or "")
            es = screen_payload(validators, k, corrupt(int(doc_id), k, js))
            rows.append((int(doc_id), k, not es, len(es), "; ".join(es)))
        types = [pa.int64(), pa.string(), pa.bool_(), pa.int32(),
                 pa.string()]
        return pa.Table.from_arrays(
            [pa.array([r[i] for r in rows], typ)
             for i, typ in enumerate(types)],
            names=["doc_id", "kind", "is_valid", "n_errors", "errors"])

    return materialize_table(scratch_path(
        f"docling_oracle_{kind}_{source_key(sf_dir)}_v{ORACLE_VERSION}"),
        build)


def _sql_sidecar_validation(path: str) -> str:
    return (f"SELECT doc_id, kind, is_valid, n_errors, errors "
            f"FROM read_parquet('{path}/*.parquet') ORDER BY doc_id")


def ensure_rec_validation(sf_dir: str) -> str:
    """Expected rec_validation rows (validators parity-locked to the
    live reference models in tests/test_rectypes.py)."""
    from docling_core_spark.rectypes import (VALIDATORS, corrupt_rec,
                                             synth_rec_payload)

    return _ensure_sidecar_validation(
        "recval", sf_dir, synth_rec_payload, corrupt_rec, VALIDATORS)


def sql_rec_validation(sf_dir: str) -> str:
    return _sql_sidecar_validation(ensure_rec_validation(sf_dir))


def ensure_search_validation(sf_dir: str) -> str:
    """Expected search_meta_validation rows (validators parity-locked
    to the live reference models in tests/test_searchtypes.py)."""
    from docling_core_spark.searchtypes import (VALIDATORS, corrupt_search,
                                                synth_search_payload)

    return _ensure_sidecar_validation(
        "searchval", sf_dir, synth_search_payload, corrupt_search, VALIDATORS)


def sql_search_validation(sf_dir: str) -> str:
    return _sql_sidecar_validation(ensure_search_validation(sf_dir))
