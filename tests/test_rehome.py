"""S9 image re-homing: embed <-> reference round trips + reference
library interop for the ImageRef field."""

from __future__ import annotations

import base64
import hashlib
import json

import pytest

from docling_core_spark.corpus import gen_doc_spans
from docling_core_spark.mediaops import _payload_for
from docling_core_spark.model.spans import (
    doc_from_spans,
    encode_image_ref,
    parse_image_ref,
    spans_from_doc,
)
from docling_core_spark.rehome import (
    attach_file_images,
    embed_spans,
    image_ref_rows_py,
    reference_spans,
)


def _pic_refs(spans):
    return {s["media_ref"] for s in spans
            if s["kind"].split(":", 1)[0] in ("picture", "chart")
            and s["media_ref"]}


def _payloads(spans):
    return {m: _payload_for(m) for m in _pic_refs(spans)}


def test_embed_roundtrip_payload_exact():
    """file uri -> data uri -> file ref: the payload bytes written by
    the reference pass are byte-identical to the media-table bytes."""
    for i in (0, 3, 7, 42):
        spans = attach_file_images(gen_doc_spans(i, seed=42))
        payloads = _payloads(spans)
        if not payloads:
            continue
        embedded = embed_spans(spans, payloads)
        refd, files = reference_spans(embedded, "artifacts")
        assert len(files) == len([
            s for s in embedded
            if parse_image_ref(s["text"])[1] is not None])
        for path, payload in files:
            m = path.rsplit("_", 1)[1][: -len(".png")]
            assert hashlib.sha256(payload).hexdigest() == m
        got = sorted(p for _, p in files)
        want = sorted(payloads.values())
        assert got == want


def test_embed_data_uri_decodes_to_payload():
    spans = attach_file_images(gen_doc_spans(3, seed=42))
    payloads = _payloads(spans)
    embedded = embed_spans(spans, payloads)
    seen = 0
    for s in embedded:
        _, image = parse_image_ref(s["text"])
        if image is None:
            continue
        uri = image["uri"]
        assert uri.startswith("data:image/png;base64,")
        assert base64.b64decode(uri.split(",", 1)[1]) \
            == payloads[s["media_ref"]]
        seen += 1
    assert seen == len(payloads) >= 1


def test_reference_naming_mirrors_reference_scheme():
    """image_{count:06}_{hexhash}.png in document order
    (document.py:4229)."""
    spans = attach_file_images(gen_doc_spans(3, seed=42))
    embedded = embed_spans(spans, _payloads(spans))
    refd, files = reference_spans(embedded, "imgdir")
    for n, (path, payload) in enumerate(files):
        assert path == (f"imgdir/image_{n:06d}_"
                        f"{hashlib.sha256(payload).hexdigest()}.png")
    # rewritten spans point at exactly those paths
    uris = [parse_image_ref(s["text"])[1]["uri"] for s in refd
            if parse_image_ref(s["text"])[1] is not None]
    assert uris == [p for p, _ in files]


def test_image_tag_survives_span_codec():
    """<image> JSON rides the span text through doc_from_spans /
    spans_from_doc unchanged (canonical JSON -> byte-stable)."""
    spans = attach_file_images(gen_doc_spans(7, seed=42))
    tuples = [(s["kind"], s["text"], s["media_ref"], s["offset"])
              for s in spans]
    doc = doc_from_spans("d", tuples)
    back = spans_from_doc(doc)
    a = [(s["kind"], s["text"], s["media_ref"]) for s in spans]
    b = [(s["kind"], s["text"], s["media_ref"]) for s in back]
    assert a == b
    n_img = sum(1 for s in spans if "<image>" in s["text"])
    assert n_img == len(_pic_refs(spans)) >= 1


def test_embed_skips_non_file_uris():
    image = {"mimetype": "image/png", "dpi": 72,
             "size": {"width": 1.0, "height": 1.0},
             "uri": "https://ex.org/i.png"}
    spans = [{"kind": "picture", "text": encode_image_ref(image),
              "media_ref": "img_x", "offset": 0}]
    out = embed_spans(spans, {"img_x": b"bytes"})
    assert parse_image_ref(out[0]["text"])[1]["uri"] \
        == "https://ex.org/i.png"


def test_embed_skips_object_store_schemes():
    """s3:/gs:/ftp: are neither file: nor bare paths — the reference's
    AnyUrl-scheme check passes them through untouched
    (document.py:4188-4198)."""
    for uri in ("s3://bucket/i.png", "gs://bucket/i.png",
                "ftp://host/i.png"):
        image = {"mimetype": "image/png", "dpi": 72,
                 "size": {"width": 1.0, "height": 1.0}, "uri": uri}
        spans = [{"kind": "picture", "text": encode_image_ref(image),
                  "media_ref": "img_x", "offset": 0}]
        out = embed_spans(spans, {"img_x": b"bytes"})
        assert parse_image_ref(out[0]["text"])[1]["uri"] == uri
    # file: scheme and bare paths DO embed
    for uri in ("file:///tmp/i.png", "artifacts/i.png"):
        image = {"mimetype": "image/png", "dpi": 72,
                 "size": {"width": 1.0, "height": 1.0}, "uri": uri}
        spans = [{"kind": "picture", "text": encode_image_ref(image),
                  "media_ref": "img_x", "offset": 0}]
        out = embed_spans(spans, {"img_x": b"bytes"})
        assert parse_image_ref(out[0]["text"])[1]["uri"].startswith(
            "data:image/png;base64,")


def test_img_count_increments_for_imageless_pictures():
    """The reference bumps img_count for EVERY PictureItem, with or
    without an image (document.py:4250) — a leading image-less picture
    must shift the names of the imaged ones that follow."""
    data_uri = ("data:image/png;base64,"
                + base64.b64encode(b"payload").decode())
    imaged = {"mimetype": "image/png", "dpi": 72,
              "size": {"width": 1.0, "height": 1.0}, "uri": data_uri}
    spans = [
        {"kind": "picture", "text": "", "media_ref": "img_a",
         "offset": 0},                               # no ImageRef at all
        {"kind": "picture", "text": encode_image_ref(
            {**imaged, "uri": "data:image/png;base64,@@corrupt@@"}),
         "media_ref": "img_b", "offset": 1},         # undecodable
        {"kind": "picture", "text": encode_image_ref(imaged),
         "media_ref": "img_c", "offset": 2},         # real data URI
    ]
    _, files = reference_spans(spans, "imgdir")
    assert len(files) == 1
    path, payload = files[0]
    assert payload == b"payload"
    # count 0 and 1 were consumed by the image-less/corrupt pictures
    assert path == ("imgdir/image_000002_"
                    + hashlib.sha256(b"payload").hexdigest() + ".png")


def test_witness_rows_shape():
    spans = attach_file_images(gen_doc_spans(3, seed=42))
    rows = image_ref_rows_py("d", embed_spans(spans, _payloads(spans)))
    assert rows and all(r["uri_scheme"] == "data" for r in rows)
    rows2 = image_ref_rows_py("d", spans)
    assert rows2 and all(r["uri_scheme"] == "file" for r in rows2)
    assert all(r["width"] > 0 and r["height"] > 0 for r in rows)


# ----------------------------------------------------------------------
# live reference interop: the exported JSON with image fields loads in
# docling-core and round-trips its ImageRef values
# ----------------------------------------------------------------------

def test_reference_loads_rehomed_json():
    from tests.refstubs import reference

    reference()
    from docling_core.types.doc.document import DoclingDocument

    from docling_core_spark.serializers.docjson import export_to_docjson

    for i in (3, 7):
        spans = attach_file_images(gen_doc_spans(i, seed=42))
        payloads = _payloads(spans)
        if not payloads:
            continue
        embedded = embed_spans(spans, payloads)
        tuples = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                  for s in embedded]
        doc = doc_from_spans(f"doc_{i}", tuples)
        js = export_to_docjson(doc)
        ref_doc = DoclingDocument.model_validate(js)
        got = {}
        for pic in ref_doc.pictures:
            if pic.image is not None:
                got[pic.self_ref] = (pic.image.mimetype, pic.image.dpi,
                                     str(pic.image.uri))
        want = {p["self_ref"]: (p["image"]["mimetype"], p["image"]["dpi"],
                                p["image"]["uri"])
                for p in js["pictures"] if "image" in p}
        assert got == want and len(got) == len(payloads)
        # and the reference renders the re-homed doc without error,
        # identically for embedded vs referenced forms (the default
        # markdown placeholder does not expose the uri)
        refd, _ = reference_spans(embedded, "artifacts")
        tuples2 = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                   for s in refd]
        doc2 = doc_from_spans(f"doc_{i}", tuples2)
        ref_doc2 = DoclingDocument.model_validate(export_to_docjson(doc2))
        assert ref_doc.export_to_markdown() == ref_doc2.export_to_markdown()


def test_spark_embed_handles_repeated_media_ref(spark):
    """One doc using the same media_ref twice (a repeated logo) must
    not trip map_from_entries' DUPLICATED_MAP_KEY in _doc_payloads."""
    from docling_core_spark.engine import DOCUMENTS_SCHEMA
    from docling_core_spark.rehome import embed_pictures

    uri = {"mimetype": "image/png", "dpi": 72,
           "size": {"width": 1.0, "height": 1.0},
           "uri": "artifacts/img_0.png"}
    span = ("picture", encode_image_ref(uri), "img_0", 0)
    docs = spark.createDataFrame(
        [("d0", [span, ("picture", encode_image_ref(uri), "img_0", 1)])],
        DOCUMENTS_SCHEMA)
    media = spark.createDataFrame([("img_0", bytearray(b"bytes"))],
                                  "media_ref string, payload binary")
    rows = embed_pictures(docs, media).collect()
    assert len(rows) == 1
    for s in rows[0]["spans"]:
        got = parse_image_ref(s["text"])[1]
        assert got["uri"] == "data:image/png;base64," \
            + base64.b64encode(b"bytes").decode()


def test_spark_rehome_matches_oracle(spark):
    import pandas as pd

    from docling_core_spark.engine import synth_documents
    from docling_core_spark.mediaops import media_table
    from docling_core_spark.rehome import (
        attach_images,
        embed_pictures,
        image_ref_rows,
    )

    docs = synth_documents(spark, 30, seed=42)
    got = (image_ref_rows(embed_pictures(attach_images(docs),
                                         media_table(docs)))
           .toPandas().sort_values(["doc_id", "media_ref"])
           .reset_index(drop=True))
    exp = []
    for i in range(30):
        spans = attach_file_images(gen_doc_spans(i, seed=42))
        exp.extend(image_ref_rows_py(
            f"doc_{i:012d}", embed_spans(spans, _payloads(spans))))
    want = (pd.DataFrame(exp).sort_values(["doc_id", "media_ref"])
            .reset_index(drop=True))
    pd.testing.assert_frame_equal(
        got.astype({"dpi": "int64"}), want.astype({"dpi": "int64"}))


def test_spark_fused_embed_reference_matches_chained(spark):
    """embed_then_reference_pictures (one Arrow stage) must emit the
    exact rows of the two-stage embed_pictures >> reference_pictures
    chain, in both witness and docs emit modes."""
    import pandas as pd

    from docling_core_spark.engine import synth_documents
    from docling_core_spark.mediaops import media_table
    from docling_core_spark.rehome import (
        attach_images,
        embed_pictures,
        embed_then_reference_pictures,
        reference_pictures,
    )

    docs = attach_images(synth_documents(spark, 30, seed=42))
    media = media_table(docs)

    def canon(df):
        pdf = df.toPandas()
        if "spans" in pdf.columns:
            pdf["spans"] = pdf["spans"].map(
                lambda ss: json.dumps([list(s) for s in ss]))
        cols = sorted(pdf.columns)
        return (pdf[cols].sort_values(cols, kind="mergesort")
                .reset_index(drop=True))

    for emit in ("witness", "docs"):
        chained = reference_pictures(
            embed_pictures(docs, media), "artifacts", emit=emit)
        fused = embed_then_reference_pictures(
            docs, media, "artifacts", emit=emit)
        pd.testing.assert_frame_equal(canon(fused), canon(chained))



def test_spark_reference_files_match_reference_spans(spark):
    """emit='files' is reference_spans' write-set per document: one
    (path, n_bytes, sha256) row per imaged picture."""
    from docling_core_spark.engine import DOCUMENTS_SCHEMA
    from docling_core_spark.rehome import reference_pictures

    embedded, want = [], []
    for i in range(20):
        spans = attach_file_images(gen_doc_spans(i, seed=42))
        spans = embed_spans(spans, _payloads(spans))
        embedded.append((f"doc_{i}", [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in spans]))
        want.extend((f"doc_{i}", path, len(payload),
                     hashlib.sha256(payload).hexdigest())
                    for path, payload in reference_spans(spans, "imgdir")[1])
    docs = spark.createDataFrame(embedded, DOCUMENTS_SCHEMA)
    got = [tuple(r) for r in
           reference_pictures(docs, "imgdir", emit="files").collect()]
    assert want and sorted(got) == sorted(want)


@pytest.mark.parametrize("op,bad", [
    ("embed_pictures", ("bogus", "spans", "files")),
    ("reference_pictures", ("bogus", "spans")),
    ("embed_then_reference_pictures", ("bogus", "spans", "files")),
])
def test_unknown_emit_raises(spark, op, bad):
    """Every rehome operator rejects an emit outside its documented
    set instead of silently returning the rewritten documents."""
    from docling_core_spark import rehome
    from docling_core_spark.engine import DOCUMENTS_SCHEMA

    docs = spark.createDataFrame([], DOCUMENTS_SCHEMA)
    media = spark.createDataFrame([], "media_ref string, payload binary")
    args = (docs,) if op == "reference_pictures" else (docs, media)
    for emit in bad:
        with pytest.raises(ValueError, match="emit"):
            getattr(rehome, op)(*args, emit=emit)
