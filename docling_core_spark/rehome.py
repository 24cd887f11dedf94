"""S9 image re-homing: embedded <-> referenced picture images.

Reference semantics: ``DoclingDocument._with_embedded_pictures``
(document.py:4177-4201) turns file-URI ImageRefs into base64 data URIs;
``_with_pictures_refs`` (document.py:4203-4252) saves each picture's
image under ``image_dir/image_{count:06}_{hexhash}.png`` and points the
ImageRef at it. Both are driven by ``save_as_json(image_mode=
EMBEDDED|REFERENCED)`` (document.py:4301-4326).

Engine mapping - the picture bytes live in the media table
(mediaops.py), so re-homing is a relational join, not a filesystem
walk:

* ``embed_pictures(docs, media)``: pictures whose ImageRef uri is
  file-flavored join their payload from the media table on
  ``media_ref`` and become ``data:`` URIs. Deliberate deviation from
  the reference: the stored bytes are embedded as-is (lossless) instead
  of a PIL decode->re-encode round trip - no image codec on executors,
  and the hash of what goes in equals the hash of what comes out.
* ``reference_pictures(docs, image_dir)``: data-URI images are hashed
  (sha256 of the encoded bytes; the reference hashes the decoded pixel
  buffer, document.py:1423-1437 - same uniqueness contract without a
  decoder) and renamed ``image_{count:06}_{hexhash}.png`` with count in
  document order, mirroring the reference's naming. The payloads come
  back as a side DataFrame (path, payload) - at cluster scale that is
  the object-store write set, not a driver-side directory.

Shuffle plan (100 TB): only ``(doc_id, media_ref, payload)`` triples
shuffle - span arrays never leave their partition except for the final
doc_id join, which co-located/bucketed tables avoid entirely.
"""

from __future__ import annotations

import base64
import hashlib
from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from docling_core_spark.engine import SPAN_STRUCT, map_rows
from docling_core_spark.model.spans import (
    encode_image_ref,
    parse_image_ref,
)

_PIC_RE = r"^(picture|chart)"


# ----------------------------------------------------------------------
# pure per-document functions (shared by Spark stages and the oracle)
# ----------------------------------------------------------------------

def attach_file_images(spans: List[dict],
                       dir_prefix: str = "artifacts") -> List[dict]:
    """Give every picture/chart span a deterministic file-URI ImageRef
    (the synthetic starting point for embed benchmarks/oracles; real
    corpora arrive with ImageRefs from ingestion)."""
    from docling_core_spark.mediaops import _decode_fake, _payload_for

    out = []
    for s in spans:
        root = s["kind"].split(":", 1)[0].split("+", 1)[0]
        if root in ("picture", "chart") and s["media_ref"]:
            text, existing = parse_image_ref(s["text"])
            if existing is None:
                meta = _decode_fake("image", _payload_for(s["media_ref"]))
                image = {
                    "mimetype": "image/png",
                    "dpi": 72,
                    "size": {"width": float(meta["width"]),
                             "height": float(meta["height"])},
                    "uri": f"{dir_prefix}/{s['media_ref']}.png",
                }
                s = {**s, "text": text + encode_image_ref(image)}
        out.append(s)
    return out


_SCHEME_RE = __import__("re").compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")


def _is_file_uri(uri: str) -> bool:
    """file-flavored = file: scheme or a bare path (reference checks
    AnyUrl.scheme == 'file' or pathlib.Path, document.py:4188-4198).
    Any other scheme (data:, http:, s3:, gs:, ...) is left untouched,
    matching the reference's pass-through."""
    if not uri:
        return False
    m = _SCHEME_RE.match(uri)
    return m is None or uri[:m.end() - 1].lower() == "file"


def embed_spans(spans: List[dict],
                payloads: Dict[str, bytes]) -> List[dict]:
    """_with_embedded_pictures over one document's spans."""
    out = []
    for s in spans:
        root = s["kind"].split(":", 1)[0].split("+", 1)[0]
        if root not in ("picture", "chart"):
            out.append(s)
            continue
        text, image = parse_image_ref(s["text"])
        if image is None or not _is_file_uri(str(image.get("uri", ""))):
            out.append(s)
            continue
        payload = payloads.get(s["media_ref"])
        if payload is None:
            out.append(s)  # no stored bytes: leave the ref alone
            continue
        b64 = base64.b64encode(payload).decode("ascii")
        new_image = dict(image)
        new_image["uri"] = f"data:{image.get('mimetype', 'image/png')}" \
                           f";base64,{b64}"
        out.append({**s, "text": text + encode_image_ref(new_image)})
    return out


def reference_spans(spans: List[dict], image_dir: str = "artifacts"
                    ) -> Tuple[List[dict], List[Tuple[str, bytes]]]:
    """_with_pictures_refs over one document's spans ->
    (rewritten spans, [(relative_path, payload), ...])."""
    out = []
    files: List[Tuple[str, bytes]] = []
    img_count = 0
    for s in spans:
        root = s["kind"].split(":", 1)[0].split("+", 1)[0]
        if root not in ("picture", "chart"):
            out.append(s)
            continue
        text, image = parse_image_ref(s["text"])
        uri = str(image.get("uri", "")) if image else ""
        payload = None
        if uri.startswith("data:"):
            try:
                payload = base64.b64decode(uri.split(",", 1)[1])
            except (IndexError, ValueError):
                payload = None
        if payload is None:
            out.append(s)
        else:
            hexhash = hashlib.sha256(payload).hexdigest()
            path = f"{image_dir}/image_{img_count:06d}_{hexhash}.png"
            files.append((path, payload))
            new_image = dict(image)
            new_image["uri"] = path
            out.append({**s, "text": text + encode_image_ref(new_image)})
        # the reference increments for EVERY PictureItem, imaged or not
        # (document.py:4250, outside the `img is not None` block)
        img_count += 1
    return out, files


# ----------------------------------------------------------------------
# Spark operators
# ----------------------------------------------------------------------

def _doc_payloads(docs: DataFrame, media: DataFrame) -> DataFrame:
    """(doc_id, payloads map<media_ref, payload>) for pictured docs.
    Only id/payload pairs shuffle; span arrays stay put."""
    refs = (docs
            .select("doc_id", F.explode("spans").alias("s"))
            .filter(F.col("s.kind").rlike(_PIC_RE))
            .select("doc_id", F.col("s.media_ref").alias("media_ref"))
            .filter(F.col("media_ref") != "")
            # a repeated media_ref within one doc (shared logo) would
            # trip map_from_entries' DUPLICATED_MAP_KEY exception
            .distinct())
    return (refs
            .join(media.select("media_ref", "payload"), "media_ref")
            .groupBy("doc_id")
            .agg(F.map_from_entries(
                F.collect_list(F.struct("media_ref", "payload")))
                .alias("_payloads")))


_WITNESS_SCHEMA = ("doc_id string, media_ref string, mimetype string, "
                   "dpi int, width double, height double, "
                   "uri_scheme string, uri_sha256 string")


def _rehome(docs: DataFrame, rewrite, emit: str,
            media: Optional[DataFrame] = None) -> DataFrame:
    """One per-document stage: ``rewrite(spans, payloads)`` over each
    document's span dicts, emitting the rewritten documents
    (``emit='docs'``) or their ImageRef witness rows (``'witness'``).
    With ``media``, ``payloads`` is the document's media_ref -> bytes
    map from the payload join; without, it is empty."""
    if emit not in ("docs", "witness"):
        raise ValueError(f"unknown emit {emit!r}")
    schema = (_WITNESS_SCHEMA if emit == "witness" else
              f"doc_id string, spans "
              f"{docs.schema['spans'].dataType.simpleString()}")
    cols: Tuple[str, ...] = ("doc_id", "spans")
    if media is not None:
        docs = docs.join(_doc_payloads(docs, media), "doc_id", "left")
        cols += ("_payloads",)

    def row(doc_id, spans, pmap=None):
        spans = rewrite([dict(zip(SPAN_STRUCT.names, s)) for s in spans],
                        dict(pmap or ()))
        if emit == "witness":
            return [tuple(r.values())
                    for r in image_ref_rows_py(doc_id, spans)]
        return [(doc_id, spans)]

    return map_rows(docs, cols, schema, lambda: row)


def embed_pictures(docs: DataFrame, media: DataFrame,
                   emit: str = "docs") -> DataFrame:
    """(doc_id, spans) with file-URI images -> embedded data URIs.

    ``emit='witness'`` fuses the per-picture ImageRef projection
    (image_ref_rows) into the same Arrow stage - the embedded span
    arrays (payload-sized after base64) never cross the boundary."""
    return _rehome(docs, embed_spans, emit, media)


def reference_pictures(docs: DataFrame, image_dir: str = "artifacts",
                       emit: str = "docs") -> DataFrame:
    """(doc_id, spans) with data-URI images -> file references.

    ``emit='docs'`` returns the rewritten documents; ``emit='files'``
    returns the image write-set (doc_id, path, n_bytes, sha256) - the
    object-store manifest a sink stage would PUT; ``emit='witness'``
    fuses the ImageRef projection into the stage. Any other ``emit``
    raises ValueError."""
    if emit != "files":
        return _rehome(docs, lambda s, _: reference_spans(s, image_dir)[0],
                       emit)

    def row(doc_id, spans):
        _, files = reference_spans([dict(zip(SPAN_STRUCT.names, s))
                                    for s in spans], image_dir)
        return [(doc_id, path, len(payload),
                 hashlib.sha256(payload).hexdigest())
                for path, payload in files]

    return map_rows(docs, ("doc_id", "spans"),
                    "doc_id string, path string, n_bytes long, "
                    "sha256 string", lambda: row)


def embed_then_reference_pictures(docs: DataFrame, media: DataFrame,
                                  image_dir: str = "artifacts",
                                  emit: str = "witness") -> DataFrame:
    """embed_pictures >> reference_pictures fused into ONE Arrow stage.

    Chaining the two operators as separate mapInArrow stages is
    semantically identical but ships the payload-sized embedded span
    arrays across the Python<->JVM boundary twice more than needed
    (JVM->py embed ->JVM->py reference ->JVM); both stages are narrow,
    so the fusion is pure crossing elimination - the per-doc
    embed_spans/reference_spans functions (the parity-tested units)
    are byte-identical. This is what a Photon/Gandiva-style operator
    fuser would do automatically; PySpark's planner does not fuse
    adjacent MapInArrow nodes, so the pipeline-shaped API does it
    explicitly."""
    return _rehome(
        docs, lambda s, p: reference_spans(embed_spans(s, p), image_dir)[0],
        emit, media)


def attach_images(docs: DataFrame,
                  dir_prefix: str = "artifacts") -> DataFrame:
    """Synthetic ingestion step: file-URI ImageRefs on every picture."""
    return _rehome(docs, lambda s, _: attach_file_images(s, dir_prefix),
                   "docs")


ATTACH_VERSION = 1


def media_df(spark, sf_dir: str):
    """The media table, materialized once per sf - in production this
    IS a stored table (object-store payload index), so queries should
    scan it, not re-synthesize it."""
    from docling_core_spark.io.materialize import materialize_df
    from docling_core_spark.mediaops import media_table
    from docling_core_spark.queries import corpus_cache_path, corpus_df

    return materialize_df(
        spark, corpus_cache_path("media", sf_dir, ATTACH_VERSION),
        lambda: media_table(corpus_df(spark, sf_dir)))


def attached_corpus_df(spark, sf_dir: str):
    """Corpus with file-URI ImageRefs attached, materialized once per
    sf (input preparation, not part of the measured re-homing work)."""
    from docling_core_spark.io.materialize import materialize_df
    from docling_core_spark.queries import corpus_cache_path, corpus_df

    return materialize_df(
        spark, corpus_cache_path("attached", sf_dir, ATTACH_VERSION),
        lambda: attach_images(corpus_df(spark, sf_dir)))


# ----------------------------------------------------------------------
# registry queries (scalar outputs; materialized single-process oracle)
# ----------------------------------------------------------------------

def image_ref_rows(docs: DataFrame) -> DataFrame:
    """Canonical scalar projection of every picture ImageRef: the
    driver-checkable witness of a re-homing pass."""
    return _rehome(docs, lambda s, _: s, "witness")


def image_ref_rows_py(doc_id: str, spans: List[dict]) -> List[dict]:
    out = []
    for s in spans:
        root = s["kind"].split(":", 1)[0].split("+", 1)[0]
        if root not in ("picture", "chart"):
            continue
        _, image = parse_image_ref(s["text"])
        if image is None:
            continue
        uri = str(image.get("uri", ""))
        scheme = ("data" if uri.startswith("data:")
                  else "http" if uri.startswith(("http:", "https:"))
                  else "file")
        size = image.get("size") or {}
        out.append({
            "doc_id": doc_id, "media_ref": s["media_ref"],
            "mimetype": str(image.get("mimetype", "")),
            "dpi": int(image.get("dpi", 0)),
            "width": float(size.get("width", 0.0)),
            "height": float(size.get("height", 0.0)),
            "uri_scheme": scheme,
            "uri_sha256": hashlib.sha256(uri.encode()).hexdigest(),
        })
    return out
