"""Make the read-only reference library importable as a live test oracle.

The reference (docling-core at /root/reference) needs PIL, tabulate,
transformers and semchunk, none of which are installed here. We stub
them with minimal shims BEFORE importing:

* PIL            - never exercised (we never decode images)
* tabulate       - replaced by this engine's own github-table renderer
                   (serializers/mdtable.py), so markdown-table parity is
                   tested against the exact same rendering on both sides
                   (fidelity of the renderer itself vs. real tabulate is
                   covered separately by the golden-file tests)
* transformers   - only PreTrainedTokenizerBase is referenced by an
                   isinstance check in HybridChunker._patch
* semchunk       - replaced by this engine's recursive splitter
                   (chunking/semsplit.py), same reasoning as tabulate

This module must be imported before any ``docling_core`` import.

Tests reach the reference only through ``reference()`` (the library and
the oracle built on it) and ``reference_data()`` (the checkout's
committed test data), at the moment they use it. Where the checkout is
absent, the calling test is skipped with a reason that names it; the
rest of its module still collects and runs. Where the checkout is
present, both return as usual, so a broken reference fails loudly.
"""

from __future__ import annotations

import importlib.metadata
import importlib.util
import os
import sys
import types

import pytest

REFERENCE_PATH = "/root/reference"
REFERENCE_DATA = os.path.join(REFERENCE_PATH, "test", "data")


def _stub(name: str, **attrs) -> types.ModuleType:
    import importlib.machinery

    m = types.ModuleType(name)
    # cloudpickle/importlib probe __spec__ when serializing functions
    # that reference these modules (Spark UDF pickling)
    m.__spec__ = importlib.machinery.ModuleSpec(name, loader=None)
    for k, v in attrs.items():
        setattr(m, k, v)
    sys.modules[name] = m
    return m


def install() -> None:
    if REFERENCE_PATH in sys.path:
        return

    _orig_version = importlib.metadata.version

    def _version(name: str) -> str:
        if "docling" in name:
            return "2.45.0"
        return _orig_version(name)

    importlib.metadata.version = _version

    # --- PIL ----------------------------------------------------------
    class _Image:
        pass

    img = _stub("PIL.Image", Image=_Image, open=None)
    draw = _stub("PIL.ImageDraw", ImageDraw=type("ImageDraw", (), {}))
    font = _stub("PIL.ImageFont", ImageFont=type("ImageFont", (), {}),
                 FreeTypeFont=type("FreeTypeFont", (), {}))
    color = _stub("PIL.ImageColor", getrgb=lambda c: (0, 0, 0))
    _stub("PIL", Image=img, ImageDraw=draw, ImageFont=font, ImageColor=color)

    # --- tabulate -> our github renderer -------------------------------
    from docling_core_spark.serializers.mdtable import render_github_table

    def tabulate(rows, headers=(), tablefmt="github", disable_numparse=False,
                 **kw):
        assert tablefmt == "github", f"stub only supports github, got {tablefmt}"
        return render_github_table(rows, headers=headers,
                                   numparse=not disable_numparse)

    _stub("tabulate", tabulate=tabulate)

    # --- transformers ---------------------------------------------------
    _stub("transformers",
          PreTrainedTokenizerBase=type("PreTrainedTokenizerBase", (), {}))

    # --- semchunk -> our recursive splitter -----------------------------
    from docling_core_spark.chunking.semsplit import recursive_split

    class _SemChunker:
        def __init__(self, counter, chunk_size):
            self._counter = counter
            self._chunk_size = chunk_size

        def chunk(self, text):
            return recursive_split(text, self._chunk_size, self._counter)

    def chunkerify(tokenizer_or_counter, chunk_size=None, **kw):
        counter = getattr(tokenizer_or_counter, "count_tokens",
                          tokenizer_or_counter)
        return _SemChunker(counter, chunk_size)

    _stub("semchunk", chunkerify=chunkerify)

    # --- latex2mathml: delegate to the engine's from-scratch converter
    # (docling_core_spark/mathml.py), which is byte-pinned to the
    # reference's committed latex2mathml goldens. The LIVE reference
    # serializer then produces real MathML through the same conversion
    # the engine uses, so the parity suites check the byte-exact
    # surrounding plumbing (annotation element, tostring+unescape, div
    # wrapping, fallback selection) call-for-call. Grammar outside the
    # pinned subset raises, sending the reference into its own <pre>
    # fallback (html.py:298-310) exactly where the engine falls back.
    def _convert_to_element(formula, display="block", **kw):
        from docling_core_spark.mathml import convert_to_element

        return convert_to_element(formula, display=display)

    conv = _stub("latex2mathml.converter",
                 convert_to_element=_convert_to_element)
    _stub("latex2mathml", converter=conv)

    sys.path.insert(0, REFERENCE_PATH)


def reference():
    """The live oracle module (tests/oracle.py, built on docling_core).

    Skips the calling test where ``docling_core`` cannot be found, which
    is the case exactly when the reference checkout is absent. With the
    library findable the import runs unguarded.
    """
    install()
    if importlib.util.find_spec("docling_core") is None:
        pytest.skip("reference library docling_core not found "
                    f"(expected its checkout at {REFERENCE_PATH})")
    import tests.oracle

    return tests.oracle


def reference_data(path: str = "") -> str:
    """``path`` under ``REFERENCE_DATA``, the checkout's test/data.

    Skips the calling test where that directory is absent. Only the
    directory is checked, so a fixture missing from a present checkout
    still fails where the test reads it.
    """
    if not os.path.isdir(REFERENCE_DATA):
        pytest.skip("reference test data not found "
                    f"(expected {REFERENCE_DATA})")
    return os.path.join(REFERENCE_DATA, path)


def oracle_fn(name: str):
    """``tests.oracle.<name>``, looked up through ``reference()`` when
    called: a test module can bind it at import time and reach the
    reference only in the tests that call it."""
    def call(*args, **kwargs):
        return getattr(reference(), name)(*args, **kwargs)

    call.__name__ = call.__qualname__ = name
    return call


install()
