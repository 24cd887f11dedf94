"""Write-once commit for the derived tables the engine keeps between runs
(corpus, pages, layout and pdf cells, media, shingle index, oracle
expectations, the planted ingest tree, training-job stages 2-3).

A table is a directory that is committed when it holds ``_SUCCESS``.
:func:`materialize` is the one commit rule: anything uncommitted at the
path (a crashed attempt's part files) is removed before ``write`` runs,
and ``_SUCCESS`` is created last. One writer per path is assumed.

Exempt, each with its own protocol:

* ``io/checkpoint.run_resumable``: per-bucket lineage rows are the
  commit, so a resume redoes only the uncommitted buckets.
* ``annindex``: a refit swap and an idempotent append need versioned
  directories behind a pointer file, not a marker.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from typing import Callable


def scratch_path(name: str) -> str:
    """``name`` under ``$SPARK_GRAFT_TMP`` (default ``/tmp``)."""
    return os.path.join(os.environ.get("SPARK_GRAFT_TMP", "/tmp"), name)


def source_key(sf_dir: str) -> str:
    """Fingerprint of ``sf_dir``'s documents table (path, size, mtime in
    ns), so a derived table is never served for a rewritten source."""
    src = os.path.join(os.path.abspath(sf_dir), "documents.parquet")
    st = os.stat(src)
    digest = hashlib.sha1(f"{src}|{st.st_size}|{st.st_mtime_ns}".encode())
    return (f"{os.path.basename(os.path.normpath(sf_dir))}_"
            f"{digest.hexdigest()[:12]}")


def materialize(path: str, write: Callable[[str], None]) -> str:
    """Return ``path`` if ``path/_SUCCESS`` exists; else remove
    ``path``, call ``write(path)``, then create ``_SUCCESS``."""
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        if os.path.exists(path):
            shutil.rmtree(path)
        write(path)
        open(marker, "w").close()
    return path


def materialize_df(spark, path: str, build: Callable):
    """Commit the DataFrame ``build()`` as parquet; read it back."""
    materialize(path, lambda p: build().write.parquet(p))
    return spark.read.parquet(path)


def materialize_table(path: str, build: Callable) -> str:
    """Commit the Arrow table ``build()`` as ``part-00000.parquet``."""
    import pyarrow.parquet as pq

    def write(p: str) -> None:
        os.makedirs(p)
        pq.write_table(build(), os.path.join(p, "part-00000.parquet"))

    return materialize(path, write)
