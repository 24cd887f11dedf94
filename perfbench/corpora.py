"""Seeded benchmark inputs, generated once per (workload, seed) and cached.

Every corpus is ``n_files`` parquet files, one read task each. The
last 1/cores of them is the slice the weak-scaling pass reads in a
single task.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass
from typing import List

import pyarrow as pa
import pyarrow.parquet as pq

from docling_core_spark.corpus import CORPUS_VERSION, gen_doc_spans

# bump when a generator below changes what it writes
BENCH_CORPUS_VERSION = 2
# share of base rows planted as exact duplicates across every copy
DUP_SHARE = 0.02
# the sf0.1 `documents` test table (doc_id, text, lang, source, n_chars),
# 5,000 rows, copied byte for byte so the checkout carries it
DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "data", "documents.parquet")

SPAN_TYPE = pa.struct([("kind", pa.string()), ("text", pa.string()),
                       ("media_ref", pa.string()), ("offset", pa.int32())])
DOCS_SCHEMA = pa.schema([("doc_id", pa.string()),
                         ("spans", pa.list_(SPAN_TYPE))])


@dataclass
class Corpus:
    path: str            # directory of part-*.parquet files
    files: List[str]     # one file per read task, in task order
    n_docs: int
    n_bytes: int         # input bytes on disk

    def slice_files(self, cores: int) -> List[str]:
        """The last 1/cores of the files."""
        return self.files[-(len(self.files) // cores):]

    def slice_docs(self, cores: int) -> int:
        return sum(pq.ParquetFile(f).metadata.num_rows
                   for f in self.slice_files(cores))


def _write_parts(tables: List[pa.Table], path: str) -> None:
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for i, t in enumerate(tables):
        pq.write_table(t, os.path.join(tmp, f"part-{i:03d}.parquet"))
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)


def _load(path: str) -> Corpus:
    files = sorted(os.path.join(path, f) for f in os.listdir(path)
                   if f.endswith(".parquet"))
    n_docs = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return Corpus(path, files, n_docs,
                  sum(os.path.getsize(f) for f in files))


def span_corpus(work: str, seed: int, n_docs: int, n_files: int) -> Corpus:
    """documents(doc_id, spans) from ``corpus.gen_doc_spans``, split
    evenly over ``n_files`` files in doc_id order."""
    path = os.path.join(work, "corpus",
                        f"spans-s{seed}-n{n_docs}-f{n_files}"
                        f"-v{CORPUS_VERSION}.{BENCH_CORPUS_VERSION}")
    if os.path.isdir(path):
        return _load(path)
    per = -(-n_docs // n_files)
    tables = []
    for k in range(n_files):
        rows = [{"doc_id": f"doc_{i:012d}", "spans": gen_doc_spans(i, seed)}
                for i in range(k * per, min(n_docs, (k + 1) * per))]
        tables.append(pa.Table.from_pylist(rows, schema=DOCS_SCHEMA))
    _write_parts(tables, path)
    return _load(path)


def text_corpus(work: str, seed: int, n_copies: int,
                n_files: int) -> Corpus:
    """documents(doc_id, text, source): the sf0.1 documents table
    replicated ``n_copies`` times, as bench_scaling_pipeline.py does it.
    Copy k adds k * 10^7 to doc_id and appends " rep<k>" to the text, so
    replicas are not exact duplicates, except a seeded DUP_SHARE of base
    rows that stay byte-identical in every copy - the dedup stage's real
    work. Rows are shuffled by the seed before the split into files."""
    path = os.path.join(work, "corpus", f"text-s{seed}-k{n_copies}"
                        f"-f{n_files}-v{BENCH_CORPUS_VERSION}")
    if os.path.isdir(path):
        return _load(path)
    base = pq.read_table(DOCUMENTS, columns=["doc_id", "text", "source"])
    base_ids = base["doc_id"].to_pylist()
    base_texts = base["text"].to_pylist()
    base_srcs = base["source"].to_pylist()
    rng = random.Random(seed)
    planted = set(rng.sample(range(base.num_rows),
                             round(DUP_SHARE * base.num_rows)))
    ids, texts, srcs = [], [], []
    for k in range(n_copies):
        for i, (doc_id, text, src) in enumerate(zip(base_ids, base_texts,
                                                    base_srcs)):
            ids.append(doc_id + k * 10_000_000)
            texts.append(text if i in planted else f"{text} rep{k}")
            srcs.append(src)
    order = list(range(len(ids)))
    rng.shuffle(order)
    table = pa.table({"doc_id": pa.array([ids[j] for j in order], pa.int64()),
                      "text": pa.array([texts[j] for j in order], pa.string()),
                      "source": pa.array([srcs[j] for j in order],
                                         pa.string())})
    per = -(-table.num_rows // n_files)
    _write_parts([table.slice(k * per, per) for k in range(n_files)], path)
    return _load(path)
