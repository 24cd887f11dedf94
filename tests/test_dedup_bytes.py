"""Keys-mode dedup shuffles a fraction of window mode's bytes.

``dedup_retain_over(mode="window")`` shuffles every full row on the
content hash; ``mode="keys"`` shuffles only (content_md5, min doc_id)
key rows and semi-joins the survivors back onto an unshuffled scan.
Both run here in one Spark application with event logs on, each under
its own job group, and the benchmark's event-log parser
(``perfbench/eventlog.py``) reads each group's shuffle-write bytes.

The input is the keys mode's documented precondition, a materialized
table: a wide-row parquet whose texts lz4 cannot shrink (hex digests),
with a planted slice of exact duplicates. Spark runs in a child
interpreter (this module run with ``-m``), so the event log holds one
application and the test session's own Spark context is not involved.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

from perfbench import eventlog

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

N_DOCS = 20_000
DUP_EVERY = 10  # doc 10k+9 repeats the text of doc 10k+8
WORDS = 8       # sha2-256 hex digests per text: about 520 bytes a row
MODES = ("window", "keys")


def _child(work: str) -> None:
    """Write the input, run both modes, shut the JVM down and leave the
    results in ``work/result.json``."""
    sys.path.insert(0, ROOT)
    from pyspark.sql import functions as F

    from docling_core_spark.textops import dedup_retain_over
    from perfbench import sparkenv

    spark = sparkenv.start(work, 2, event_dir=os.path.join(work, "events"))
    sc = spark.sparkContext
    path = os.path.join(work, "clean.parquet")
    sc.setJobGroup("input", "materialize the input table")
    key = F.when(F.col("id") % DUP_EVERY == DUP_EVERY - 1,
                 F.col("id") - 1).otherwise(F.col("id")).cast("string")
    text = F.concat_ws(" ", *[F.sha2(F.concat_ws(":", key, F.lit(j)), 256)
                              for j in range(WORDS)])
    (spark.range(N_DOCS, numPartitions=4)
     .select(F.col("id").alias("doc_id"), text.alias("clean_text"))
     .write.parquet(path))
    clean = spark.read.parquet(path)

    out = {"jvm_pid": sc._gateway.proc.pid, "path": path,
           "consumed": {}, "rows": {}}
    for mode in MODES:
        ded = dedup_retain_over(clean, mode=mode)
        sc.setJobGroup(mode, f"dedup_retain_over(mode={mode!r})")
        # the consumer reads clean_text, so the payload stays in the plan
        n, chars = ded.agg(F.count(F.lit(1)),
                           F.sum(F.length("clean_text"))).first()
        out["consumed"][mode] = [n, chars]
        sc.setJobGroup(f"{mode}-rows", "survivor rows")
        out["rows"][mode] = sorted(
            [r.doc_id, r.content_md5]
            for r in ded.select("doc_id", "content_md5").collect())
    spark.stop()
    sparkenv.shutdown_jvm()
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump(out, f)


def test_keys_mode_shuffles_under_half_of_window_bytes(tmp_path):
    work = str(tmp_path)
    proc = subprocess.run(
        [sys.executable, "-m", "tests.test_dedup_bytes", work], cwd=ROOT,
        capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, (proc.stdout + proc.stderr)[-4000:]
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    assert not os.path.exists(f"/proc/{res['jvm_pid']}")

    events = eventlog.load(os.path.join(work, "events"))
    size = sum(os.path.getsize(p)
               for p in glob.glob(os.path.join(res["path"], "*.parquet")))
    written = {mode: eventlog.summarize(events, mode, res["path"], size, 1)
               ["shuffle.write_bytes"] for mode in MODES}
    print(f"shuffle.write_bytes {written}, keys/window "
          f"{written['keys'] / written['window']:.3f}")
    assert written["window"] > 0 and written["keys"] > 0
    assert written["keys"] <= 0.5 * written["window"], written

    survivors = N_DOCS - N_DOCS // DUP_EVERY
    assert len(res["rows"]["window"]) == survivors
    assert res["rows"]["keys"] == res["rows"]["window"]
    assert res["consumed"]["keys"] == res["consumed"]["window"]


if __name__ == "__main__":
    _child(sys.argv[1])
