#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload chunk_hybrid --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. Workloads (see workloads.py):
chunk_hybrid, train_corpus. The input is generated from ``--seed`` and
cached under perfbench/.work/.

``--trace 0`` measures the end-to-end metrics with event logs off:
  setup_s        start-up until the engine has run the workload's
                 set-up pass: module imports, JVM launch, SparkContext +
                 get_spark(), and that pass. Input generation is left
                 out. One start-up per run: on a loaded host a start-up
                 takes 15-50 s, and a second one would push the runs
                 past the benchmark's time budget;
  docs_per_cpu_s docs per CPU-second the engine spends (the JVM, less
                 its JIT compiler threads, plus its Python workers, from
                 /proc), median over the timed
                 passes at local[nproc/2]. CPU time leaves out the time
                 the host's hypervisor gives the box's vCPUs to other
                 guests, which on a shared host moved wall-clock docs/s
                 by 2x within minutes;
  peak_rss_mb    peak RSS of the JVM plus its Python workers.
Between set-up and the timed passes the workload's settle_passes run
untimed, while the JVM is still compiling; a workload may cap its
timed passes (max_passes). Wall-clock docs/s
(docs_per_s) is printed on the detail line, and is a per-layer metric
of the traced run, beside task skew and scaling_eff: the CPU-based
figure does not see work that stops running in parallel.
``--trace 1`` is a separate run with event logs on; it prints the
per-layer metrics (eventlog.py for the Spark runtime, inproc.py for the
per-document Python layers) and scaling_eff: median full-pass docs/s
over cores * median single-task docs/s on the corpus's last 1/cores,
passes interleaved (chunk_hybrid only).

Every run checks the workload's output (error_share) and brackets
itself with a fixed pure-Python CPU loop (control_*_s) that runs no
program code, so box drift can be told from program drift. Both are
printed on the detail line before the result line; the last line is
the result: {"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

CONTROL_LOOPS = 3_000_000

# which end-to-end metric each layer metric should move, and on which
# workload; BENCHMARK.json's schema has no field for it, so every run
# prints it on its detail line
LAYER_TARGETS = {
    "scan.*": "docs_per_cpu_s on train_corpus (read_amp ~n_buckets there)",
    "engine.arrow_*_bytes, engine.python_run_s":
        "docs_per_cpu_s on chunk_hybrid",
    "engine.python_start_s": "setup_s on chunk_hybrid",
    "docs_per_s, task.*, scaling_eff":
        "wall-clock time on chunk_hybrid (its slowest task ends the pass), "
        "which docs_per_cpu_s does not see",
    "shuffle.*, spill.bytes, write.*, spark.jobs":
        "docs_per_cpu_s on train_corpus",
    "jvm.gc_s": "docs_per_cpu_s on both workloads",
    "python.rss_peak_mb": "peak_rss_mb on chunk_hybrid",
    "jvm.rss_peak_mb": "peak_rss_mb on both workloads",
    "engine.decode_*, engine.outbuild_*, model.*, serializers.*, chunking.*":
        "docs_per_cpu_s on chunk_hybrid",
    "textops.*": "docs_per_cpu_s on train_corpus",
}


def control_loop() -> float:
    """A fixed pure-Python CPU loop; its time tracks the box only."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(CONTROL_LOOPS):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def quartiles(xs):
    if len(xs) < 2:
        return [xs[0]] * 3
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return [q[0], statistics.median(xs), q[2]]


def timed_run(wl, seconds: float, import_s: float) -> dict:
    import sparkenv

    t0 = time.perf_counter()
    spark = sparkenv.start(WORK, wl.cores)
    wl.warmup(spark)
    setup_s = import_s + time.perf_counter() - t0
    for _ in range(wl.settle_passes):
        wl.full_pass(spark)
    walls, cpus = [], []  # docs/s and docs per engine CPU-second
    t_start = time.perf_counter()
    while not walls or (time.perf_counter() - t_start < seconds
                        and len(walls) != wl.max_passes):
        c0, t0 = sparkenv.cpu_s(), time.perf_counter()
        n = wl.full_pass(spark)
        walls.append(n / (time.perf_counter() - t0))
        cpus.append(n / (sparkenv.cpu_s() - c0))
    rss = sparkenv.peak_rss_mb()
    checked, bad = wl.verify(spark)
    spark.stop()
    sparkenv.shutdown_jvm()
    return {
        "checked": checked, "bad": bad,
        "metrics": {
            "docs_per_cpu_s": {"value": statistics.median(cpus),
                               "unit": "docs/cpu-s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
        },
        "detail": {"docs_per_s": {"value": statistics.median(walls),
                                  "unit": "docs/s"},
                   "docs_per_s_q1_med_q3": quartiles(walls),
                   "passes": len(walls), "pass_docs_per_s": walls,
                   "pass_docs_per_cpu_s": cpus},
    }


def traced_run(wl, seconds: float, import_s: float) -> dict:
    import eventlog
    import inproc
    import sparkenv

    ev_dir = os.path.join(WORK, "events", f"{wl.kind}-s{wl.seed}")
    shutil.rmtree(ev_dir, ignore_errors=True)
    spark = sparkenv.start(WORK, wl.cores, event_dir=ev_dir)
    sc = spark.sparkContext
    sc.setJobGroup("warmup", "set-up pass")
    wl.warmup(spark)
    sc.setJobGroup("settle", "untimed passes")
    for _ in range(wl.settle_passes):
        wl.full_pass(spark)
    # full passes, and single-task passes for the weak-scaling reading
    # where the workload has one, interleaved
    single_pass = getattr(wl, "single_pass", None)
    full, single = [], []
    t_start = time.perf_counter()
    while not full or (time.perf_counter() - t_start < seconds
                       and len(full) != wl.max_passes):
        sc.setJobGroup("measured", "full passes")
        t0 = time.perf_counter()
        n = wl.full_pass(spark)
        full.append(n / (time.perf_counter() - t0))
        if single_pass:
            sc.setJobGroup("single", "single-task passes")
            t0 = time.perf_counter()
            n = single_pass(spark)
            single.append(n / (time.perf_counter() - t0))
    n_passes = len(full)
    sc.setJobGroup("verify", "output check")
    checked, bad = wl.verify(spark)
    spark.stop()
    sparkenv.shutdown_jvm()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    # a layer the workload never enters reads 0
    layers = dict.fromkeys(units, 0.0)
    layers.update(eventlog.summarize(eventlog.load(ev_dir), "measured",
                                     wl.corpus.path, wl.corpus.n_bytes,
                                     n_passes))
    layers.update(wl.layers())
    layers["docs_per_s"] = statistics.median(full)
    if single:
        layers["scaling_eff"] = statistics.median(full) / (
            wl.cores * statistics.median(single))
    unattributed = layers["trace.unattributed"]
    reconciled = -0.01 <= unattributed <= inproc.RECONCILE_TOLERANCE
    if not reconciled:
        print(f"reconciliation failed: {unattributed:.3f} of the traced "
              f"pass is outside every layer (tolerance "
              f"{inproc.RECONCILE_TOLERANCE})", file=sys.stderr)
    return {
        "checked": checked, "bad": bad, "ok": reconciled,
        "metrics": {k: {"value": layers[k], "unit": u}
                    for k, u in units.items()},
        "detail": {"traced_passes": n_passes,
                   "full_docs_per_s": full, "single_task_docs_per_s": single,
                   "layer_targets": LAYER_TARGETS},
    }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=15.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "docling_core_spark")):
        print(f"docling_core_spark not found next to {HERE}; run from a "
              "full checkout", file=sys.stderr)
        return 2
    # the package must import here and in Spark's Python workers, and
    # every temporary file stays inside the checkout
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if x])
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(WORK, "tmp")

    t0 = time.perf_counter()
    import workloads
    import_s = time.perf_counter() - t0
    if args.workload not in workloads.WORKLOADS:
        p.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")
    control_before = control_loop()
    # half the vCPUs: at local[nproc] the engine's own threads (a Python
    # worker and an Arrow writer per task, the JVM's compiler and GC
    # threads) outnumber the vCPUs, and on a shared 4-vCPU host the
    # IQR/median of docs_per_cpu_s over seeds was 0.16 at local[4]
    # against 0.07 at local[2], runs interleaved
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    wl = workloads.WORKLOADS[args.workload](WORK, args.seed, cores)
    try:
        res = (traced_run if args.trace else timed_run)(wl, args.seconds,
                                                        import_s)
    except Exception:
        traceback.print_exc()
        import sparkenv
        sparkenv.shutdown_jvm()
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1,
                          "metrics": {}}))
        return 1
    control_after = control_loop()

    failed = len(res["bad"])
    correct = failed == 0 and res.get("ok", True)
    detail = dict(res["detail"], workload=args.workload, seed=args.seed,
                  cores=wl.cores, docs=wl.corpus.n_docs,
                  error_share={"value": failed / res["checked"],
                               "unit": "ratio"},
                  docs_checked=res["checked"], docs_wrong=res["bad"][:10],
                  control_before_s=control_before,
                  control_after_s=control_after)
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": correct, "attempted": res["checked"],
                      "failed": failed, "metrics": res["metrics"]}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
