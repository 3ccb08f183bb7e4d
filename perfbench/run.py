"""Benchmark entry point.

    python3 perfbench/run.py --workload tms_ingest --seed 1 --seconds 25 --trace 0

Runs one workload of `perfbench.workloads` against the engine in this
checkout and prints, as the last line of stdout, one JSON object
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics untraced (``--trace 0``), the per-layer metrics traced
(``--trace 1``). The line before it is a JSON object with the run's
details (inputs, host context, per-class timings, checks).

Everything the run writes — inputs, tables, temp files, Spark local
dirs, the event log — lives under a private directory in
``.perfbench_runs/`` of the checkout, removed at exit after the bytes
the program left in its temp dirs are reported (``tmp_leak_bytes``).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()
with open("/proc/stat") as _f:  # the host's CPU ticks at process start
    TICKS_START = [int(x) for x in _f.readline().split()[1:]]

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

# (name, unit) — BENCHMARK.json lists the same metrics
END_TO_END = [
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("class_a_s.p50", "s"),
    ("class_b_s.p50", "s"),
]
PER_LAYER = [
    ("session.start_s", "s"),
    ("sources.tables.load_s", "s"),
    ("tms.source.read_daily_s", "s"),
    ("tms.pipeline.import_self_s", "s"),
    ("tms.backfill_rows_per_s", "rows/s"),
    ("tms.stored_bytes_per_row", "B/row"),
    ("operators.merge.dedupe_batch_s", "s"),
    ("versioned.write_version_s", "s"),
    ("versioned.merge_version_s", "s"),
    ("versioned.merge_outside_jobs_s", "s"),
    ("versioned.jobs_per_commit", "count"),
    ("versioned.files_rewritten_per_merge", "count"),
    ("versioned.bytes_written_per_input_byte", "ratio"),
    ("versioned.maintain_s", "s"),
    ("versioned.read_plan_s", "s"),
    ("versioned.files_scanned_per_read", "count"),
    ("versioned.prune_ratio", "ratio"),
    ("versioned.rows_scanned_per_row_returned", "ratio"),
    ("bloomindex.probe_s", "s"),
    ("bloomindex.files_admitted_frac", "ratio"),
    ("catalog.build_s", "s"),
    ("catalog.action_s", "s"),
    ("catalyst.plan_s", "s"),
    ("spark.jobs_per_op", "count"),
    ("spark.tasks_per_op", "count"),
    ("spark.task_s", "s"),
    ("spark.task_parallelism", "ratio"),
    ("spark.outside_jobs_s", "s"),
    ("spark.shuffle_bytes", "B"),
    ("spark.spill_bytes", "B"),
    ("spark.gc_s", "s"),
    ("python.task_s", "s"),
    ("similarity.recall_at_10.ivf", "ratio"),
    ("similarity.recall_at_10.pq", "ratio"),
    ("trace.op_self_frac", "ratio"),
    ("trace_overhead_frac", "ratio"),
    ("tmp_leak_bytes", "B"),
    ("peak_rss_mb", "MB"),
]


class Ctx:
    """What a workload gets from the runner: its private directory,
    the seed, whether the run is traced, and the details dict printed
    before the result line."""

    def __init__(self, root: str, seed: int, trace: bool):
        self.root = root
        self.seed = seed
        self.trace = trace
        self.detail: dict = {}


def _run_dirs(workload: str, seed: int) -> dict[str, str]:
    base = os.path.join(ROOT, ".perfbench_runs", f"{workload}-{seed}-{os.getpid()}")
    dirs = {k: os.path.join(base, k) for k in ("tmp", "spark-local", "events", "work")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    dirs["base"] = base
    return dirs


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    import tms_etl_spark  # noqa: F401 — fail fast outside a checkout

    from perfbench import harness
    from perfbench.tracing import (
        Tracer,
        layer_metrics,
        parse_event_log,
        trace_overhead,
    )

    host = harness.host_context()
    ticks = harness.cpu_ticks()
    cores = harness.cpus()
    dirs = _run_dirs(workload, seed)
    # private temp and Spark dirs, set before the JVM starts
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    tempfile.tempdir = None
    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']}"}
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.dir": "file://" + dirs["events"]})

    from perfbench.workloads import TRACED, WORKLOADS, trace_counts

    imported = time.perf_counter() - T_START
    ticks_imported = harness.cpu_ticks()
    ctx = Ctx(dirs["work"], seed, trace)
    ctx.detail["host"] = host
    w = WORKLOADS[workload]()
    out: dict = {"detail": ctx.detail}
    try:
        t = time.perf_counter()
        w.prepare(ctx)
        ctx.detail["prepare_s"] = time.perf_counter() - t
        # set-up: process start to the first timed operation, less the
        # benchmark's own input generation (``prepare``)
        t0 = time.perf_counter()
        ticks_t0 = harness.cpu_ticks()
        spark = harness.start_session(conf)
        ctx.detail["session.start_s"] = time.perf_counter() - t0
        setup_wall = imported + time.perf_counter() - t0
        # the stolen share over both parts: process start to the end of
        # the imports, and session start to the first timed operation
        share = harness.stolen_share(
            [a + b for a, b in zip(TICKS_START, ticks_t0)],
            [a + b for a, b in zip(ticks_imported, harness.cpu_ticks())])
        ctx.detail["setup_wall_s"] = setup_wall
        ctx.detail["setup_stolen_share"] = share
        setup_s = harness.steal_adjusted(setup_wall, share)
        jvm = harness.jvm_pid(spark)
        tracer = None
        if trace:
            tracer = Tracer(spark)
            tracer.patch(TRACED, post=trace_counts)
        timer = harness.Timer(seconds, tracer)
        t = time.perf_counter()
        w.loop(spark, ctx, timer)
        ctx.detail["loop_wall_s"] = time.perf_counter() - t
        if tracer is not None:
            tracer.unpatch()
        t = time.perf_counter()
        checks, wrong = w.check(spark, ctx)
        ctx.detail["check_s"] = time.perf_counter() - t
        e2e = w.end_to_end(timer, ctx)
        ctx.detail["peak_rss_mb"] = harness.peak_rss_mb(jvm)
        e2e["setup_s"] = setup_s
        # kind, steal-adjusted s, ok, traced, wall s, stolen share
        ctx.detail["ops"] = [[k, round(s, 4), ok, tr, round(w, 4), round(sh, 3)]
                             for (k, s, ok, tr), (w, sh) in zip(timer.ops, timer.raw)]
        out.update(e2e=e2e, attempted=len(timer.ops) + checks,
                   failed=timer.failed() + wrong)
        app_id = spark.sparkContext.applicationId
    finally:
        try:
            harness.shutdown_jvm()
            host["stolen_share"] = harness.stolen_share(ticks, harness.cpu_ticks())
            leak = harness.dir_bytes(dirs["tmp"]) + harness.dir_bytes(dirs["spark-local"])
            ctx.detail["tmp_leak_bytes"] = leak
            if trace and "e2e" in out:
                jobs, stages = parse_event_log(os.path.join(dirs["events"], app_id))
                layers = layer_metrics(tracer.spans, jobs, stages, cores)
                layers.update({
                    "session.start_s": ctx.detail["session.start_s"],
                    "trace_overhead_frac": trace_overhead(timer.ops[timer.warm_from:]),
                    "tmp_leak_bytes": leak,
                    "peak_rss_mb": ctx.detail["peak_rss_mb"],
                })
                layers.update(w.layer_extras(ctx))
                out["layers"] = layers
        finally:
            shutil.rmtree(dirs["base"], ignore_errors=True)
            with contextlib.suppress(OSError):  # left only if another run is live
                os.rmdir(os.path.dirname(dirs["base"]))
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    # on SIGTERM, unwind through run()'s cleanup: stop the JVM, delete
    # the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    from perfbench.workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        p.error(f"unknown workload {a.workload!r}; choose from {sorted(WORKLOADS)}")
    out = run(a.workload, a.seed, a.seconds, bool(a.trace))
    if a.trace:
        values, spec = out["layers"], PER_LAYER
    else:
        values, spec = out["e2e"], END_TO_END
    print(json.dumps(out["detail"], default=str), flush=True)
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in spec},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
