"""Layered benchmark of ``job extract`` and ``job wave``.

    python3 layerbench/run.py --workload extract-giant-tail --seed 1 \
        --seconds 40 --trace 0

Run from the repository root.  Builds the workload's seeded inputs in
process, starts a fresh Spark session, makes the workload's fixed call
sequence, checks the outputs, and prints a report followed by one JSON
line: the end-to-end metrics with ``--trace 0``, the per-layer metrics
of a traced run with ``--trace 1``.  Scratch files live under
``.layerbench_work/`` and are removed at exit; the run record (per-call
diagnostics, spans, Spark jobs) is written to ``.layerbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
from contextlib import nullcontext

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 150  # leaves time to stop the JVM inside the 180 s limit

# pipeline wave step -> the spans directly under a wave that belong to it
STEPS = {
    "extract": ("job.run_extraction_job", "sources.tableio.read_table", "pipeline.docs_from_extraction"),
    "curate": (
        "queries.curation_verdicts",
        "pipeline.incremental_verdicts",
        "pipeline.run_pipeline_wave.parquet:verdicts",
        "pipeline.run_pipeline_wave.collect",
    ),
    "pack": ("pipeline._pack_bases", "pipeline.shuffled_pack", "pipeline.run_pipeline_wave.parquet:pack"),
    "examples": ("pipeline.materialize_chunks", "pipeline.run_pipeline_wave.parquet:examples"),
    "state": ("pipeline.committed_epochs", "pipeline._update_dedup_state"),
    "manifest": ("pipeline.run_pipeline_wave.first",),
}


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Bench:
    """One run: the session, the timed-call record and the tracer."""

    def __init__(self, seed: int, seconds: int, work: str, records: str):
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.records = records
        self.tracer = None
        self.spark = None
        self.calls: list[dict] = []
        self.setup_s = 0.0
        self.worker_rss_mb = 0.0

    def start_session(self) -> None:
        from article_extractor_spark.session import build_session

        from probes import JvmClock

        tmp = os.path.join(self.work, "tmp")
        t0 = time.time()
        self.spark = build_session(
            app_name="layerbench",
            cores=len(os.sched_getaffinity(0)),
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": tmp,
                # no hsperfdata file in /tmp: the run writes only in its checkout
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )
        self.session_start_s = time.time() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.sparkContext.setJobGroup("layerbench", "layerbench run")
        self.jvm = JvmClock(self.spark)

    def stop_session(self) -> None:
        """Stop Spark, then the driver JVM, and wait until it has ended
        (the JVM takes its Python workers down with it)."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                proc.wait(timeout=60)

    def end_setup(self) -> None:
        self.setup_s = time.time() - T_START

    def call(self, label: str, fn, docs: int):
        """Make one timed call and record its wall time, process-tree
        CPU, and the JIT, GC and host-steal time spent during it.  The
        workers' peak RSS is read right after each call: Spark stops
        workers that stay idle for a minute, and a stopped worker's
        peak is lost."""
        from probes import steal_s, tree_cpu_s, worker_peak_rss_mb

        j0, g0, s0, c0 = self.jvm.jit_s(), self.jvm.gc_s(), steal_s(), tree_cpu_s()
        t0 = time.time()
        with self.tracer.span(f"call.{label}", "bench") if self.tracer else nullcontext():
            result = fn()
        wall = time.time() - t0
        self.calls.append(
            {
                "label": label,
                "docs": docs,
                "wall_s": wall,
                "core_s": tree_cpu_s() - c0,
                "jit_s": self.jvm.jit_s() - j0,
                "gc_s": self.jvm.gc_s() - g0,
                "steal_s": steal_s() - s0,
            }
        )
        self.worker_rss_mb = max(self.worker_rss_mb, worker_peak_rss_mb())
        return result


def end_to_end(workload, bench: Bench, checks) -> dict:
    calls = bench.calls
    # on pipeline-recrawl the rate is over the incremental waves; the
    # first call there is epoch 0, the full curation funnel
    rated = calls[1:] if workload.name == "pipeline-recrawl" else calls
    docs = sum(c["docs"] for c in calls)
    return {
        "setup_s": bench.setup_s,
        "first_call_s": calls[0]["wall_s"],
        "docs_per_s": rated[0]["docs"] / _median([c["wall_s"] for c in rated]),
        "core_s_per_kdoc": sum(c["core_s"] for c in calls) / (docs / 1000),
        "ok_ratio": checks.ok / checks.attempted,
        "worker_peak_rss_mb": bench.worker_rss_mb,
    }


def install_tracing(tracer) -> None:
    """Spans around the functions ``run_extraction_job`` and
    ``run_pipeline_wave`` reach through module attributes, and around
    the pyspark actions the program calls."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from article_extractor_spark import job, pipeline, queries
    from article_extractor_spark.sources import tableio

    tracer.wrap(job, "run_extraction_job", "job", cpu=True)
    for name in ("resolve_giant_threshold", "extract_articles", "render_spans_to_html"):
        tracer.wrap(job, name, "operators.extraction", f"operators.extraction.{name}")
    for name in (
        "dir_size_bytes",
        "read_table",
        "has_bucket_dirs",
        "bucket_sample_aligned",
        "read_committed_buckets",
        "clear_buckets",
        "write_bucketed",
        "build_lineage",
        "append_lineage_rows",
    ):
        tracer.wrap(tableio, name, "sources.tableio")
    tracer.wrap(queries, "curation_verdicts", "queries")
    for name in (
        "committed_epochs",
        "docs_from_extraction",
        "incremental_verdicts",
        "_pack_bases",
        "shuffled_pack",
        "materialize_chunks",
        "_update_dedup_state",
    ):
        tracer.wrap(pipeline, name, "pipeline")
    for name in ("collect", "first", "take", "count", "approxQuantile"):
        tracer.wrap_action(DataFrame, name)
    for name in ("parquet", "save"):
        tracer.wrap_action(DataFrameWriter, name)


def per_layer(workload, bench: Bench, checks, shape, extra, passes, unclaimed) -> dict:
    tr = bench.tracer
    calls = [s for s in tr.spans if s["layer"] == "bench"]
    jobspans = [
        s for c in calls for s in tr.subtree(c) if s["name"] == "job.run_extraction_job"
    ]
    js = [tr.stats(s) for s in jobspans]
    e2e = end_to_end(workload, bench, checks)
    m = {
        "session.start_s": bench.session_start_s,
        "session.jit_s": sum(c["jit_s"] for c in bench.calls),
        "session.gc_s": sum(c["gc_s"] for c in bench.calls),
        "session.steal_s": sum(c["steal_s"] for c in bench.calls),
        "synth.build_s": shape["build_s"],
        "synth.docs": shape["docs"],
        "synth.html_mb": shape["html_mb"],
    }
    m.update(passes)
    m.update(
        {
            "job.wall_s": _median([s["wall_s"] for s in js]),
            "job.spark_jobs": _median([s["spark_jobs"] for s in js]),
            "job.spark_s": _median([s["spark_s"] for s in js]),
            "job.driver_s": _median([s["driver_s"] for s in js]),
            "job.core_s": _median([s["core_s"] for s in jobspans]),
            "job.gap_pct": _median([s["gap_pct"] for s in js]),
        }
    )
    waves = calls[1:] if workload.name == "pipeline-recrawl" else []
    ws = [tr.stats(w) for w in waves]
    steps = []
    for w in waves:
        per = {}
        for child in tr.children(w):
            step = next((k for k, names in STEPS.items() if child["name"] in names), None)
            if step is None:
                continue
            st = tr.stats(child)
            per[f"{step}_s"] = per.get(f"{step}_s", 0.0) + st["wall_s"]
            per[f"{step}.jobs"] = per.get(f"{step}.jobs", 0) + st["spark_jobs"]
        steps.append(per)
    m.update(
        {
            "pipeline.spark_jobs": _median([s["spark_jobs"] for s in ws]),
            "pipeline.spark_s": _median([s["spark_s"] for s in ws]),
            "pipeline.driver_s": _median([s["driver_s"] for s in ws]),
        }
    )
    for step in STEPS:
        m[f"pipeline.{step}_s"] = _median([p.get(f"{step}_s", 0.0) for p in steps])
        m[f"pipeline.{step}.jobs"] = _median([p.get(f"{step}.jobs", 0) for p in steps])
    if workload.name == "pipeline-recrawl":
        e0 = calls[0]
        curate0 = sum(
            tr.stats(c)["wall_s"] for c in tr.children(e0) if c["name"] in STEPS["curate"]
        )
        m.update(
            {
                "pipeline.epoch0_s": bench.calls[0]["wall_s"],
                "pipeline.wave_s": _median([c["wall_s"] for c in bench.calls[1:]]),
                "pipeline.epoch0_spark_jobs": tr.stats(e0)["spark_jobs"],
                "pipeline.epoch0_curate_s": curate0,
                "pipeline.state_rows": extra["state_rows"],
                "pipeline.state_files": extra["state_files"],
                "pipeline.dup_hit_ratio": extra["dup_hit_ratio"],
                "pipeline.gap_pct": _median([s["gap_pct"] for s in ws]),
            }
        )
    layer_self = {}
    for c in calls:
        for s in tr.subtree(c):
            layer_self[s["layer"]] = layer_self.get(s["layer"], 0.0) + tr.stats(s)["self_s"]
    for layer in ("bench", "job", "pipeline", "queries", "sources.tableio", "operators.extraction"):
        m[f"self.{layer}_s"] = layer_self.get(layer, 0.0)
    m["trace.unclaimed_jobs"] = len(unclaimed)
    m["trace.spans"] = len(tr.spans)
    for name, value in e2e.items():
        m[f"traced.{name}"] = value
    return m


def print_report(workload, bench: Bench, checks, shape: dict, record: dict) -> None:
    """Human-readable report above the JSON line."""
    print(f"workload {workload.name} seed {bench.seed} trace {record['trace']} nproc {record['nproc']}")
    print("shape " + " ".join(f"{k}={v}" for k, v in shape.items()))
    for c in bench.calls:
        print(
            f"call {c['label']:<12} wall_s={c['wall_s']:.3f} core_s={c['core_s']:.2f} "
            f"jit_s={c['jit_s']:.2f} gc_s={c['gc_s']:.2f} steal_s={c['steal_s']:.2f}"
        )
    walls = [c["wall_s"] for c in bench.calls]
    if workload.name == "pipeline-recrawl":
        print(f"epoch0_s {walls[0]:.3f} s (n=1)")
        walls = walls[1:]
        print(f"wave_s {_median(walls):.3f} s (median, n={len(walls)})")
    print(
        f"timed calls: median of n={len(walls)}; no percentile has ten samples beyond it"
    )
    print(f"failed docs {checks.n_failed} {checks.failed}; run errors {checks.run_errors}")
    tr = bench.tracer
    if tr is None:
        return
    last = [s for s in tr.spans if s["layer"] == "bench"][-1]
    print(f"spans of the last timed call ({last['name']}): wall_s self_s spark_jobs spark_s")
    for span in [last] + tr.children(last):
        st = tr.stats(span)
        print(f"  {span['name']:<58} {st['wall_s']:8.3f} {st['self_s']:8.3f} {st['spark_jobs']:4d} {st['spark_s']:8.3f}")
    for job in record["unclaimed_jobs"]:
        print(f"unclaimed job {job['id']} {job['call_site']} at {job['start']:.3f}")


def load_layer_units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def _on_deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    try:
        import article_extractor_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"layerbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS, Checks, KNOWN_DEFECTS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=40)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    units = load_layer_units()

    work = os.path.join(ROOT, ".layerbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    records = os.path.join(ROOT, ".layerbench_out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(records, exist_ok=True)
    # keep every scratch file of the session inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("AES_DRIVER_MEM", "2g")
    tempfile.tempdir = None
    signal.signal(signal.SIGALRM, _on_deadline)
    signal.alarm(DEADLINE_S)

    workload = WORKLOADS[args.workload](args.seconds)
    bench = Bench(args.seed, args.seconds, work, records)
    checks = Checks()
    try:
        t0 = time.time()
        shape = workload.build(args.seed, work)
        shape["build_s"] = time.time() - t0
        bench.start_session()
        if args.trace:
            from spans import Tracer

            bench.tracer = Tracer(f"{args.workload}-{args.seed}")
            install_tracing(bench.tracer)
        workload.run(bench)
        extra = workload.check(bench, checks)
        if args.trace:
            import layers

            passes = layers.kernel_pass(workload.kernel_rows())
            passes.update(layers.arrow_passes(bench.spark, workload.corpus_path(), bench.tracer))
            passes.update(
                layers.tableio_pass(
                    bench.spark, workload.extracted_path(), os.path.join(work, "tableio-out"), bench.tracer
                )
            )
            bench.tracer.restore()
            from probes import spark_jobs

            jobs = spark_jobs(bench.spark, "layerbench")
            unclaimed = bench.tracer.attribute(jobs)
            metrics = per_layer(workload, bench, checks, shape, extra, passes, unclaimed)
            names = units["per_layer"]
        else:
            metrics = end_to_end(workload, bench, checks)
            names = units["end_to_end"]
    finally:
        signal.alarm(0)
        if bench.tracer is not None:
            bench.tracer.restore()
        bench.stop_session()
        shutil.rmtree(work, ignore_errors=True)

    correct = not checks.run_errors and set(checks.failed) <= KNOWN_DEFECTS
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "shape": shape,
        "calls": bench.calls,
        "failed_by_reason": checks.failed,
        "run_errors": checks.run_errors,
        "extra": extra,
        "metrics": metrics,
    }
    if args.trace:
        record["spans"] = bench.tracer.spans
        record["unclaimed_jobs"] = unclaimed
    with open(os.path.join(records, f"{args.workload}-{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    print_report(workload, bench, checks, shape, record)
    missing = [n for n in names if n not in metrics]
    out = {}
    for name, unit in names.items():
        value = metrics.get(name, 0)
        out[name] = {"value": value, "unit": unit}
        print(f"{name} {value:.6g} {unit}")
    if missing:
        print(f"not measured on this workload (0): {' '.join(missing)}")
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": checks.attempted,
                "failed": checks.n_failed,
                "metrics": out,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
