"""Layer passes that only the traced run makes, after its timed calls:
the pure kernel per phase, the Arrow boundary, and the bucketed write
with its lineage commit.  Each pass calls the program's public
functions; none re-implements them."""

from __future__ import annotations

import os
import statistics
import time
from contextlib import ExitStack

from article_extractor_spark.dom.node import Node
from article_extractor_spark.extract import pipeline as kernel
from article_extractor_spark.extract.scoring import DocMemo

# kernel phase -> the names ``extract.pipeline._extract_inner`` looks up
PHASES = {
    "parse": [(kernel, "parse_html")],
    "clean": [(kernel, "clean_document"), (kernel, "extract_title")],
    "memo": [(DocMemo, "prime")],
    "rank": [(kernel, "discover_candidates"), (kernel, "rank"), (kernel, "refine_top")],
    "sanitize": [
        (kernel, "absolutize_urls"),
        (kernel, "sanitize_content"),
        (kernel, "host_specific_cleanup"),
        (kernel, "safe_mode_clean"),
    ],
    "serialize": [(kernel, "dom_to_spans"), (Node, "to_text")],
}
GIANT_BYTES = 1 << 20


def render_html(spans: list[dict] | None) -> str | None:
    """Python twin of ``render_spans_to_html``: the HTML string the job
    hands the kernel for a row of the corpus table."""
    if spans is None:
        return None
    out = []
    for s in sorted(spans, key=lambda s: s["offset"]):
        if s["kind"] == "media":
            out.append(f'<img src="{s["media_ref"]}" />')
        elif "<" in s["text"]:
            out.append(s["text"])
        else:
            out.append(f"<p>{s['text']}</p>")
    return "\n".join(out)


class _PhaseTimer:
    """Times the outermost phase call only, so a phase that calls
    another phase's function (``to_text`` inside sanitize) is not
    counted twice."""

    def __init__(self):
        self.totals = dict.fromkeys(PHASES, 0.0)
        self._active = False

    def wrap(self, phase: str, fn):
        def timed(*args, **kwargs):
            if self._active:
                return fn(*args, **kwargs)
            self._active = True
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.totals[phase] += time.perf_counter() - t0
                self._active = False

        return timed


def kernel_pass(rows: list[dict]) -> dict:
    """``extract_document`` over the workload's own docs on one core,
    with each phase timed where ``_extract_inner`` looks it up."""
    timer = _PhaseTimer()
    docs = [(render_html(r["spans"]) or "", r["url"], r["bytes"]) for r in rows]
    doc_us, giant_us = [], []
    with ExitStack() as stack:
        for phase, targets in PHASES.items():
            for owner, attr in targets:
                orig = getattr(owner, attr)
                stack.callback(setattr, owner, attr, orig)
                setattr(owner, attr, timer.wrap(phase, orig))
        cpu0 = time.process_time()
        for html, url, size in docs:
            t0 = time.perf_counter()
            kernel.extract_document(html, url=url)
            us = (time.perf_counter() - t0) * 1e6
            (giant_us if size >= GIANT_BYTES else doc_us).append(us)
        cpu = time.process_time() - cpu0
    n = len(docs)
    total_us = sum(doc_us) + sum(giant_us)
    phase_us = {p: t * 1e6 / n for p, t in timer.totals.items()}
    q = statistics.quantiles(doc_us, n=100)
    out = {
        "extract.docs_per_core_s": n / cpu,
        "extract.doc_us.p50": statistics.median(doc_us),
        "extract.doc_us.p99": q[98],
        "extract.giant_us.p50": statistics.median(giant_us) if giant_us else 0.0,
        "extract.gap_pct": 100 * (1 - sum(phase_us.values()) * n / total_us),
    }
    out.update({f"extract.{p}_us": v for p, v in phase_us.items()})
    return out


def arrow_passes(spark, corpus_path: str, tracer) -> dict:
    """Noop-sink passes over the same pruned input: scan + render, plus
    an identity ``mapInArrow``, plus the real ``extract_articles``."""
    from pyspark.sql import functions as F

    from article_extractor_spark.operators.extraction import (
        extract_articles,
        render_spans_to_html,
        resolve_giant_threshold,
    )
    from article_extractor_spark.operators.parallelism import (
        ensure_compute_parallelism,
    )
    from article_extractor_spark.sources import tableio

    pruned = ensure_compute_parallelism(
        render_spans_to_html(tableio.read_table(spark, corpus_path)).select(
            "doc_id", "url", "html"
        )
    )

    def timed(name, action):
        with tracer.span(f"layer.extraction.{name}", "operators.extraction") as s:
            result = action()
        return s["end"] - s["start"], result

    scan_s, _ = timed("scan_render", lambda: pruned.write.format("noop").mode("overwrite").save())
    ident_s, _ = timed(
        "identity",
        lambda: pruned.mapInArrow(lambda it: it, pruned.schema)
        .write.format("noop")
        .mode("overwrite")
        .save(),
    )
    probe_s, threshold = timed("probe", lambda: resolve_giant_threshold(pruned))
    extract_s, row = timed(
        "extract",
        lambda: extract_articles(pruned, giant_threshold="auto")
        .agg(F.sum("proc_us").alias("us"), F.count("*").alias("n"))
        .first(),
    )
    kernel_s = extract_s - ident_s - probe_s
    kernel_core_s = (row["us"] or 0) / 1e6
    cores = spark.sparkContext.defaultParallelism
    return {
        "extraction.scan_render_s": scan_s,
        "extraction.boundary_s": ident_s - scan_s,
        "extraction.kernel_s": kernel_s,
        "extraction.kernel_core_s": kernel_core_s,
        "extraction.parallel_eff": kernel_core_s / (cores * (extract_s - probe_s)),
        "extraction.probe_s": probe_s,
        "extraction.salted": 0 if threshold is None else 1,
    }


def tableio_pass(spark, extracted_path: str, out_path: str, tracer) -> dict:
    """The job's append path (``write_bucketed``) and lineage commit on
    an already materialised extraction result."""
    from article_extractor_spark.sources import tableio

    result = tableio.read_table(spark, extracted_path)
    with tracer.span("layer.tableio.write", "sources.tableio") as w:
        tableio.write_bucketed(
            result, out_path, mode="append", dynamic=False, preshuffled=True
        )
    with tracer.span("layer.tableio.lineage", "sources.tableio") as lin:
        rows = [
            tuple(r)
            for r in tableio.build_lineage(
                tableio.read_table(spark, out_path), "layerbench"
            ).collect()
        ]
        tableio.append_lineage_rows(spark, rows, out_path)
    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(out_path)
        for f in fs
        if f.endswith(".parquet")
    ]
    return {
        "tableio.write_s": w["end"] - w["start"],
        "tableio.lineage_s": lin["end"] - lin["start"],
        "tableio.output_mb": sum(os.path.getsize(f) for f in files) / 1e6,
        "tableio.files": len(files),
    }
