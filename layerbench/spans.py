"""Spans around calls into the program's modules, kept in memory.

Spans are opened by wrapping module attributes (the functions
``run_pipeline_wave`` and ``run_extraction_job`` reach through their
modules) and the pyspark actions the program calls, so the program's
own code runs unchanged.  Spark jobs are given to spans afterwards by
time interval: each job goes to the innermost span whose interval holds
its submission time.  A job's call site cannot be used, because jobs
started off the driver thread (AQE, broadcast, writes) carry none.
"""

from __future__ import annotations

import functools
import sys
import time
from contextlib import contextmanager

from probes import tree_cpu_s, union_s


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str):
        span = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
        }
        self.spans.append(span)
        self._stack.append(span["id"])
        try:
            yield span
        finally:
            self._stack.pop()
            span["end"] = time.time()

    def wrap(
        self, owner, attr: str, layer: str, name: str | None = None, cpu: bool = False
    ) -> None:
        """Replace ``owner.attr`` by a version that runs inside a span;
        with ``cpu`` the span also records the process tree's CPU."""
        orig = getattr(owner, attr)
        label = name or f"{layer}.{attr}"

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(label, layer) as span:
                c0 = tree_cpu_s() if cpu else 0.0
                try:
                    return orig(*args, **kwargs)
                finally:
                    if cpu:
                        span["core_s"] = tree_cpu_s() - c0

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def wrap_action(self, cls, attr: str) -> None:
        """Wrap a pyspark action so each call opens a span named after
        the program function that called it (plus the last path
        component for writer calls)."""
        orig = getattr(cls, attr)

        @functools.wraps(orig)
        def traced(obj, *args, **kwargs):
            frame = sys._getframe(1)
            module = frame.f_globals.get("__name__", "")
            if not module.startswith("article_extractor_spark"):
                return orig(obj, *args, **kwargs)
            layer = module.removeprefix("article_extractor_spark.")
            name = f"{layer}.{frame.f_code.co_name}.{attr}"
            if args and isinstance(args[0], str):
                name += ":" + args[0].rstrip("/").rsplit("/", 1)[-1]
            with self.span(name, layer):
                return orig(obj, *args, **kwargs)

        self._patches.append((cls, attr, orig))
        setattr(cls, attr, traced)

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- analysis -------------------------------------------------------

    def attribute(self, jobs: list[dict]) -> list[dict]:
        """Give each job to the innermost span holding its submission
        time; return the jobs no span could claim."""
        depth = {}
        for s in self.spans:
            depth[s["id"]] = 0 if s["parent"] is None else depth[s["parent"]] + 1
            s["jobs"] = []
        unclaimed = []
        for job in jobs:
            best = None
            for s in self.spans:
                if s["start"] <= job["start"] <= s["end"] and (
                    best is None or depth[s["id"]] > depth[best["id"]]
                ):
                    best = s
            if best is None:
                unclaimed.append(job)
            else:
                best["jobs"].append(job)
        return unclaimed

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def subtree(self, span: dict) -> list[dict]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def stats(self, span: dict) -> dict:
        """Wall, self time, gap and Spark job totals of one span."""
        wall = span["end"] - span["start"]
        covered = union_s((c["start"], c["end"]) for c in self.children(span))
        jobs = [j for s in self.subtree(span) for j in s["jobs"]]
        spark_s = union_s((j["start"], j["end"]) for j in jobs)
        return {
            "wall_s": wall,
            "self_s": wall - covered,
            "gap_pct": 100 * (wall - covered) / wall if wall > 0 else 0.0,
            "spark_jobs": len(jobs),
            "spark_s": spark_s,
            "driver_s": wall - spark_s,
        }
