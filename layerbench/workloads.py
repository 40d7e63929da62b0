"""The two workloads: their seeded inputs, their fixed call sequences and
the checks on the program's outputs.

Every run of a workload builds the same inputs for the same seed and
makes the same calls in the same order, so each metric is taken at the
same position on the JVM's warm-up curve in every run.
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow.parquet as pq

import corpus as C

JOB_WAVES = 4  # run_extraction_job's default: wave w takes buckets b % 4 == w


def _read(path: str, columns: list[str]) -> list[dict]:
    return pq.read_table(path, columns=columns).to_pylist()


def _digest(items) -> str:
    h = hashlib.sha256()
    for item in sorted(items):
        h.update(json.dumps(item, sort_keys=True).encode())
    return h.hexdigest()


class Checks:
    """Per-doc and per-run correctness findings of one run."""

    def __init__(self):
        self.attempted = 0
        self.failed: dict[str, int] = {}
        self.ok = 0
        self.run_errors: list[str] = []

    def fail(self, reason: str) -> None:
        self.failed[reason] = self.failed.get(reason, 0) + 1

    def extraction(self, rows: list[dict], out_path: str) -> str:
        """Check one extraction output table against its input rows;
        returns the output's digest."""
        out = _read(out_path, ["doc_id", "success", "spans"])
        self.attempted += len(rows)
        seen: dict[str, list[dict]] = {}
        for r in out:
            seen.setdefault(r["doc_id"], []).append(r)
        for row in rows:
            got = seen.get(row["doc_id"], [])
            if len(got) != 1:
                self.fail("null_spans_row_missing" if row["kind"] == "null_spans" and not got else "not_exactly_once")
                continue
            res = got[0]
            self.ok += bool(res["success"])
            if row["kind"] in ("hostile", "null_spans"):
                if res["success"]:
                    self.fail("hostile_not_failure_row")
            elif not res["success"] or res["spans"] != row["expected"]:
                self.fail("spans_mismatch")
        extra = set(seen) - {r["doc_id"] for r in rows}
        for _ in extra:
            self.fail("unexpected_doc")
        return _digest([r["doc_id"], r["success"], r["spans"]] for r in out)

    @property
    def n_failed(self) -> int:
        return sum(self.failed.values())


# Program defects this benchmark shows and counts as failed docs; a run
# whose only failed docs are these is still a correct run.
KNOWN_DEFECTS = {
    # extract_articles splits on length(html) >= threshold, which is NULL
    # on both sides for a NULL-spans row: the row vanishes once salting
    # engages
    "null_spans_row_missing",
    # a page whose bytes are not UTF-8 aborts the whole extraction job
    # (UnicodeDecodeError in the worker's Arrow-to-Python conversion)
    "invalid_utf8_aborts_job",
    # pages with no extractable article (a 5,000-deep empty div nest,
    # replacement characters, control characters) come back success=true
    "hostile_not_failure_row",
}


def check_digests(record_dir: str, key: str, digests: dict, checks: Checks) -> None:
    """Outputs of the same seed (and call sequence) must be identical
    across runs: compare with the digests an earlier run of this
    checkout left, if any."""
    path = os.path.join(record_dir, f"digests-{key}.json")
    if os.path.exists(path):
        with open(path) as fh:
            before = json.load(fh)
        for name, value in digests.items():
            if before.get(name) != value:
                checks.run_errors.append(f"{name} digest differs from an earlier run of this seed")
    else:
        with open(path, "w") as fh:
            json.dump(digests, fh)


class ExtractGiantTail:
    """``run_extraction_job`` over synth docs with a 1-4 MB giant tail and
    hostile rows: the kernel, the Arrow boundary, the salted giant branch
    and the failure-row path do nearly all the work."""

    name = "extract-giant-tail"
    BULK = 3000
    WARM_BULK = 300
    GIANT_MB = (1, 2, 3, 4)

    def __init__(self, seconds: int):
        # the number of timed calls follows --seconds, never the clock
        self.n_calls = max(2, seconds // 20)

    def kernel_rows(self) -> list[dict]:
        return self.rows

    def corpus_path(self) -> str:
        return self.corpus

    def extracted_path(self) -> str:
        return self.outputs[-1][0]

    @staticmethod
    def _giants(seed: int, prefix: str, sizes_mb) -> list[dict]:
        """One giant per job wave: wave w gets the giant of size
        ``sizes_mb[w]``, so wave 0's salting probe sees the tail."""
        rows, k = [], 0
        for w, mb in enumerate(sizes_mb):
            while C.bucket_of(f"{prefix}-{k}") % JOB_WAVES != w % JOB_WAVES:
                k += 1
            rows.append(C.giant_row(f"{prefix}-{k}", seed, mb << 20))
            k += 1
        return rows

    def build(self, seed: int, work: str) -> dict:
        self.rows = (
            [C.synth_row(f"synth-{i:09d}", seed) for i in range(self.BULK)]
            + self._giants(seed, "giant", self.GIANT_MB)
            + C.hostile_rows(seed)
        )
        warm = (
            [C.synth_row(f"warm-{i:09d}", seed + 1) for i in range(self.WARM_BULK)]
            + self._giants(seed + 1, "warm-giant", self.GIANT_MB[:1])
            + C.hostile_rows(seed + 1)
        )
        self.corpus = os.path.join(work, "corpus")
        self.warm_corpus = os.path.join(work, "warm-corpus")
        shape = C.write_table(self.rows, self.corpus)
        C.write_table(warm, self.warm_corpus)
        shape["giant_share"] = len(self.GIANT_MB) / len(self.rows)
        shape["copy_share"] = 0.0
        return shape

    def run(self, bench) -> None:
        from article_extractor_spark import job

        job.run_extraction_job(bench.spark, self.warm_corpus, os.path.join(bench.work, "warm-out"))
        bench.end_setup()
        self.outputs = []
        for i in range(self.n_calls):
            out = os.path.join(bench.work, f"out-{i}")
            stats = bench.call(
                f"extract.{i}",
                lambda: job.run_extraction_job(bench.spark, self.corpus, out, run_id=f"call-{i}"),
                docs=len(self.rows),
            )
            self.outputs.append((out, stats))

    def check(self, bench, checks: Checks) -> dict:
        digests = set()
        for out, stats in self.outputs:
            digests.add(checks.extraction(self.rows, out))
            if not stats["preshuffled"]:
                checks.run_errors.append("job did not take its bucket-aligned write path")
            if stats["giant_threshold"] is None:
                checks.run_errors.append("giant tail was not salted")
        if len(digests) != 1:
            checks.run_errors.append("timed calls over one corpus gave different outputs")
        self._check_invalid_utf8(bench, checks)
        check_digests(bench.records, f"{self.name}-{bench.seed}-{bench.seconds}", {"extraction": min(digests)}, checks)
        return {}

    @staticmethod
    def _check_invalid_utf8(bench, checks: Checks) -> None:
        """Untimed: a page of undecodable bytes must end as a failure row.
        It is kept out of the timed corpus because today it aborts the
        job, which would leave no output to time or check."""
        from py4j.protocol import Py4JJavaError
        from pyspark.errors import PySparkException

        from article_extractor_spark import job

        path = os.path.join(bench.work, "invalid-utf8")
        out = os.path.join(bench.work, "invalid-utf8-out")
        doc_id = C.write_invalid_utf8_row(bench.seed, path)
        checks.attempted += 1
        try:
            job.run_extraction_job(bench.spark, path, out)
        except (Py4JJavaError, PySparkException):
            checks.fail("invalid_utf8_aborts_job")
            return
        rows = [r for r in _read(out, ["doc_id", "success"]) if r["doc_id"] == doc_id]
        if len(rows) != 1:
            checks.fail("not_exactly_once")
        elif rows[0]["success"]:
            checks.fail("hostile_not_failure_row")


class PipelineRecrawl:
    """Epoch 0 over a small synth base, then incremental waves that mix
    new docs with verbatim copies and one-word edits of earlier docs
    (from epoch 0 and from the previous wave) under new ids: bound by
    the wave's fixed cost, and every wave appends to the dedup state
    and probes it."""

    name = "pipeline-recrawl"
    BASE = 200
    NEW, COPIES, EDITS = 30, 15, 15

    def __init__(self, seconds: int):
        # the number of incremental waves follows --seconds, never the clock
        self.n_waves = max(2, seconds // 20)

    def kernel_rows(self) -> list[dict]:
        return [r for rows in self.epochs for r in rows]

    def corpus_path(self) -> str:
        return self.paths[-1]

    def extracted_path(self) -> str:
        return os.path.join(self.out, "epochs", str(len(self.paths) - 1), "extracted")

    def build(self, seed: int, work: str) -> dict:
        base = [C.synth_row(f"base-{i:06d}", seed) for i in range(self.BASE)]
        self.epochs = [base]
        prev = base
        for w in range(1, self.n_waves + 1):
            rows = [C.synth_row(f"w{w}-new-{i:05d}", seed) for i in range(self.NEW)]
            for i in range(self.COPIES):
                pool = base if i % 2 else prev
                src = pool[(i * 7 + w * 3 + seed) % len(pool)]
                rows.append(C.copy_row(src, f"w{w}-copy-{i:05d}"))
            k = 0
            while sum(r["kind"] == "edit" for r in rows) < self.EDITS:
                pool = prev if k % 2 else base
                edited = C.edit_row(pool[(k * 13 + w + seed) % len(pool)], f"w{w}-edit-{k:05d}")
                if edited is not None:
                    rows.append(edited)
                k += 1
            self.epochs.append(rows)
            prev = rows
        self.paths = []
        shapes = []
        for e, rows in enumerate(self.epochs):
            path = os.path.join(work, f"wave-{e}")
            shapes.append(C.write_table(rows, path))
            self.paths.append(path)
        sizes = sorted(r["bytes"] for rows in self.epochs for r in rows)
        n = len(sizes)
        return {
            "docs": n,
            "html_bytes_p50": sizes[n // 2],
            "html_bytes_max": sizes[-1],
            "html_mb": round(sum(sizes) / 1e6, 3),
            "files": sum(s["files"] for s in shapes),
            "giant_share": 0.0,
            "copy_share": sum(r["kind"] == "copy" for rows in self.epochs for r in rows) / n,
        }

    def run(self, bench) -> None:
        from article_extractor_spark import pipeline

        self.out = os.path.join(bench.work, "pipe")
        bench.end_setup()
        self.manifests = []
        for e, path in enumerate(self.paths):
            self.manifests.append(
                bench.call(
                    f"epoch.{e}",
                    lambda: pipeline.run_pipeline_wave(bench.spark, path, self.out),
                    docs=len(self.epochs[e]),
                )
            )

    def check(self, bench, checks: Checks) -> dict:
        status: dict[str, str] = {}
        examples = []
        for e, rows in enumerate(self.epochs):
            if self.manifests[e].get("skipped") or self.manifests[e].get("epoch") != e:
                checks.run_errors.append(f"wave {e} was skipped")
                continue
            if not self.manifests[e]["extraction"]["preshuffled"]:
                checks.run_errors.append(f"wave {e}: job did not take its bucket-aligned write path")
            base = os.path.join(self.out, "epochs", str(e))
            checks.extraction(rows, os.path.join(base, "extracted"))
            status.update((r["doc_id"], r["status"]) for r in _read(os.path.join(base, "verdicts"), ["doc_id", "status"]))
            examples += [(r["chunk_id"], r["example"]) for r in _read(os.path.join(base, "examples"), ["chunk_id", "example"])]
        hits = probes = 0
        for rows in self.epochs[1:]:
            for r in rows:
                if r["kind"] not in ("copy", "edit"):
                    continue
                probes += 1
                got = status.get(r["doc_id"])
                hits += got in ("exact_dup", "near_dup")
                src = status.get(r["source"], "")
                if r["kind"] == "copy" and got != "exact_dup" and not (src.startswith("quality:") and got == src):
                    checks.fail("copy_not_exact_dup")
        check_digests(
            bench.records,
            f"{self.name}-{bench.seed}-{bench.seconds}",
            {"verdicts": _digest(status.items()), "examples": _digest(examples)},
            checks,
        )
        state = os.path.join(self.out, "state")
        state_files = [
            os.path.join(d, f) for d, _, fs in os.walk(state) for f in fs if f.endswith(".parquet")
        ]
        return {
            "dup_hit_ratio": hits / probes,
            "state_rows": sum(pq.read_metadata(f).num_rows for f in state_files),
            "state_files": len(state_files),
        }


WORKLOADS = {w.name: w for w in (ExtractGiantTail, PipelineRecrawl)}
