"""What every workload shares: the iteration shape (a job over F input
files, then, for workloads with a resume phase, K new files land and a
second job runs), hard-linked input staging, and order-insensitive digests
for the correctness checks.

An iteration is one closed-loop client: the next job starts only after the
previous one has finished and been checked.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from tracing import span_or_none


def digest(rows) -> str:
    """Order-insensitive digest of an iterable of tuples."""
    h = hashlib.sha256()
    for line in sorted("\t".join("" if v is None else str(v) for v in r) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def compiled_rules(suite) -> int:
    """Compiled schema nodes plus table checks of a compiled rule suite."""
    nodes = len(suite.schema.registry.schemas) if suite.schema is not None else 0
    return nodes + len(suite.unique) + len(suite.referential) + len(suite.drift)


def read_parquet_dir(path: Path, columns=None) -> pa.Table:
    files = sorted(p for p in Path(path).rglob("*.parquet"))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return pa.concat_tables([pq.read_table(f, columns=columns) for f in files])


def write_files(rows: list[dict], schema: pa.Schema, directory: Path, n_files: int,
                prefix: str) -> list[Path]:
    """Split rows into n_files parquet files, in order."""
    directory.mkdir(parents=True, exist_ok=True)
    out = []
    per = (len(rows) + n_files - 1) // n_files
    for i in range(n_files):
        chunk = rows[i * per:(i + 1) * per]
        p = directory / f"{prefix}-{i:03d}.parquet"
        pq.write_table(pa.Table.from_pylist(chunk, schema=schema), p)
        out.append(p)
    return out


def link_into(files: list[Path], directory: Path) -> None:
    directory.mkdir(parents=True, exist_ok=True)
    for f in files:
        os.link(f, directory / f.name)


class Workload:
    """Subclasses generate inputs and their expected outputs from the seed,
    run the cold and the resume job, and check what the jobs wrote."""

    name = ""
    uses_python = False      # fork Python workers during set-up
    # the end-to-end timings one iteration produces
    timing_keys = ("job_s", "verdict_s", "resume_s")

    def __init__(self, seed: int, work: Path):
        self.seed = seed
        self.work = work
        self.inputs = work / "inputs"
        self.base_files: list[Path] = []
        self.delta_files: list[Path] = []
        self.compile_s = 0.0

    # -- subclass interface ---------------------------------------------------
    def generate(self) -> None:
        raise NotImplementedError

    def setup(self, spark) -> None:
        """Per-session set-up that a user pays on every invocation (rule
        compilation); timed as part of setup_s."""

    def cold_rows(self) -> int:
        raise NotImplementedError

    def cold(self, spark, it: Path, tracer) -> float:
        """Run the cold job; return seconds until its verdict was known."""
        raise NotImplementedError

    def resume(self, spark, it: Path, tracer) -> None:
        """The job after the delta files land (only with delta files)."""
        raise NotImplementedError

    def check(self, it: Path, phase: str) -> list[str]:
        raise NotImplementedError

    def install_hooks(self, tracer) -> None:
        """Patch package entry points with tracing wrappers."""

    def layer_metrics(self, tracer, reader, spans) -> dict[str, float]:
        return {}

    def run_metrics(self) -> dict[str, float]:
        """Per-layer numbers measured once per traced run."""
        return {}

    # -- shared iteration -------------------------------------------------------
    def iteration(self, spark, it: Path, tracer=None) -> tuple[dict, list[str], int]:
        """One cold job and, with delta files, one resume job. Returns
        (timings, errors, attempted jobs)."""
        errors: list[str] = []
        timings: dict[str, float] = {}
        if it.exists():
            shutil.rmtree(it)
        link_into(self.base_files, it / "input")
        t0 = time.perf_counter()
        with span_or_none(tracer, "job.cold", "job"):
            timings["verdict_s"] = self.cold(spark, it, tracer)
        timings["job_s"] = time.perf_counter() - t0
        errors += [f"cold: {e}" for e in self.check(it, "cold")]
        if not self.delta_files:     # no resume phase: resume_s repeats job_s
            timings["resume_s"] = timings["job_s"]
            return timings, errors, 1
        link_into(self.delta_files, it / "input")
        t0 = time.perf_counter()
        with span_or_none(tracer, "job.resume", "job"):
            self.resume(spark, it, tracer)
        timings["resume_s"] = time.perf_counter() - t0
        errors += [f"resume: {e}" for e in self.check(it, "resume")]
        return timings, errors, 2
