"""Traced runs: spans around the calls into each package layer, a Spark job
group per layer, and stage metrics read in-process from Spark's status
store (the UI stays off).

A span records (name, layer, start, end, parent, run id). Entering a span
sets the job group ``bench:<workload>:<layer>``; at every span boundary the
jobs that group launched since the previous boundary are attributed to the
innermost open span, so each Spark job belongs to exactly one span.

Two kinds of wrapper put spans around package calls without touching the
package:

- eager: the span covers the call (a function that runs Spark jobs);
- lazy ("sticky"): the call only builds a DataFrame, and its jobs run
  later in the caller, so the span stays open until the next layer
  boundary. `engine.run_rule_suite` calls `uniqueness_violations` and then
  counts the result; the sticky span opened by the first covers the
  second.

Spans are kept in memory; `Tracer.dump` writes them out at exit.
"""

from __future__ import annotations

import functools
import json
import re
import statistics
import time
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    idx: int
    name: str
    layer: str
    start: float
    parent: int | None
    run_id: str
    sticky: bool
    end: float | None = None
    jobs: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    def __init__(self, spark, workload: str, run_id: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.run_id = run_id
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self._seen_jobs: set[int] = set()
        self._patches: list[tuple[object, str, object]] = []

    # -- job groups ---------------------------------------------------------
    def group(self, layer: str) -> str:
        return f"bench:{self.workload}:{layer}"

    def _flush(self) -> None:
        """Attribute the jobs the active group launched since the last
        boundary to the innermost open span."""
        if not self.stack:
            return
        sp = self.spans[self.stack[-1]]
        ids = self.sc.statusTracker().getJobIdsForGroup(self.group(sp.layer))
        new = sorted(i for i in ids if i not in self._seen_jobs)
        self._seen_jobs.update(new)
        sp.jobs.extend(new)

    def _apply_group(self) -> None:
        if self.stack:
            layer = self.spans[self.stack[-1]].layer
            self.sc.setJobGroup(self.group(layer), layer)
        else:
            self.sc._jsc.clearJobGroup()

    # -- spans --------------------------------------------------------------
    def _open(self, name: str, layer: str, sticky: bool) -> Span:
        self._flush()
        sp = Span(len(self.spans), name, layer, time.time(),
                  self.stack[-1] if self.stack else None, self.run_id, sticky)
        self.spans.append(sp)
        self.stack.append(sp.idx)
        self._apply_group()
        return sp

    def _close_top(self) -> None:
        self._flush()
        self.spans[self.stack.pop()].end = time.time()
        self._apply_group()

    def _close_sticky(self) -> None:
        if self.stack and self.spans[self.stack[-1]].sticky:
            self._close_top()

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        self._close_sticky()
        sp = self._open(name, layer or name, sticky=False)
        try:
            yield sp
        finally:
            while self.stack and self.stack[-1] != sp.idx:
                self._close_top()
            self._close_top()

    def enter_sticky(self, name: str, layer: str) -> None:
        self._close_sticky()
        self._open(name, layer, sticky=True)

    def inside(self, name: str) -> bool:
        return any(self.spans[i].name == name for i in self.stack)

    # -- wrappers around package calls ----------------------------------------
    def patch(self, owner, attr: str, name: str, layer: str, *, lazy: bool,
              within: str | None = None, on_result=None) -> None:
        """Replace owner.attr with a wrapper that opens a span per call
        (only while inside span `within`, when given)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if within is not None and not self.inside(within):
                return orig(*args, **kwargs)
            if lazy:
                self.enter_sticky(name, layer)
                out = orig(*args, **kwargs)
            else:
                with self.span(name, layer):
                    out = orig(*args, **kwargs)
            if on_result is not None:
                on_result(out)
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- queries over finished spans ------------------------------------------
    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.idx]

    def subtree(self, sp: Span) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def self_time(self, sp: Span) -> float:
        return sp.duration - sum(c.duration for c in self.children(sp))

    def dump(self, path) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(asdict(sp)) + "\n")


def span_or_none(tracer: Tracer | None, name: str, layer: str | None = None):
    """tracer.span(name, layer), or a no-op context in an untraced iteration."""
    return tracer.span(name, layer) if tracer is not None else nullcontext()


# ---------------------------------------------------------------------------
# status store reader
# ---------------------------------------------------------------------------
_UNITS = {"B": 1e-6, "KiB": 1024 / 1e6, "MiB": 1024 ** 2 / 1e6,
          "GiB": 1024 ** 3 / 1e6, "TiB": 1024 ** 4 / 1e6,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_sql_metric(text: str) -> float:
    """A formatted SQL metric ('total (min, med, max ...)\\n404.3 KiB (...)',
    '5.3 s', '50,000') as a number: sizes in MB, timings in seconds."""
    lines = text.strip().splitlines()
    line = lines[1] if len(lines) > 1 and lines[0].startswith("total") else lines[0]
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]+)?", line)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusReader:
    """Stage, task and SQL metrics from Spark's in-process status stores."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._stage_cache: dict[int, list[dict]] = {}

    def job_stages(self, job_id: int) -> list[dict]:
        if job_id in self._stage_cache:
            return self._stage_cache[job_id]
        out = []
        try:
            sids = self._store.job(job_id).stageIds()
        except Exception:  # noqa: BLE001 - evicted or unknown job
            return out
        for i in range(sids.size()):
            sid = sids.apply(i)
            try:
                seq = self._store.stageData(sid, False, self._jvm.java.util.ArrayList(),
                                            False, self._no_quantiles)
            except Exception:  # noqa: BLE001 - evicted stage
                continue
            for k in range(seq.size()):
                s = seq.apply(k)
                if str(s.status()) != "COMPLETE":
                    continue
                out.append({
                    "stage": sid, "attempt": s.attemptId(),
                    "run_s": s.executorRunTime() / 1e3,
                    "cpu_s": s.executorCpuTime() / 1e9,
                    "gc_s": s.jvmGcTime() / 1e3,
                    "shuffle_mb": s.shuffleWriteBytes() / 1e6,
                    "spill_mb": s.diskBytesSpilled() / 1e6,
                    "tasks": s.numCompleteTasks(),
                    "input_records": s.inputRecords(),
                    "start": _opt_ms(s.submissionTime()),
                    "end": _opt_ms(s.completionTime()),
                })
        self._stage_cache[job_id] = out
        return out

    def stages(self, job_ids) -> list[dict]:
        seen, out = set(), []
        for j in job_ids:
            for s in self.job_stages(j):
                key = (s["stage"], s["attempt"])
                if key not in seen:
                    seen.add(key)
                    out.append(s)
        return out

    def straggler_ratio(self, stage: dict) -> float:
        """max / median task duration of one stage."""
        seq = self._store.taskList(stage["stage"], stage["attempt"], 1_000_000)
        durs = []
        for i in range(seq.size()):
            d = seq.apply(i).duration()
            if d.isDefined():
                durs.append(float(d.get()))
        med = statistics.median(durs) if durs else 0.0
        return max(durs) / med if med > 0 else 1.0

    def python_metrics(self, job_ids) -> dict[str, float]:
        """Python-UDF SQL metrics summed over the SQL executions that ran
        any of `job_ids`: rows' Arrow bytes sent to the workers (MB) and
        the time the workers ran (s)."""
        job_ids = set(job_ids)
        sent = run = 0.0
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            jobs = e.jobs().keys().toList()
            if not any(jobs.apply(k) in job_ids for k in range(jobs.size())):
                continue
            values = self._sql.executionMetrics(e.executionId())
            ms = e.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                name = m.name()
                if name not in ("data sent to Python workers", "time to run Python workers"):
                    continue
                v = values.get(m.accumulatorId())
                if not v.isDefined():
                    continue
                x = parse_sql_metric(v.get())
                if name.startswith("data sent"):
                    sent += x
                else:
                    run += x
        return {"arrow_mb_sent": sent, "python_exec_s": run}


def stage_metrics(reader: StatusReader, job_ids, with_straggler: bool = True) -> dict[str, float]:
    st = reader.stages(job_ids)
    out = {
        "task_cpu_s": sum(s["cpu_s"] for s in st),
        "task_run_s": sum(s["run_s"] for s in st),
        "gc_s": sum(s["gc_s"] for s in st),
        "shuffle_mb": sum(s["shuffle_mb"] for s in st),
        "spill_mb": sum(s["spill_mb"] for s in st),
        "tasks": float(sum(s["tasks"] for s in st)),
        "straggler_ratio": 0.0,
    }
    if with_straggler and st:
        out["straggler_ratio"] = reader.straggler_ratio(max(st, key=lambda s: s["run_s"]))
    return out


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_seconds(tracer: Tracer, reader: StatusReader, root: Span) -> float:
    """Wall time of `root` that no Spark stage was active in: planning,
    driver-side loops, collects and job scheduling."""
    jobs = [j for s in tracer.subtree(root) for j in s.jobs]
    iv = [(max(s["start"], root.start), min(s["end"], root.end))
          for s in reader.stages(jobs) if s["start"] is not None and s["end"] is not None]
    return root.duration - union_length([(a, b) for a, b in iv if b > a])


def input_records(reader: StatusReader, job_ids) -> int:
    return sum(s["input_records"] for s in reader.stages(job_ids))


def layer_jobs(spans, layer: str) -> list[int]:
    return [j for s in spans if s.layer == layer for j in s.jobs]


def span_total(spans, name: str) -> float:
    return sum(s.duration for s in spans if s.name == name)


def medians(samples: list[dict[str, float]]) -> dict[str, float]:
    keys = {k for s in samples for k in s}
    return {k: statistics.median(s.get(k, 0.0) for s in samples) for k in keys}
