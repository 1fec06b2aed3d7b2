"""Repository benchmark: seeded, closed-loop batch jobs over the package's
public functions, one client and one job at a time on local[nproc/2].

    python3 perfbench/run.py --workload suite_webpages --seed 1 --seconds 6 --trace 0

Run from the repository root. Each run generates its inputs from the seed
(in plain Python, not timed), sets Spark up SETUP_REPS times (fresh JVM
each time; the median is setup_s), runs WARMUP_ITERATIONS untimed
iterations, then iterates until --seconds have passed, at least
MIN_ITERATIONS times. An iteration is a job over the base input files
and, for json_resume, a resume job after a quarter more files land; the
reported timings are medians over the timed iterations. Every job's
outputs, warm-up included, are checked against an oracle computed without
the package; a job that raises or fails its check counts as failed.

--trace 0 prints the end-to-end metrics; --trace 1 alternates untraced and
traced iterations after the warm-up, prints the per-layer metrics
(tracing.py) and writes the spans to .perfbench_work/spans-<workload>.jsonl.
steadiness.py runs sets of runs and reports spread and drift vs the bounds. The last
line of stdout is one JSON object: correct, attempted, failed, metrics. A run
in which no iteration yielded timings prints it with correct false and no
metrics, and exits 1. Other scratch files live under .perfbench_work/ and
are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# each set-up is a fresh JVM (~5 s); two keep a run under a minute, which the
# benchmark's run budget needs
SETUP_REPS = 2
# the first job in a JVM loads classes, generates and compiles code: two to
# three times a warm job, and mostly JVM work rather than the package's
WARMUP_ITERATIONS = 1
MIN_ITERATIONS = 1


def load_spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as fh:
        return json.load(fh)


WORKLOADS = {"suite_webpages": "SuiteWebpages", "json_resume": "JsonResume",
             "clean_corpus": "CleanCorpus"}


def workload_class(name: str):
    import importlib

    return getattr(importlib.import_module(name), WORKLOADS[name])


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t_import = time.perf_counter()
    sys.path.insert(0, str(ROOT))
    # the Python workers the JVM forks import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    try:
        import jsonschemaparse_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the package under test from {ROOT}: {e}")
        return 2
    import sparkenv
    import tracing
    import_s = time.perf_counter() - t_import

    spec = load_spec()
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    spark = None
    try:
        wl = workload_class(args.workload)(args.seed, work)
        t0 = time.perf_counter()
        wl.generate()
        log(f"generated inputs in {time.perf_counter() - t0:.1f}s")

        # set-up = imports + JVM/session start + rule compilation, sampled
        # SETUP_REPS times with a fresh JVM each; the kept (last) session then
        # forks the Python workers once, for workloads that run Python
        setup_samples, compile_samples = [], []
        for rep in range(SETUP_REPS):
            if spark is not None:
                sparkenv.stop_session(spark)
                spark = None
            t0 = time.perf_counter()
            spark = sparkenv.start_session(work)
            wl.setup(spark)
            setup_samples.append(import_s + time.perf_counter() - t0)
            compile_samples.append(wl.compile_s)
        wl.compile_s = statistics.median(compile_samples)
        prefork_s = 0.0
        if wl.uses_python:
            t0 = time.perf_counter()
            sparkenv.prefork_python_workers(spark)
            prefork_s = time.perf_counter() - t0
        setup_s = statistics.median(setup_samples) + prefork_s
        log(f"setup samples {[round(s, 2) for s in setup_samples]} + prefork {prefork_s:.2f}s")

        attempted = failed = 0
        timings: list[dict] = []
        traced: list[dict] = []
        untraced_wall: list[float] = []
        rss = 0.0
        tracer = reader = None
        if args.trace:
            tracer = tracing.Tracer(spark, args.workload, f"{args.workload}-{args.seed}")
            reader = tracing.StatusReader(spark)

        def one(i: int, traced_it: bool, timed: bool = True):
            nonlocal attempted, failed, rss
            it = work / f"it{i}"
            t0 = time.perf_counter()
            if traced_it:
                wl.install_hooks(tracer)
                first_span = len(tracer.spans)
            try:
                times, errors, n = wl.iteration(spark, it, tracer if traced_it else None)
            except Exception:  # noqa: BLE001 - a failed job is counted, not fatal
                log(traceback.format_exc())
                # an iteration that raised counts all its jobs as failed
                errors = ["cold: raised", "resume: raised"][:2 if wl.delta_files else 1]
                times, n = None, len(errors)
            finally:
                if traced_it:
                    tracer.unpatch()
            wall = time.perf_counter() - t0
            attempted += n
            if errors:
                failed += min(n, len({e.split(":")[0] for e in errors}))
                for e in errors:
                    log(f"CHECK FAILED it{i}: {e}")
            rss = max(rss, sparkenv.peak_rss_mb())
            shutil.rmtree(it, ignore_errors=True)
            kind = "traced" if traced_it else "plain" if timed else "warm-up"
            log(f"it{i} {kind} {wall:.2f}s "
                f"{ {k: round(v, 3) for k, v in (times or {}).items()} }")
            if times is None or not timed:
                return
            if traced_it:
                spans = tracer.spans[first_span:]
                traced.append(layer_sample(wl, tracer, reader, spans, times))
            else:
                timings.append(times)
                untraced_wall.append(times["job_s"] + (times["resume_s"] if wl.delta_files else 0.0))

        # warm-up: the first jobs in a fresh JVM load classes, generate code
        # and JIT-compile; they are checked but not timed
        i = 1
        for _ in range(WARMUP_ITERATIONS):
            one(i, False, timed=False)
            i += 1
        # then iterate until the window has passed, at least MIN_ITERATIONS
        # times (failed iterations included, so a broken program ends the
        # run too); a traced run alternates untraced and traced iterations
        start = time.perf_counter()
        n_timed = 0
        min_iterations = 2 if args.trace else MIN_ITERATIONS
        cpu0 = sparkenv.cpu_times()
        while n_timed < min_iterations or time.perf_counter() - start < args.seconds:
            one(i, bool(args.trace) and n_timed % 2 == 1)
            n_timed += 1
            i += 1
        log(f"CPU steal while timing: {sparkenv.steal_share(cpu0, sparkenv.cpu_times()):.1%}")

        if not timings or (args.trace and not traced):
            log("no iteration yielded timings")
            print(json.dumps({"correct": False, "attempted": attempted,
                              "failed": failed, "metrics": {}}))
            return 1
        if args.trace:
            metrics = per_layer(spec, wl, traced, untraced_wall)
            tracer.dump(ROOT / ".perfbench_work" / f"spans-{args.workload}.jsonl")
        else:
            med = {k: statistics.median(t[k] for t in timings) for k in wl.timing_keys}
            values = {
                "setup_s": (setup_s, "s"),
                "job_s": (med["job_s"], "s"),
                "rows_per_s": (wl.cold_rows() / med["job_s"], "1/s"),
                "verdict_s": (med["verdict_s"], "s"),
                "resume_s": (med["resume_s"], "s"),
                "peak_rss_mb": (rss, "MB"),
            }
            metrics = {m["name"]: {"value": values[m["name"]][0], "unit": values[m["name"]][1]}
                       for m in spec["end_to_end"]}
            log(f"error_rate {failed / max(attempted, 1):.4f} ({failed}/{attempted} jobs), "
                f"{len(timings)} timed iterations")
        sparkenv.stop_session(spark)
        spark = None
        log(f"run wall {time.perf_counter() - t_import:.1f}s")
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            sparkenv.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass


def layer_sample(wl, tracer, reader, spans, times) -> dict[str, float]:
    """Per-layer numbers of one traced iteration (cold + resume job)."""
    import tracing

    roots = [s for s in spans if s.parent is None]
    out: dict[str, float] = {}
    layers = {s.layer for s in spans}
    for layer in layers:
        jobs = tracing.layer_jobs(spans, layer)
        st = tracing.stage_metrics(reader, jobs, with_straggler=bool(jobs))
        for k, v in st.items():
            out[f"{layer}.{k}"] = v
        out[f"{layer}.self_s"] = sum(tracer.self_time(s) for s in spans if s.layer == layer)
    all_jobs = [j for s in spans for j in s.jobs]
    out["job.spark_jobs"] = float(len(all_jobs))
    out["job.traced_s"] = sum(r.duration for r in roots)
    out[f"{wl.name}.driver_s"] = sum(tracing.driver_seconds(tracer, reader, r) for r in roots)
    out.update(wl.layer_metrics(tracer, reader, spans))
    return out


def per_layer(spec, wl, traced, untraced_wall) -> dict:
    import tracing

    med = tracing.medians(traced)
    med.update(wl.run_metrics())
    if traced and untraced_wall:
        med["job.trace_overhead_s"] = med["job.traced_s"] - statistics.median(untraced_wall)
        self_sum = sum(v for k, v in med.items() if k.endswith(".self_s"))
        log(f"accounting: traced cold+resume {med['job.traced_s']:.3f}s = layer self times "
            f"{self_sum:.3f}s + gap {med['job.traced_s'] - self_sum:.3f}s; of it "
            f"{med[f'{wl.name}.driver_s']:.3f}s ran no Spark stage (driver_s); "
            f"trace overhead {med['job.trace_overhead_s']:.3f}s")
    names = {m["name"]: m["unit"] for m in spec["per_layer"]}
    unlisted = sorted(set(med) - set(names))
    if unlisted:
        log(f"measured but not listed in BENCHMARK.json: {unlisted}")
    # a layer the workload does not touch reads 0
    return {n: {"value": float(med.get(n, 0.0)), "unit": u} for n, u in names.items()}


if __name__ == "__main__":
    sys.exit(main())
