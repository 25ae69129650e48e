"""Benchmark entry point.

    python3 firmbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (see ``workloads.py``) on ``local[<cores>]`` through the
program's own ``session.get_spark`` defaults: generate inputs from the seed,
run the workload's fixed number of warm-up passes (the first one checks
correctness), then timed passes until ``--seconds`` have been measured (at
least one). The warm-up count is fixed, so every run times the same stretch
of the warm-up curve.
Prints one report line (``{"report": ...}``: every pass time including
warm-up, per-op quartiles, CPU steal share and JVM GC time over the timed
region, failures) and, as the last line, the result object. ``--trace 1``
reports the per-layer metrics from spans instead of the end-to-end metrics
and writes the spans to ``.bench_out/``.

Everything the run writes (inputs, warehouse, Spark scratch, JVM temp files)
stays under ``.bench_work/`` in the checkout and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_TIMED = 1
#: stop starting timed passes once a run is this old, so it ends within
#: the 180 s a run may take even on a slow host
RUN_DEADLINE_S = 140.0

END_TO_END = {"setup_s": "s", "pass_s": "s", "op_geomean_s": "s"}
PER_LAYER = {
    "peak_rss_mb": "MB",
    "construct_s": "s",
    "construct_jobs": "count",
    "construct_py4j_calls": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "execute_s": "s",
    "execute.jobs": "count",
    "execute.stages": "count",
    "execute.tasks": "count",
    "execute.shuffle_write_bytes": "bytes",
    "execute.spill_bytes": "bytes",
    "execute.driver_gap_s": "s",
    "catalog.land_s": "s",
    "catalog.rows_written": "count",
    "catalog.bytes_written": "bytes",
    "catalog.rows_written_per_row_landed": "ratio",
    "expect.test_s": "s",
    "expect.test_jobs": "count",
    "jvm_gc_s": "s",
    "trace.op_gap_s": "s",
}


def quartiles(values: list[float]) -> dict:
    if len(values) == 1:
        q1 = med = q3 = values[0]
    else:
        q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return {"median": med, "q1": q1, "q3": q3, "n": len(values)}


def cpu_times() -> list[int] | None:
    try:
        with open("/proc/stat", encoding="ascii") as fh:
            return [int(v) for v in fh.readline().split()[1:9]]
    except OSError:
        return None


def steal_share(before, after) -> float | None:
    if before is None or after is None:
        return None
    delta = [a - b for a, b in zip(after, before)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def peak_rss_mb(spark) -> float:
    """Peak resident set of this process plus the Spark JVM."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        kb += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return kb / 1024


def _covered(spans) -> dict[int, float]:
    """Span id -> seconds covered by its direct child spans."""
    covered: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            covered[s.parent] = covered.get(s.parent, 0.0) + s.seconds
    return covered


def layer_totals(spans, rows_landed: int) -> dict[str, float]:
    """Per-layer totals over the spans of one pass."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    covered = _covered(spans)
    for s in spans:
        if s.layer == "op":
            m["trace.op_gap_s"] += s.seconds - covered.get(s.id, 0.0)
        elif s.layer == "construct":
            m["construct_s"] += s.seconds
            m["construct_jobs"] += s.jobs
            m["construct_py4j_calls"] += s.py4j_calls
        elif s.layer == "write":
            m["execute_s"] += s.seconds
            m["execute.jobs"] += s.jobs
            m["execute.stages"] += s.stages
            m["execute.tasks"] += s.tasks
            m["execute.shuffle_write_bytes"] += s.shuffle_write_bytes
            m["execute.spill_bytes"] += s.spill_bytes
            m["execute.driver_gap_s"] += max(0.0, s.seconds - s.job_busy_s)
            m["catalyst.analysis_s"] += s.analysis_s
            m["catalyst.optimization_s"] += s.optimization_s
            m["catalyst.planning_s"] += s.planning_s
            m["catalog.rows_written"] += s.rows_written
            m["catalog.bytes_written"] += s.bytes_written
        elif s.layer == "land":
            m["catalog.land_s"] += s.seconds
        elif s.layer == "test":
            m["expect.test_s"] += s.seconds
            m["expect.test_jobs"] += s.jobs
    if rows_landed:
        m["catalog.rows_written_per_row_landed"] = m["catalog.rows_written"] / rows_landed
    return m


def op_accounting(spans) -> dict:
    """Per op name: median wall time, time inside layer spans, and the gap."""
    covered = _covered(spans)
    by_name: dict[str, list] = {}
    for s in spans:
        if s.layer == "op":
            by_name.setdefault(s.name, []).append((s.seconds, covered.get(s.id, 0.0)))
    return {
        name: {
            "wall_s": statistics.median(w for w, _ in rows),
            "spans_s": statistics.median(c for _, c in rows),
            "gap_s": statistics.median(w - c for w, c in rows),
        }
        for name, rows in by_name.items()
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM the gateway launched, and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from firmbench import workloads

    kinds = {w.name: w for w in (workloads.Dag, workloads.Relational)}
    if args.workload not in kinds:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(kinds)}")

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    try:
        return _run(args, kinds[args.workload], work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, kind, work: str, t_start: float) -> int:
    from firmbench import tracing
    from unified_firmographic_data_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{len(os.sched_getaffinity(0))}]")
    session_s = time.perf_counter() - t0
    try:
        tracer = tracing.Tracer(spark) if args.trace else tracing.NoTrace()
        wl = kind(spark, work, args.seed, tracer)
        t0 = time.perf_counter()
        wl.generate()
        generate_s = time.perf_counter() - t0

        passes = []

        def run_pass(i: int, warmup: bool) -> None:
            first_span = len(tracer.spans)
            gc0 = jvm_gc_s(spark)
            ops = wl.run_pass(i)
            passes.append({
                "warmup": warmup,
                "ops": ops,
                "seconds": sum(op.seconds for op in ops),
                "gc_s": jvm_gc_s(spark) - gc0,
                "spans": tracer.spans[first_span:],
            })

        for i in range(wl.WARMUP_PASSES):
            run_pass(i, warmup=True)
        setup_s = time.perf_counter() - t_start

        cpu0, gc0, t_timed = cpu_times(), jvm_gc_s(spark), time.perf_counter()
        i = wl.WARMUP_PASSES
        while True:
            run_pass(i, warmup=False)
            i += 1
            elapsed = time.perf_counter() - t_timed
            timed = i - wl.WARMUP_PASSES
            if timed >= MIN_TIMED and (
                elapsed >= args.seconds
                or time.perf_counter() - t_start + passes[-1]["seconds"] > RUN_DEADLINE_S
            ):
                break
        timed_s = time.perf_counter() - t_timed
        steal, gc_timed = steal_share(cpu0, cpu_times()), jvm_gc_s(spark) - gc0
        rss = peak_rss_mb(spark)
        tracer.close()
    finally:
        stop_spark(spark)

    timed_passes = [p for p in passes if not p["warmup"]]
    op_times: dict[str, list[float]] = {}
    for p in timed_passes:
        for op in p["ops"]:
            op_times.setdefault(op.name, []).append(op.seconds)
    op_medians = {name: quartiles(v) for name, v in op_times.items()}
    pass_times = [p["seconds"] for p in timed_passes]
    half = len(pass_times) // 2
    failures = [f for p in passes for op in p["ops"] for f in op.failures]
    attempted = sum(len(p["ops"]) for p in passes)
    failed = sum(1 for p in passes for op in p["ops"] if op.failures)

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": len(os.sched_getaffinity(0)),
        "setup": {"session_s": session_s, "generate_s": generate_s, "total_s": setup_s},
        "passes": [
            {"warmup": p["warmup"], "seconds": p["seconds"], "gc_s": p["gc_s"],
             "ops": {op.name: op.seconds for op in p["ops"]}}
            for p in passes
        ],
        "pass_s": quartiles(pass_times),
        "drift": {
            "last_warmup_pass_s": passes[wl.WARMUP_PASSES - 1]["seconds"],
            "first_half_median_s": statistics.median(pass_times[:half]) if half else None,
            "second_half_median_s": statistics.median(pass_times[-half:]) if half else None,
        },
        "peak_rss_mb": rss,
        "op_medians": op_medians,
        "timed_s": timed_s,
        "cpu_steal_share": steal,
        "jvm_gc_timed_s": gc_timed,
        "attempted": attempted,
        "failed": failed,
        "failures": failures[:20],
    }
    if args.trace:
        per_pass = [layer_totals(p["spans"], wl.rows_landed()) for p in timed_passes]
        metrics = {
            name: {"value": statistics.median(p[name] for p in per_pass), "unit": unit}
            for name, unit in PER_LAYER.items()
        }
        metrics["jvm_gc_s"]["value"] = statistics.median(p["gc_s"] for p in timed_passes)
        metrics["peak_rss_mb"]["value"] = rss
        report["op_accounting"] = op_accounting([s for p in timed_passes for s in p["spans"]])
        out = os.path.join(ROOT, ".bench_out")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"spans-{args.workload}-seed{args.seed}.jsonl"), "w") as fh:
            for s in tracer.spans:
                fh.write(json.dumps(s.as_dict()) + "\n")
    else:
        geomean = math.exp(statistics.fmean(math.log(q["median"]) for q in op_medians.values()))
        values = {
            "setup_s": setup_s,
            "pass_s": statistics.median(pass_times),
            "op_geomean_s": geomean,
        }
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END.items()}
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
