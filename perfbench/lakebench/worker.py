"""One benchmark run in a prepared environment; ``perfbench/run.py`` starts
it. Prints a report line, then the result line the contract defines.

Set-up runs from the first import of the program to the end of the warm
pass: module imports, Spark session start, and one full untimed pass,
where index builds, code generation and first table creation land. Then
a fixed number of timed passes run back to back: as many as fill
``--seconds`` at the workload's nominal pass time, whatever the speed of
the program, so every commit is measured on the same passes. Every timed
pass does the same work on the same state. With ``--trace 1`` passes come
in pairs of one untraced and one traced pass, and the order within a pair
alternates, so the per-layer numbers and the tracing overhead come from
the same run and neither side is always the warmer one.

The end-to-end metrics are the bytes a pass reads from storage and the
CPU time of set-up; pass wall and CPU times are printed beside them (see
README.md, "Why pass time is not bounded").
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time
from pathlib import Path

from .procs import session_cpu_s
from .tracing import Tracer
from .workloads import WORKLOADS, Outcome, run_ops

# per-layer metric -> span counter summed over a traced pass
LAYER_COUNTERS = {
    "spark.jobs": "jobs",
    "spark.stages": "stages",
    "spark.tasks": "tasks",
    "spark.input_bytes": "input_bytes",
    "spark.shuffle_read_bytes": "shuffle_read_bytes",
    "spark.shuffle_write_bytes": "shuffle_write_bytes",
    "spark.executor_run_s": "executor_run_s",
    "spark.executor_cpu_s": "executor_cpu_s",
}


def unit_of(name: str) -> str:
    """The unit of a figure, from the suffix its name carries."""
    if name.endswith("_s") or "_s." in name:
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_bytes", "bytes_written")):
        return "bytes"
    if name in ("storage_amp", "error_rate", "steal_share"):
        return "ratio"
    return "count"


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc."""
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the host so far, from /proc/stat."""
    fields = [int(v) for v in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:9]]
    return fields[7], sum(fields)


def scanned_bytes(spark) -> int:
    """Bytes Spark has read from storage so far: the executor's running
    total, once the listener bus has delivered every finished task."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return sc.statusStore().executorSummary("driver").totalInputBytes()


def median_pass_s(passes: list[list[Outcome]], clock: str = "seconds") -> float:
    """One pass's time from several: the sum over operations of each
    operation's median time (``clock`` is ``seconds`` for wall time,
    ``cpu_seconds`` for CPU time), so one slow call in one pass does not
    move it."""
    names = [o.name for o in passes[0]]
    return sum(statistics.median(getattr(o, clock) for p in passes for o in p if o.name == n)
               for n in names)


def layer_metrics(pass_spans: list[list]) -> dict[str, float]:
    """Per-layer metrics: the median over traced passes of each pass's
    sum over its operation spans."""
    per_pass: list[dict[str, float]] = []
    for spans in pass_spans:
        m = {"op.build_s": 0.0, "op.exec_s": 0.0}
        for metric in LAYER_COUNTERS:
            m[metric] = 0.0
        for s in spans:
            if s.name == "pass":
                continue
            phase = "op.build_s" if s.name.endswith(".build") else "op.exec_s"
            m[phase] += s.seconds
            for metric, counter in LAYER_COUNTERS.items():
                m[metric] += s.counters.get(counter, 0)
        per_pass.append(m)
    return {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}


def op_layer_report(pass_spans: list[list]) -> dict[str, float]:
    """Per-operation figures from the traced passes, named by the layer the
    call enters: ``q.<query>.build_s`` / ``.exec_s`` / ``.jobs``, and one
    ``<module>.<function>_s[.<file type>]`` per source call."""
    samples: dict[str, list[float]] = {}
    for spans in pass_spans:
        this: dict[str, float] = {}
        for s in spans:
            if s.name == "pass":
                continue
            stem, phase = s.name.rsplit(".", 1)
            if stem.startswith(("q.", "ref.")):
                keys = [(f"{stem}.{phase}_s", s.seconds), (f"{stem}.jobs", s.counters["jobs"])]
            elif stem.startswith("plans.query_api.run_query"):
                keys = [("plans.query_api.run_query_s", s.seconds)]
            else:  # sources.<module>.<function>[.<file type>]
                parts = stem.split(".")
                fn = ".".join(parts[:3])
                tail = f".{parts[3]}" if len(parts) > 3 else ""
                keys = [(f"{fn}_s{tail}", s.seconds), (f"{fn}_jobs", s.counters["jobs"])]
            for k, v in keys:
                this[k] = this.get(k, 0.0) + v
        for k, v in this.items():
            samples.setdefault(k, []).append(v)
    return {k: statistics.median(v) for k, v in sorted(samples.items())}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", type=Path, required=True)
    ap.add_argument("--trace-file", type=Path, required=True)
    args = ap.parse_args(argv)

    wl = WORKLOADS[args.workload](args.work, args.seed)
    wl.prepare()
    info = {
        "workload": wl.name, "seed": args.seed, "sf": wl.sf,
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        "seconds": args.seconds, "trace": args.trace,
    }

    sid = os.getsid(0)
    t0, cpu0 = time.perf_counter(), session_cpu_s(sid)
    ticks0 = cpu_ticks()
    from energy_datalake_solution_spark.plans.registry import get_headliners
    from energy_datalake_solution_spark.plans.session import get_spark

    get_headliners()
    spark = get_spark(f"lakebench-{wl.name}")
    spark.sparkContext.setLogLevel("ERROR")
    off = Tracer(spark, "off", enabled=False)
    warm = run_ops(wl.ops(spark, 0), off)
    setup_wall_s = time.perf_counter() - t0
    setup_s = session_cpu_s(sid) - cpu0
    problems = wl.check(spark, 0, warm)

    tracer = Tracer(spark, f"{wl.name}-{args.seed}", enabled=True)
    plain: list[list[Outcome]] = []
    traced: list[list[Outcome]] = []
    traced_spans: list[list] = []
    scans: list[int] = []  # bytes read by each untraced pass
    n_passes = max(1, math.ceil(args.seconds / wl.nominal_pass_s))
    if args.trace:
        n_passes += n_passes % 2
    for i in range(n_passes):
        use_trace = bool(args.trace) and i % 2 != (i // 2) % 2
        pass_no = i + 1
        ops = wl.ops(spark, pass_no)
        first_span = len(tracer.spans)
        tr = tracer if use_trace else off
        scanned = scanned_bytes(spark)
        with tr.span("pass"):
            outcomes = run_ops(ops, tr)
        if use_trace:
            traced.append(outcomes)
            traced_spans.append(tracer.spans[first_span:])
        else:
            plain.append(outcomes)
            scans.append(scanned_bytes(spark) - scanned)
        problems += wl.check(spark, pass_no, outcomes)

    ticks1 = cpu_ticks()
    passes = plain + traced
    attempted = sum(len(p) for p in passes)
    failed = sum(1 for p in passes for o in p if o.error)
    # CPU time the hypervisor gave to other guests while this run was
    # measured: a run with a large share is slow for reasons outside it
    steal_share = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    report = dict(wl.report(spark, passes), error_rate=failed / attempted,
                  passes=len(passes), setup_s=setup_s, setup_wall_s=setup_wall_s,
                  pass_s=median_pass_s(plain), pass_cpu_s=median_pass_s(plain, "cpu_seconds"),
                  steal_share=steal_share)
    if args.trace:
        report.update(op_layer_report(traced_spans))
        metrics = layer_metrics(traced_spans)
        for suffix, clock in (("s", "seconds"), ("cpu_s", "cpu_seconds")):
            untraced = median_pass_s(plain, clock)
            metrics[f"untraced_pass_{suffix}"] = untraced
            metrics[f"traced_pass_{suffix}"] = median_pass_s(traced, clock)
            metrics[f"trace.overhead_{suffix}"] = metrics[f"traced_pass_{suffix}"] - untraced
    else:
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        report["python_rss_mb"] = vm_hwm_mb("self")
        report["jvm_rss_mb"] = vm_hwm_mb(jvm_pid)
        report["peak_rss_mb"] = report["python_rss_mb"] + report["jvm_rss_mb"]
        metrics = {"setup_s": setup_s, "scan_mb": statistics.median(scans) / 1e6}
    spark.stop()

    tracer.dump(args.trace_file, {"run": info, "report": report,
                                  "problems": problems, "metrics": metrics})
    for p in problems[:20]:
        print(f"MISMATCH {p}", file=sys.stderr)
    print(json.dumps({"run": info, "report": {
        k: {"value": v, "unit": unit_of(k)} for k, v in report.items()}}))
    print(json.dumps({
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
