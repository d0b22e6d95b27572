#!/usr/bin/env python
"""Benchmark harness: times the engine's headline queries.

Runs each headline query (plus optionally every registered query with
--all) at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], forcing full execution with a count-style action
(no result materialization to the driver beyond the count).

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
   "cpus": ...}
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _prev_payload(prev: dict) -> "dict | None":
    # the per-round driver artifact WRAPS the bench line:
    # {"n", "rc", "cpus", "sf", "tail", "parsed"} where "tail" is
    # the LAST 2000 chars of stdout and "parsed" is the line as
    # JSON when it fit. Recover (queries, query_mips, host_mips)
    # from whichever form survived; a left-truncated tail just
    # loses the alphabetically-first queries (ratios compute on
    # the intersection).
    import re as _re

    if prev.get("queries"):
        return prev
    if isinstance(prev.get("parsed"), dict) and prev["parsed"].get(
        "queries"
    ):
        # the wrapper records the run's core count; a line that carries
        # its own wins
        return {"cpus": prev.get("cpus"), **prev["parsed"]}
    tail = prev.get("tail") or ""
    out: dict = {}
    m = _re.search(r'"query_mips":\s*\{([^{}]*)\}', tail)
    if m:
        out["query_mips"] = {
            k: float(v)
            for k, v in _re.findall(
                r'"([a-z0-9_]+)":\s*([0-9.]+)', m.group(1)
            )
        }
    m = _re.search(r'"host_mips":\s*([0-9.]+)', tail)
    if m:
        out["host_mips"] = float(m.group(1))
    m = _re.search(r'([^{}]*)\},\s*"sf"', tail)
    if m:
        out["queries"] = {
            k: float(v)
            for k, v in _re.findall(
                r'"([a-z0-9_]+)":\s*([0-9.]+)', m.group(1)
            )
        }
    out["sf"] = prev.get("sf")  # the wrapper records the run's SF
    out["cpus"] = prev.get("cpus")  # ... and its core count
    return out if out.get("queries") else None


def _comparable(prev: dict, sf: "float | None", cpus: "int | None") -> bool:
    """A prior round compares with this run only at the same scale
    factor and the same core count (an unrecorded value is no evidence
    either way): cross-SF or cross-core ratios would be meaningless."""
    for key, now in (("sf", sf), ("cpus", cpus)):
        if prev.get(key) is not None and now is not None \
                and float(prev[key]) != float(now):
            return False
    return True


def _merge_bench_last(payload: dict, here: str) -> dict:
    """Upgrade a wrapper-recovered payload with the committed
    bench_last.json (the full per-run artifact bench.py drops beside
    itself): the stdout line no longer carries query_mips — every byte
    there pushes a per-query timing out of the driver's 2000-char tail
    — so the per-query mips live only in the file. The file is trusted
    ONLY when its per-query seconds agree exactly with the wrapper's on
    their whole intersection (both are round(3) of the same dict), so a
    stale bench_last from an older round can never poison the ratios."""
    try:
        with open(os.path.join(here, "bench_last.json")) as fh:
            last = json.load(fh)
    except (OSError, ValueError):
        return payload
    lq = last.get("queries") or {}
    common = set(lq) & set(payload.get("queries") or {})
    if not common or any(
        float(lq[n]) != float(payload["queries"][n]) for n in common
    ):
        return payload
    merged = dict(payload)
    merged["queries"] = {  # copy: never mutate the caller's dict
        **{n: float(v) for n, v in lq.items()},
        **payload["queries"],
    }
    if last.get("query_mips"):
        merged["query_mips"] = {
            **(last["query_mips"]),
            **(payload.get("query_mips") or {}),
        }
    if not merged.get("host_mips") and last.get("host_mips"):
        merged["host_mips"] = last["host_mips"]
    return merged


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--all", action="store_true", help="time every registered query")
    ap.add_argument(
        "--repeat",
        type=int,
        default=3,
        help="timed repetitions; best run wins (first run pays JVM/codegen "
        "warmup, which is noise relative to steady-state throughput; 3 by "
        "default because checkpoint-heavy queries are bimodal and best-of-2 "
        "has been observed to record a 6x host-noise outlier)",
    )
    ap.add_argument(
        "--max-retries",
        type=int,
        default=2,
        help="extra best-of re-runs granted to queries flagged noisy "
        "(low per-query host_mips or >2x spread across repetitions)",
    )
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = None

    # Host-load calibration marker: single-threaded spins of a fixed
    # arithmetic loop, reported as iterations/sec. The shared host swings
    # 2-3x run-to-run; cross-round bench ratios divide by this score to
    # separate code regressions from host noise (lower score = busier
    # host). Taken BEFORE the JVM starts so it measures the host, not us.
    def _spin(dur: float = 0.25) -> float:
        n, t0 = 0, time.perf_counter()
        x = 1.0
        while time.perf_counter() - t0 < dur:
            for _ in range(10_000):
                x = x * 1.0000001 + 1e-9
            n += 10_000
        return round(n / (time.perf_counter() - t0) / 1e6, 3)  # M iters/sec

    def _calibrate() -> float:
        return max(_spin(0.33) for _ in range(3))

    host_score = _calibrate()  # re-sampled after the query loop, see below

    from energy_datalake_solution_spark.plans.registry import QUERIES, get_queries
    from energy_datalake_solution_spark.plans.session import get_spark

    get_queries()
    names = sorted(QUERIES) if args.all else sorted(n for n, s in QUERIES.items() if s.headline)

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    # the core count the session runs on (local[N], N from SPARK_GRAFT_CPUS)
    m_cpus = re.fullmatch(r"local\[(\d+)\]", spark.sparkContext.master)
    cpus = int(m_cpus.group(1)) if m_cpus else None

    # Warm the JVM/codegen path once with a trivial job.
    spark.range(1000).count()
    # Warm the IO layer too: file listing, parquet footer reads, and the
    # localCheckpoint machinery — otherwise whichever query happens to run
    # FIRST absorbs several seconds of session warmup and its number stops
    # measuring the query (observed: the alphabetically-first headliner
    # swinging 3s -> 9s run-to-run purely from cold-session costs).
    from energy_datalake_solution_spark.sources.catalog import TABLES, load_table

    for t in TABLES:
        load_table(spark, sf_dir, t).count()
    spark.range(1000).localCheckpoint(eager=True).count()

    last_df: dict[str, object] = {}  # name -> the most recent run's DataFrame

    def _time_runs(spec, n_runs: int) -> list[float]:
        runs = []
        for _ in range(max(1, n_runs)):
            t0 = time.perf_counter()
            df = spec.fn(spark, sf_dir)
            df.count()  # full execution; driver only receives the count
            runs.append(time.perf_counter() - t0)
            last_df[spec.name] = df
        return runs

    # Per-query host sample taken immediately before each query: a load
    # spike confined to one query's measurement window is invisible to the
    # pre/post whole-run samples (observed: one checkpoint-heavy query
    # recording 6.2x its quiet-host time while the other 14 headliners sat
    # within 1.04x — the whole-run markers looked merely "slightly busy").
    #
    # The plan-policy audit runs immediately after each query's timing and
    # the DataFrame reference is RELEASED before the next query starts:
    # holding every headliner's frame until a final audit pass (the old
    # structure) pins each one's localCheckpoint blocks and broadcasts in
    # the block manager for the whole run, and the accumulated memory
    # pressure was measured costing the alphabetically-last queries up to
    # 6x their isolated wall time. explain on the just-built plan is free;
    # rebuilding a query later for audit would re-run its eager
    # driver-side work (KMeans fits, snapshot commits) a second time.
    from energy_datalake_solution_spark.plans.audit import audit_plan

    timings: dict[str, float] = {}
    query_mips: dict[str, float] = {}
    spreads: dict[str, float] = {}
    plan_violations: dict[str, list[str]] = {}
    for name in names:
        spec = QUERIES[name]
        query_mips[name] = _spin()
        runs = _time_runs(spec, args.repeat)
        timings[name] = min(runs)
        spreads[name] = max(runs) / max(min(runs), 1e-9)
        try:
            v = audit_plan(last_df[name]).violations()
            if v:
                plan_violations[name] = v
        except Exception as ex:  # audit must never sink the bench
            plan_violations[name] = [f"audit_error: {ex!s:.80}"]
        last_df.pop(name, None)  # drop the frame: let its blocks clean up

    # Noise-triggered retry pass: any query measured while the host was
    # observably busy (per-query mips < 75% of the run's best sample) or
    # whose repetitions disagreed >2x gets extra best-of attempts. min()
    # with the earlier best is always sound — a slow run can only ever
    # OVERstate a query's cost.
    ref_mips = max([host_score, *query_mips.values()])
    retried: list[str] = []
    for name in names:
        if query_mips[name] < 0.75 * ref_mips or spreads[name] > 2.0:
            extra = _time_runs(QUERIES[name], args.max_retries)
            timings[name] = min(timings[name], *extra)
            retried.append(name)
            last_df.pop(name, None)

    timings = {n: round(v, 3) for n, v in timings.items()}
    total = round(sum(timings.values()), 3)
    # second sample AFTER the query loop: a spike that starts mid-run is
    # invisible to the pre-sample alone (observed: a 3x total swing with a
    # healthy pre-run score). min(pre, post) is the honest load marker.
    host_score_post = _calibrate()

    # Round-over-round comparison against the most recent committed
    # BENCH_r*.json, emitted mips-ADJUSTED so readers separate code
    # regressions from host noise without re-deriving it: a query's
    # normalized cost is wall_seconds * the mips sampled just before it
    # ran (work units — a busy host has low mips and high seconds, the
    # product cancels the load), so ratio_adj ~ 1.0 means "same code
    # cost on a differently-loaded host". Raw ratios stay in "queries".

    def _vs_prev() -> "tuple[dict, dict] | None":
        import glob
        import math
        import re as _re

        here = os.path.dirname(os.path.abspath(__file__))
        rounds = []
        for f in glob.glob(os.path.join(here, "BENCH_r*.json")):
            m = _re.search(r"BENCH_r(\d+)\.json$", f)
            if m:
                rounds.append((int(m.group(1)), f))
        if not rounds:
            return None
        prev_round, prev_file = max(rounds)
        try:
            with open(prev_file) as fh:
                prev = _prev_payload(json.load(fh))
        except Exception:
            return None
        if prev is None:
            return None
        if not _comparable(prev, sf, cpus):
            return None
        prev = _merge_bench_last(prev, here)
        pq = prev.get("queries") or {}
        pm = prev.get("query_mips") or {}
        p_host = prev.get("host_mips") or 0.0
        ratios: dict[str, float] = {}
        raw_ratios: dict[str, float] = {}
        raw: list[float] = []
        for n, t_now in timings.items():
            t_prev = pq.get(n)
            # both endpoints must be non-zero: a sub-millisecond timing
            # rounds to 0.0 and log(0) would sink the whole bench line
            if not t_prev or not t_now:
                continue
            m_now = query_mips.get(n) or host_score
            m_prev = pm.get(n) or p_host
            if not m_prev:
                continue
            r = (t_now * m_now) / (t_prev * m_prev)
            raw.append(r)
            ratios[n] = round(r, 3)
            raw_ratios[n] = round(t_now / t_prev, 3)
        if not ratios:
            return None
        geo = math.exp(sum(math.log(r) for r in raw) / len(raw))
        outliers = {n: r for n, r in ratios.items() if r < 0.8 or r > 1.25}
        # KNOWN comparator limit (SCALING r15): seconds x mips inflates
        # on quieter hosts for fixed-overhead-dominated walls — an
        # adjusted outlier whose RAW wall moved <10% is host
        # calibration, not a code change; flag it so rounds don't chase
        # measurement ghosts (the r14/r15 watch-item pattern)
        suspects = sorted(
            n for n in outliers if abs(raw_ratios.get(n, 1.0) - 1.0) < 0.10
        )
        full = {
            "round": prev_round,
            "geomean_adjusted": round(geo, 3),
            "adjusted_ratios": ratios,
            "raw_ratios": raw_ratios,
            "calibration_suspects": suspects,
        }
        # compact form for the stdout line (the driver keeps only a
        # 2000-char tail of it — the per-query seconds must stay inside
        # that window, so only out-of-band ratios print):
        compact = {
            "round": prev_round,
            "geomean_adjusted": round(geo, 3),
            "adjusted_outliers": outliers,
            "calibration_suspects": suspects,
        }
        return full, compact

    out = {
        "metric": "sum of headline query wall times",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "host_mips": host_score,
        "host_mips_post": host_score_post,
        # 1 decimal: the mips samples carry ~5% jitter anyway, and the
        # driver artifact keeps only a 2000-char tail of this line —
        # every byte here pushes a per-query timing out of that window
        "query_mips": {n: round(v, 1) for n, v in query_mips.items()},
        "retried": retried,
        "plan_violations": plan_violations,
    }
    vs = _vs_prev()
    if vs is not None:
        out["vs_prev"] = vs[0]  # full form, incl. per-query ratios
    # the FULL artifact always lands on disk next to the script (even
    # with no comparable prior round — it documents THIS run); the
    # stdout line then carries only the compact comparison so the
    # driver's 2000-char tail keeps the raw per-query seconds
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "bench_last.json"), "w") as fh:
            json.dump(out, fh, indent=1)
    except OSError:
        pass
    if vs is not None:
        out["vs_prev"] = vs[1]
    # per-query mips stay in bench_last.json only: with them inline the
    # stdout line overruns the driver's 2000-char tail and the
    # alphabetically-first per-query SECONDS get truncated instead —
    # the seconds are the primary record, the mips are supporting data
    out.pop("query_mips", None)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
