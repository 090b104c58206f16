"""Benchmark of the spark-graft package: seeded, closed-loop workloads.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Run from the repository root. One run generates its inputs from the seed,
sets up the session, runs one untimed warm-up round, then timed rounds
until ``--seconds`` have passed and at least the workload's minimum
number of rounds is done, checks every output against its oracle and
prints a summary table followed by one JSON line: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. A
traced run mixes untraced and traced rounds; the per-layer figures come
from the traced rounds and ``trace.overhead_s`` is the difference
between the two query medians. ``--workload all`` runs every workload,
one after another.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)

# Timed rounds in a traced run, at least: untraced, traced, traced,
# untraced, so that warming over the run does not bias the measured tracing
# overhead. An untraced run does the workload's own ``min_rounds``.
MIN_ROUNDS_TRACED = 4

END_TO_END = [
    ("setup_s", "s"),
    ("warmup_s", "s"),
    ("query_p50_s", "s"),
    ("queries_per_s", "1/s"),
    ("cycle_p50_s", "s"),
]


def _per_layer() -> list[tuple[str, str]]:
    from workloads import LLM_QUERIES

    per_query = [(f"plans.{what}_s.{q}", "s") for q in LLM_QUERIES for what in ("build", "action")]
    return [
        ("session.build_s", "s"), ("session.confs_s", "s"),
        ("plans.build_s", "s"), ("plans.action_s", "s"), ("plans.result_rows", "count"),
        *per_query,
        ("gtfs.build_s", "s"), ("lakehouse.read_s", "s"), ("operators.build_s", "s"),
        ("board.action_s", "s"),
        ("scan.files", "count"), ("scan.bytes", "bytes"), ("scan.rows", "count"),
        ("scan.time_s", "s"),
        ("exchange.bytes_written", "bytes"), ("exchange.records_written", "count"),
        ("exchange.write_s", "s"), ("exchange.fetch_wait_s", "s"),
        ("broadcast.bytes", "bytes"), ("broadcast.build_s", "s"),
        ("agg.peak_memory_bytes", "bytes"), ("agg.spill_bytes", "bytes"),
        ("codegen.pipeline_s", "s"),
        ("python.boot_s", "s"), ("python.init_s", "s"), ("python.compute_s", "s"),
        ("python.bytes_sent", "bytes"), ("python.bytes_received", "bytes"),
        ("python.rows_received", "count"),
        ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
        ("spark.tasks_failed", "count"),
        ("streaming.start_s", "s"), ("streaming.batch_s", "s"), ("streaming.add_batch_s", "s"),
        ("streaming.offsets_s", "s"), ("streaming.batches", "count"),
        ("realtime.parse_s", "s"), ("realtime.payloads", "count"),
        ("realtime.payloads_skipped", "count"), ("realtime.passages", "count"),
        ("realtime.passages_per_s", "1/s"),
        ("lakehouse.merge_s", "s"), ("lakehouse.compact_s", "s"), ("lakehouse.files_live", "count"),
        ("lakehouse.files_rewritten", "count"), ("lakehouse.bytes_written", "bytes"),
        ("lakehouse.read_files", "count"), ("lakehouse.rows_written_per_row_merged", "ratio"),
        ("lakehouse.bytes_per_passage", "bytes"),
        ("memory.peak_rss_mb", "MB"),
        ("trace.overhead_s", "s"), ("trace.spans", "count"),
    ]


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _run_all(args) -> int:
    from workloads import WORKLOADS

    rc = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        rc = max(rc, subprocess.run(cmd, check=False).returncode)
    return rc


def _summary(workload: str, box: dict, facts: dict, rows: list[tuple], attempted: int,
             failures: list[str]) -> None:
    print(f"# {workload}: " + ", ".join(f"{k}={v}" for k, v in box.items()))
    print("# inputs: " + ", ".join(f"{k}={v}" for k, v in facts.items()))
    print(f"# {'metric':<44} {'value':>14} {'unit':<6} {'n':>4}")
    for name, value, unit, n in rows:
        print(f"# {name:<44} {value:>14.6g} {unit:<6} {n:>4}")
    print(f"# error_rate {len(failures)}/{attempted} = {len(failures) / max(1, attempted):.4f}")
    for f in failures:
        print(f"#   FAILED {f}")


def run(args) -> int:
    import env

    work = os.path.join(os.getcwd(), env.RUN_ROOT, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env.pin(work)
    sys.path.insert(0, REPO)
    os.chdir(work)
    try:
        return _run(args, work)
    finally:
        os.chdir(os.path.dirname(work))
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    import numpy as np

    import env
    from tracing import Tracer
    from workloads import WORKLOADS

    rng = np.random.default_rng([args.seed, 0])
    phases, t_phase = {}, time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = round(now - t_phase, 2)
        t_phase = now

    wl = WORKLOADS[args.workload](f"{work}/data", args.seed, rng)
    phase("generate")
    spark, build_s, confs_s = env.timed_session(work)
    phase("setup")
    try:
        off, on = Tracer(), Tracer(spark, enabled=True)
        wl.prepare(spark)
        phase("prepare")

        t0 = time.perf_counter()
        warm = wl.round(off)
        warmup_s = time.perf_counter() - t0
        attempted, failures = warm.attempted, list(warm.failures)
        phase("warmup")

        timed = {False: [], True: []}  # traced? -> [(outcome, wall)]
        min_rounds = MIN_ROUNDS_TRACED if args.trace else wl.min_rounds
        t_start = time.perf_counter()
        i = 0
        while True:
            traced = bool(args.trace) and i % 4 in (1, 2)
            t0 = time.perf_counter()
            o = wl.round(on if traced else off)
            timed[traced].append((o, time.perf_counter() - t0))
            attempted += o.attempted
            failures += o.failures
            i += 1
            if time.perf_counter() - t_start >= args.seconds and i >= min_rounds:
                break
        phase("measure")
        failures += wl.check()
        phase("check")
        facts = {**wl.facts, **wl.finish()}
        peak_rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024 + env.jvm_peak_rss_bytes()
    finally:
        env.stop_session(spark)
        phase("stop")

    plain = timed[False]
    query_s = [q for o, _ in plain for q in o.query_s]
    cycle_s = [c for o, _ in plain for c in o.cycle_s]
    wall = sum(w for _, w in plain)
    if args.trace:
        traced = timed[True]
        n = len(traced)
        c = on.counters
        values = {k: (v if k == "agg.peak_memory_bytes" else v / n) for k, v in c.items()}
        merged = c.get("lakehouse.rows_merged", 0)
        values.update(
            {
                "session.build_s": build_s,
                "session.confs_s": confs_s,
                "realtime.payloads_skipped": (c.get("realtime.payloads", 0) - c.get("realtime.payloads_parsed", 0)) / n,
                "realtime.passages_per_s": sum(o.passages for o, _ in plain) / wall,
                "lakehouse.rows_written_per_row_merged": c.get("lakehouse.rows_written", 0) / merged if merged else 0.0,
                "lakehouse.files_live": facts.get("lake_files_live", 0),
                "lakehouse.bytes_per_passage": facts.get("lake_bytes_per_passage", 0.0),
                "memory.peak_rss_mb": peak_rss / 2**20,
                "trace.overhead_s": _median([q for o, _ in traced for q in o.query_s]) - _median(query_s),
                "trace.spans": len(on.spans) / n,
            }
        )
        specs = _per_layer()
        rows = [(k, float(values.get(k, 0.0)), u, n) for k, u in specs]
        on.write_spans(os.path.join(os.path.dirname(work), f"spans-{os.path.basename(work)}.jsonl"))
    else:
        values = {
            "setup_s": build_s + confs_s,
            "warmup_s": warmup_s,
            "query_p50_s": _median(query_s),
            "queries_per_s": len(query_s) / wall,
            "cycle_p50_s": _median(cycle_s),
        }
        counts = {"setup_s": 1, "warmup_s": 1, "query_p50_s": len(query_s),
                  "queries_per_s": len(query_s), "cycle_p50_s": len(cycle_s)}
        rows = [(k, values[k], u, counts[k]) for k, u in END_TO_END]

    box = env.box()
    _summary(args.workload, box, facts, rows, attempted, failures)
    print(f"# peak_rss_mb {peak_rss / 2**20:.1f} (driver Python + JVM)")
    print("# phases (s): " + ", ".join(f"{k}={v}" for k, v in phases.items()))
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "box": box,
              "inputs": facts, "phases": phases,
              "warmup_queries": list(zip(warm.query_names, warm.query_s)),
              "queries": [(n, q) for o, _ in plain for n, q in zip(o.query_names, o.query_s)],
              "cycles": cycle_s, "rounds_s": [w for _, w in plain], "attempted": attempted, "failures": failures,
              "metrics": {k: {"value": v, "unit": u, "n": n} for k, v, u, n in rows}}
    with open(os.path.join(os.path.dirname(work), f"result-{os.path.basename(work)}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, v, u, _ in rows},
    }))
    return 0


def main() -> int:
    sys.path.insert(0, BENCH_DIR)
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(REPO, "transilien_api_etl_spark")):
        print(f"error: the package is not next to {BENCH_DIR}; run from a checkout", file=sys.stderr)
        return 2
    return _run_all(args) if args.workload == "all" else run(args)


if __name__ == "__main__":
    sys.exit(main())
