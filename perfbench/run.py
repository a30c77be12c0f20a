#!/usr/bin/env python3
# -*- coding: utf-8 -*-
"""Seeded benchmark of the extraction engine on ``local[<cores>]``.

Run from the repository root::

    python3 perfbench/run.py --workload extract --seed 1 --seconds 15 --trace 0

``--workload`` is ``extract`` or ``curate`` (see
perfbench/README.md). The inputs are generated from ``--seed``; one client
runs closed-loop cycles for ``--seconds`` seconds, then the outputs are
checked against the generator's analytic truth or the DuckDB oracle.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics of
BENCHMARK.json; ``--trace 1`` runs the same timed cycles, then the traced
decomposition, and reports the per-layer metrics (a layer the workload does
not exercise reads 0). The spans and per-layer numbers are also written to
``.perfbench_work/trace-<workload>-seed<seed>.json``. Every file the run
writes stays under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "dss_plugin_google_cloud_vision_spark"
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def log(message: str) -> None:
    print(f"perfbench: {message}", file=sys.stderr, flush=True)


def parse_args(argv):
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=("extract", "curate"))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return parser.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"{PACKAGE} is not in {ROOT}; nothing to measure")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as handle:
        spec = json.load(handle)
    sys.path.insert(0, ROOT)
    from perfbench.harness import PeakRss, Run, Tracer, closed_loop, start_spark, stop_spark
    from perfbench.workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    work_dir = os.path.join(WORK_ROOT, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    os.makedirs(work_dir)
    tracer = Tracer() if args.trace else None
    try:
        with PeakRss() if args.trace else contextlib.nullcontext() as rss:
            started = time.perf_counter()
            spark = start_spark(work_dir, cores)
            session_s = time.perf_counter() - started
            try:
                run = Run(spark, args.seed, cores, work_dir, tracer)
                workload = WORKLOADS[args.workload](run)
                workload.setup()
                setup_s = time.perf_counter() - started
                workload.prepare()
                check_started = time.perf_counter()
                closed_loop(spark, lambda: workload.cycle(checked=True), 0, 1)
                workload.samples.clear()
                loop_started = time.perf_counter()
                cycles = closed_loop(spark, workload.cycle, args.seconds, workload.min_cycles)
                log(
                    f"{args.workload} seed {args.seed}: session {session_s:.1f} s, set-up {setup_s:.1f} s, "
                    f"checked warm-up cycle {loop_started - check_started:.1f} s, "
                    f"{cycles} cycles in {time.perf_counter() - loop_started:.1f} s; samples "
                    + json.dumps({k: [round(v, 3) for v in vs] for k, vs in workload.samples.items()})
                )
                if args.trace:
                    layer = workload.traced()
            finally:
                stop_spark(spark)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)

    if args.trace:
        untraced = workload.end_to_end()["wall_s"]
        layer.update(
            {
                "setup.session_s": session_s,
                "trace.untraced_wall_s": untraced,
                "trace.overhead_s": layer["trace.wall_s"] - untraced,
                "peak_rss_mb": rss.peak_bytes / 2**20,
            }
        )
        declared = spec["per_layer"]
        unknown = set(layer) - {m["name"] for m in declared}
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        values = {m["name"]: layer.get(m["name"], 0.0) for m in declared}
        tracer.write(
            os.path.join(WORK_ROOT, f"trace-{args.workload}-seed{args.seed}.json"),
            workload=args.workload,
            seed=args.seed,
            cores=cores,
            per_layer=values,
        )
    else:
        declared = spec["end_to_end"]
        values = {**workload.end_to_end(), "setup_s": setup_s}
    ledger = run.ledger
    result = {
        "correct": ledger.correct,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
