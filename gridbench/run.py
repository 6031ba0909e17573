#!/usr/bin/env python3
"""Gridded-ETL benchmark: one workload, one seed, one run.

    python3 gridbench/run.py --workload archive_ingest --seed 1 --seconds 6 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  Lines before it name the workload's figures in its own
terms.  A failed output check or error exits non-zero without a result.
See gridbench/README.md for the workloads and what each metric predicts.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import sys
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def measure(wl, seconds: float) -> None:
    deadline = time.perf_counter() + seconds
    from gridbench.common import blocks

    for kind in blocks(wl.pattern, lambda: time.perf_counter() >= deadline):
        with wl.run.op():
            wl.op(kind)


def phase(fn, *args) -> tuple[float, float]:
    """Wall seconds and CPU seconds of the process tree (this process, the
    JVM, Python workers) of one set-up step."""
    from gridbench.common import tree_usage

    w0, c0 = time.perf_counter(), tree_usage(os.getpid())[1]
    fn(*args)
    return time.perf_counter() - w0, tree_usage(os.getpid())[1] - c0


def warm_up(run, wl, ops: int) -> None:
    wl.warming = True
    for kind in itertools.islice(itertools.cycle(wl.pattern), ops):
        with run.op():
            wl.op(kind)
    wl.warming = False
    wl.reset()


def end_to_end(wl, setup_s: float) -> dict:
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_cpu_s": {"value": wl.kind_p50(wl.cpu), "unit": "s"},
        "work_per_cpu_s": {
            "value": wl.work_units / sum(wl.all(wl.cpu)), "unit": "items/cpu-s",
        },
    }


def wall_metrics(wl) -> dict[str, float]:
    """Op latency and rate in wall time: what one client waits for."""
    return {
        "e2e.op_p50_s": wl.kind_p50(wl.latency),
        "e2e.work_rate": wl.work_units / sum(wl.all(wl.latency)),
    }


def host_steal() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def traced(run, wl, seconds: float) -> dict:
    """One block untraced, then one traced: the per-layer metrics come
    from the traced block, the tracing overhead from the difference."""
    from gridbench import layers
    from gridbench.common import median

    measure(wl, seconds / 2)
    untraced = wl.kind_p50(wl.latency)
    untraced_etl = list(wl.call_s.get("ingest.run_etl", []))
    # op latencies and rates come from the untraced half: forcing lazy
    # outputs inflates the traced half
    timings = wl.timings()
    timings.update(wall_metrics(wl))
    wl.reset()
    run.tracer.install()
    try:
        with run.tracer.tracing():
            measure(wl, seconds / 2)
    finally:
        run.tracer.uninstall()
    run.tracer.collect_counters()
    run.tracer.dump(os.path.join(run.out_dir, f"trace-{run.workload}-{run.seed}.json"))
    values = layers.span_metrics(
        run.tracer.spans, wl.n_op, wl.raw_bytes_per_op, wl.result_rows
    )
    values.update(wl.layer_extras())
    values.update(timings)
    values["trace.untraced_op_p50_s"] = untraced
    values["trace.traced_op_p50_s"] = wl.kind_p50(wl.latency)
    values["trace.overhead_s"] = wl.kind_p50(wl.latency) - untraced
    if untraced_etl and "trace.run_etl.wall_s" in values:
        values["trace.run_etl.untraced_s"] = median(untraced_etl)
        values["trace.run_etl.overhead_s"] = (
            values["trace.run_etl.wall_s"] - values["trace.run_etl.untraced_s"]
        )
    return values


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "gridded_etl_tools_spark")):
        print("gridbench: run from the repository root (gridded_etl_tools_spark/ not found)",
              file=sys.stderr)
        return 2
    from gridbench import WORKLOADS
    from gridbench.common import CheckFailed, RssSampler, Run, median

    if args.workload not in WORKLOADS:
        print(f"gridbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    run = Run(ROOT, args.workload, args.seed)
    try:
        with RssSampler() as rss:
            session = phase(run.start)
            wl = WORKLOADS[args.workload](run)
            build = phase(wl.build)
            reps = [phase(wl.prepare, rep) for rep in range(wl.setup_reps)]
            # a traced run warms every op kind up: its tracing overhead is
            # traced minus untraced ops, and a first-time compilation in
            # only the untraced ones would hide it
            ops = max(wl.warmup_ops, len(set(wl.pattern))) if args.trace else wl.warmup_ops
            warmup = phase(warm_up, run, wl, ops)
            # set-up in CPU seconds, like the ops: host steal moved the
            # wall-clock set-up of one workload by a third between runs
            steps = {"session": session, "build": build, "warm-up": warmup,
                     "prepare median": (median([w for w, _ in reps]),
                                        median([c for _, c in reps]))}
            setup_s = sum(c for _, c in steps.values())
            build_s = build[0] + warmup[0]
            print(f"{args.workload} setup: " + ", ".join(
                f"{k} {w:.3g} s ({c:.3g} cpu-s)" for k, (w, c) in steps.items()
            ))
            steal0 = host_steal()
            if args.trace:
                values = traced(run, wl, args.seconds)
            else:
                measure(wl, args.seconds)
            steal1 = host_steal()
        steal = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
        if args.trace:
            from gridbench import layers

            values["session.get_session.s"] = run.session_s
            values["setup.build_s"] = build_s
            values["peak_rss_mb"] = rss.peak_mb
            values["host.steal_frac"] = steal
            metrics = layers.complete(values)
            if "trace.run_etl.overhead_s" in values:
                # the layers' self times along the run_etl tree sum to its
                # traced wall time; that should exceed the untraced wall
                # time by no more than the tracing overhead of a whole op
                over, op_over = values["trace.run_etl.overhead_s"], values["trace.overhead_s"]
                print(f"{args.workload} run_etl traced - untraced = {over:.4g} s, "
                      f"{'within' if over <= max(op_over, 0.0) else 'above'} the op overhead "
                      f"{op_over:.4g} s; unclaimed by a named layer "
                      f"{values['manager.run_etl.self_s']:.4g} s")
        else:
            metrics = end_to_end(wl, setup_s)
            for name, (value, unit) in wl.summary().items():
                print(f"{args.workload} {name} = {value:.6g} {unit}")
            print(f"{args.workload} op_failure_ratio = {run.failed / max(run.attempted, 1):g} "
                  f"failed/attempted ({run.failed}/{run.attempted})")
            for name, value in wall_metrics(wl).items():
                print(f"{args.workload} {name} = {value:.6g}")
            print(f"{args.workload} peak_rss_mb = {rss.peak_mb:.6g} MB")
            print(f"{args.workload} host.steal_frac = {steal:.4f}")
            print(f"{args.workload} ops = {wl.n_op} (" + ", ".join(
                f"{k}: {len(v)} at {median(v):.3g} cpu-s" for k, v in wl.cpu.items()
            ) + ")")
        for name, m in metrics.items():
            print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    except CheckFailed as e:
        print(f"gridbench: output check failed: {e}; op_failure_ratio = "
              f"{run.failed}/{run.attempted}", file=sys.stderr)
        return 1
    finally:
        run.stop()
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
