"""Benchmark of the instruction pipeline: one seeded workload per run.

    python3 perfbench/run.py --workload instruction_pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from the seed
under ``.perfbench_work/``, sets up (chat stub, Spark session, the workload's
objects), runs the workload's operation for ``--seconds``, checks every
output, and prints one JSON object as its last stdout line: the end-to-end
metrics with ``--trace 0``, among them the cold set-up time (process start
to the first timed operation, input generation excluded).
With ``--trace 1`` it runs the operation again with spans on and once more
without, prints the per-layer metrics instead, and writes the spans to
``.perfbench_work/spans/``. Metric names and units come from
``BENCHMARK.json``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

import harness  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402


def manifest() -> dict:
    with open(os.path.join(harness.REPO_ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def per_layer(wl, ops_plain, ops_traced, stub_stats, monitor) -> dict:
    """Per-layer metrics of the traced measurement."""
    n_ops = len(ops_traced.walls)
    window = monitor.totals(monitor.submitted(ops_traced.wall_start, ops_traced.wall_end))
    out = {
        "spark.jobs": window["jobs"] / n_ops,
        "spark.tasks": window["tasks"] / n_ops,
        "spark.task_run_s": window["task_run_s"] / n_ops,
        "trace.overhead_frac": ops_traced.p50_ms() / ops_plain.p50_ms() - 1.0,
    }
    out.update(wl.layer_metrics(ops_traced, stub_stats, monitor))
    return out


def report_line(wl, ops, setup_s: float, peak_mb: float, failed: int, attempted: int) -> str:
    """The run's figures, including those under the workload's own names."""
    return (f"{wl.name}: items_per_s={ops.rate():.3f} op_p50_ms={ops.p50_ms():.1f} "
            f"{wl.report(ops)} setup_s={setup_s:.3f} s peak_rss_mb={peak_mb:.1f} MB "
            f"failed={failed}/{attempted} ({failed / attempted:.1%})")


def tally(phases: list, checked: int, check_failed: int) -> tuple[int, int, bool]:
    """Attempted and failed operations over the measurements and the output
    checks, and whether every measurement has a successful operation to
    report on."""
    attempted = sum(p.attempted for p in phases) + checked
    failed = sum(p.failed for p in phases) + check_failed
    return attempted, failed, all(p.walls for p in phases)


def final_line(values: dict | None, wanted: list[dict], attempted: int, failed: int) -> str:
    """The result object. ``values`` is None when no operation of some
    measurement succeeded: then only the counts are reported, as incorrect.
    A metric of ``wanted`` missing from ``values`` belongs to a layer the
    workload bypasses: zero work there."""
    if values is None:
        return json.dumps({"correct": False, "attempted": attempted, "failed": failed, "metrics": {}})
    unknown = set(values) - {m["name"] for m in wanted}
    if unknown:
        raise KeyError(f"metrics not in BENCHMARK.json: {sorted(unknown)}")
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    return json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                       "metrics": metrics})


def set_up(wl, work: str, live: dict) -> None:
    """Chat stub, Spark session and the workload's own set-up. ``live``
    holds what is running, for the final clean-up."""
    if wl.uses_stub:
        live["stub"] = harness.StubProcess(workloads.STUB_LATENCY_MS)
        wl.exclude.add(live["stub"].pid)
    live["spark"] = harness.start_spark(work)
    wl.setup(live["spark"], live["stub"])


def tear_down(wl, live: dict) -> None:
    """Stop the workload's objects, the stub, the session and the JVM."""
    wl.teardown()
    if live["stub"]:
        live["stub"].close()
    harness.stop_spark(live["spark"])
    live.update(stub=None, spark=None)


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()
    spec = manifest()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    base = os.path.join(harness.REPO_ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    tracer = Tracer(enabled=False)
    wl = None
    live = {"stub": None, "spark": None}
    try:
        harness.prepare_env(work)
        t_gen = time.perf_counter()
        wl = workloads.WORKLOADS[args.workload](args.seed, os.path.join(work, "inputs"), tracer)
        gen_s = time.perf_counter() - t_gen
        set_up(wl, work, live)
        spark, stub = live["spark"], live["stub"]
        # Cold: imports, JVM launch and launch-time configuration included.
        setup_s = time.perf_counter() - PROCESS_START - gen_s

        if stub:
            stub.reset()
        with harness.RssSampler(wl.exclude) as rss:
            ops = wl.measure(args.seconds)
        traced = None
        if args.trace:
            monitor = harness.SparkMonitor(spark)
            if stub:
                stub.reset()
            tracer.enabled = True
            wl.patch()
            try:
                traced = wl.measure(args.seconds)
            finally:
                tracer.unpatch()
                tracer.enabled = False
            stub_stats = stub.stats() if stub else None
            # The untraced reference for the overhead: a measurement in the
            # same state as the traced one (neither is the first after set-up).
            plain = wl.measure(args.seconds)
            monitor.refresh()

        t_check = time.perf_counter()
        checked, check_failed = wl.check()
        check_s = time.perf_counter() - t_check
        attempted, failed, ran = tally([ops, traced, plain] if traced else [ops], checked, check_failed)
        if args.trace and ran:
            values = per_layer(wl, plain, traced, stub_stats, monitor)
        tear_down(wl, live)

        print(json.dumps({"workload": wl.name, "seed": args.seed, "seconds": args.seconds,
                          "generate_s": gen_s, "setup_s": setup_s, "op_walls_s": ops.walls,
                          "check_s": check_s, **harness.versions()}))
        if not ran:
            print(final_line(None, [], attempted, failed))
            return 0
        print(report_line(wl, ops, setup_s, rss.peak_mb, failed, attempted))

        if traced:
            if stub_stats:
                tracer.attach_busy("llm_kernel.request", stub_stats["intervals"])
            wl.attach(traced)
            os.makedirs(os.path.join(base, "spans"), exist_ok=True)
            path = os.path.join(base, "spans", f"{wl.name}-seed{args.seed}.jsonl")
            tracer.write(path)
            print(f"spans: {path}")
            print("self time by span (s): " + json.dumps(
                {k: round(v, 4) for k, v in sorted(tracer.self_time_by_name().items())}))
            wanted = spec["per_layer"]
        else:
            values = {
                "setup_s": setup_s,
                "items_per_s": ops.rate(),
                "op_p50_ms": ops.p50_ms(),
                "peak_rss_mb": rss.peak_mb,
            }
            wanted = spec["end_to_end"]
            missing = {m["name"] for m in wanted} - set(values)
            if missing:
                raise KeyError(f"end-to-end metrics not measured: {sorted(missing)}")
        print(final_line(values, wanted, attempted, failed))
        return 0
    finally:
        if wl is not None:
            tear_down(wl, live)
        workloads.cleanup(work)


if __name__ == "__main__":
    sys.exit(main())
