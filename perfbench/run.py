"""Benchmark entry point: one seeded workload against ``icrawler_spark``.

    python3 perfbench/run.py --workload recrawl_wide --seed 1 --seconds 10 --trace 0

Workloads: ``recrawl_wide``, ``monitor_incremental``, ``policy_api`` (see
``perfbench/README.md``). A run sets up (Spark session, seeded inputs,
untimed warm-up), measures for ``--seconds`` (always completing the
operation in flight and at least the workload's minimum sample), checks
every output against an independent oracle outside the timed window, and
prints the workload's named metrics with units followed, as its last line,
by one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end set below; with
``--trace 1`` the run records spans and Spark job-group counters, prints the
workload's per-layer metrics, writes the spans under
``.perfbench_work/traces/`` and reports the per-layer set below.

Exits non-zero without a result line when the package is missing or any
step raises.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

sys.dont_write_bytecode = True
if __package__ in (None, ""):
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import harness  # noqa: E402
from perfbench.harness import ROOT, JobCounter, Result, RssSampler, Tracer, median  # noqa: E402

# end-to-end metrics: every workload reports all of them (see README.md for
# what the workload's operation is)
END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
}
# per-layer metrics common to every workload's traced run; the workload's
# own layer metrics are printed above the result line and saved with spans
PER_LAYER = {
    "session.start_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "trace.overhead_s": "s",
    "process.peak_rss_mb": "MB",
}
PREPARE_REPEATS = 3
T_START = time.perf_counter()


@dataclass
class Ctx:
    spark: object
    cpus: int
    seed: int
    seconds: float
    tracer: Tracer
    jobs: JobCounter
    run_dir: Path


def _workloads():
    from perfbench import w_api, w_monitor, w_recrawl

    return {m.Workload.name: m.Workload for m in (w_recrawl, w_monitor, w_api)}


WORKLOAD_NAMES = ("recrawl_wide", "monitor_incremental", "policy_api")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: seconds-long smoke size (perfbench/smoke.py)")
    return p.parse_args(argv)


def run(args) -> tuple[Result, dict]:
    """Set up, measure, check; returns the result and run facts."""
    run_dir = harness.make_run_dir(args.workload)
    sampler = RssSampler().start()
    tracer = Tracer(enabled=bool(args.trace))
    cpus = harness.nproc()
    workload_cls = _workloads()[args.workload]
    wl = spark = None
    try:
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = harness.start_session(run_dir, cpus)
        session_s = time.perf_counter() - t0
        ctx = Ctx(spark, cpus, args.seed, args.seconds, tracer,
                  JobCounter(spark, tracer), run_dir)
        wl = workload_cls(ctx, args.size)
        prep = []
        for _ in range(PREPARE_REPEATS):
            t = time.perf_counter()
            with tracer.span("setup.prepare"):
                wl.prepare()
            prep.append(time.perf_counter() - t)
        t = time.perf_counter()
        with tracer.span("setup.warmup"):
            wl.warmup()
        warmup_s = time.perf_counter() - t
        setup_s = session_s + median(prep) + warmup_s

        res = Result()
        t = time.perf_counter()
        with tracer.span("measure"):
            wl.measure(res)
        measured_s = time.perf_counter() - t
        res.e2e["setup_s"] = setup_s
        if tracer.enabled:
            with tracer.span("layers"):
                wl.layers(res)
            L = res.layers
            L["session.start_s"] = (session_s, "s")
            for k in ("jobs", "stages", "tasks"):
                L[f"spark.{k}_per_op"] = (ctx.jobs.median_of(k), "count")
            L["trace.overhead_s"] = (tracer.overhead_s, "s")
            L["trace.spans"] = (len(tracer.spans), "count")
        peak_rss_mb = sampler.stop()
        res.named["peak_rss_mb"] = (peak_rss_mb, "MB")
        if tracer.enabled:
            res.layers["process.peak_rss_mb"] = (peak_rss_mb, "MB")
        facts = {"cpus": cpus, "run_id": tracer.run_id, "phases": {
            "session_s": session_s, "prepare_s": prep, "warmup_s": warmup_s,
            "measure_s": measured_s}}
        return res, facts
    finally:
        if wl is not None:
            wl.close()
        sampler.stop()
        if spark is not None:
            harness.stop_session(spark)
        if tracer.enabled:
            trace_dir = harness.WORK_ROOT / "traces"
            tracer.write(trace_dir / f"{args.workload}-seed{args.seed}-{tracer.run_id}.jsonl")
        shutil.rmtree(run_dir, ignore_errors=True)


def _fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def report(args, res: Result, facts: dict) -> dict:
    phases = " ".join(
        f"{k}=" + ("/".join(f"{x:.2f}" for x in v) if isinstance(v, list) else f"{v:.2f}")
        for k, v in facts["phases"].items()
    )
    print(f"perfbench workload={args.workload} seed={args.seed} size={args.size} "
          f"cpus={facts['cpus']} trace={args.trace}")
    print(f"  phases: {phases} total_s={time.perf_counter() - T_START:.2f}")
    named = dict(res.named)
    named["setup_s"] = (res.e2e["setup_s"], "s")
    named["failed_ratio"] = (res.failed / max(res.attempted, 1), "ratio")
    print(f"  metrics ({args.workload}):")
    for k, (v, unit) in named.items():
        print(f"    {k} = {_fmt(v)} {unit}")
    print("  end_to_end:")
    for k, unit in END_TO_END.items():
        print(f"    {k} = {_fmt(res.e2e[k])} {unit}")
    print(f"  gates: attempted={res.attempted} failed={res.failed}")
    for c in res.checks:
        if not c["ok"]:
            print(f"  FAILED {c['check']}: {c['detail']}")
    if args.trace:
        print(f"  layers (run_id={facts['run_id']}):")
        for k, (v, unit) in sorted(res.layers.items()):
            print(f"    {k} = {_fmt(v)} {unit}")
        print(f"  spans: .perfbench_work/traces/{args.workload}-seed{args.seed}-{facts['run_id']}.jsonl")
        print(f"  tracing overhead = {_fmt(res.layers['trace.overhead_s'][0])} s")
        metrics = {k: {"value": res.layers[k][0], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": res.e2e[k], "unit": u} for k, u in END_TO_END.items()}
    out = {
        "correct": res.failed == 0 and res.attempted > 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }
    print(json.dumps(out))
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "icrawler_spark" / "__init__.py").is_file():
        print(f"perfbench: no icrawler_spark package under {ROOT}", file=sys.stderr)
        return 2
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    try:
        res, facts = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    sys.stdout.flush()
    report(args, res, facts)
    return 0


if __name__ == "__main__":
    sys.exit(main())
