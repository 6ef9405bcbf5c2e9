#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 1 --trace 0

Run from the repository root. Workloads: curate, vector (see
perfbench/README.md). The run generates its inputs from the seed, sets the
library's Spark session up `SETUPS` times (median reported as `setup_s`),
drives the workload for `--seconds`, checks the outputs with code that does
not use the library, and prints one JSON line last:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the metrics
are the `end_to_end` ones of BENCHMARK.json; with `--trace 1` the
`per_layer` ones, from spans and Spark status-store records that are also
written to `.perfbench/results/`.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import harness  # noqa: E402
from perfbench.tracing import LAYERS, Tracer  # noqa: E402

WORKLOADS = ("curate", "vector")
SETUPS = 3
BASE_LAYER_METRICS = ("construct_ms", "exec_ms", "jobs", "tasks", "cpu_ms", "gc_ms",
                      "offjvm_ms", "shuffle_bytes")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: smoke-test input sizes")
    return p.parse_args(argv)


def layer_metrics(run, tracer: Tracer, n_setups: int, names) -> dict[str, float]:
    """Per-layer values: measured-phase totals per round (pass, round or
    batch); `session.*` per set-up. A layer the workload does not call reads
    0."""
    out = dict.fromkeys(names, 0.0)
    measured = tracer.layer_totals("measure")
    setup = tracer.layer_totals("setup")
    for layer in LAYERS:
        t, per = (setup["session"], n_setups) if layer == "session" else \
            (measured[layer], max(run.rounds, 1))
        vals = {
            "construct_ms": t["construct_ms"], "exec_ms": t["exec_ms"], "jobs": t["jobs"],
            "tasks": t["tasks"], "cpu_ms": t["cpu_ms"], "gc_ms": t["gc_ms"],
            "offjvm_ms": max(t["run_ms"] - t["cpu_ms"] - t["gc_ms"], 0.0),
            "shuffle_bytes": t["shuffle_bytes"],
        }
        for k in BASE_LAYER_METRICS:
            out[f"{layer}.{k}"] = vals[k] / per
    out.update(run.layer_extra)
    return out


def tracing_overhead(results: Path, name: str, values: dict) -> dict | None:
    """Traced vs untraced run of the same workload, seed and size."""
    path = results / f"{name}-t0.json"
    if not path.exists():
        return None
    base = json.loads(path.read_text())["values"]
    return {k: round(values[k] / base[k] - 1.0, 4)
            for k in ("rows_per_s", "op_p50_ms") if base.get(k)}


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    work = harness.contain(ROOT)
    try:
        importlib.import_module("lantern_extras_spark")
    except ImportError as e:
        print(f"perfbench: the library is not in this checkout: {e}", file=sys.stderr)
        return 2
    wl = importlib.import_module(f"perfbench.{args.workload}")
    tracer = Tracer(args.trace == 1, T_START)
    run = harness.Run(work, args.seed, args.seconds, args.size, tracer)
    rss = harness.RssSampler().start()
    ticks = harness.cpu_ticks()
    spark = state = None
    setups: list[float] = []
    try:
        t = time.perf_counter()
        inputs = wl.generate(run)
        t_gen = time.perf_counter() - t
        for i in range(SETUPS):
            if spark is not None:
                wl.teardown(state)
                state = None
                tracer.recorder = None
                spark.stop()
            t0 = T_START if i == 0 else time.perf_counter()
            with tracer.span("session.get_spark", "session", "construct"):
                spark = harness.start_session()
            tracer.attach(spark)
            with tracer.span("session.warm_up", "session", "exec"):
                harness.warm_up(spark)
            state = wl.prepare(run, spark, inputs, i)
            setups.append(time.perf_counter() - t0 - (t_gen if i == 0 else 0.0))
        tracer.phase = "measure"
        m0 = (time.perf_counter() - T_START) * 1e3
        wl.measure(run, spark, inputs, state)
        m1 = (time.perf_counter() - T_START) * 1e3
        tracer.phase = "check"
        wl.verify(run, spark, inputs, state)
    except Exception:  # noqa: BLE001 — report and fail the run without a result line
        traceback.print_exc()
        return 1
    finally:
        if state is not None:
            wl.teardown(state)
        if spark is not None:
            spark.stop()
        peak_mb = rss.stop()
        harness.shutdown_jvm()

    run.values["setup_s"] = harness.median(setups)
    run.values["peak_rss_mb"] = peak_mb
    run.report("setup_s", run.values["setup_s"], "s", n=len(setups))
    run.report("peak_rss_mb", peak_mb, "MB")
    run.report("failed_frac", run.failed / max(run.attempted, 1), "frac", n=run.attempted)
    run.report("cpu_steal", harness.steal_share(ticks, harness.cpu_ticks()), "frac")

    results = ROOT / harness.STATE_DIR / "results"
    results.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-{args.size}-s{args.seed}"
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "size": args.size, "trace": args.trace, "setups_s": setups,
              "values": run.values, "metrics": run.extra, "checks": run.checks,
              "rounds": run.rounds, **run.info}
    if args.trace:
        metric_values = layer_metrics(run, tracer, len(setups),
                                      [m["name"] for m in spec["per_layer"]])
        record.update(layer_metrics=metric_values, top_self=tracer.top_self("measure"),
                      span_coverage=round(tracer.coverage(m0, m1), 4),
                      tracing_overhead=tracing_overhead(results, name, run.values),
                      spans=tracer.spans)
        wanted = spec["per_layer"]
    else:
        metric_values = run.values
        wanted = spec["end_to_end"]
    (results / f"{name}-t{args.trace}.json").write_text(json.dumps(record, indent=1, default=str))

    for k, v in sorted(run.extra.items()):
        extra = f"  n={v['n']}" if "n" in v else ""
        extra += f" p{v['pct']}" if "pct" in v else ""
        print(f"{k:28s} {v['value']:14.4f} {v['unit']}{extra}")
    for c in run.checks:
        print(f"check {c['check']:36s} {'ok' if c['ok'] else 'FAILED'}  {c['detail']}")
    if args.trace:
        print(f"span coverage of the measured region: {record['span_coverage']}")
        print(f"tracing overhead vs untraced run: {record['tracing_overhead']}")
        for r in record["top_self"]:
            print(f"top self time (measured): {r['layer']:14s} {r['self_ms']:10.1f} ms "
                  f"{r['share']:.3f}")

    missing = [m["name"] for m in wanted if m["name"] not in metric_values]
    if missing:
        print(f"perfbench: no value for metrics {missing}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": run.correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": metric_values[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))
    return 0 if run.correct else 1


if __name__ == "__main__":
    sys.exit(main())
