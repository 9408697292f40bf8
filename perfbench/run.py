"""Benchmark entry point: one workload, one seed, one closed loop.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One process on ``local[4]`` runs
the workload's operations back to back with one client for ``--seconds``
seconds and prints one JSON line last on stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` untraced and traced
operations interleave, the functions layer is measured after the loop,
and the metrics are the per-layer ones. A record of
the run (metrics, host samples, spans) is written to ``perfbench/out/``.
Everything the run writes stays under ``perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback
from dataclasses import dataclass

import harness

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STAGE_REPS = 3  # input staging runs this often; setup_s takes the median
# the package, and tools/ for the functions layer's exact oracle comparison
IMPORT_PATH = (ROOT, os.path.join(ROOT, "tools"))


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _isolate(work: str) -> None:
    """Keep every file the run writes (Spark scratch, JVM and Python
    temp files) under ``work``, and let Python workers import the
    package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"  # Python datetimes match the session time zone
    time.tzset()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (*IMPORT_PATH, os.environ.get("PYTHONPATH")) if p
    )


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    tracer: object
    probe: object
    tally: object


def _workloads():
    import wl_stream
    import wl_transcripts

    return {
        "backfill_fused": wl_transcripts.BackfillFused,
        "stream_ingest_serve": wl_stream.StreamIngestServe,
    }


def run(args, work: str) -> dict:
    from raptor_spark.session import get_spark

    workload_cls = _workloads()[args.workload]
    sampler = harness.HostSampler().start()
    spark = None
    try:
        spark = get_spark(app=f"perfbench-{args.workload}", master="local[4]")
        session_s = _process_age_s()
        tracer = harness.Tracer(spark.sparkContext, f"r{os.getpid()}",
                                enabled=bool(args.trace))
        ctx = Ctx(spark, work, args.seed, tracer,
                  harness.StatusProbe(spark), harness.Tally())
        wl = workload_cls(ctx)
        stage_s = []
        for _ in range(STAGE_REPS):
            t0 = time.perf_counter()
            wl.stage()
            stage_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + harness.median(stage_s) + warm_s

        def op(traced: bool):
            tracer.enabled = traced
            try:
                return wl.op(traced)
            finally:
                tracer.enabled = False

        results = harness.closed_loop(
            op, args.seconds, interleave=bool(args.trace),
            failed=lambda: ctx.tally.record(f"{args.workload} op", False, "raised"),
        )
        host = sampler.summary()  # the workload's own, before the functions pass
        functions = measure_functions(ctx) if args.trace else {}
    finally:
        harness.stop_spark(spark)
        sampler.stop()

    plain = [r for t, r in results if not t] or [r for _, r in results]
    traced_ops = [r for t, r in results if t]
    lat = [x for r in plain for x in r.latencies_s]
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (harness.median(r.rows / r.wall_s for r in plain), "rows/s"),
        "op_p50_ms": (harness.median(lat) * 1e3, "ms"),
    }
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "ops": len(results),
        "op_walls_s": [(t, r.wall_s) for t, r in results],
        "op_cpu_ms": [r.cpu_ms for _, r in results],
        "call_cpu_ms": [x for r in plain for x in r.op_cpu_ms],
        "latencies_ms": [x * 1e3 for x in lat],
        "latency_samples": len(lat),
        "latency_tail": harness.tail_percentile([x * 1e3 for x in lat]),
        "setup": {"session_s": session_s, "stage_s": stage_s, "warm_up_s": warm_s},
        "failed_op_ratio": ctx.tally.failed_ratio,
        "problems": ctx.tally.problems,
        "host": host, "host_samples": sampler.samples,
        "end_to_end": {k: v for k, (v, _) in end_to_end.items()},
    }
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()}
    if args.trace:
        layers = {**per_layer(wl, traced_ops, plain, host), **functions}
        record["per_layer"] = layers
        record["spans"] = tracer.records()
        units = per_layer_units()
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u}
                   for k, u in units.items()}
    return {"metrics": metrics, "record": record, "tally": ctx.tally}


def measure_functions(ctx) -> dict:
    """The functions layer: one warm-up pass, then the measured pass."""
    import wl_functions

    ctx.tracer.enabled = True
    try:
        wl_functions.measure(ctx)
        return wl_functions.measure(ctx)
    except Exception:  # counted as a failure; the layer then reads 0
        traceback.print_exc()
        ctx.tally.record("functions pass", False, "raised")
        return {}
    finally:
        ctx.tracer.enabled = False


def per_layer(wl, traced_ops, plain, host) -> dict:
    layers: dict = dict(getattr(wl, "setup_layers", {}))
    keys = {k for r in traced_ops for k in r.layers}
    for k in keys:
        layers[k] = harness.median(r.layers[k] for r in traced_ops if k in r.layers)
    untraced = harness.median(r.wall_s for r in plain)
    traced = harness.median(r.wall_s for r in traced_ops)
    layers["trace.overhead_ratio"] = traced / untraced if untraced else 0.0
    layers["host.peak_rss_mb"] = host["peak_rss_mb"]
    layers["host.steal_pct"] = host["steal_pct"]
    layers["host.load1"] = host["load1"]
    return layers


def per_layer_units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    sys.path[:0] = IMPORT_PATH
    try:
        import raptor_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}",
              file=sys.stderr)
        return 2
    if args.workload not in _workloads():
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    try:
        _isolate(work)
        out = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    tally = out["tally"]
    rec = out["record"]
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(HERE, "out", name), "w") as f:
        json.dump(rec, f, indent=1, default=str)
    for k, v in out["metrics"].items():
        print(f"  {k:40s} {v['value']:14.4f} {v['unit']}", file=sys.stderr)
    print(f"  failed_op_ratio {rec['failed_op_ratio']:.4f} "
          f"({tally.failed}/{tally.attempted}); problems: {tally.problems}",
          file=sys.stderr)
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": out["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
