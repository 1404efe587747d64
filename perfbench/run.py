"""Benchmark of file_stream_import_spark: one process, one closed-loop
client, pinned to at most two CPUs (see ``host.pin_cpus``), on local[those CPUs].

    python3 perfbench/run.py --workload {ingest,serve} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. Every input is generated from ``--seed``
inside ``.perfbench_work/`` under the root, which is removed at exit.

``--trace 0`` measures the workload for S seconds with tracing off and
reports the end-to-end metrics of BENCHMARK.json. ``--trace 1`` measures
at least four cycles of ops, traced and untraced in turn (see
``measure``); traced ops have spans around every call into a package
layer. It reports the per-layer metrics, including the tracing overhead
(traced minus untraced ``latency_s``).

Every op's output is checked, and each workload adds checks once per run;
a failed op or check counts in ``failed``. Human-readable lines (op
latency by type, error rate, calibration readings) come first; the last
line of stdout is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

from host import launch_env, pin_cpus

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "file_stream_import_spark"
SETUP_REPS = 2


def measure(wl, seconds: float, tracer, trace: bool):
    """Closed loop: the next op starts when the previous one (and its
    output check) is done. Runs whole cycles of ``wl.ops_per_cycle`` ops.
    With ``trace``, cycles run untraced, traced, traced, untraced, ... (at
    least four), so both sides see the same mix, and a warm-up still in
    progress slows both sides alike.
    Returns ([(kind, seconds, traced)], attempted, failed)."""
    per_cycle = wl.ops_per_cycle
    samples, attempted, failed = [], 0, 0
    deadline = time.perf_counter() + seconds
    while (time.perf_counter() < deadline or attempted % per_cycle
           or (trace and attempted < 4 * per_cycle)):
        tracer.enabled = trace and (attempted // per_cycle) % 4 in (1, 2)
        wl.prepare()
        attempted += 1
        t0 = time.perf_counter()
        try:
            kind, verify = wl.op()
            dt = time.perf_counter() - t0
            verify()
        except Exception:  # a failed op is counted; the run goes on
            failed += 1
            traceback.print_exc(file=sys.stderr)
        else:
            samples.append((kind, dt, tracer.enabled))
    tracer.enabled = False
    return samples, attempted, failed


def p50(xs) -> float:
    return statistics.median(xs)


def latency(samples) -> float:
    """Mean latency of the run's ops, each op counted at its type's median
    latency. Each op type weighs as often as the workload's mix runs it,
    and a few slow outliers of one type do not swing the figure."""
    by_kind: dict = {}
    for kind, s in samples:
        by_kind.setdefault(kind, []).append(s)
    return sum(len(xs) * p50(xs) for xs in by_kind.values()) / len(samples)


def latency_report(workload: str, samples) -> dict:
    out = {}
    lat = [s for _, s in samples]
    out[f"{workload}_p50_s"] = (p50(lat), "s")
    if len(lat) >= 100:  # at least ten samples beyond p90
        out[f"{workload}_p90_s"] = (statistics.quantiles(lat, n=10)[-1], "s")
    for kind in sorted({k for k, _ in samples}):
        out[f"{kind}_p50_s"] = (p50([s for k, s in samples if k == kind]), "s")
    out["ops_sampled"] = (len(lat), "count")
    return out


def layer_metrics(wl, tracer, spec) -> dict:
    m = wl.layer_metrics(tracer.spans)
    unknown = set(m) - set(spec["per_layer"])
    if unknown:
        raise KeyError(f"per-layer metrics not in BENCHMARK.json: {sorted(unknown)}")
    return m


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM (it exits on EOF on its stdin) and
    wait for it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    proc.wait(timeout=120)


def run(args, work: str, spec: dict) -> tuple[dict, dict]:
    from file_stream_import_spark.session import get_spark
    from host import calibration_probe, jvm_pid, live_heap_mb, peak_rss_mb, session_conf
    from ingest import Ingest
    from serve import Serve
    from spans import Tracer

    workloads = {"ingest": Ingest, "serve": Serve}
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=session_conf(work))
    session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        jvm = jvm_pid(spark)
        tracer = Tracer(spark if args.trace else None)
        report = {"host.calibration_start_s": (calibration_probe(spark), "s")}

        wl = workloads[args.workload](spark, tracer, work, args.seed)
        setups = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(rep)
            setups.append(time.perf_counter() - t0)
        report["setup_reps_s"] = (sum(setups), "s")
        t0 = time.perf_counter()
        wl.warm()
        report["warm_s"] = (time.perf_counter() - t0, "s")

        t0 = time.perf_counter()
        samples, attempted, failed = measure(wl, args.seconds, tracer, args.trace == 1)
        traced = [(k, s) for k, s, tr in samples if tr]
        samples = [(k, s) for k, s, tr in samples if not tr]
        report["measured_s"] = (time.perf_counter() - t0, "s")

        def checked(name: str, verify) -> None:
            nonlocal attempted, failed
            attempted += 1
            try:
                verify()
            except Exception:  # a failed check is counted; the run goes on
                failed += 1
                print(f"check {name} failed:", file=sys.stderr)
                traceback.print_exc(file=sys.stderr)

        t0 = time.perf_counter()
        for name, verify in wl.final_checks():
            checked(name, verify)
        report["checks_s"] = (time.perf_counter() - t0, "s")
        report.update(latency_report(args.workload, samples))
        report.update(wl.report(samples))
        layers: dict = {}
        if args.trace:
            checked("layer_metrics", lambda: layers.update(layer_metrics(wl, tracer, spec)))
        report["error_rate"] = (failed / attempted, "ratio")
        report["host.calibration_end_s"] = (calibration_probe(spark), "s")
        lat = [s for _, s in samples]
        values = {
            "setup_s": session_s + p50(setups),
            "latency_s": latency(samples),
            "ops_per_s": len(lat) / sum(lat),
            "peak_rss_mb": peak_rss_mb(jvm),
        }
        if args.trace:
            traced_lat = latency(traced)
            untraced_lat = values["latency_s"]
            # Every traced run reports every per-layer metric; the layers
            # this workload never calls read 0. A layer it does call but
            # that recorded no span fails the layer_metrics check.
            values = {name: 0.0 for name in spec["per_layer"]}
            values.update(layers)
            values.update({
                "session.get_spark.s": session_s,
                "host.calibration_start_s": report["host.calibration_start_s"][0],
                "host.calibration_end_s": report["host.calibration_end_s"][0],
                "jvm.live_heap_mb": live_heap_mb(spark),
                "trace.untraced_latency_s": untraced_lat,
                "trace.traced_latency_s": traced_lat,
                "trace.overhead_s": traced_lat - untraced_lat,
            })
        kind = "per_layer" if args.trace else "end_to_end"
        metrics = {
            name: {"value": values[name], "unit": unit}
            for name, unit in spec[kind].items()
        }
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
        return report, result
    finally:
        stop_session(spark)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = {k: {m["name"]: m["unit"] for m in bench[k]} for k in ("end_to_end", "per_layer")}

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    pin_cpus()
    os.environ.update(launch_env(ROOT, work))
    tempfile.tempdir = None  # pick up TMPDIR
    sys.path.insert(1, ROOT)
    try:
        report, result = run(args, work, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(base):
            os.rmdir(base)

    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace}")
    for name, (value, unit) in report.items():
        print(f"  {name:<34} {value:>14.6g} {unit}")
    for name, m in result["metrics"].items():
        print(f"  {name:<34} {m['value']:>14.6g} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
