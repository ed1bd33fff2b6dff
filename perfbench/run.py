"""Benchmark of the live engine, end to end and per layer.

    python3 perfbench/run.py --workload {headline,service} --seed N \
        --seconds S --trace {0,1} [--smoke] [--break-check]

Run from the root of a checkout. Each run is one process with a fresh
driver JVM on ``local[nproc]``; it generates its inputs from ``--seed``,
measures for ``--seconds``, checks every output, and prints as its last
stdout line one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end metrics
of ``BENCHMARK.json``, with ``--trace 1`` its per-layer metrics. The
line before it is a report with the workload's own metric names and
the run-health markers.

``--smoke`` shrinks the inputs (sf0.001, a low ingest rate) for the
benchmark's own tests; ``--break-check`` corrupts one expected result
to prove the output check catches it. Exit status: 0 when every output
is correct, 1 when a check failed, 2 when the engine cannot be found.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("headline", "service")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    p.add_argument("--break-check", action="store_true")
    return p.parse_args(argv)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _with_units(detail: dict) -> dict:
    """The report's figures, each number with the unit its name ends in."""
    def unit(name: str) -> str | None:
        for suffix, u in (("_per_s", "1/s"), ("_s", "s"), ("_mb", "MB"),
                          ("_ratio", "ratio")):
            if name.endswith(suffix):
                return u
        return None

    return {k: ({"value": v, "unit": unit(k)}
                if isinstance(v, float) and unit(k) else v)
            for k, v in detail.items()}


def _emit(names_units, values: dict) -> dict:
    missing = [n for n, _ in names_units if n not in values]
    if missing:
        raise RuntimeError(f"workload produced no value for {missing}")
    return {n: {"value": float(values[n]), "unit": u} for n, u in names_units}


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = _spec()
    sys.path.insert(0, ROOT)
    try:
        import streamandbatchprocessing_spark  # noqa: F401
        import tests.factories  # noqa: F401
        import tests.oracle_harness  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    from perfbench import common

    work = common.Work(args.workload, args.seed)
    try:
        return _run(args, spec, work)
    finally:
        work.remove()


def _run(args, spec: dict, work) -> int:
    from perfbench import common, eventlog

    tracer = common.Tracer(bool(args.trace))
    if args.workload == "headline":
        from perfbench.headline import Headline as cls
    else:
        from perfbench.service import Service as cls
    wl = cls(args, work, tracer)
    health_start = common.health()
    rss = common.RssSampler()
    spark = None
    try:
        with tracer.op("setup"), tracer.span("session.build_s"):
            spark = common.build_session(
                work, fair=wl.fair, trace=bool(args.trace),
                app=f"perfbench-{args.workload}")
        rss.jvm = common.jvm_pid(spark)
        wl.prepare(spark)
        # Process start (imports, JVM launch, session build, inputs and
        # warm-up) until the first timed operation.
        setup_s = time.perf_counter() - T0
        listener = None
        if args.trace:
            listener = eventlog.progress_listener()
            spark.streams.addListener(listener)
        w0 = time.time()
        res = wl.run(spark)
        w1 = time.time()
        peak_rss = rss.stop()
        bad = wl.check(spark)
        layers = {}
        if args.trace:
            layers, probe_bad = wl.probe(spark)
            bad.update(probe_bad)
            time.sleep(1.0)  # let the last progress events arrive
            layers.update(wl.stream_layers(listener.events))
        spark.stop()
        spark = None
        failed = wl.wrong_ops(bad) + len(wl.errors)
        correct = not bad and not wl.errors
    finally:
        rss.stop()
        common.shutdown_jvm()

    e2e = {
        "setup_s": setup_s,
        **{k: v for k, v in res.items() if k != "detail"},
    }
    if args.trace:
        spark_m = eventlog.fold(work.path("eventlog"), w0, w1)
        spark_m["max_task_kb"] = eventlog.max_task_kb(work.task_log, w0, w1)
        layers.update({f"spark.{k}": v for k, v in spark_m.items()})
        layers.update(wl.span_layers())
        layers["trace.overhead_s"] = wl.overhead
        layers["peak_rss_mb"] = peak_rss
        for m in spec["per_layer"]:
            if m["name"].startswith(wl.not_measured):
                layers.setdefault(m["name"], 0.0)
        tracer.dump(os.path.join(common.WORK_ROOT, "traces",
                                 f"{args.workload}-seed{args.seed}.jsonl"), T0)
        metrics = _emit([(m["name"], m["unit"]) for m in spec["per_layer"]], layers)
    else:
        metrics = _emit([(m["name"], m["unit"]) for m in spec["end_to_end"]], e2e)
    attempted = max(int(wl.attempted), 1)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "report": _with_units({**res["detail"], "setup_s": e2e["setup_s"],
                               "peak_rss_mb": peak_rss,
                               "fail_ratio": failed / attempted}),
        "window_s": round(w1 - w0, 4),
        "health": {"start": health_start, "end": common.health()},
        "check_failures": bad,
        "op_errors": wl.errors,
    }
    print(json.dumps(report, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": int(failed), "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
