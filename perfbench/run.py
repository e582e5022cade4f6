#!/usr/bin/env python3
"""Pub/sub benchmark harness.

    python3 perfbench/run.py --workload pubsub_closed --seed 1 --seconds 20 --trace 0

Runs one named workload through the engine's public functions on
``local[<cpus>]`` (default: the CPUs this process may use), checks the
outputs, prints every metric by name with its unit and sample count,
and ends with one JSON line::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of an untraced run.
``--trace 1`` runs the workload untraced and then traced (fresh topics
for each), reports the per-layer metrics of the traced phase plus the
tracing overhead (traced minus untraced) and writes the spans to
``.perfbench_out/``. A failed correctness check exits 1.

Set-up (warm-up inputs, topics, a warm-up pass through the whole path)
runs ``SETUPS`` times. The first is cold: it follows the session (and
JVM) start and runs every path for the first time; ``setup_cold_s`` is
the session start plus that set-up. ``setup_s`` is the median of the
warm set-ups after it. The teardown of a set-up is not timed.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import math
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.engine import Engine, RssSampler  # noqa: E402
from perfbench.stats import supported_percentile  # noqa: E402
from perfbench.trace import NullTracer, Tracer, self_times  # noqa: E402

WORKLOADS = ("pubsub_closed", "stream_tail", "registry_mix")  # modules of this package
SETUPS = 2  # one cold, then warm ones

# The workloads and metrics BENCHMARK.json lists; the JSON line of
# registry_mix carries every metric it measured instead.
CONTRACT_WORKLOADS = ("pubsub_closed", "stream_tail")
E2E_CONTRACT = {
    "setup_s": "s",
    "delivery_p90_ms": "ms",
}
LAYER_CONTRACT = {
    "session.start_s": "s",
    "loadgen.rows_offered": "rows",
    "topics.produce.p50_ms": "ms",
    "topics.produce.jobs_per_call": "count",
    "topics.latest_manifest.p50_ms": "ms",
    "topics.manifest.versions_per_produce": "count",
    "topics.manifest.files_end": "count",
    "topics.manifest.bytes_end": "bytes",
    "topics.bucket_skew": "ratio",
    "trace.overhead.produce_p50_ms": "ms",
    "trace.overhead.delivery_p50_ms": "ms",
}


def _env(work: str, cpus: int) -> None:
    """Point every writer at the run's own directory and make the
    package importable by Spark's Python workers."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)


def _emit(kind: str, name: str, value: float, unit: str, n: int | None = None) -> None:
    line = f"{kind} {name} = {value:.6g} {unit}"
    if n is not None:
        q = supported_percentile(n)
        line += f"  (n={n}; highest supported percentile: {q if q else 'none'})"
    print(line)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)))
    args = ap.parse_args(argv)
    wl = importlib.import_module(f"perfbench.{args.workload}")

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    _env(work, args.cpus)
    engine = Engine(args.cpus)
    phases = []
    try:
        with RssSampler(engine) as rss:
            t0 = time.perf_counter()
            engine.start()
            session_s = time.perf_counter() - t0
            # set-up k generates its own inputs and topics
            setup_s = []
            ctx = None
            for k in range(SETUPS):
                if ctx is not None:
                    wl.teardown(ctx)
                t0 = time.perf_counter()
                ctx = wl.setup(engine, os.path.join(work, f"setup{k}"), args.seed)
                setup_s.append(time.perf_counter() - t0)
            phases.append(wl.measure(ctx, args.seconds, NullTracer(), False, "a"))
            if args.trace:
                tracer = Tracer()
                phases.append(wl.measure(ctx, args.seconds, tracer, True, "b"))
            wl.teardown(ctx)
        peak_mb = rss.peak_mb
    finally:
        engine.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))

    base = phases[0]
    e2e = {
        "setup_s": (statistics.median(setup_s[1:]), "s", len(setup_s) - 1),
        "setup_cold_s": (session_s + setup_s[0], "s", None),
        "peak_rss_mb": (peak_mb, "MB", None),
        **base.e2e,
    }
    attempted = sum(p.attempted for p in phases)
    failed = sum(p.failed for p in phases)
    e2e["failed_op_share"] = (failed / max(1, attempted), "ratio", None)
    for name, (value, unit, n) in e2e.items():
        _emit("metric", name, value, unit, n)
    print(f"failed_op_share base: {attempted} ops")
    errors = [e for p in phases for e in p.errors]
    for e in errors:
        print(f"CHECK FAILED: {e}")

    if args.trace:
        traced = phases[1]
        layer = dict(traced.layer)
        layer["session.start_s"] = (session_s, "s")
        for name, (value, unit, _n) in base.e2e.items():
            layer[f"trace.overhead.{name}"] = (traced.e2e[name][0] - value, unit)
        for name, secs in sorted(self_times(tracer.spans).items()):
            layer[f"self_s.{name}"] = (secs, "s")
        for name, (value, unit) in sorted(layer.items()):
            _emit("layer", name, value, unit)
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        spans = os.path.join(out, f"{args.workload}-seed{args.seed}-spans.jsonl")
        tracer.write(spans)
        print(f"spans: {len(tracer.spans)} written to {os.path.relpath(spans, ROOT)}")
        measured = layer
        contract = LAYER_CONTRACT
    else:
        measured = e2e
        contract = E2E_CONTRACT
    if args.workload not in CONTRACT_WORKLOADS:
        contract = {name: v[1] for name, v in measured.items()}
    metrics = {
        name: {"value": measured[name][0] if name in measured else math.nan, "unit": unit}
        for name, unit in contract.items()
    }
    for n, m in metrics.items():
        if not math.isfinite(m["value"]):
            m["value"] = None
            errors.append(f"metric {n} has no value")
            print(f"CHECK FAILED: metric {n} has no value")
    print(
        json.dumps(
            {
                "correct": not errors,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if not errors else 1


if __name__ == "__main__":
    sys.exit(main())
