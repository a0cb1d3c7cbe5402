"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_jobs --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process runs one workload on
``local[nproc]``, checks the outputs off the clock, and prints one JSON
object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the public functions
of every layer are wrapped (see ``tracer.py``), the per-layer metrics are
printed instead, and all spans plus a per-job breakdown are written to
``.bench_run/trace-<workload>-s<seed>.json``.

Everything the run writes (inputs, warehouse, Spark local dirs,
checkpoints, temp files) lives under ``.bench_run/`` in the checkout and
is removed at exit, except the trace file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _phys_gb() -> float:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30


def configure_host(run_dir: Path) -> None:
    """Per-run environment, set before the JVM starts."""
    (run_dir / "local").mkdir(parents=True, exist_ok=True)
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # Well below physical memory: the machine is shared.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{int(max(1, min(4, _phys_gb() // 4)))}g"
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "clinical_api_etl_spark" / "__init__.py").is_file():
        print("run from the root of a checkout of the program", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    from perfbench import metrics
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    bench_dir = ROOT / ".bench_run"
    run_dir = bench_dir / f"{args.workload}-s{args.seed}-{os.getpid()}"
    configure_host(run_dir)

    tracer = None
    if args.trace:
        from perfbench import tracer as tracing

        tracer = tracing.Tracer()
        tracing.install(tracer)

    ctx = Ctx(run_dir, args.seed, args.seconds, tracer)
    try:
        result = WORKLOADS[args.workload](ctx)
    finally:
        ctx.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    for e in result.errors:
        print(f"check: {e}", file=sys.stderr)
    if tracer is not None:
        values = metrics.per_layer(tracer.spans, result)
        units = metrics.PER_LAYER
        breakdown = metrics.job_breakdown(tracer.spans)
        summary = metrics.span_summary(tracer.spans)
        trace_file = bench_dir / f"trace-{args.workload}-s{args.seed}.json"
        trace_file.write_text(
            json.dumps(
                {"spans": tracer.spans, "summary": summary, "job_breakdown": breakdown,
                 "aux_s": tracer.aux_total},
                default=str,
            )
        )
        for kind, rows in (("span", summary), ("job", breakdown)):
            for row in rows:
                print(kind + " " + " ".join(
                    f"{k}={v:.3f}" if isinstance(v, float) else f"{k}={v}" for k, v in row.items()
                ), file=sys.stderr)
        print(f"trace written to {trace_file}", file=sys.stderr)
    else:
        values = metrics.end_to_end(result)
        units = metrics.END_TO_END
    print(json.dumps(result_line(result, values, units)))
    return 0


def result_line(result, values: dict[str, float], units: dict[str, str]) -> dict:
    """The printed result: every metric of ``units``, in its unit."""
    failed = sum(op.failed for op in result.ops)
    return {
        "correct": not result.errors and failed == 0,
        "attempted": len(result.ops),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
