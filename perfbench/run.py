#!/usr/bin/env python3
"""Rollup-engine benchmark.

    python3 perfbench/run.py --workload batch_stl --seed 1 --seconds 30 --trace 0

Builds a Gorilla/tier store from seeded inputs, refreshes it incrementally
and serves dashboard reads from it, checking every result.  The last line of
stdout is one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
The line before it (``# run ...``) records the host and library versions.
Spans and the run record of a traced run go to ``.perfbench_out/``.

Everything the run writes stays under the checkout (``.perfbench_work/``,
removed at exit, and ``.perfbench_out/``).  Exits non-zero without a result
when the engine package is not importable.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RUN_LIMIT_S = 170.0


def _percentile(values: list[float], q: float) -> float:
    import numpy as np

    return float(np.percentile(values, q))


def _pressure(resource: str) -> str | None:
    """The kernel's stall record for ``resource`` (its 'some' line)."""
    try:
        with open(f"/proc/pressure/{resource}") as f:
            return f.readline().strip()
    except OSError:
        return None


def _env_record(args) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_1m": os.getloadavg()[0],
        "io_pressure": _pressure("io"),
        "cpu_pressure": _pressure("cpu"),
        "spark": pyspark.__version__,
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
    }


def _prepare_env(work: Path) -> None:
    """Environment for the Spark JVM and the Python workers it forks; must
    be set before the session starts."""
    import tempfile

    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *[p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["TZ"] = "UTC"
    time.tzset()
    tempfile.tempdir = str(work / "tmp")


def _end_to_end(bench, out: dict) -> dict[str, tuple[float, str]]:
    b = out["build"]
    walls = {k: [r.wall_s for r in bench.records if r.kind == k] for k in ("refresh", "range_read", "tier_read")}
    m = {"setup_s": (out["setup_s"], "s")}
    if b:
        m["rollup_points_per_s"] = (b["points"] / b["wall_s"], "points/s")
        m["store_bytes_per_point"] = (b["store_bytes"] / b["points"], "B")
    if walls["refresh"]:
        m["refresh_p50_s"] = (statistics.median(walls["refresh"]), "s")
    for kind in ("range_read", "tier_read"):
        if walls[kind]:
            m[f"{kind}_p50_ms"] = (1000 * _percentile(walls[kind], 50), "ms")
            m[f"{kind}_p90_ms"] = (1000 * _percentile(walls[kind], 90), "ms")
    return m


def _per_layer(bench, out: dict, ops) -> dict[str, tuple[float, str]]:
    import layers

    by = lambda k: [r for r in bench.records if r.kind == k]  # noqa: E731
    m: dict[str, tuple[float, str]] = {}
    if out["build"]:
        m.update(layers.build_metrics(by("build")[0], out["build"], bench.reader.stage_tasks))
    if by("refresh"):
        m.update(layers.refresh_metrics(by("refresh")))
    if by("range_read") and by("tier_read"):
        m.update(layers.read_metrics(by("range_read"), by("tier_read")))
    m.update(out["micro"])
    m["proc.jvm_gc_s"] = (out["gc_s"], "s")
    m["proc.peak_rss_mb"] = ((bench.watchdog.jvm_hwm() + bench.watchdog.worker_hwm) / 1e6, "MB")
    m["trace.overhead_s"] = (bench.trace_overhead_s, "s")
    m["ops_failed_share"] = (ops.failed / max(1, ops.attempted), "ratio")
    return m


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import stl_decomp_4j_spark.pipeline  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    from workloads import WORKLOADS, Bench, log

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    _prepare_env(work)
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work,
                  t_start, time.monotonic() + RUN_LIMIT_S - (time.perf_counter() - t_start))
    try:
        out = bench.run()
        ops = bench.ops
        metrics = _per_layer(bench, out, ops) if args.trace else _end_to_end(bench, out)
        record = _env_record(args)
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        log("stopped and cleaned up")

    if args.trace:
        out_dir = ROOT / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        (out_dir / f"trace-{args.workload}-seed{args.seed}.json").write_text(json.dumps({
            "run": record,
            "failures": ops.failures,
            "metrics": {k: v for k, (v, _) in metrics.items()},
            "spans": [s.__dict__ for s in ops.spans],
        }))
    for f in ops.failures:
        print(f"# failed: {f}", file=sys.stderr)
    print("# run " + json.dumps(record))
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
