"""Per-layer metrics of a traced run, from the SQL executions each timed
operation caused (see :mod:`status_store`).

Build metrics come from the run's one timed batch build, refresh metrics are
medians over its refresh cycles, read metrics medians over its reads.  Times
read from node metrics are task time summed over tasks ("time busy"), not
wall time; execution walls are submission-to-completion.
"""
from __future__ import annotations

import re
import statistics

from status_store import WRITE_NODE, union_s

_TARGET = re.compile(r"/(tier|gorilla)_(1h|1d|1w)\b")
PY_RUN = "time to run Python workers"


def _target(node) -> str | None:
    m = _TARGET.search(node.desc)
    return f"{m[1]}_{m[2]}" if m else None


def _writes(executions):
    return [(e, n, _target(n)) for e in executions for n in e.find(WRITE_NODE)]


def _nodes(executions, prefix: str):
    return [n for e in executions for n in e.find(prefix)]


def _sum(nodes, metric: str) -> float:
    return sum(n.value(metric) for n in nodes)


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def build_metrics(rec, build: dict, stage_tasks) -> dict[str, tuple[float, str]]:
    ex = rec.executions
    scans = [n for n in _nodes(ex, "Scan parquet") if "/pages" in n.desc]
    stl_ex = [e for e in ex if e.find("FlatMapGroupsInPandas")]
    aggs_rows = [min(n.value("number of output rows") for n in e.find("HashAggregate")) for e in stl_ex
                 if e.find("HashAggregate")]
    stl = _nodes(stl_ex, "FlatMapGroupsInPandas")
    stl_rows = _sum(stl, "number of output rows")
    bytes_from = _sum(stl, "data returned from Python workers")
    tasks = [stage_tasks(n.metrics[PY_RUN].stage) for n in stl
             if PY_RUN in n.metrics and n.metrics[PY_RUN].stage is not None]
    tasks = [t for t in tasks if t is not None]
    skew = [n.metrics[PY_RUN].max / n.metrics[PY_RUN].med for n in stl
            if PY_RUN in n.metrics and n.metrics[PY_RUN].med]
    writes = _writes(ex)
    gorilla_ex = {e.id: e for e, _, t in writes if t and t.startswith("gorilla_")}

    def rows_to(table: str) -> float:
        return sum(n.value("number of output rows") for _, n, t in writes if t == table)

    wnodes = [n for _, n, _ in writes]
    return {
        "scan.rows": (_sum(scans, "number of output rows"), "rows"),
        "scan.s": (_sum(scans, "scan time"), "s"),
        "bucketize.rows_out": (float(sum(aggs_rows)), "rows"),
        "bucketize.agg_s": (_sum(_nodes(stl_ex, "HashAggregate"), "time in aggregation build"), "s"),
        "stl_udf.python_run_s": (_sum(stl, PY_RUN), "s"),
        "stl_udf.python_init_s": (_sum(stl, "time to initialize Python workers"), "s"),
        "stl_udf.bytes_to_python": (_sum(stl, "data sent to Python workers"), "B"),
        "stl_udf.bytes_from_python": (bytes_from, "B"),
        "stl_udf.bytes_from_python_per_point": (bytes_from / stl_rows if stl_rows else 0.0, "B"),
        "stl_udf.tasks": (float(min(tasks, default=0)), "count"),
        "stl_udf.task_skew": (_median(skew), "ratio"),
        "rollup.derive_s": (sum(e.wall_s for e, _, t in writes if t in ("tier_1d", "tier_1w")), "s"),
        "rollup.rows_1h": (rows_to("tier_1h"), "rows"),
        "rollup.rows_1d": (rows_to("tier_1d"), "rows"),
        "rollup.rows_1w": (rows_to("tier_1w"), "rows"),
        "compress.python_run_s": (_sum(_nodes(gorilla_ex.values(), "MapInPandas"), PY_RUN), "s"),
        "compress.chunks_written": (sum(rows_to(f"gorilla_{g}") for g in ("1h", "1d", "1w")), "count"),
        "compress.bytes_per_point": (build["gorilla_bytes"] / build["points"], "B"),
        "stl.distinct_grid_lengths": (float(build["distinct_grid_lengths"]), "count"),
        "catalog.bytes_written": (_sum(wnodes, "written output"), "B"),
        "catalog.files_written": (_sum(wnodes, "number of written files"), "count"),
        "catalog.write_s": (_sum(wnodes, "task commit time") + _sum(wnodes, "job commit time"), "s"),
    }


def refresh_metrics(recs) -> dict[str, tuple[float, str]]:
    per_bucket, gap, digest, amp = [], [], [], []
    for r in recs:
        ex = r.executions
        per_bucket.append(len(ex))  # every timed refresh runs exactly one bucket (checked)
        gap.append(r.wall_s - union_s([(e.start_s, e.end_s or e.start_s) for e in ex]))
        digest.append(sum(e.wall_s for e in ex if any("sha2(" in n.desc for n in e.nodes)))
        rewritten = sum(n.value("number of output rows") for _, n, t in _writes(ex) if t and t.startswith("tier_"))
        amp.append(rewritten / r.info["appended_rows"])
    return {
        "pipeline.executions_per_bucket": (_median(per_bucket), "count"),
        "pipeline.driver_gap_s": (_median(gap), "s"),
        "pipeline.digest_check_s": (_median(digest), "s"),
        "pipeline.refresh_points_per_appended_row": (_median(amp), "ratio"),
    }


def read_metrics(range_recs, tier_recs) -> dict[str, tuple[float, str]]:
    decoded = [_sum(_nodes(r.executions, "MapInPandas"), "number of output rows") for r in range_recs]
    return {
        "read_range.chunks_decoded": (_median(r.info["chunks_decoded"] for r in range_recs), "count"),
        "read_range.useful_row_share": (_median(r.info["rows"] / d for r, d in zip(range_recs, decoded) if d), "ratio"),
        "read_range.files_read": (_median(_sum(_nodes(r.executions, "Scan parquet"), "number of files read")
                                          for r in range_recs), "count"),
        "read_range.python_run_ms": (_median(1000 * _sum(_nodes(r.executions, "MapInPandas"), PY_RUN)
                                             for r in range_recs), "ms"),
        "serve.rows_scanned_per_row_returned": (
            _median(_sum(_nodes(r.executions, "Scan parquet"), "number of output rows") / r.info["rows"]
                    for r in tier_recs if r.info["rows"]), "ratio"),
        "serve.files_read": (_median(_sum(_nodes(r.executions, "Scan parquet"), "number of files read")
                                     for r in tier_recs), "count"),
    }
