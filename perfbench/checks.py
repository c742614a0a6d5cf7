"""Untimed correctness checks.

Expected values come from the benchmark's own inputs (:class:`inputs.Pages`)
or from reading the store's parquet files directly with pyarrow, never from
the code path being timed.  Each check returns True/False; the caller counts
failures into the run's ``failed`` total.
"""
from __future__ import annotations

import numpy as np
import pyarrow.dataset as pads

from stl_decomp_4j_spark.codec.gorilla import decode_series
from stl_decomp_4j_spark.stl import build_stl_config, stl_decompose

from inputs import Pages, hour_ts

COMPONENTS = ("value", "trend", "seasonal", "residual")


def _ts_us(col) -> np.ndarray:
    return np.asarray(col.to_numpy(), dtype="datetime64[us]").astype(np.int64)


def read_rows(path: str, urls: list[str], columns: list[str]) -> dict[str, dict[str, np.ndarray]]:
    """url -> column -> values for ``urls`` from a store table, read with
    pyarrow (hive partition dirs), each url's rows sorted by ``ts``/``t0``."""
    table = pads.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["url", *columns], filter=pads.field("url").isin(urls)
    )
    key = "ts" if "ts" in columns else "t0"
    out = {}
    for u in urls:
        sub = table.filter(pads.field("url") == u)
        order = np.argsort(_ts_us(sub.column(key)), kind="stable")
        out[u] = {c: (_ts_us(sub.column(c)) if c in ("ts", "t0", "t1") else sub.column(c).to_numpy(zero_copy_only=False))[order]
                  for c in columns}
    return out


def stl_matches(pages: Pages, idx: list[int], tier_1h: dict, period: int, stl_kwargs: dict) -> bool:
    """Stored 1h grid == the benchmark's own gap-fill, and stored trend /
    seasonal / residual bit-equal to ``stl_decompose`` run on it."""
    for i in idx:
        rows = tier_1h[pages.urls[i]]
        y = pages.hourly_counts(i)
        grid = hour_ts(pages.start_h[i] + np.arange(len(y)))
        if not np.array_equal(rows["ts"], grid) or not np.array_equal(rows["value"], y):
            return False
        d = stl_decompose(y, build_stl_config(len(y), period, **stl_kwargs))
        for c in ("trend", "seasonal", "residual"):
            if not np.array_equal(rows[c], getattr(d, c)):
                return False
    return True


def gorilla_matches(chunks: dict, tier_1h: dict) -> bool:
    """Decoded Gorilla 1h chunks are bit-equal to the 1h tier, per url and
    component (timestamps in ms, values as float64 bits)."""
    for url, rows in tier_1h.items():
        c = chunks[url]
        for comp in COMPONENTS:
            sel = c["column"] == comp
            parts = [decode_series(bytes(b)) for b in c["chunk"][sel]]
            if not parts:
                return False
            ts = np.concatenate([p[0] for p in parts])
            vals = np.concatenate([p[1] for p in parts])
            if not np.array_equal(ts, rows["ts"] // 1000):
                return False
            if not np.array_equal(vals.view(np.int64), np.asarray(rows[comp], dtype=np.float64).view(np.int64)):
                return False
    return True


def range_read_matches(rows: list, url: str, ts_min_us: int, ts_max_us: int, tier_1h: dict) -> bool:
    """``read_range`` rows (url, column, ts_ms, value) equal the same slice of
    the 1h tier."""
    t = tier_1h[url]
    sel = (t["ts"] >= ts_min_us) & (t["ts"] <= ts_max_us)
    want = sorted((url, c, int(ts // 1000), float(v)) for c in COMPONENTS for ts, v in zip(t["ts"][sel], t[c][sel]))
    got = sorted((r["url"], r["column"], int(r["ts_ms"]), float(r["value"])) for r in rows)
    return got == want and len(got) == 4 * int(sel.sum()) > 0


def tier_read_matches(rows: list, pages: Pages, urls: tuple[str, ...]) -> bool:
    """Monthly ``serve_rollup`` rows equal the monthly crawl sums and grid
    hours computed from the benchmark's own inputs (exact: the values are
    integer crawl counts)."""
    want = {}
    for u in urls:
        for (y, m), (s, n) in pages.monthly_sums(pages.urls.index(u)).items():
            want[(u, y, m)] = (s, n)
    got = {(r["url"], r["ts"].year, r["ts"].month): (float(r["sum_value"]), int(r["cnt"])) for r in rows}
    return got == want
