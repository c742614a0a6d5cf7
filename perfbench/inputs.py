"""Seeded inputs owned by the benchmark.

The program under test only ever sees the parquet tables written here: a
pages table ``(url, warc_ts, html, text, lang)``, one append file per refresh
cycle, and the read mix.  Everything comes from one ``numpy`` generator
seeded by the benchmark's ``--seed``, so the same seed gives byte-identical
inputs.

Grid geometry is a workload property.  Every url's crawls start in hour
``start_h`` and end in hour ``end_h`` (hours since ``BASE``), so the dense
hourly grid the pipeline builds for it has exactly ``end_h - start_h + 1``
points.  With ``aligned`` every url spans the whole window and all grids share
one length; otherwise every url gets its own length and a random start.
Either way the total number of grid points does not depend on the seed.
"""
from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# a Monday, so day and ISO-week indices are plain integer divisions of hours
BASE = dt.datetime(2025, 1, 6, tzinfo=dt.timezone.utc)
_BASE_US = int(BASE.timestamp()) * 1_000_000
HOUR_US = 3_600_000_000
LANGS = ("en", "de", "fr", "es")


@dataclass(frozen=True)
class PagesShape:
    n_urls: int
    days: int
    crawls_per_url: int
    hot_share: float
    hot_mult: int
    aligned: bool
    min_span_days: int = 8


def url_name(i: int) -> str:
    return f"https://site{i % 97:04d}.example/p{i:05d}"


def hour_ts(hours: np.ndarray) -> np.ndarray:
    """Hours since BASE -> UTC microseconds."""
    return _BASE_US + hours.astype(np.int64) * HOUR_US


class Pages:
    """Generated crawl log plus the per-url facts the checks need.

    Every row ever generated (base table and appends) is kept as (url index,
    hour), so expected tier contents can be recomputed in NumPy without
    asking the program."""

    def __init__(self, shape: PagesShape, rng: np.random.Generator) -> None:
        self.shape = shape
        self.rng = rng
        n = shape.n_urls
        self.urls = [url_name(i) for i in range(n)]
        window_h = shape.days * 24
        if shape.aligned:
            self.start_h = np.zeros(n, dtype=np.int64)
            self.end_h = np.full(n, window_h - 1, dtype=np.int64)
        else:
            # span lengths are a fixed, evenly spread set (every one distinct)
            # dealt to urls by the seed, so every seed does the same STL work
            min_span = shape.min_span_days * 24
            span = min_span + ((window_h - min_span) * (np.arange(n) + 0.5) / n).astype(np.int64)
            span = rng.permutation(span)
            self.start_h = (rng.random(n) * (window_h - span + 1)).astype(np.int64)
            self.end_h = self.start_h + span - 1
        counts = np.full(n, shape.crawls_per_url, dtype=np.int64)
        n_hot = max(1, int(round(n * shape.hot_share)))
        counts[rng.choice(n, n_hot, replace=False)] *= shape.hot_mult
        idx = np.repeat(np.arange(n), counts)
        span = self.end_h - self.start_h + 1
        hours = self.start_h[idx] + (rng.random(len(idx)) * span[idx]).astype(np.int64)
        # pin the first and last crawl of every url to its span ends
        first = np.r_[0, np.cumsum(counts)[:-1]]
        hours[first] = self.start_h
        hours[first + counts - 1] = self.end_h
        self._crawl_idx = [idx]
        self._crawl_h = [hours]
        self.base_table = self._table(idx, hours)

    # -- tables ----------------------------------------------------------
    def _table(self, idx: np.ndarray, hours: np.ndarray) -> pa.Table:
        secs = self.rng.integers(0, 3600, len(idx))
        ts = hour_ts(hours) + secs * 1_000_000
        order = np.argsort(ts, kind="stable")  # a crawl log lands time-ordered
        idx, ts = idx[order], ts[order]
        urls = pa.array(self.urls)
        texts = pa.array([f"extracted text of {u}" for u in self.urls])
        html = pa.array([f"<html><body>extracted text of {u}</body></html>".encode() for u in self.urls])
        langs = pa.array([LANGS[i % len(LANGS)] for i in range(len(self.urls))])
        take = pa.array(idx)
        return pa.table(
            {
                "url": urls.take(take),
                "warc_ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
                "html": html.take(take),
                "text": texts.take(take),
                "lang": langs.take(take),
            }
        )

    def write_base(self, pages_dir: str, files: int = 4) -> None:
        n = self.base_table.num_rows
        for f in range(files):
            lo, hi = n * f // files, n * (f + 1) // files
            pq.write_table(self.base_table.slice(lo, hi - lo), f"{pages_dir}/part-{f:05d}.parquet")

    def append_day(self, pages_dir: str, cycle: int, url_idx: np.ndarray, rows: int) -> int:
        """Write one day of crawls for ``url_idx`` (one bucket's urls), on
        the day after everything generated so far.  Every url gets a crawl
        in the day's last hour, so all of them end on the same grid hour and
        aligned workloads keep sharing grid lengths; the other
        ``rows - len(url_idx)`` rows land at random hours of the day."""
        day0 = (int(self.end_h.max()) // 24 + 1) * 24
        extra = rows - len(url_idx)
        if extra < 0:
            raise ValueError(f"append of {rows} rows cannot cover {len(url_idx)} urls")
        idx = np.r_[url_idx, self.rng.choice(url_idx, extra)]
        hours = np.r_[np.full(len(url_idx), day0 + 23), day0 + self.rng.integers(0, 24, extra)]
        self.end_h[url_idx] = day0 + 23
        self._crawl_idx.append(idx)
        self._crawl_h.append(hours)
        pq.write_table(self._table(idx, hours), f"{pages_dir}/append-{cycle:05d}.parquet")
        return len(idx)

    # -- expected contents -----------------------------------------------
    def grid_lengths(self) -> np.ndarray:
        return self.end_h - self.start_h + 1

    def expected_tier_rows(self) -> dict[str, int]:
        days = self.end_h // 24 - self.start_h // 24 + 1
        weeks = self.end_h // 168 - self.start_h // 168 + 1
        return {"1h": int(self.grid_lengths().sum()), "1d": int(days.sum()), "1w": int(weeks.sum())}

    def hourly_counts(self, i: int) -> np.ndarray:
        """The benchmark's own gap-fill: crawls per grid hour of url ``i``."""
        idx = np.concatenate(self._crawl_idx)
        hours = np.concatenate(self._crawl_h)
        h = hours[idx == i] - self.start_h[i]
        return np.bincount(h, minlength=int(self.grid_lengths()[i])).astype(np.float64)

    def monthly_sums(self, i: int) -> dict[tuple[int, int], tuple[float, int]]:
        """(year, month) -> (sum of hourly values, grid hours) for url ``i``."""
        y = self.hourly_counts(i)
        hours = self.start_h[i] + np.arange(len(y))
        stamps = (hour_ts(hours) // 1_000_000).astype("datetime64[s]").astype("datetime64[M]")
        out: dict[tuple[int, int], tuple[float, int]] = {}
        for m in np.unique(stamps):
            sel = stamps == m
            d = m.astype(dt.date)
            out[(d.year, d.month)] = (float(y[sel].sum()), int(sel.sum()))
        return out


@dataclass(frozen=True)
class RangeRead:
    url: str
    ts_min: dt.datetime
    ts_max: dt.datetime


@dataclass(frozen=True)
class TierRead:
    urls: tuple[str, ...]


def read_mix(pages: Pages, rng: np.random.Generator, n: int, range_days: int = 7,
             tier_urls: int = 4) -> list[RangeRead | TierRead]:
    """Interleaved dashboard reads: half range reads (one url, a
    ``range_days`` window inside its span), half monthly tier reads over
    ``tier_urls`` urls, in a seeded order."""
    ops: list[RangeRead | TierRead] = []
    kinds = rng.permutation(np.r_[np.zeros(n - n // 2, dtype=int), np.ones(n // 2, dtype=int)])
    for k in kinds:
        if k == 0:
            i = int(rng.integers(0, len(pages.urls)))
            lo, hi = int(pages.start_h[i]), int(pages.end_h[i]) - range_days * 24 + 1
            h0 = int(rng.integers(lo, max(lo, hi) + 1))
            t0 = BASE + dt.timedelta(hours=h0)
            ops.append(RangeRead(pages.urls[i], t0, t0 + dt.timedelta(hours=range_days * 24 - 1)))
        else:
            pick = rng.choice(len(pages.urls), tier_urls, replace=False)
            ops.append(TierRead(tuple(pages.urls[int(i)] for i in sorted(pick))))
    return ops
