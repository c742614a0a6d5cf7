"""The two workloads and the run sequence they share.

Each run:

* set-up (``setup_s``): start the Spark session, write the seeded inputs,
  and warm every timed operation kind on a small separate store (one build,
  one incremental refresh, a few reads of each kind);
* measure: one batch build into a fresh root (``rollup_points_per_s``,
  ``store_bytes_per_point``), then refresh cycles on that store
  (``refresh_p50_s``), then a closed loop of dashboard reads until
  ``--seconds`` have passed since the measure phase began;
* untimed correctness checks after every operation kind.

In a traced run (``--trace 1``) the same sequence runs with every call into
the program wrapped in a span and the SQL executions each call caused read
from Spark's status store; :mod:`layers` turns them into per-layer metrics.
"""
from __future__ import annotations

import statistics
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

import checks
from harness import Ops, Span, Watchdog, wait_gone
from inputs import Pages, PagesShape, RangeRead, TierRead, read_mix
from status_store import StatusStoreReader, layer_of


def log(msg: str) -> None:
    print(f"# {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


@dataclass(frozen=True)
class Workload:
    shape: PagesShape
    robust: bool
    n_buckets: int


WORKLOADS = {
    # STL-bound: robust STL, and every url has its own grid length (128
    # lengths), more than the 64-entry per-worker loess memo holds
    "batch_stl": Workload(
        PagesShape(n_urls=128, days=60, crawls_per_url=50, hot_share=0.01, hot_mult=16, aligned=False),
        robust=True,
        n_buckets=2,
    ),
    # orchestration-bound: plain STL on one shared grid length (memo hits),
    # so per-bucket Spark actions and the reads carry the weight
    "refresh_serve": Workload(
        PagesShape(n_urls=120, days=60, crawls_per_url=50, hot_share=0.01, hot_mult=16, aligned=True),
        robust=False,
        n_buckets=2,
    ),
}

REFRESH_CYCLES = 3
MIN_READS_PER_KIND = 16
STL_CHECK_URLS = 20
# the warm-up store: every timed operation kind runs once on it before timing
WARM_URLS = 12
WARM_BUCKETS = 1
WARM_READS = 8

PERIOD = 24
SEASONAL_WIDTH = 35
COMPONENTS = list(checks.COMPONENTS)


@dataclass
class OpRecord:
    """One timed call and, in a traced run, the SQL executions it caused."""

    kind: str
    wall_s: float
    span: int | None
    info: dict = field(default_factory=dict)
    executions: list = field(default_factory=list)


def _parquet_bytes(root: str, prefixes: tuple[str, ...]) -> int:
    total = 0
    for p in Path(root).iterdir():
        if p.name.startswith(prefixes):
            total += sum(f.stat().st_size for f in p.rglob("*.parquet"))
    return total


class Bench:
    def __init__(self, name: str, seed: int, seconds: int, trace: bool, work: Path,
                 t_start: float, run_deadline: float) -> None:
        self.name = name
        self.w = WORKLOADS[name]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.t_start = t_start
        self.run_deadline = run_deadline
        self.records: list[OpRecord] = []
        self.trace_overhead_s = 0.0

    # -- plumbing ----------------------------------------------------------
    def _start_session(self) -> None:
        from stl_decomp_4j_spark.plans.session import build_session

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'}",
        }
        if self.trace:
            # the read loop alone runs hundreds of executions; the default
            # retention (1000) would drop the earliest ones mid-run
            conf.update({
                "spark.sql.ui.retainedExecutions": "100000",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            })
        self.spark = build_session(app_name=f"perfbench-{self.name}", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.watchdog = Watchdog(self.spark, jvm_pid)
        self.watchdog.start()
        self.ops = Ops(self.watchdog, self.run_deadline, self.trace)
        if self.trace:
            self.reader = StatusStoreReader(self.spark)

    def _gc_s(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def timed(self, kind: str, fn, timed: bool = True, **info):
        """Run one operation; keep its record (and executions) if timed."""
        mark = self.reader.mark() if self.trace else None
        ok, value, wall, span = self.ops.run(kind, fn)
        log(f"{kind}{'' if timed else ' (untimed)'} {'ok' if ok else 'FAILED'} {wall:.3f}s")
        if ok and timed:
            rec = OpRecord(kind, wall, span, info)
            if self.trace:
                t0 = time.perf_counter()
                rec.executions = self.reader.since(mark)
                for e in rec.executions:
                    self.ops.spans.append(Span(f"sql.{layer_of(e)}", e.start_s, e.end_s or e.start_s,
                                               span, self.ops.spans[span].op_id, {"execution": e.id}))
                self.trace_overhead_s += time.perf_counter() - t0
            self.records.append(rec)
        return ok, value, wall

    def _pages_df(self, pages_dir: Path):
        return self.spark.read.parquet(str(pages_dir))

    def _cfg(self, n_buckets: int):
        from stl_decomp_4j_spark.pipeline import PipelineConfig

        return PipelineConfig(period=PERIOD, seasonal_width=SEASONAL_WIDTH, robust=self.w.robust,
                              n_buckets=n_buckets, compress=True, slab="month")

    def _stl_kwargs(self) -> dict:
        return {"seasonal_width": SEASONAL_WIDTH, "robust": self.w.robust}

    def _buckets(self, pages: Pages, n_buckets: int) -> dict[int, np.ndarray]:
        """url index -> pipeline bucket, asked of Spark's own xxhash64."""
        import pyspark.sql.functions as F

        df = self.spark.createDataFrame([(i, u) for i, u in enumerate(pages.urls)], "i int, url string")
        rows = df.select("i", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int").alias("b")).collect()
        out: dict[int, list[int]] = {}
        for r in rows:
            out.setdefault(r["b"], []).append(r["i"])
        return {b: np.array(sorted(v)) for b, v in out.items()}

    # -- operations --------------------------------------------------------
    def build(self, pages_dir: Path, root: Path, n_buckets: int, timed: bool = True):
        from stl_decomp_4j_spark.pipeline import run_pipeline

        cfg = self._cfg(n_buckets)
        return self.timed("build", lambda: run_pipeline(self.spark, self._pages_df(pages_dir), str(root), cfg),
                          timed=timed)

    def refresh(self, pages: Pages, pages_dir: Path, root: Path, n_buckets: int, cycle: int, bucket: int,
                bucket_urls: np.ndarray, rows: int, timed: bool = True):
        from stl_decomp_4j_spark.pipeline import run_pipeline

        cfg = self._cfg(n_buckets)
        appended = pages.append_day(str(pages_dir), cycle, bucket_urls, rows)  # the append lands
        ok, res, wall = self.timed(
            "refresh",
            lambda: run_pipeline(self.spark, self._pages_df(pages_dir), str(root), cfg, incremental=True),
            timed=timed, appended_rows=appended, bucket=bucket,
        )
        if ok:
            self.ops.check(f"refresh {cycle} ran exactly bucket {bucket}",
                           res.buckets_run == [bucket])
            self.ops.check(f"refresh {cycle} tier rows", res.rows_per_tier == pages.expected_tier_rows())
        return ok, res, wall

    def open_store(self, root: Path) -> dict:
        """The tables a serving process holds open between refreshes; each
        read is a query against them."""
        return {t: self.spark.read.parquet(str(root / t)) for t in ("gorilla_1h", "tier_1d")}

    def range_read(self, store: dict, op: RangeRead, timed: bool = True, collect: bool = False):
        from stl_decomp_4j_spark.operators.compress import read_range

        acc = self.spark.sparkContext.accumulator(0) if self.trace else None

        def q():
            df = read_range(store["gorilla_1h"], [op.url], op.ts_min, op.ts_max, COMPONENTS, decode_counter=acc)
            return df.collect() if collect else df.count()

        ok, n, wall = self.timed("range_read", q, timed=timed)
        if ok and timed and acc is not None:
            self.records[-1].info.update(rows=n, chunks_decoded=acc.value)
        return ok, n, wall

    def tier_read(self, store: dict, op: TierRead, timed: bool = True, collect: bool = False):
        from stl_decomp_4j_spark.operators.serve import serve_rollup

        def q():
            df = serve_rollup({"1d": store["tier_1d"]}, "month", list(op.urls))
            return df.collect() if collect else df.count()

        ok, n, wall = self.timed("tier_read", q, timed=timed)
        if ok and timed:
            self.records[-1].info.update(rows=n)
        return ok, n, wall

    # -- checks --------------------------------------------------------------
    def check_store(self, pages: Pages, root: Path, idx: list[int], label: str) -> None:
        urls = [pages.urls[i] for i in idx]
        tier = checks.read_rows(str(root / "tier_1h"), urls, ["ts", *COMPONENTS])
        self.ops.check(f"{label} stl bit-equal", checks.stl_matches(pages, idx, tier, PERIOD, self._stl_kwargs()))
        chunks = checks.read_rows(str(root / "gorilla_1h"), urls, ["t0", "column", "chunk"])
        self.ops.check(f"{label} gorilla_1h decodes to tier_1h", checks.gorilla_matches(chunks, tier))

    def check_range_read(self, pages: Pages, root: Path, store: dict, op: RangeRead) -> None:
        ok, rows, _ = self.range_read(store, op, timed=False, collect=True)
        if not ok:
            return
        tier = checks.read_rows(str(root / "tier_1h"), [op.url], ["ts", *COMPONENTS])
        us = lambda t: int(t.timestamp()) * 1_000_000  # noqa: E731
        self.ops.check(f"range read {op.url}",
                       checks.range_read_matches(rows, op.url, us(op.ts_min), us(op.ts_max), tier))

    def check_tier_read(self, pages: Pages, root: Path, store: dict, op: TierRead) -> None:
        ok, rows, _ = self.tier_read(store, op, timed=False, collect=True)
        if ok:
            self.ops.check(f"tier read {op.urls}", checks.tier_read_matches(rows, pages, op.urls))

    # -- in-process kernel and codec timings (traced runs) --------------------
    def micro(self, pages: Pages, root: Path, rng: np.random.Generator) -> dict[str, tuple[float, str]]:
        """``stl_decompose`` on 40 sampled series of the workload, robust and
        plain, each after a warm-up pass over 40 other series (so the loess
        memo holds what a worker's would: the one shared length, or 40
        unrelated ones); Gorilla encode/decode of sampled 1h-tier series."""
        from stl_decomp_4j_spark.codec.gorilla import decode_series, encode_series
        from stl_decomp_4j_spark.stl import build_stl_config, stl_decompose

        idx = rng.choice(len(pages.urls), 80, replace=False)
        ys = {int(i): pages.hourly_counts(int(i)) for i in idx}
        out = {}
        for robust, name in ((False, "stl.plain_ms_per_series"), (True, "stl.robust_ms_per_series")):
            times = []
            for k, i in enumerate(idx):
                y = ys[int(i)]
                cfg = build_stl_config(len(y), PERIOD, seasonal_width=SEASONAL_WIDTH, robust=robust)
                ok, _, wall, _ = self.ops.run("stl.stl_decompose", lambda: stl_decompose(y, cfg))
                if ok and k >= 40:
                    times.append(wall)
            out[name] = (1000 * statistics.median(times), "ms")

        urls = [pages.urls[int(i)] for i in idx[:20]]
        tier = checks.read_rows(str(root / "tier_1h"), urls, ["ts", *COMPONENTS])
        enc_s = dec_s = 0.0
        points = 0
        for u in urls:
            ts_ms = tier[u]["ts"] // 1000
            for c in COMPONENTS:
                vals = np.asarray(tier[u][c], dtype=np.float64)
                ok, blob, wall, _ = self.ops.run("codec.encode_series", lambda: encode_series(ts_ms, vals))
                enc_s += wall
                if ok:
                    ok, _, wall, _ = self.ops.run("codec.decode_series", lambda: decode_series(blob))
                    dec_s += wall
                points += len(vals)
        out["codec.encode_pts_per_s"] = (points / enc_s, "points/s")
        out["codec.decode_pts_per_s"] = (points / dec_s, "points/s")
        return out

    # -- the run -------------------------------------------------------------
    def run(self) -> dict:
        rng = np.random.default_rng(self.seed)
        for d in ("tmp", "pages", "warm_pages"):
            (self.work / d).mkdir(parents=True, exist_ok=True)
        self._start_session()

        pages = Pages(self.w.shape, np.random.default_rng(rng.integers(2**63)))
        pages.write_base(str(self.work / "pages"))
        warm_shape = PagesShape(**{**self.w.shape.__dict__, "n_urls": WARM_URLS})
        warm = Pages(warm_shape, np.random.default_rng(rng.integers(2**63)))
        warm.write_base(str(self.work / "warm_pages"))
        reads = read_mix(pages, np.random.default_rng(rng.integers(2**63)), 4000)
        check_rng = np.random.default_rng(rng.integers(2**63))
        buckets = self._buckets(pages, self.w.n_buckets)
        warm_buckets = self._buckets(warm, WARM_BUCKETS)
        # same appended row count every cycle, enough to give every url of
        # the largest bucket its day-closing crawl
        append_rows = 2 * max(len(v) for v in buckets.values())

        # warm-up: every timed kind once, on a separate small store
        warm_root = self.work / "warm_store"
        self.build(self.work / "warm_pages", warm_root, WARM_BUCKETS, timed=False)
        wb = min(warm_buckets)
        self.refresh(warm, self.work / "warm_pages", warm_root, WARM_BUCKETS, 0, wb, warm_buckets[wb],
                     2 * len(warm_buckets[wb]), timed=False)
        warm_store = self.open_store(warm_root)
        for op in read_mix(warm, np.random.default_rng(0), WARM_READS):
            (self.range_read if isinstance(op, RangeRead) else self.tier_read)(warm_store, op, timed=False)
        setup_s = time.perf_counter() - self.t_start
        log(f"setup done {setup_s:.1f}s")

        # measure
        t_measure = time.perf_counter()
        gc0 = self._gc_s()
        root = self.work / "store"
        ok, res, wall = self.build(self.work / "pages", root, self.w.n_buckets)
        build = {}
        if ok:
            points = sum(res.rows_per_tier.values())
            build = {
                "points": points,
                "wall_s": wall,
                "store_bytes": _parquet_bytes(str(root), ("tier_", "gorilla_")),
                "gorilla_bytes": _parquet_bytes(str(root), ("gorilla_",)),
                "rows_per_tier": res.rows_per_tier,
                "distinct_grid_lengths": len(np.unique(pages.grid_lengths())),
            }
            self.ops.check("build tier rows", res.rows_per_tier == pages.expected_tier_rows())
            sample = sorted(check_rng.choice(len(pages.urls), STL_CHECK_URLS, replace=False).tolist())
            self.check_store(pages, root, sample, "build")

        for cycle in range(REFRESH_CYCLES):
            b = cycle % self.w.n_buckets
            ok, res, _ = self.refresh(pages, self.work / "pages", root, self.w.n_buckets, cycle, b, buckets[b],
                                      append_rows)
            if ok:
                sample = sorted(check_rng.choice(buckets[b], 3, replace=False).tolist())
                self.check_store(pages, root, sample, f"refresh {cycle}")

        store = self.open_store(root)
        n_kind = {RangeRead: 0, TierRead: 0}
        for k, op in enumerate(reads):
            # a traced run reads the same seeded prefix every time, so its
            # per-read counts repeat exactly
            enough = min(n_kind.values()) >= MIN_READS_PER_KIND
            if enough and (self.trace or time.perf_counter() - t_measure >= self.seconds):
                break
            if isinstance(op, RangeRead):
                self.range_read(store, op)
            else:
                self.tier_read(store, op)
            n_kind[type(op)] += 1
            if k % 10 == 0:
                (self.check_range_read if isinstance(op, RangeRead) else self.check_tier_read)(pages, root, store, op)
        gc_s = self._gc_s() - gc0
        log("measured")
        micro = self.micro(pages, root, check_rng) if self.trace and build else {}
        return {"setup_s": setup_s, "build": build, "gc_s": gc_s, "micro": micro}

    def close(self) -> None:
        """Stop the session, the JVM and every process under it, and wait
        for them to end."""
        from pyspark import SparkContext

        if not hasattr(self, "watchdog"):
            return
        pids = self.watchdog.tree()
        self.watchdog.stop()
        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        wait_gone(pids)
