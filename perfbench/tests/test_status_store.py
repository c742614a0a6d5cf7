"""Tests for the status-store reader: metric-string parsing, layer mapping,
and the counts read back for toy plans whose row counts are known.

    python3 -m pytest perfbench/tests -q
"""
from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from status_store import Execution, Node, StatusStoreReader, layer_of, parse_metric, union_s  # noqa: E402

STATS = "total (min, med, max (stageId: taskId))\n"


@pytest.mark.parametrize(
    "text,total",
    [
        ("1,000", 1000.0),
        ("0", 0.0),
        ("731 ms", 0.731),
        ("3.6 s", 3.6),
        ("1.5 m", 90.0),
        ("2.0 min", 120.0),
        ("0.50 h", 1800.0),
        ("0.0 B", 0.0),
        ("17.8 KiB", 17.8 * 1024),
        ("12.9 MiB", 12.9 * 1024**2),
        ("1.0 GiB", 1024.0**3),
    ],
)
def test_parse_bare_values(text, total):
    m = parse_metric(text)
    assert m.total == pytest.approx(total)
    assert m.min is None and m.stage is None


def test_parse_task_stats():
    m = parse_metric(STATS + "12.9 MiB (1.0 MiB, 1.2 MiB, 2.0 MiB (stage 3.0: task 5))")
    assert m.total == pytest.approx(12.9 * 1024**2)
    assert (m.min, m.med, m.max) == pytest.approx((1024**2, 1.2 * 1024**2, 2 * 1024**2))
    assert m.stage == 3
    t = parse_metric(STATS + "1.2 m (2 ms, 6.5 s, 10 s (stage 12.1: task 1024))")
    assert (t.total, t.min, t.med, t.max, t.stage) == pytest.approx((72.0, 0.002, 6.5, 10.0, 12))


def test_parse_average_stats_without_total():
    m = parse_metric("(min, med, max (stageId: taskId)):\n(1, 1.5, 2 (stage 168.0: task 498))")
    assert (m.total, m.min, m.med, m.max, m.stage) == (1.5, 1.0, 1.5, 2.0, 168)


def test_parse_missing_and_garbage():
    assert parse_metric(None) is None
    with pytest.raises(ValueError):
        parse_metric("12 furlongs")
    with pytest.raises(ValueError):
        parse_metric("n/a")


def _exe(*names):
    return Execution(0, "", 0.0, 1.0, [Node(n, "") for n in names])


@pytest.mark.parametrize(
    "names,layer",
    [
        (("Execute InsertIntoHadoopFsRelationCommand", "FlatMapGroupsInPandas", "Scan parquet "), "stl_udf"),
        (("Execute InsertIntoHadoopFsRelationCommand", "MapInPandas", "Scan parquet "), "compress"),
        (("MapInPandas", "Scan parquet "), "read_range"),
        (("Execute InsertIntoHadoopFsRelationCommand", "HashAggregate", "Scan parquet "), "catalog"),
        (("HashAggregate", "Scan parquet "), "scan"),
        (("HashAggregate", "LocalTableScan"), "other"),
    ],
)
def test_layer_of(names, layer):
    assert layer_of(_exe(*names)) == layer


def test_union_of_intervals():
    assert union_s([]) == 0.0
    assert union_s([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert union_s([(3, 4), (0, 10)]) == pytest.approx(10.0)


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-status-store-test")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_toy_plan_row_and_file_counts(spark, tmp_path):
    import pyspark.sql.functions as F

    reader = StatusStoreReader(spark)
    mark = reader.mark()
    spark.range(0, 1000, 1, 4).write.parquet(str(tmp_path / "t"))
    # a predicate parquet statistics cannot prune, so the scan reads every row
    n = spark.read.parquet(str(tmp_path / "t")).filter(F.col("id") % 3 == 0).count()
    assert n == 334
    write, read = reader.since(mark)
    assert layer_of(write) == "catalog" and layer_of(read) == "scan"
    (ins,) = write.find("Execute InsertIntoHadoopFsRelationCommand")
    assert ins.value("number of output rows") == 1000
    assert ins.value("number of written files") == 4
    assert ins.value("written output") > 0
    (scan,) = read.find("Scan parquet")
    assert scan.value("number of output rows") == 1000
    assert scan.value("number of files read") == 4
    (flt,) = read.find("Filter")
    assert flt.value("number of output rows") == 334
    assert write.end_s >= write.start_s and read.start_s >= write.start_s
    assert reader.since(reader.mark()) == []


def test_toy_apply_in_pandas_counts(spark):
    def halve(pdf):
        return pdf[pdf.v % 2 == 0]

    reader = StatusStoreReader(spark)
    mark = reader.mark()
    df = spark.range(0, 1000, 1, 4).selectExpr("id % 10 as k", "id as v")
    assert df.groupBy("k").applyInPandas(halve, "k long, v long").count() == 500
    (exe,) = reader.since(mark)
    assert layer_of(exe) == "stl_udf"
    (node,) = exe.find("FlatMapGroupsInPandas")
    assert node.value("number of output rows") == 500
    # 1000 rows x two int64 columns went to Python: at least 16 kB of Arrow
    assert node.value("data sent to Python workers") >= 16_000
    assert 0 < node.value("data returned from Python workers") < node.value("data sent to Python workers")
    assert "time to run Python workers" in node.metrics


def test_map_in_pandas_layers(spark, tmp_path):
    def ident(batches):
        yield from batches

    reader = StatusStoreReader(spark)
    mark = reader.mark()
    df = spark.range(0, 100, 1, 2).mapInPandas(ident, "id long")
    assert df.count() == 100
    df.write.parquet(str(tmp_path / "m"))
    read, write = reader.since(mark)
    assert layer_of(read) == "read_range" and layer_of(write) == "compress"
    (node,) = read.find("MapInPandas")
    assert node.value("number of output rows") == 100
