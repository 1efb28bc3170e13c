"""Tests of the benchmark's Spark accounting helper.

    python3 -m pytest perfbench/test_accounting.py -q
"""

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from accounting import SparkAccount, parse_sql_metric  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    local = tmp_path_factory.mktemp("spark-local")
    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-accounting-test")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", str(local))
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.mark.parametrize("tasks", [1, 5])
def test_one_stage_job_reports_its_tasks(spark, tasks):
    acct = SparkAccount(spark)
    with acct.group(f"one-stage-{tasks}"):
        spark.range(0, 10_000, 1, tasks).write.format("noop").mode("overwrite").save()
    acct.settle()
    got = acct.read(f"one-stage-{tasks}")
    assert (got["jobs"], got["stages"], got["tasks"]) == (1, 1, tasks)
    assert got["failed_tasks"] == 0
    assert got["task_s"] > 0
    assert got["shuffle_write_mb"] == 0
    assert got["scan_task_s"] == 0


def test_jobs_outside_the_group_are_not_counted(spark):
    acct = SparkAccount(spark)
    with acct.group("counted"):
        spark.range(0, 100, 1, 3).collect()
    spark.range(0, 100, 1, 4).collect()
    acct.settle()
    assert acct.read("counted")["tasks"] == 3


def test_pandas_udf_reports_python_worker_time(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    @F.pandas_udf("double")
    def slow_plus_one(v: pd.Series) -> pd.Series:
        time.sleep(0.05)
        return v + 1.0

    acct = SparkAccount(spark)
    with acct.group("python"):
        spark.range(0, 20_000, 1, 2).select(
            slow_plus_one(F.col("id").cast("double"))
        ).write.format("noop").mode("overwrite").save()
    acct.settle()
    got = acct.read("python")
    assert got["python.worker_s"] > 0
    assert got["python.sent_mb"] > 0
    assert got["python.recv_mb"] > 0


def test_python_metrics_of_a_later_group_survive_an_earlier_read(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    @F.pandas_udf("double")
    def slow_plus_one(v: pd.Series) -> pd.Series:
        time.sleep(0.05)
        return v + 1.0

    acct = SparkAccount(spark)
    with acct.group("first"):
        spark.range(0, 100, 1, 2).collect()
    with acct.group("second"):
        spark.range(0, 20_000, 1, 2).select(
            slow_plus_one(F.col("id").cast("double"))
        ).toPandas()
    acct.settle()
    first = acct.read("first")
    second = acct.read("second")
    assert first["python.worker_s"] == 0
    assert second["python.worker_s"] > 0
    assert second["python.recv_mb"] > 0


def test_file_scan_stages_are_attributed(spark, tmp_path):
    path = tmp_path / "t.parquet"
    spark.range(0, 1000).write.parquet(str(path))
    acct = SparkAccount(spark)
    with acct.group("scan"):
        spark.read.parquet(str(path)).write.format("noop").mode("overwrite").save()
    acct.settle()
    got = acct.read("scan")
    # reading the parquet footers for the schema is a job without a scan
    assert 0 < got["scan_task_s"] <= got["task_s"]
    assert got["scan_input_mb"] == got["input_mb"] > 0


@pytest.mark.parametrize(
    "text, value",
    [
        ("total (min, med, max (stageId: taskId))\n7.7 s (1.8 s, 1.9 s, 2.1 s (stage 0.0: task 1))", 7.7),
        ("total (min, med, max (stageId: taskId))\n690 ms (1 ms, 2 ms, 3 ms (stage 0.0: task 1))", 0.69),
        ("total (min, med, max (stageId: taskId))\n782.9 KiB (1 B, 2 B, 3 B (stage 0.0: task 0))", 782.9 / 1024),
        ("total (min, med, max (stageId: taskId))\n2.0 MiB (1 B, 2 B, 3 B (stage 0.0: task 0))", 2.0),
        ("42.3 KiB", 42.3 / 1024),
        ("3 ms", 0.003),
    ],
)
def test_parse_sql_metric(text, value):
    assert parse_sql_metric(text) == pytest.approx(value)


def test_parse_sql_metric_rejects_unknown_text():
    with pytest.raises(ValueError):
        parse_sql_metric("total\nn/a")
