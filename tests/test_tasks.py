"""The one task dispatcher (``sleeper_spark.tasks``): results in item
order on both sides, byte-balanced slices, exceptions that propagate, a
loud count check, and an engine that ships itself to Python workers."""

import os
import subprocess
import sys
import textwrap
import time

import pytest

from sleeper_spark import tasks

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _task_fns():
    """Task functions defined in a function, so they pickle by value:
    Python workers cannot import this test module."""
    def slow_square(x):
        # later items finish first, so an unordered gather would show
        time.sleep(0.01 * (5 - x % 5))
        return x * x

    def fail_on_three(x):
        if x == 3:
            raise ValueError("item 3 failed")
        return x
    return slow_square, fail_on_three


_slow_square, _fail_on_three = _task_fns()


@pytest.mark.parametrize("side", ["driver", "executor"])
def test_results_in_item_order(spark, monkeypatch, side):
    if side == "executor":
        monkeypatch.setattr(tasks, "DRIVER_SIDE_BYTES", 0)
    items = list(range(23))
    assert tasks.run_tasks(spark, items, _slow_square,
                           [1 + i % 4 for i in items]) \
        == [i * i for i in items]


def test_executor_side_is_one_job_of_balanced_slices(spark, monkeypatch):
    monkeypatch.setattr(tasks, "DRIVER_SIDE_BYTES", 0)
    sc = spark.sparkContext
    sc.setJobGroup("test-tasks-executor", "job count")
    try:
        tasks.run_tasks(spark, list(range(200)), _slow_square, [1] * 200)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("test-tasks-executor")
    assert len(jobs) == 1
    stages = sc.statusTracker().getJobInfo(jobs[0]).stageIds
    assert sum(sc.statusTracker().getStageInfo(s).numTasks
               for s in stages) == 4 * sc.defaultParallelism


def test_slices_balance_on_weights():
    weights = [100, 90, 80, 70, 5, 5, 5, 5, 5, 5, 3, 2, 1, 1, 1, 1]
    slices = tasks.pack_slices(weights, 4)
    assert len(slices) == 4 and all(slices)
    assert sorted(i for s in slices for i in s) == list(range(len(weights)))
    assert all(s == sorted(s) for s in slices)
    loads = sorted(sum(weights[i] for i in s) for s in slices)
    # largest first: each heavy item opens its own slice, and the small
    # ones fill the lightest slices up to the heaviest item's level
    assert loads == [93, 93, 93, 100]
    assert tasks.pack_slices([7, 7], 16) == [[0], [1]]


@pytest.mark.parametrize("side", ["driver", "executor"])
def test_task_exception_propagates(spark, monkeypatch, side):
    if side == "executor":
        monkeypatch.setattr(tasks, "DRIVER_SIDE_BYTES", 0)
    with pytest.raises(Exception, match="item 3 failed") as err:
        tasks.run_tasks(spark, list(range(6)), _fail_on_three, [1] * 6)
    if side == "driver":
        assert err.type is ValueError


def test_wrong_result_count_raises(spark, monkeypatch):
    """A slice that loses an item is a loud error, not a short list."""
    monkeypatch.setattr(tasks, "DRIVER_SIDE_BYTES", 0)
    monkeypatch.setattr(tasks, "pack_slices",
                        lambda weights, n: [list(range(len(weights) - 1))])
    with pytest.raises(RuntimeError, match="4 task results for 5 items"):
        tasks.run_tasks(spark, list(range(5)), _slow_square, [1] * 5)
    assert tasks.run_tasks(spark, [], _slow_square, []) == []


def test_ship_failure_names_pythonpath(spark, monkeypatch):
    sc = spark.sparkContext

    def refuse(path):
        raise OSError("read-only file system")

    monkeypatch.setattr(tasks, "_shipped", set())
    monkeypatch.setattr(sc, "addPyFile", refuse)
    with pytest.raises(RuntimeError, match="PYTHONPATH"):
        tasks.ship_engine(sc)


def test_engine_ships_itself_to_workers(tmp_path):
    """A driver that finds ``sleeper_spark`` only through ``sys.path``,
    run from a directory outside the repository, still compacts and
    builds sidecars on executors: the workers import the shipped zip."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pyspark.sql import SparkSession, functions as F, types as T
        from sleeper_spark import Field, Schema, SleeperTable, tasks
        tasks.DRIVER_SIDE_BYTES = 0
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.ui.enabled", "false")
                 .config("spark.sql.shuffle.partitions", "2")
                 .getOrCreate())
        spark.sparkContext.setLogLevel("ERROR")
        schema = Schema((Field("key", T.LongType()),), (),
                        (Field("value", T.LongType()),))
        t = SleeperTable.create(spark, "table", schema, split_points=[50])
        df = spark.range(100).select(F.col("id").alias("key"),
                                     (F.col("id") * 3).alias("value"))
        t.ingest(df)
        t.ingest(df)
        out = t.compact()
        assert sum(r.number_of_rows for r in out) == 200, out
        assert t.verify_integrity()["ok"]
        print("SHIPPED-OK")
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                          env=env, capture_output=True, text=True,
                          timeout=300)
    assert "SHIPPED-OK" in proc.stdout, proc.stderr[-3000:]
