"""Run ONLY the bench_compaction_large shape to iterate on big-job
compaction without the full bench.

Usage: python tools/profile_bench_large.py [n_rows] [reps]
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import tempfile

import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import types as T

from sleeper_spark.properties import TableProperties
from sleeper_spark.schema import Field, Schema
from sleeper_spark.statestore import FileReference
from sleeper_spark.table import SleeperTable
from tools.profile_compact import gen


def main():
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("profile_bench_large")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    schema = Schema(
        (Field("key", T.StringType()),),
        (Field("ts", T.LongType()),),
        (Field("payload", T.StringType(), nullable=True),),
    )
    tmp = tempfile.mkdtemp(prefix="prof_bl_")
    t0 = time.perf_counter()
    paths, total = gen(tmp, n_rows)
    print(f"gen: {total} rows in {time.perf_counter()-t0:.1f}s", flush=True)
    os.sync()  # don't charge the engine for gen's dirty-page writeback
    time.sleep(2)
    for rep in range(reps):
        props = TableProperties(compaction_files_batch_size=11)
        table = SleeperTable.create(
            spark, os.path.join(tmp, f"t_{rep}"), schema, props)
        table.store.add_files([
            FileReference(p, "root", pq.ParquetFile(p).metadata.num_rows)
            for p in paths
        ])
        t0 = time.perf_counter()
        refs = table.compact()
        dt = time.perf_counter() - t0
        assert sum(r.number_of_rows for r in refs) == total
        print(f"compaction_large rep{rep}: {dt:.1f}s, "
              f"{len(refs)} part(s) ({total/dt:,.0f} rows/s)", flush=True)
        os.sync()
        time.sleep(2)
    import shutil
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
