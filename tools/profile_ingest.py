"""Profile ingest's two branches (sleeper_spark/ingest.py module doc):
where does the driver branch stop paying?

For each batch size, writes the same batch into an 8-leaf table through
the driver branch (collect once, Arrow sort, the sorted-file writer on
driver threads) and through the Spark branch (repartition and sort in
Spark, then each task streams its leaves' runs into the same
sorted-file writer, ``sketches.write_sorted_runs``, with no listing
and no read-back), alternating which runs first, and prints
the median wall times. ``probe ms`` is what a batch above the cap spends
before it takes the Spark branch: reading its input files' Parquet
footers, or, for a source without files (``--pandas``), collecting
``DRIVER_INGEST_ROWS + 1`` rows to find that it is too big. Only the
write phase is timed; nothing is committed.

The batch is a Parquet file of string keys (the ``write_cycle`` key
shape), a long sort key and a string value, or with ``--pandas`` a
pandas frame (the benchmark's ``ingest`` operation's source).
``--value-bytes N`` pads each value to N bytes, for wide rows; the
driver branch then also stops at ``DRIVER_INGEST_BYTES``, which the
driver side here lifts too.

Usage: python tools/profile_ingest.py [--pandas] [--value-bytes N]
       [--reps N] ROWS...
"""
from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from sleeper_spark import ingest  # noqa: E402
from sleeper_spark.schema import Field, Schema  # noqa: E402
from sleeper_spark.table import SleeperTable  # noqa: E402

SCHEMA = Schema(row_key_fields=(Field("key", T.StringType()),),
                sort_key_fields=(Field("ts", T.LongType()),),
                value_fields=(Field("value", T.StringType()),))
SPLITS = [f"k-{i * 125_000:07d}" for i in range(1, 8)]


def batch(rows: int, value_bytes: int) -> pa.Table:
    ids = pa.array(range(rows), type=pa.int64())
    mixed = pc.multiply(ids, 7919)  # spreads keys over the leaves
    value = pc.binary_join_element_wise("v", pc.cast(ids, pa.string()), "")
    if value_bytes:
        value = pc.utf8_rpad(value, value_bytes, "x")
    return pa.table({
        "key": pc.binary_join_element_wise(
            "k-", pc.utf8_lpad(pc.cast(pc.bit_wise_and(mixed, 0xFFFFF),
                                       pa.string()), 7, "0"), ""),
        "ts": pc.bit_wise_and(ids, 7),
        "value": value,
    })


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("rows", type=int, nargs="+")
    ap.add_argument("--pandas", action="store_true")
    ap.add_argument("--value-bytes", type=int, default=0)
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()
    spark = (SparkSession.builder.master("local[4]")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.driver.memory", "2g")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    cap, cap_bytes = ingest.DRIVER_INGEST_ROWS, ingest.DRIVER_INGEST_BYTES
    tmp = tempfile.mkdtemp(prefix="profile-ingest-")
    try:
        t = SleeperTable.create(spark, os.path.join(tmp, "t"), SCHEMA,
                                split_points=SPLITS)
        print(f"{'rows':>10} {'driver ms':>10} {'runs ms':>10} "
              f"{'probe ms':>9}   (DRIVER_INGEST_ROWS = {cap:,}, "
              f"DRIVER_INGEST_BYTES = {cap_bytes:,})")
        for rows in args.rows:
            tbl = batch(rows, args.value_bytes)
            if args.pandas:
                df = spark.createDataFrame(tbl.to_pandas())
            else:
                path = os.path.join(tmp, f"in-{rows}.parquet")
                pq.write_table(tbl, path)
                df = spark.read.parquet(path)
            n = [0]

            def driver():
                ingest.DRIVER_INGEST_ROWS = max(rows, cap)
                ingest.DRIVER_INGEST_BYTES = max(4 * tbl.nbytes, cap_bytes)
                try:
                    return ingest.write_sorted_files(
                        df, t.store.tree, t.store, out(), t.props)
                finally:
                    ingest.DRIVER_INGEST_ROWS = cap
                    ingest.DRIVER_INGEST_BYTES = cap_bytes

            def on_spark():
                return ingest.write_sorted_files(
                    df, t.store.tree, t.store, out(), t.props, batch=None)

            def probe():
                assert ingest.collect_batch(
                    df, t.store.tree, SCHEMA, t.props) is None

            def out():
                n[0] += 1
                return os.path.join(tmp, "out", str(n[0]))

            sides = {"driver": driver, "runs": on_spark}
            if rows > cap or tbl.nbytes > cap_bytes:
                sides["probe"] = probe
            times = {s: [] for s in sides}
            for rep in range(args.reps + 1):  # the first is a warm-up
                order = list(sides) if rep % 2 else list(sides)[::-1]
                for s in order:
                    t0 = time.perf_counter()
                    sides[s]()
                    if rep:
                        times[s].append(time.perf_counter() - t0)
                shutil.rmtree(os.path.join(tmp, "out"), ignore_errors=True)
            med = {s: 1000 * statistics.median(v) for s, v in times.items()}
            print(f"{rows:>10,} {med['driver']:>10.0f} {med['runs']:>10.0f} "
                  f"{med.get('probe', float('nan')):>9.0f}", flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
