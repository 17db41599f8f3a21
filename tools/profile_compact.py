"""Profile one Arrow compaction task (no Spark): where does the time go?

Generates the bench_compaction_large shape (11 interleaved sorted runs,
string key / long sort key / string payload), then times the phases of a
single merge task: the k-way merge (parquet decode included), processing
(clip, ageOff, aggregation), and the shared sorted-file writer
(``sketches.write_sorted_file``: Parquet write plus sketch and Bloom
sidecar).

Usage: python tools/profile_compact.py [n_rows] [batch_rows]
"""
from __future__ import annotations

import os
import sys
import tempfile
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sleeper_spark import sketches as sk
from sleeper_spark.sorted_scan import _merge_leaf, _process_chunk


def gen(tmp, n_rows, n_files=11):
    per_file = n_rows // n_files
    paths = []
    for i in range(n_files):
        ints = pa.array(range(i, per_file * n_files, n_files), type=pa.int64())
        keys = pc.utf8_lpad(pc.cast(ints, pa.string()), 19, "0")
        t = pa.table({
            "key": keys,
            "ts": ints,
            "payload": pc.binary_join_element_wise(
                pa.array(["v"] * per_file), pc.cast(ints, pa.string()), "-"),
        })
        p = os.path.join(tmp, f"in-{i}.parquet")
        pq.write_table(t, p, compression="zstd", row_group_size=262144)
        sk.write_sidecar(p, sk.sketch_from_arrow_columns(
            {"key": t.column("key")}, t.num_rows, 1024))
        paths.append(p)
    return paths, per_file * n_files


def profile_task(paths, out_path, batch_rows, prune=None):
    desc = {
        "files": paths,
        "key_names": ["key", "ts"],
        "column_order": ["key", "ts", "payload"],
        "leaf_ranges": [],
        "query_regions": [],
        "filters": [],
        "aggs": [],
        "now_millis": 0,
        "batch_rows": batch_rows,
        "prune_range": prune,
    }
    ph = {"merge": 0.0, "process": 0.0}

    def timed_chunks():
        chunks = _merge_leaf(desc)
        while True:
            t0 = time.perf_counter()
            chunk = next(chunks, None)
            ph["merge"] += time.perf_counter() - t0
            if chunk is None:
                return
            t0 = time.perf_counter()
            out = _process_chunk(chunk, desc)
            ph["process"] += time.perf_counter() - t0
            yield out

    t_all = time.perf_counter()
    n_out = sk.write_sorted_file(
        out_path, timed_chunks(), key_names=desc["key_names"],
        sketch_k=1024, compression="zstd", page_bytes=131072,
        declared_schema=pq.read_schema(paths[0]))
    total = time.perf_counter() - t_all
    # everything the writer did between chunks: Parquet encode and write,
    # the first-key sketch, the buffered sort-key sketch, the Bloom, and
    # the sidecar file itself
    ph["write+sidecar"] = total - ph["merge"] - ph["process"]
    ph["TOTAL"] = total
    return n_out, ph


def main():
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 5_000_000
    batch_rows = int(sys.argv[2]) if len(sys.argv) > 2 else 131072
    tmp = tempfile.mkdtemp(prefix="prof_compact_")
    t0 = time.perf_counter()
    paths, total = gen(tmp, n_rows)
    print(f"gen: {total} rows in {time.perf_counter()-t0:.1f}s")
    out_path = os.path.join(tmp, "out.parquet")
    n_out, ph = profile_task(paths, out_path, batch_rows)
    print(f"rows out: {n_out}, batch_rows={batch_rows}")
    for k, v in ph.items():
        print(f"  {k:13s} {v:7.2f}s")
    print(f"throughput: {n_out/ph['TOTAL']:,.0f} rows/s (single task)")
    import shutil
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
