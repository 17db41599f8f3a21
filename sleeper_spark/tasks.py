"""One task dispatcher for per-item Arrow work (compaction parts,
copy-on-write rewrites, sidecars): small batches on driver threads, like
Sleeper's in-process compaction task (SURVEY §3.3), since a Spark job's
fixed ~0.3 s outweighs the work and pyarrow releases the GIL; big ones as
ONE Spark job of byte-balanced slices."""

import heapq
import os
import shutil
import tempfile
import threading
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, Sequence

from py4j.protocol import Py4JError
from pyspark import SparkFiles

#: input bytes below which work runs on driver threads: on 4 cores they
#: won at every size measured up to 100 MiB (CHANGES.md), and more cores
#: spread big work over more tasks than the pool has threads
DRIVER_SIDE_BYTES = 64 * 1024 * 1024
#: the fastest pool measured on 4 cores (CHANGES.md): more threads queue
#: on the GIL-held parts of the work (numpy masks, JSON, bookkeeping)
DRIVER_THREADS = 4

_shipped: set[str] = set()  # applications whose workers have the zip
_ship_lock = threading.Lock()


def run_tasks(spark, items: Sequence, fn: Callable,
              weights: Sequence[int]) -> list:
    """``[fn(item) for item in items]`` (module doc); ``weights`` are the
    items' input bytes. On executors ``fn`` and the items must pickle."""
    if not items or sum(weights) < DRIVER_SIDE_BYTES:
        with ThreadPoolExecutor(min(DRIVER_THREADS, len(items) or 1)) as ex:
            pairs = list(enumerate(ex.map(fn, items)))
    else:
        sc = spark.sparkContext
        ship_engine(sc)
        slices = [[(i, items[i]) for i in s] for s in
                  pack_slices(weights, 4 * sc.defaultParallelism)]
        pairs = (sc.parallelize(slices, len(slices))
                 .flatMap(lambda s: [(i, fn(item)) for i, item in s])
                 .collect())
    if len(pairs) != len(items):
        raise RuntimeError(f"{len(pairs)} task results for {len(items)} items")
    return [out for _, out in sorted(pairs, key=lambda p: p[0])]


def pack_slices(weights: Sequence[int], max_slices: int) -> list[list[int]]:
    """Item indices in at most ``max_slices`` non-empty slices balanced
    on ``weights``: largest first, each into the lightest slice (LPT)."""
    heap = [(0, s) for s in range(min(len(weights), max_slices))]
    slices: list[list[int]] = [[] for _ in heap]
    for i in sorted(range(len(weights)), key=lambda i: -weights[i]):
        load, s = heapq.heappop(heap)
        slices[s].append(i)
        heapq.heappush(heap, (load + weights[i], s))
    return [sorted(s) for s in slices]


def ship_engine(sc) -> None:
    """``addPyFile`` of the zipped package (in Spark's file root, deleted
    at stop) once per application: workers do not see ``sys.path``."""
    parent, name = os.path.split(os.path.dirname(os.path.abspath(__file__)))
    with _ship_lock:
        if sc.applicationId in _shipped:
            return
        try:
            tmp = tempfile.mkdtemp(dir=SparkFiles.getRootDirectory())
            sc.addPyFile(shutil.make_archive(os.path.join(tmp, name), "zip",
                                             parent, name))
        except (OSError, Py4JError) as e:
            raise RuntimeError(
                f"cannot ship sleeper_spark to Spark's Python workers ({e}); "
                f"put {parent} on PYTHONPATH") from e
        _shipped.add(sc.applicationId)
