"""Per-file mergeable quantile sketch sidecars for partition splitting.

The reference attaches a DataSketches quantiles sketch per row-key field
to every data file (Sketches.java:45-62, SketchesSerDeToS3.java) and
finds a partition's split median by UNIONING the files' sketches — never
re-reading data (FindPartitionSplitPoint.java:45-94). This module is the
Spark-native equivalent:

- Every data file gets a ``<file>.sketch.json`` sidecar holding, per
  row-key field, the file's values at <= K+1 evenly spaced ranks of that
  field's sorted order (an equi-depth CDF). Rank estimates interpolate
  between stored ranks, so each file contributes at most ``rows/K`` rank
  error — with K=1024 that matches ``approxQuantile``'s default 1e-3
  relative error.
- Sketches are EXACTLY mergeable: the rank of ``x`` in a union of files
  is the sum of per-file rank estimates. ``find_split_point`` unions
  sidecars driver-side (tiny: K values x dims x files) and never opens a
  data file; only files missing a sidecar fall back to a bounded Spark
  scan of that partition.
- One builder makes every sidecar (:class:`SidecarBuilder`): quantile
  sketch, first-row-key Bloom filter and footer min/max. One writer,
  :func:`write_sorted_file`, writes every data file and builds its
  sidecar from the tables it writes, with zero extra IO. Arrow tables
  (compaction parts, copy-on-write outputs, ingest's driver branch) go
  to it directly; a sorted Spark frame (ingest's Spark branch, the
  iterator compaction tail, the z-order rewrite) streams into it from
  ``mapInArrow`` tasks (:func:`write_sorted_runs`). The Bloom is sized
  on the rows fed, so every writer builds the sidecar a read-back of
  the file (:func:`compute_file_sketch`) would.

Region clipping: a split file reference's sketch covers the whole file.
Rank estimates are clipped to the partition's range on the dimension
being split (the reference's sketch union has the same whole-file
approximation for split references).
"""

from __future__ import annotations

import base64
import itertools
import json
import os
import uuid
from bisect import bisect_left, bisect_right
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sleeper_spark.ranges import Region
from sleeper_spark.schema import Schema
from sleeper_spark.tasks import run_tasks, ship_engine

SKETCH_SUFFIX = ".sketch.json"


def sidecar_path(data_path: str) -> str:
    return data_path + SKETCH_SUFFIX


# ---------------------------------------------------------------------------
# serde — values are int / str / bytes (the legal key primitives)
# ---------------------------------------------------------------------------

def _enc(v: Any) -> Any:
    if isinstance(v, bytes):
        return {"b64": base64.b64encode(v).decode("ascii")}
    return v


def _dec(v: Any) -> Any:
    if isinstance(v, dict) and "b64" in v:
        return base64.b64decode(v["b64"])
    return v


# ---------------------------------------------------------------------------
# per-file sketch build
# ---------------------------------------------------------------------------

def _spaced_ranks(n: int, k: int) -> list[int]:
    """<= k+1 ranks covering [0, n-1] with both endpoints (exact min/max)."""
    if n <= k + 1:
        return list(range(n))
    return sorted({round(i * (n - 1) / k) for i in range(k + 1)})


def sketch_from_arrow_columns(columns: dict, n: int, k: int) -> dict:
    """Sketch Arrow key columns without materialising them to Python:
    sort indices stay in C++, only the <=k+1 sampled rank values cross
    into Python (a full ``to_pylist`` of a 50M-row key column costs tens
    of seconds and gigabytes of PyObjects)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ranks = _spaced_ranks(n, k)
    rank_idx = pa.array(ranks, type=pa.int64())
    fields = {}
    for name, col in columns.items():
        arr = col.combine_chunks() if hasattr(col, "combine_chunks") else col
        order = pc.sort_indices(arr)
        sampled = arr.take(order.take(rank_idx)).to_pylist()
        fields[name] = {"ranks": ranks, "values": [_enc(v) for v in sampled]}
    return {"rows": n, "k": k, "fields": fields}


class SortedColumnSketch:
    """Streaming equi-depth sketch of a file's first key column, fed in
    the file's row order. Buffering the whole column and re-sorting it
    (``sketch_from_arrow_columns``) costs a second copy of all key data
    plus an O(n log n) sort the writer's input already paid for; here
    the first chunk is kept whole, so a file written in one chunk gets
    exact ranks, and once a second chunk arrives every chunk contributes
    every s-th value (plus its tail) with its global rank: O(k) memory
    per chunk, and finalisation is a nearest-rank lookup.

    Rank error with several chunks: a stored sample sits at most
    ``s - 1 <= chunk_rows/(4k)`` ranks below the requested rank,
    strictly inside the sidecar's ``rows/k`` per-file error budget
    (module doc). A value below its predecessor, within a chunk or
    across chunks, raises ``ValueError`` naming ``path``: split points
    derive from these ranks, so an unsorted file must not get a
    sketch."""

    def __init__(self, k: int, path: str, field: str) -> None:
        self.k = k
        self.path = path
        self.field = field
        self._first = None  # the first chunk, whole until a second one
        self._vals: list = []   # pa.Array per chunk (sampled)
        self._ranks: list = []  # np.ndarray per chunk (global ranks)
        self._last = None  # the last value fed, as an Arrow scalar
        self.n = 0

    def update(self, arr) -> None:
        """Feed the next chunk's column (pa.Array/ChunkedArray)."""
        import numpy as np
        import pyarrow.compute as pc

        m = len(arr)
        if m == 0:
            return
        a = arr.combine_chunks() if hasattr(arr, "combine_chunks") else arr
        down = pc.fill_null(pc.less(a.slice(1), a.slice(0, m - 1)), False)
        at = None
        if self._last is not None and pc.less(a[0], self._last).as_py():
            at = 0
        elif pc.any(down, min_count=0).as_py():
            at = 1 + int(np.argmax(down.to_numpy(zero_copy_only=False)))
        if at is not None:
            raise ValueError(
                f"{self.path}: key {self.field!r} decreases at row "
                f"{self.n + at}; a sorted file's rows must arrive in key "
                "order")
        self._last = a[m - 1]
        if self._first is not None:
            self._sample(self._first, 0)
            self._first = None
        if self.n == 0:
            self._first = a
        else:
            self._sample(a, self.n)
        self.n += m

    def _sample(self, a, base: int) -> None:
        import numpy as np
        import pyarrow as pa

        m = len(a)
        s = max(1, m // (4 * self.k))
        idx = np.arange(0, m, s, dtype=np.int64)
        if idx[-1] != m - 1:
            idx = np.append(idx, m - 1)
        self._vals.append(a.take(pa.array(idx)))
        self._ranks.append(base + idx)

    def field_dict(self) -> dict:
        import numpy as np
        import pyarrow as pa

        ranks = _spaced_ranks(self.n, self.k)
        if not ranks:
            return {"ranks": [], "values": []}
        if self._first is not None:  # one chunk: exact ranks
            vals = self._first.take(pa.array(ranks, type=pa.int64()))
        else:
            allv = pa.chunked_array(self._vals)
            all_ranks = np.concatenate(self._ranks)
            pick = np.searchsorted(all_ranks,
                                   np.asarray(ranks, dtype=np.int64),
                                   side="right") - 1
            vals = allv.take(pa.array(pick))
        return {"ranks": ranks, "values": [_enc(v) for v in vals.to_pylist()]}


class SidecarBuilder:
    """The sidecar of one key-sorted file, built from the tables written
    to it: the first key through :class:`SortedColumnSketch`, the other
    key fields buffered and sketched by :func:`sketch_from_arrow_columns`,
    and the first-row-key Bloom filter (bloom.py) sized on the rows fed.
    Feed every table, empty ones included (an empty one still carries
    the column types), then call :meth:`sketch`."""

    def __init__(self, path: str, key_names: list[str], k: int) -> None:
        from sleeper_spark import bloom

        self.key_names = list(key_names)
        self.k = k
        self._first = SortedColumnSketch(k, path, self.key_names[0])
        self._rest: dict[str, list] = {n: [] for n in self.key_names[1:]}
        self._bloom = bloom.BloomAccumulator(self.key_names[0])

    @property
    def rows(self) -> int:
        return self._first.n

    def update(self, t) -> None:
        col = t.column(self.key_names[0])
        self._first.update(col)
        for name, chunks in self._rest.items():
            chunks.append(t.column(name).combine_chunks())
        if self._bloom is not None:
            try:
                self._bloom.update(col)
            except TypeError:
                self._bloom = None  # non-hashable key type -> no bloom

    def sketch(self) -> dict:
        import pyarrow as pa

        rest = sketch_from_arrow_columns(
            {name: pa.chunked_array(chunks, type=chunks[0].type)
             for name, chunks in self._rest.items()},
            self.rows, self.k)["fields"]
        sk = {"rows": self.rows, "k": self.k,
              "fields": {self.key_names[0]: self._first.field_dict(), **rest}}
        b = self._bloom.to_dict() if self._bloom is not None else None
        if b is not None:  # None above bloom.MAX_USEFUL_ROWS
            sk["bloom"] = b
        return sk


def write_sorted_file(path: str, tables, *, key_names: list[str],
                      sketch_k: int, compression: str, page_bytes: int,
                      declared_schema) -> int:
    """Write key-sorted Arrow ``tables`` as one Parquet file, one row
    group per table, and its sidecar from the same tables in the same
    pass (the reference's sink writes file and sketch together,
    compact.rs). Zero rows write the ``declared_schema`` (pa.Schema)
    empty file, which also covers columns a schema-evolved input lacks,
    with the sidecar a read-back of it gets. On any failure, a first
    key that decreases included, the partial file is removed and no
    sidecar is written. Returns the rows written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    builder = SidecarBuilder(path, key_names, sketch_k)
    writer = None
    try:
        for t in tables:
            if not t.num_rows:
                continue
            builder.update(t)
            if writer is None:
                writer = pq.ParquetWriter(path, t.schema,
                                          compression=compression,
                                          data_page_size=page_bytes)
            writer.write_table(t)
    except BaseException:
        if writer is not None:
            writer.close()
        if os.path.exists(path):
            os.remove(path)
        raise
    if writer is not None:
        writer.close()
    else:
        empty = pa.table({f.name: pa.array([], type=f.type)
                          for f in declared_schema})
        pq.write_table(empty, path, compression=compression)
        builder.update(empty)
    write_sidecar(path, builder.sketch())
    return builder.rows


def tag_runs(t, tag_col: str, declared):
    """``(tag, rows)`` per run of equal ``tag_col`` values in ``t``,
    which is sorted by them, the rows cast to their ``declared``
    (pa.Schema) types, keeping ``t``'s nullability: Spark lands a NULL
    in a value field declared non-nullable, and so does every writer."""
    import pyarrow as pa
    import pyarrow.compute as pc

    data = t.select(declared.names).cast(pa.schema(
        [f.with_nullable(t.schema.field(f.name).nullable)
         for f in declared]))
    # in sorted rows value_counts lists the tags in order of first
    # occurrence, with their runs' lengths
    tags = pc.value_counts(t.column(tag_col))
    off = 0
    for tag, n in zip(tags.field("values").to_pylist(),
                      tags.field("counts").to_pylist()):
        yield tag, data.slice(off, n)
        off += n


def row_groups(tables, cap: int):
    """One sorted run's ``tables``, in order, as tables of at most
    ``cap`` in-memory bytes (as Spark's writer counts them), one row
    group each in :func:`write_sorted_file`: consecutive tables are
    coalesced, and one above ``cap`` is cut into even slices."""
    import pyarrow as pa

    held, size = [], 0
    for t in tables:
        if held and size + t.nbytes > cap:
            yield pa.concat_tables(held)
            held, size = [], 0
        if t.nbytes > cap:
            step = -(-t.num_rows // -(-t.nbytes // cap))
            yield from (t.slice(o, step) for o in range(0, t.num_rows, step))
        else:
            held.append(t)
            size += t.nbytes
    if held:
        yield pa.concat_tables(held)


def write_sorted_runs(df: DataFrame, tag_col: str, out_dir: str,
                      schema: Schema, props) -> list[tuple[str, str, int]]:
    """Write ``df``, sorted by (``tag_col``, key fields) within each
    partition, as one file per run of equal tags in a partition, at
    ``out_dir/<tag_col>=<tag>/part-<uuid>.parquet``, each streamed into
    :func:`write_sorted_file` by a ``mapInArrow`` task (:func:`tag_runs`),
    in row groups of at most ``props.row_group_bytes``
    (:func:`row_groups`). Returns ``(tag, path, rows)`` per file, sorted:
    the manifest. A task that fails removes the files it wrote."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    declared = to_arrow_schema(schema.to_struct_type())
    cap = props.row_group_bytes
    write = dict(key_names=list(schema.key_names), sketch_k=props.sketch_size,
                 compression=props.compression, page_bytes=props.page_bytes,
                 declared_schema=declared)

    def task(batches):
        runs = (r for b in batches
                for r in tag_runs(pa.Table.from_batches([b]), tag_col,
                                  declared))
        written = []
        try:
            for tag, run in itertools.groupby(runs, key=lambda r: r[0]):
                path = os.path.join(out_dir, f"{tag_col}={tag}",
                                    f"part-{uuid.uuid4().hex}.parquet")
                os.makedirs(os.path.dirname(path), exist_ok=True)
                written.append(path)
                rows = write_sorted_file(
                    path, row_groups((t for _, t in run), cap), **write)
                yield pa.RecordBatch.from_pydict(
                    {"tag": [tag], "path": [path], "rows": [rows]})
        except BaseException:
            for path in written:
                for p in (path, sidecar_path(path)):
                    if os.path.exists(p):
                        os.remove(p)
            raise

    ship_engine(df.sparkSession.sparkContext)
    return sorted((r.tag, r.path, r.rows) for r in df.mapInArrow(
        task, "tag string, path string, rows long").collect())


def compute_file_sketch(path: str, key_names: list[str], k: int) -> dict:
    """Read ONLY the key columns of one Parquet file and build its
    sidecar sketch (:class:`SidecarBuilder`), on a driver thread or an
    executor; columnar projection keeps IO to the key bytes."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=list(key_names))
    builder = SidecarBuilder(path, key_names, k)
    builder.update(t)
    return builder.sketch()


def footer_minmax(path: str) -> dict[str, list]:
    """Per-column [min, max] for every top-level PRIMITIVE column,
    aggregated from the Parquet FOOTER's row-group statistics — zero
    data reads. A column missing valid stats in ANY row group is
    omitted (absence means "unknown", never a wrong bound). Powers
    Iceberg-style value-column file skipping: at 10^5+ files, pruning
    from manifest-held stats avoids even opening the footers the scan
    would discard."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    bad: set[str] = set()
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for c in range(rg.num_columns):
            col = rg.column(c)
            name = col.path_in_schema
            if "." in name:  # nested (map/list) — no usable file bound
                bad.add(name.split(".")[0])
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                bad.add(name)
                continue
            try:
                mn, mx = st.min, st.max
            except NotImplementedError:
                # pyarrow decodes no stats of some physical/logical
                # pairs, e.g. Spark's INT64 decimals: this column only
                bad.add(name)
                continue
            if name not in mins or mn < mins[name]:
                mins[name] = mn
            if name not in maxs or mx > maxs[name]:
                maxs[name] = mx
    return {name: [_enc(mins[name]), _enc(maxs[name])]
            for name in mins
            if name not in bad
            # only JSON-safe stat types; anything exotic (e.g. a
            # logical type decoding to datetime) is just "unknown"
            and isinstance(mins[name], (int, float, str, bytes))
            and isinstance(maxs[name], (int, float, str, bytes))}


def write_sidecar(path: str, sketch: dict) -> None:
    if "minmax" not in sketch:
        try:
            sketch = {**sketch, "minmax": footer_minmax(path)}
        except Exception:  # noqa: BLE001 - stats are an optimisation only
            pass
    with open(sidecar_path(path), "w") as f:
        json.dump(sketch, f)


def load_sidecar(data_path: str) -> dict | None:
    p = sidecar_path(data_path)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def write_sidecars_distributed(spark: SparkSession, paths: list[str],
                               key_names: list[str], k: int) -> None:
    """Sidecar per existing data file, read back from the file
    (:func:`compute_file_sketch`) through ``tasks.run_tasks``. The
    engine's writers do not use it: :func:`write_sorted_file` builds
    each sidecar as it writes the file."""
    def build(path: str) -> None:
        write_sidecar(path, compute_file_sketch(path, key_names, k))

    run_tasks(spark, paths, build, [os.path.getsize(p) for p in paths])


# ---------------------------------------------------------------------------
# merge: rank arithmetic over sidecars
# ---------------------------------------------------------------------------

class _FieldSketch:
    """One file's CDF for one field, rank-clipped to an optional range."""

    def __init__(self, entry: dict, rows: int, lo=None, hi=None):
        self.values = [_dec(v) for v in entry["values"]]
        self.ranks = entry["ranks"]
        self.rows = rows
        # clip to [lo, hi): ranks outside the range contribute nothing
        self.lo_rank = self._raw_rank(lo) if lo is not None else 0
        self.hi_rank = self._raw_rank(hi) if hi is not None else rows
        self.total = max(0, self.hi_rank - self.lo_rank)

    def _raw_rank(self, x) -> int:
        """Estimated #rows with value < x (interpolated between ranks)."""
        vals, ranks = self.values, self.ranks
        if not vals or x <= vals[0]:
            return 0
        if x > vals[-1]:
            return self.rows
        j = bisect_left(vals, x)
        # vals[j-1] < x <= vals[j]; rows strictly below x lie in
        # (ranks[j-1], ranks[j]] — take the known lower bound + 1
        return min(ranks[j - 1] + 1, ranks[j])

    def rank(self, x) -> int:
        return min(max(self._raw_rank(x) - self.lo_rank, 0), self.total)

    def clipped_values(self, lo, hi):
        vals = self.values
        i = bisect_left(vals, lo) if lo is not None else 0
        j = bisect_left(vals, hi) if hi is not None else len(vals)
        return vals[i:j]


def find_split_point_from_sketches(
    schema: Schema,
    files: list[str],
    region: Region,
) -> tuple[int, Any] | None:
    """Sketch-union split search (FindPartitionSplitPoint.java:45-94):
    try row-key dimensions in order; a dimension is usable iff
    min < median <= max within the partition region. Pure driver-side
    arithmetic over sidecars — returns None-on-missing-sidecar is NOT
    possible: caller must ensure all sidecars exist (see
    ``all_sidecars_present``)."""
    sidecars = []
    for fn in files:
        sk = load_sidecar(fn)
        if sk is None:
            raise FileNotFoundError(f"missing sketch sidecar for {fn}")
        sidecars.append(sk)

    bounds = {r.field: r.canonicalise() for r in region.ranges}
    for dim, fld in enumerate(schema.row_key_fields):
        rng = bounds.get(fld.name)
        lo = rng.min if rng is not None else None
        hi = rng.max if rng is not None else None
        sketches = [
            _FieldSketch(sk["fields"][fld.name], sk["rows"], lo, hi)
            for sk in sidecars
        ]
        total = sum(s.total for s in sketches)
        if total < 2:
            continue
        candidates = sorted({v for s in sketches
                             for v in s.clipped_values(lo, hi)})
        if len(candidates) < 2:
            continue
        mn, mx = candidates[0], candidates[-1]
        if not mn < mx:
            continue
        target = total / 2
        best, best_err = None, None
        for c in candidates:
            if not (mn < c <= mx):
                continue
            err = abs(sum(s.rank(c) for s in sketches) - target)
            if best_err is None or err < best_err:
                best, best_err = c, err
        if best is not None:
            return dim, best
    return None


def all_sidecars_present(files: list[str]) -> bool:
    return all(os.path.exists(sidecar_path(fn)) for fn in files)


# ---------------------------------------------------------------------------
# subrange cuts: fan a single big compaction job out over many cores
# ---------------------------------------------------------------------------

def find_subrange_cuts(
    schema: Schema,
    files: list[str],
    region: Region,
    n_parts: int,
) -> list[Any]:
    """Cut the region's dim-0 key space into ``n_parts`` equal-depth
    subranges using ONLY metadata (no data read): sketch-sidecar rank
    arithmetic when every file has a sidecar, else Parquet row-group
    min/max statistics (the files are sorted runs, so row-group stats
    form an exact coarse CDF).

    Returns <= n_parts - 1 strictly increasing cut values inside the
    region's dim-0 range. Used by the Arrow compaction engine to run one
    big job as K disjoint key-range merges — the reference's DataFusion
    engine gets the same effect from ``target_partitions``
    (rust/sleeper_core/src/datafusion.rs:105-110).
    """
    if n_parts <= 1:
        return []
    fld = schema.row_key_fields[0]
    bounds = {r.field: r.canonicalise() for r in region.ranges}
    rng = bounds.get(fld.name)
    lo = rng.min if rng is not None else None
    hi = rng.max if rng is not None else None

    if all_sidecars_present(files):
        sks = []
        for fn in files:
            sk = load_sidecar(fn)
            sks.append(_FieldSketch(sk["fields"][fld.name], sk["rows"], lo, hi))
        total = sum(s.total for s in sks)
        candidates = sorted({v for s in sks for v in s.clipped_values(lo, hi)})
        ranked = [(c, sum(s.rank(c) for s in sks)) for c in candidates]
    else:
        ranked = _ranked_candidates_from_row_groups(files, fld.name, lo, hi)
        total = ranked[-1][1] if ranked else 0
    if total < n_parts or len(ranked) < 2:
        return []

    cuts: list[Any] = []
    ranks = [r for _, r in ranked]
    for i in range(1, n_parts):
        target = total * i / n_parts
        j = bisect_left(ranks, target)
        # nearest of the two bracketing candidates
        best = None
        if j < len(ranked) and (j == 0 or
                                abs(ranked[j][1] - target) < abs(ranked[j - 1][1] - target)):
            best = ranked[j][0]
        elif j > 0:
            best = ranked[j - 1][0]
        if best is None:
            continue
        if (cuts and not best > cuts[-1]) or (lo is not None and not best > lo) \
                or (hi is not None and not best < hi):
            continue
        cuts.append(best)
    return cuts


def _ranked_candidates_from_row_groups(files: list[str], key_name: str,
                                       lo, hi) -> list[tuple[Any, int]]:
    """(value, estimated #rows with key < value) pairs from row-group
    max statistics. Files are sorted runs, so within a file the rank of
    a row group's max is exact; across files ranks add. Footer-only IO."""
    import pyarrow.parquet as pq

    points: list[tuple[Any, int]] = []  # (rg max value, rows in rg)
    for fn in files:
        md = pq.ParquetFile(fn).metadata
        ci = None
        for i in range(md.row_group(0).num_columns):
            if md.row_group(0).column(i).path_in_schema == key_name:
                ci = i
                break
        if ci is None:
            return []
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            st = rg.column(ci).statistics
            if st is None or not st.has_min_max:
                return []  # can't cut safely without stats
            points.append((st.max, rg.num_rows))
    points.sort(key=lambda p: p[0])
    out: list[tuple[Any, int]] = []
    cum = 0
    base = 0  # rows at or below the region's lo bound — candidates'
    #           ranks are baselined to the REGION, mirroring the
    #           _FieldSketch lo_rank clipping, so a bounded pull-down
    #           job's equal-depth targets aren't skewed low by rows the
    #           job will never read
    for v, n in points:
        cum += n
        if lo is not None and not v > lo:
            base = cum
            continue
        if hi is not None and not v < hi:
            continue
        if out and out[-1][0] == v:
            out[-1] = (v, cum - base)
        else:
            out.append((v, cum - base))
    return out


def row_group_key_stats(pf, key_name: str) -> list[tuple | None] | None:
    """Per row group of ``pf``, the footer ``(min, max)`` of column
    ``key_name``, or None for a row group without statistics. Returns
    None when the file has no such column. One walk of the footer."""
    md = pf.metadata
    if md.num_row_groups == 0:
        return []
    ci = None
    for i in range(md.row_group(0).num_columns):
        if md.row_group(0).column(i).path_in_schema == key_name:
            ci = i
            break
    if ci is None:
        return None
    out: list[tuple | None] = []
    for g in range(md.num_row_groups):
        st = md.row_group(g).column(ci).statistics
        out.append((st.min, st.max)
                   if st is not None and st.has_min_max else None)
    return out


def row_groups_overlapping(pf, key_name: str, lo, hi) -> list[int] | None:
    """Row-group indices whose [min, max] key statistics intersect
    [lo, hi) — the Parquet predicate-pushdown primitive the subrange
    merge uses so each of K range tasks reads ~1/K of every sorted input
    file. Returns None when stats are unavailable (read everything)."""
    stats = row_group_key_stats(pf, key_name)
    if stats is None:
        return None
    return [g for g, mm in enumerate(stats)
            if mm is None or ((hi is None or mm[0] < hi)
                              and (lo is None or mm[1] >= lo))]


# ---------------------------------------------------------------------------
# scan fallback (pre-sidecar files)
# ---------------------------------------------------------------------------

def approx_quantiles(files: list[str], field: str,
                     qs: list[float]) -> list:
    """Quantile ESTIMATES for a key field from sidecars alone — zero
    data reads, pure driver arithmetic (the same rank-union the
    partition splitter uses, generalised from the median to arbitrary
    ranks). Each returned value is an actual data value whose unioned
    rank is nearest q*total; rank error is bounded by the sidecar
    budget, <= sum_files(rows_f / k). At 10^5 files this answers
    "where do the p25/p50/p99 of the keyspace sit" without opening one
    footer — the planning primitive behind choosing split points,
    range-shard boundaries, and skew diagnostics."""
    sketches = []
    for fn in files:
        sk = load_sidecar(fn)
        if sk is None:
            raise FileNotFoundError(f"missing sketch sidecar for {fn}")
        sketches.append(_FieldSketch(sk["fields"][field], sk["rows"]))
    total = sum(s.total for s in sketches)
    if total == 0:
        raise ValueError("no rows under the given files")
    candidates = sorted({v for s in sketches
                         for v in s.clipped_values(None, None)})
    out = []
    for q in qs:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile {q} outside [0, 1]")
        target = q * total
        out.append(min(candidates,
                       key=lambda c: abs(
                           sum(s.rank(c) for s in sketches) - target)))
    return out


def find_split_point(
    spark: SparkSession,
    schema: Schema,
    files: list[str],
    region: Region,
    relative_error: float = 0.001,
) -> tuple[int, Any] | None:
    """Median split point for a partition via a bounded data scan. Used
    only when a file predates sketch sidecars; the sketch path above is
    the normal route (the reference never re-reads data to split).
    """
    df = (
        spark.read.schema(schema.to_struct_type())
        .parquet(*files)
        .where(region.to_column())
    )
    for dim, fld in enumerate(schema.row_key_fields):
        point = _median(df, fld.name, fld.dtype, relative_error)
        if point is None:
            continue
        bounds = df.select(
            F.min(fld.name).alias("mn"), F.max(fld.name).alias("mx")
        ).collect()[0]
        if bounds.mn is not None and bounds.mn < point and point <= bounds.mx:
            return dim, point
    return None


def _median(df: DataFrame, col: str, dtype: T.DataType, rel_err: float) -> Any:
    if isinstance(dtype, (T.IntegerType, T.LongType)):
        q = df.approxQuantile(col, [0.5], rel_err)
        if not q:
            return None
        val = int(q[0])
        return val
    # string/binary: exact middle element via a single orderBy + offset read.
    n = df.count()
    if n < 2:
        return None
    mid = df.select(col).orderBy(col).offset(n // 2).limit(1).collect()
    return mid[0][0] if mid else None
