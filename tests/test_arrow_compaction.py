"""Arrow compaction engine: equivalence with the Spark engine and with
the uncompacted view (query(t) == query(compact(t)) for all configs)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sleeper_spark import Field, Schema, SleeperTable
from sleeper_spark.compaction import arrow_engine_supported
from sleeper_spark.iterators import parse_aggregations, validate_aggregations
from sleeper_spark.properties import TableProperties

SF = "/root/testdata/sf0.001"


def _events(spark):
    return spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "user_id", "event_type",
        F.expr("unix_micros(cast(ts as timestamp)) div 1000").alias("ts_ms"),
        F.lit(1).cast("long").alias("n"))


def _make(spark, tmp_path, name, props):
    ev = _events(spark)
    schema = Schema(
        (Field("user_id", T.LongType()),),
        (Field("event_type", T.StringType()),),
        (Field("event_id", T.LongType()), Field("ts_ms", T.LongType()),
         Field("n", T.LongType())),
    )
    t = SleeperTable.create(spark, str(tmp_path / name), schema, props,
                            split_points=[5, 10])
    t.ingest(ev.where(F.col("event_id") % 2 == 0))
    t.ingest(ev.where(F.col("event_id") % 2 == 1))
    return t


def _collect(df):
    return sorted(tuple(r) for r in df.collect())


def test_engine_selection(spark):
    schema = Schema((Field("k", T.LongType()),), (),
                    (Field("v", T.LongType()), Field("s", T.StringType())))
    assert arrow_engine_supported(schema, TableProperties(aggregations="sum(v), min(s)"))
    # concat-sum and map_* now run on the Arrow engine (full algebra)
    assert arrow_engine_supported(schema, TableProperties(aggregations="sum(v), sum(s)"))
    assert not arrow_engine_supported(
        schema, TableProperties(iterators="securityFilter(s, public)"))
    m = Schema((Field("k", T.LongType()),), (),
               (Field("m", T.MapType(T.StringType(), T.LongType())),))
    assert arrow_engine_supported(m, TableProperties(aggregations="map_sum(m)"))
    a = Schema((Field("k", T.LongType()),), (),
               (Field("arr", T.ArrayType(T.LongType())),))
    with pytest.raises(ValueError, match="array column"):
        validate_aggregations(a, parse_aggregations("sum(arr)"))


def _versioned(spark, tmp_path, name, props):
    """Upsert rows where each key's top version appears twice with
    different values, so max_by must break the tie on the value."""
    schema = Schema((Field("key", T.StringType()),), (),
                    (Field("version", T.LongType()),
                     Field("value", T.StringType())))
    t = SleeperTable.create(spark, str(tmp_path / name), schema, props,
                            split_points=["k5"])
    rows = [(f"k{i % 10}", i % 3, f"v{i * 7 % 13}") for i in range(60)]
    t.ingest(spark.createDataFrame(rows[::2], schema.to_struct_type()))
    t.ingest(spark.createDataFrame(rows[1::2], schema.to_struct_type()))
    return t


_UPSERT = "max(version), max_by(value, version)"


@pytest.mark.parametrize("aggs", ["", "min(event_id), max(ts_ms), sum(n)",
                                  _UPSERT])
def test_arrow_equals_spark_engine(spark, tmp_path, aggs):
    make, base = _make, dict(aggregations=aggs,
                             filters="ageOff(ts_ms, 1209600000)")
    if aggs == _UPSERT:
        make, base = _versioned, dict(aggregations=aggs)
    ta = make(spark, tmp_path, "a", TableProperties(compaction_engine="arrow", **base))
    ts = make(spark, tmp_path, "s", TableProperties(compaction_engine="spark", **base))
    now = 1706140800000
    ta.compact(now_millis=now)
    ts.compact(now_millis=now)
    assert _collect(ta.full_scan(now)) == _collect(ts.full_scan(now))
    # outputs are single sorted files per partition on both engines
    assert len(ta.store.all_references()) == len(ts.store.all_references())


def test_arrow_compaction_invariance(spark, tmp_path):
    """query(t) == query(compact(t)) on the arrow engine, incl. aggregation
    and ageOff, and the compacted files are key-sorted."""
    props = TableProperties(compaction_engine="arrow",
                            aggregations="min(event_id), max(ts_ms), sum(n)")
    t = _make(spark, tmp_path, "t", props)
    now = 1706140800000
    before = _collect(t.full_scan(now))
    refs = t.compact(now_millis=now)
    after = _collect(t.full_scan(now))
    assert before == after
    assert len(refs) == 3  # one output file per leaf partition
    for ref in refs:
        df = spark.read.parquet(ref.filename)
        rows = [(r.user_id, r.event_type) for r in df.collect()]
        assert rows == sorted(rows)
        # sum(long) cast back to long, not widened
        assert dict(df.dtypes)["n"] == "bigint"


def _full_algebra_table(spark, tmp_path, name, engine):
    """Table exercising every aggregation class at once: numeric sum,
    min/max, string concat-sum, binary concat-sum, map_sum, map_min."""
    rows = []
    for k in range(30):
        for dup in range(3):
            rows.append((
                k % 10, f"s{k % 5}",
                1, k, f"c{dup}", bytes([dup]),
                {f"t{dup}": 1, "all": k}, {"m": dup},
            ))
    df = spark.createDataFrame(
        rows,
        "k long, sk string, n long, v long, c string, b binary, "
        "ms map<string,long>, mm map<string,long>")
    schema = Schema(
        (Field("k", T.LongType()),),
        (Field("sk", T.StringType()),),
        (Field("n", T.LongType()), Field("v", T.LongType()),
         Field("c", T.StringType()), Field("b", T.BinaryType()),
         Field("ms", T.MapType(T.StringType(), T.LongType())),
         Field("mm", T.MapType(T.StringType(), T.LongType()))),
    )
    props = TableProperties(
        compaction_engine=engine,
        aggregations="sum(n), max(v), sum(c), sum(b), map_sum(ms), map_min(mm)")
    t = SleeperTable.create(spark, str(tmp_path / name), schema, props,
                            split_points=[4])
    t.ingest(df.where(F.col("v") % 2 == 0))
    t.ingest(df.where(F.col("v") % 2 == 1))
    return t


def _rows_by_key(spark, refs):
    out = {}
    for ref in refs:
        for r in spark.read.parquet(ref.filename).collect():
            d = r.asDict()
            out[(d["k"], d["sk"])] = (
                d["n"], d["v"], sorted(d["c"]), sorted(d["b"]),
                d["ms"], d["mm"], list(d["ms"]), list(d["mm"]))
    return out


def test_full_algebra_arrow_equals_spark(spark, tmp_path):
    """concat-sum + map_sum/map_min compact identically on both engines
    (concat order compared as multiset — it is documented order-unstable
    across equal-key duplicates; map key order compared exactly: both
    engines emit sorted-key canonical maps)."""
    ta = _full_algebra_table(spark, tmp_path, "a", "arrow")
    ts = _full_algebra_table(spark, tmp_path, "s", "spark")
    ra = ta.compact()
    rs = ts.compact()
    da, ds = _rows_by_key(spark, ra), _rows_by_key(spark, rs)
    assert set(da) == set(ds) and len(da) == 10
    for key in da:
        assert da[key] == ds[key], key
    # and the compacted table queries identically on both
    qa = sorted((r.k, r.sk, r.n, r.v) for r in ta.full_scan().collect())
    qs = sorted((r.k, r.sk, r.n, r.v) for r in ts.full_scan().collect())
    assert qa == qs


def test_arrow_map_agg_values(spark, tmp_path):
    """Exact map merge values on the Arrow engine: point-wise sum/min,
    keys sorted, untouched singleton maps canonicalised too."""
    t = _full_algebra_table(spark, tmp_path, "t", "arrow")
    refs = t.compact()
    rows = {}
    for ref in refs:
        for r in spark.read.parquet(ref.filename).collect():
            rows[(r.k, r.sk)] = r.asDict()
    # group (k=0, sk="s0"): source ks {0,10,20} (k%10==0 and k%5==0),
    # each with dups 0,1,2 -> 9 rows collapse to one
    d = rows[(0, "s0")]
    assert d["n"] == 9
    assert d["v"] == 20  # max of source k
    # each dup row carries ms={"t{dup}":1, "all":k}
    assert d["ms"]["t0"] == 3 and d["ms"]["t1"] == 3 and d["ms"]["t2"] == 3
    assert d["ms"]["all"] == (0 + 10 + 20) * 3
    assert d["mm"] == {"m": 0}  # map_min over dup 0,1,2
    assert list(d["ms"]) == sorted(d["ms"])  # canonical sorted key order
    assert sorted(d["c"]) == sorted("c0c1c2" * 3)  # concat multiset


def test_arrow_sum_int_cast_back(spark, tmp_path):
    df = spark.createDataFrame([(1, 2), (1, 3), (2, 5)], "k long, v int")
    schema = Schema((Field("k", T.LongType()),), (), (Field("v", T.IntegerType()),))
    t = SleeperTable.create(spark, str(tmp_path / "t"), schema,
                            TableProperties(compaction_engine="arrow",
                                            aggregations="sum(v)"))
    t.ingest(df)
    t.ingest(df)
    t.compact()
    out = t.full_scan()
    assert dict(out.dtypes)["v"] == "int"
    assert {(r.k, r.v) for r in out.collect()} == {(1, 10), (2, 10)}


# ---------------------------------------------------------------------------
# subrange-parallel single-job compaction
# ---------------------------------------------------------------------------

def test_subrange_compaction_equivalence(spark, tmp_path, monkeypatch):
    """A big job cut into K dim-0 subranges must produce the same table
    as the single-task merge: K disjoint sorted range-parts whose union
    is the full compacted partition."""
    from sleeper_spark import compaction

    monkeypatch.setattr(compaction, "SUBRANGE_MIN_ROWS", 200)
    props = TableProperties(compaction_engine="arrow",
                            aggregations="min(event_id), max(ts_ms), sum(n)")
    # single root partition -> ONE job over all files
    ev = _events(spark)
    schema = Schema(
        (Field("user_id", T.LongType()),),
        (Field("event_type", T.StringType()),),
        (Field("event_id", T.LongType()), Field("ts_ms", T.LongType()),
         Field("n", T.LongType())),
    )
    t = SleeperTable.create(spark, str(tmp_path / "t"), schema, props)
    t.ingest(ev.where(F.col("event_id") % 2 == 0))
    t.ingest(ev.where(F.col("event_id") % 2 == 1))
    now = 1706140800000
    before = _collect(t.full_scan(now))
    refs = t.compact(now_millis=now)
    assert len(refs) > 1  # actually fanned out
    assert _collect(t.full_scan(now)) == before
    # parts: sorted within, disjoint and ordered across, counts exact
    seen_rows = 0
    prev_max = None
    for ref in refs:
        df = spark.read.parquet(ref.filename)
        keys = [(r.user_id, r.event_type) for r in df.collect()]
        assert keys == sorted(keys)
        assert len(keys) == ref.number_of_rows
        seen_rows += len(keys)
        if keys:
            if prev_max is not None:
                assert keys[0][0] > prev_max[0] or keys[0] > prev_max
            prev_max = keys[-1]
    agg_total = t.full_scan(now).count()
    assert seen_rows == agg_total


def test_subrange_cuts_equal_depth(spark, tmp_path):
    """Sidecar-driven cuts split the key space into roughly equal-depth
    parts, metadata-only."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sleeper_spark import sketches
    from sleeper_spark.ranges import Range, Region
    from sleeper_spark.schema import Field as SField, Schema as SSchema

    paths = []
    for i in range(3):
        vals = list(range(i, 3000, 3))
        t = pa.table({"k": pa.array(sorted(vals), type=pa.int64())})
        p = str(tmp_path / f"f{i}.parquet")
        pq.write_table(t, p)
        sketches.write_sidecar(p, sketches.sketch_from_arrow_columns(
            {"k": t.column("k")}, t.num_rows, 128))
        paths.append(p)
    schema = SSchema((SField("k", T.LongType()),), (), ())
    region = Region.of(Range("k", None, None))
    cuts = sketches.find_subrange_cuts(schema, paths, region, 4)
    assert len(cuts) == 3
    assert cuts == sorted(cuts)
    # equal depth within sketch resolution
    for i, c in enumerate(cuts, start=1):
        assert abs(c - 3000 * i / 4) < 150


def test_subrange_cuts_row_group_fallback(spark, tmp_path):
    """Without sidecars, cuts come from Parquet row-group statistics."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sleeper_spark import sketches
    from sleeper_spark.ranges import Range, Region
    from sleeper_spark.schema import Field as SField, Schema as SSchema

    t = pa.table({"k": pa.array(range(10000), type=pa.int64())})
    p = str(tmp_path / "f.parquet")
    pq.write_table(t, p, row_group_size=500)
    schema = SSchema((SField("k", T.LongType()),), (), ())
    cuts = sketches.find_subrange_cuts(
        schema, [p], Region.of(Range("k", None, None)), 4)
    assert len(cuts) == 3 and cuts == sorted(cuts)
    for i, c in enumerate(cuts, start=1):
        assert abs(c - 10000 * i / 4) <= 500


def test_row_group_pruning_indices(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sleeper_spark.sketches import row_groups_overlapping

    t = pa.table({"k": pa.array(range(1000), type=pa.int64())})
    p = str(tmp_path / "f.parquet")
    pq.write_table(t, p, row_group_size=100)  # groups: [0,99],[100,199],...
    pf = pq.ParquetFile(p)
    assert row_groups_overlapping(pf, "k", 250, 450) == [2, 3, 4]
    assert row_groups_overlapping(pf, "k", None, 100) == [0]
    assert row_groups_overlapping(pf, "k", 950, None) == [9]
    assert row_groups_overlapping(pf, "k", 2000, 3000) == []


def test_multi_output_replace_txn(spark, tmp_path):
    """REPLACE_FILE_REFERENCES carrying several output parts per job:
    applied, replayable from the log, inputs GC-queued."""
    from sleeper_spark.partitions import PartitionTree
    from sleeper_spark.statestore import FileReference, StateStore

    schema = Schema((Field("k", T.LongType()),), (), ())
    tree = PartitionTree.initial(schema)
    store = StateStore(str(tmp_path / "ss"), schema)
    store.initialise_partitions(tree)
    root = tree.root_id if hasattr(tree, "root_id") else "root"
    store.add_files([FileReference("/x/a.parquet", root, 10),
                     FileReference("/x/b.parquet", root, 10)])
    parts = [FileReference(f"/x/out-p{i}.parquet", root, 10) for i in range(2)]
    store.replace_file_references_batch(
        [(root, ["/x/a.parquet", "/x/b.parquet"], parts)])
    assert {r.filename for r in store.references_for_partition(root)} == \
        {"/x/out-p0.parquet", "/x/out-p1.parquet"}
    assert set(store.gc_queue) == {"/x/a.parquet", "/x/b.parquet"}
    # replay from the log reproduces the same state
    store2 = StateStore(str(tmp_path / "ss"), schema)
    assert {r.filename for r in store2.references_for_partition(root)} == \
        {"/x/out-p0.parquet", "/x/out-p1.parquet"}


def test_spark_engine_subrange_parts(spark, tmp_path, monkeypatch):
    """The Spark engine also fans a single big job out: one scan branch
    per dim-0 subrange (filters pushed down), one reducer per part, parts
    committed as ordered disjoint sorted FileReferences."""
    from sleeper_spark import compaction

    monkeypatch.setattr(compaction, "SUBRANGE_MIN_ROWS", 200)
    props = TableProperties(compaction_engine="spark")
    ev = _events(spark)
    schema = Schema(
        (Field("user_id", T.LongType()),),
        (Field("event_type", T.StringType()),),
        (Field("event_id", T.LongType()), Field("ts_ms", T.LongType()),
         Field("n", T.LongType())),
    )
    t = SleeperTable.create(spark, str(tmp_path / "t"), schema, props)
    t.ingest(ev.where(F.col("event_id") % 2 == 0))
    t.ingest(ev.where(F.col("event_id") % 2 == 1))
    now = 1706140800000
    before = _collect(t.full_scan(now))
    refs = t.compact(now_millis=now)
    assert len(refs) > 1
    assert _collect(t.full_scan(now)) == before
    prev_last = None
    total = 0
    for ref in refs:
        df = spark.read.parquet(ref.filename)
        keys = [(r.user_id, r.event_type) for r in df.collect()]
        assert keys == sorted(keys)
        assert len(keys) == ref.number_of_rows
        total += len(keys)
        if keys:
            if prev_last is not None:
                assert keys[0] >= prev_last
            prev_last = keys[-1]
    assert total == ev.count()


def test_broadcast_tagging_survives_plus_in_path(spark, tmp_path):
    """url_decode has x-www-form-urlencoded semantics ('+' -> space): a
    table under a '+' directory used to silently drop every row from the
    broadcast file->job join. The scan key must round-trip the stored
    path exactly, and the accounting guard must see every input file."""
    import pyarrow as pa
    import pyarrow.parquet as pq_

    from sleeper_spark.compaction import CompactionJob, _tag_rows_with_jobs
    from sleeper_spark.ranges import Range, Region

    d = tmp_path / "data+dir with space"
    d.mkdir()
    p = str(d / "f.parquet")
    pq_.write_table(pa.table({"k": pa.array(range(100), type=pa.int64()),
                              "v": pa.array(range(100), type=pa.int64())}), p)
    schema = Schema((Field("k", T.LongType()),), (),
                    (Field("v", T.LongType()),))
    job = CompactionJob("j1", "root", (p,),
                        Region.of(Range("k", None, None)))
    tagged, check_accounting = _tag_rows_with_jobs(spark, [job], schema)
    assert tagged.count() == 100
    check_accounting()  # observed metric fired by the count() action


def test_accounting_guard_fires_on_poisoned_path(spark, tmp_path):
    """The observe()-based accounting guard must still catch a scan key
    that fails to round-trip a stored path (here: a '//' the filesystem
    accepts but the scan's file-name decode normalises away), BEFORE any
    reference swap. One action total — the guard rides it."""
    import pyarrow as pa
    import pyarrow.parquet as pq_
    import pytest

    from sleeper_spark.compaction import CompactionJob, _tag_rows_with_jobs
    from sleeper_spark.ranges import Range, Region

    d = tmp_path / "data"
    d.mkdir()
    pq_.write_table(pa.table({"k": pa.array(range(50), type=pa.int64()),
                              "v": pa.array(range(50), type=pa.int64())}),
                    str(d / "f.parquet"))
    poisoned = f"{d}//f.parquet"  # readable, but != input_file_name decode
    schema = Schema((Field("k", T.LongType()),), (),
                    (Field("v", T.LongType()),))
    job = CompactionJob("j1", "root", (poisoned,),
                        Region.of(Range("k", None, None)))
    tagged, check_accounting = _tag_rows_with_jobs(spark, [job], schema)
    # the broadcast join silently drops every row — the data-loss class
    assert tagged.count() == 0
    with pytest.raises(RuntimeError, match="unmatched"):
        check_accounting()

def test_empty_subrange_parts_removed_from_disk(spark, tmp_path, monkeypatch):
    """A subrange whose rows are entirely filtered writes a zero-row part
    that is dropped from the commit — the file and its sketch sidecar
    must also be deleted (they are referenced by nothing, so GC would
    never find them)."""
    import glob
    import os

    from sleeper_spark import compaction

    monkeypatch.setattr(compaction, "SUBRANGE_MIN_ROWS", 200)
    # low half ancient (aged off), high half recent -> low subranges empty
    now = 1706140800000
    df = spark.range(1000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 500, F.lit(0))
         .otherwise(F.lit(now - 1000)).alias("ts_ms"))
    schema = Schema((Field("k", T.LongType()),), (),
                    (Field("ts_ms", T.LongType()),))
    props = TableProperties(compaction_engine="arrow",
                            filters="ageOff(ts_ms, 1209600000)")
    t = SleeperTable.create(spark, str(tmp_path / "t"), schema, props)
    t.ingest(df.where(F.col("k") % 2 == 0))
    t.ingest(df.where(F.col("k") % 2 == 1))
    refs = t.compact(now_millis=now)
    assert sum(r.number_of_rows for r in refs) == 500
    # every parquet left in the compaction output dirs is referenced
    referenced = {r.filename for r in t.store.all_references()}
    on_disk = {p for p in glob.glob(str(tmp_path / "t" / "**" / "compaction-*" / "*.parquet"), recursive=True)}
    assert on_disk, "compaction output dir not found — layout changed?"
    assert on_disk == on_disk & referenced, on_disk - referenced
    for p in on_disk:
        assert os.path.exists(p + ".sketch.json")
