"""Compaction on the Arrow kernels: equivalence with the Spark query
plan over the uncompacted files (query(t) == query(compact(t)) for all
configs), on both tails — ``run_jobs_arrow`` and, for tables with custom
iterators, ``run_jobs``."""

import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sleeper_spark import Field, Schema, SleeperTable
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


def test_array_column_aggregation_rejected():
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
def test_arrow_equals_spark_engine(spark, spark_plan, tmp_path, aggs):
    """Compacted rows equal the Spark query plan (filters and
    aggregation through ``processing.apply_processing``) over the
    uncompacted files, and each partition compacts to one file."""
    make, props = _make, TableProperties(aggregations=aggs,
                                         filters="ageOff(ts_ms, 1209600000)")
    if aggs == _UPSERT:
        make, props = _versioned, TableProperties(aggregations=aggs)
    t = make(spark, tmp_path, "t", props)
    now = 1706140800000
    with spark_plan():
        expected = _collect(t.full_scan(now))
    refs = t.compact(now_millis=now)
    assert _collect(t.full_scan(now)) == expected
    assert len(refs) == len(t.store.tree.leaves())


def test_arrow_compaction_invariance(spark, tmp_path):
    """query(t) == query(compact(t)) on the arrow engine, incl. aggregation
    and ageOff, and the compacted files are key-sorted."""
    props = TableProperties(aggregations="min(event_id), max(ts_ms), sum(n)")
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


def _full_algebra_table(spark, tmp_path, name):
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
        aggregations="sum(n), max(v), sum(c), sum(b), map_sum(ms), map_min(mm)")
    t = SleeperTable.create(spark, str(tmp_path / name), schema, props,
                            split_points=[4])
    t.ingest(df.where(F.col("v") % 2 == 0))
    t.ingest(df.where(F.col("v") % 2 == 1))
    return t


def _by_key(rows):
    out = {}
    for r in rows:
        d = r.asDict()
        out[(d["k"], d["sk"])] = (
            d["n"], d["v"], sorted(d["c"]), sorted(d["b"]),
            d["ms"], d["mm"], list(d["ms"]), list(d["mm"]))
    return out


def test_full_algebra_arrow_equals_spark(spark, spark_plan, tmp_path):
    """concat-sum + map_sum/map_min compact to what the Spark query plan
    reads from the uncompacted files (concat order compared as multiset
    — it is documented order-unstable across equal-key duplicates; map
    key order compared exactly: both emit sorted-key canonical maps)."""
    t = _full_algebra_table(spark, tmp_path, "t")
    with spark_plan():
        expected = _by_key(t.full_scan().collect())
    refs = t.compact()
    got = _by_key(r for ref in refs
                  for r in spark.read.parquet(ref.filename).collect())
    assert set(got) == set(expected) and len(got) == 10
    for key in got:
        assert got[key] == expected[key], key
    # and the compacted table queries identically
    assert _by_key(t.full_scan().collect()) == expected


def test_arrow_map_agg_values(spark, tmp_path):
    """Exact map merge values on the Arrow engine: point-wise sum/min,
    keys sorted, untouched singleton maps canonicalised too."""
    t = _full_algebra_table(spark, tmp_path, "t")
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
                            TableProperties(aggregations="sum(v)"))
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
    props = TableProperties(aggregations="min(event_id), max(ts_ms), sum(n)")
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
    props = TableProperties(filters="ageOff(ts_ms, 1209600000)")
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


def _nan_safe(rows):
    """Rows with each float NaN replaced by a marker, so rows that hold
    NaN compare equal (NaN != NaN)."""
    return [tuple("NaN" if isinstance(v, float) and math.isnan(v) else v
                  for v in r) for r in rows]


def _compacted_parts(spark, refs):
    """The rows of compacted parts, checking on the way that every part
    is key-sorted, matches its reference's and its sidecar's row counts,
    and that a partition's parts are disjoint and in key order."""
    from itertools import groupby

    from sleeper_spark.sketches import load_sidecar

    got = []
    for _, parts in groupby(refs, key=lambda r: r.partition_id):
        keys = []
        for ref in parts:
            part = [tuple(r) for r in spark.read.parquet(ref.filename)
                    .collect()]
            assert [r[0] for r in part] == sorted(r[0] for r in part)
            assert len(part) == ref.number_of_rows
            assert load_sidecar(ref.filename)["rows"] == ref.number_of_rows
            keys += [r[0] for r in part]
            got += part
        assert keys == sorted(set(keys))  # parts disjoint and in key order
    return got


def test_iterator_compaction_equals_uncompacted_read(spark, spark_plan,
                                                     tmp_path, monkeypatch):
    """A table with custom iterators (a registered DataFrame-only one and
    securityFilter) plus an aggregation compacts to exactly the rows the
    uncompacted table reads through the Spark plan, in key-sorted parts
    in key order, even when each job is cut into subranges and the table
    directory holds a '+' and a space. The aggregation runs on the Arrow
    kernels, not through the Spark-SQL aggregation; a NaN it sums stays
    NaN."""
    from sleeper_spark import compaction, processing
    from sleeper_spark.iterators import register_iterator

    register_iterator("doubleN",
                      lambda args, schema: lambda df: df.withColumn(
                          "n", df["n"] * 2))
    schema = Schema((Field("k", T.LongType()),), (),
                    (Field("label", T.StringType()), Field("n", T.LongType()),
                     Field("x", T.DoubleType())))
    props = TableProperties(aggregations="max(label), sum(n), sum(x)",
                            iterators="doubleN(), securityFilter(label, public)")
    t = SleeperTable.create(spark, str(tmp_path / "tbl+dir with space"),
                            schema, props, split_points=[500])
    labels = ["secret", "public", ""]
    for rep in range(2):
        rows = [(k, labels[(k + rep) % 3], k + rep,
                 math.nan if k % 7 == rep else k / 4) for k in range(1000)]
        t.ingest(spark.createDataFrame(rows, schema.to_struct_type()))
    with spark_plan():
        expected = _nan_safe(_collect(t.full_scan()))
    assert 0 < len(expected) < 1000  # the filter dropped some keys
    assert any(r[3] == "NaN" for r in expected)

    monkeypatch.setattr(compaction, "SUBRANGE_MIN_ROWS", 200)

    def no_spark_aggregation(*args, **kwargs):
        raise AssertionError("compaction ran the Spark-SQL aggregation")

    monkeypatch.setattr(processing, "apply_aggregations",
                        no_spark_aggregation)
    refs = t.compact()
    monkeypatch.undo()

    assert len(refs) > 2  # both jobs were cut into subrange parts
    assert sorted(_nan_safe(_compacted_parts(spark, refs))) == expected
    assert t.verify_integrity()["ok"]


def test_iterator_compaction_keeps_nan_and_wide_longs(spark, spark_plan,
                                                      tmp_path):
    """Values pass the iterator tail and the sorted scan exactly: a NaN
    double stays NaN (not NULL) and a nullable long above 2**53 next to
    NULLs keeps its last digit."""
    schema = Schema((Field("k", T.LongType()),), (),
                    (Field("label", T.StringType()),
                     Field("big", T.LongType(), nullable=True),
                     Field("x", T.DoubleType())))
    t = SleeperTable.create(
        spark, str(tmp_path / "t"), schema,
        TableProperties(iterators="securityFilter(label, public)"),
        split_points=[200])
    for rep in range(2):
        rows = [(2 * i + rep, "public" if i % 5 else "secret",
                 None if i % 3 == 0 else 2**53 + 1 + 2 * i,
                 math.nan if i % 4 == 0 else i / 3) for i in range(200)]
        t.ingest(spark.createDataFrame(rows, schema.to_struct_type()))
    with spark_plan():
        expected = _nan_safe(_collect(t.full_scan()))
    assert any(r[2] is None for r in expected)
    # 2**53 + odd is not a float64: a trip through float64 rounds it even
    assert all(r[2] % 2 == 1 for r in expected if r[2] is not None)
    assert any(r[3] == "NaN" for r in expected)
    assert _nan_safe(t.sorted_scan().collect()) == expected

    refs = t.compact()
    assert sorted(_nan_safe(_compacted_parts(spark, refs))) == expected
    assert t.verify_integrity()["ok"]


def test_iterator_compaction_refuses_a_part_split_across_files(
        spark, tmp_path):
    """A part Spark wrote as several files (a writer option such as
    maxRecordsPerFile) fails the compaction before any commit: the
    inputs stay referenced and no output is left behind."""
    import os

    schema = Schema((Field("k", T.LongType()),), (),
                    (Field("label", T.StringType()),))
    t = SleeperTable.create(
        spark, str(tmp_path / "t"), schema,
        TableProperties(iterators="securityFilter(label, public)"))
    for rep in range(2):
        t.ingest(spark.createDataFrame(
            [(2 * i + rep, "public") for i in range(50)],
            schema.to_struct_type()))
    before = sorted(t.store.files)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "10")
    try:
        with pytest.raises(RuntimeError, match="written as"):
            t.compact()
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    assert sorted(t.store.files) == before
    assert sorted(os.path.join(d, f)
                  for d, _, fs in os.walk(t.data_dir)
                  for f in fs if f.endswith(".parquet")) == before
    assert len(_collect(t.full_scan())) == 100
