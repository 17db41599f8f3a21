"""Dead-job recovery (UNASSIGN_JOB_IDS): a worker that crashed between
claiming inputs and committing its swap must not leak its claims
forever — and a late commit racing recovery must lose cleanly."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sleeper_spark.ranges import Range, Region
from sleeper_spark.schema import Field, Schema
from sleeper_spark.statestore import StateStoreException
from sleeper_spark.table import SleeperTable


def _schema():
    return Schema(
        row_key_fields=(Field("key", T.LongType()),),
        value_fields=(Field("value", T.LongType()),),
    )


@pytest.fixture
def table(spark, tmp_path):
    t = SleeperTable.create(spark, str(tmp_path / "t"), _schema())
    for i in range(2):
        t.ingest(spark.range(i * 100, (i + 1) * 100).select(
            F.col("id").alias("key"), F.col("id").alias("value")))
    return t


class TestDescribe:
    def test_describe_summarises_metadata_only(self, table):
        d = table.describe()
        assert d["n_files"] == 2 and d["n_references"] == 2
        assert d["n_rows"] == 200 and not d["approx_rows"]
        assert d["n_sidecars"] == 2 and d["total_bytes"] > 0
        assert d["files_per_leaf_max"] == 2  # both files in the root
        assert d["claimed_jobs"] == {} and d["gc_pending"] == 0
        assert d["n_leaves"] == 1 and d["online"]
        table.compact(now_millis=0)
        d2 = table.describe()
        assert d2["n_files"] == 1 and d2["gc_pending"] == 2
        assert d2["n_rows"] == 200


class TestAbandonJob:
    def _claim_all(self, table, job_id="dead-job"):
        refs = table.store.all_references()
        table.store.assign_job_ids(job_id, refs)
        return refs

    def test_leaked_claim_blocks_then_recovers(self, table):
        self._claim_all(table)
        assert table.claimed_jobs() == {"dead-job": 2}
        # claimed files: compaction plans nothing, delete refuses
        assert table.compact(now_millis=0) == []
        with pytest.raises(StateStoreException, match="claimed by job"):
            table.delete_where(regions=[Region.of(Range("key", 0, 10))])
        table.abandon_job("dead-job")
        assert table.claimed_jobs() == {}
        assert len(table.compact(now_millis=0)) >= 1
        assert table.full_scan().count() == 200

    def test_abandon_unknown_job_refuses(self, table):
        with pytest.raises(StateStoreException, match="holds no file"):
            table.abandon_job("never-existed")

    def test_abandon_replays_through_log(self, table, spark):
        self._claim_all(table)
        table.abandon_job("dead-job")
        # a FRESH process (log replay from scratch) sees the release
        t2 = SleeperTable.load(spark, table.path)
        assert all(r.job_id is None for r in t2.store.all_references())

    def test_unassign_several_jobs_in_one_record(self, table, spark):
        a, b = table.store.all_references()
        table.store.assign_job_ids("dead-a", [a])
        table.store.assign_job_ids("dead-b", [b])
        pre = table.store.current_seq
        with pytest.raises(StateStoreException, match="never-existed"):
            table.store.unassign_job_ids("dead-a", "never-existed")
        assert table.store.current_seq == pre
        table.store.unassign_job_ids("dead-a", "dead-b")
        assert [tx["type"] for _s, tx in
                table.store.transactions_between(pre)] == [
                    "UNASSIGN_JOB_IDS"]
        t2 = SleeperTable.load(spark, table.path)
        assert all(r.job_id is None for r in t2.store.all_references())

    def test_single_id_record_replays(self, table, spark):
        """A record in the single-id form, as written before one record
        could release several jobs, still replays."""
        self._claim_all(table)
        table.store._commit({"type": "UNASSIGN_JOB_IDS",
                             "jobId": "dead-job"})
        t2 = SleeperTable.load(spark, table.path)
        assert all(r.job_id is None for r in t2.store.all_references())
        assert table.claimed_jobs() == {}

    def test_late_commit_after_recovery_loses_cleanly(self, table, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from sleeper_spark.statestore import FileReference

        refs = self._claim_all(table)
        table.abandon_job("dead-job")
        # recovery hands the files to a NEW delete job which swaps first
        out = table.delete_where(regions=[Region.of(Range("key", 0, 50))])
        assert out["rows_deleted"] == 50
        # ...now the "dead" worker wakes up and tries to commit its own
        # swap over the original inputs: inputs are gone -> refused
        late = str(tmp_path / "late.parquet")
        pq.write_table(pa.table({"key": pa.array([0], pa.int64()),
                                 "value": pa.array([0], pa.int64())}), late)
        with pytest.raises(StateStoreException, match="not referenced"):
            table.store.replace_file_references(
                refs[0].partition_id, [r.filename for r in refs
                                       if r.partition_id == refs[0].partition_id],
                FileReference(late, refs[0].partition_id, 1,
                              only_contains_data_for_this_partition=True))
        assert table.full_scan().count() == 150  # recovery's state holds
