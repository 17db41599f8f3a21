"""sleeper_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of gchq/sleeper.

Sleeper (the reference, /root/reference) is a serverless LSM key-value store
over sorted Parquet: tables are range-partitioned by row key into a binary
partition tree; files are sorted on (row keys..., sort keys...); queries are
multi-dimensional range lookups; tables may declare continual filters
(ageOff) and key-collapsing aggregations applied at both compaction and
query time.

This package re-expresses that model Spark-first:

- the data plane is DataFrames (`spark.read.parquet` + Catalyst pushdown);
- the metadata plane (partition tree + file manifest) is a tiny driver-side
  transaction log (`statestore.py`), mirroring the reference's
  transaction-log state store (docs/design.md:156-199);
- a small ingest batch is collected once and sorted in Arrow on the
  driver, like the reference's standard ingest; a big one is a Spark job
  (`repartition` on the leaf id + sort within partitions + parquet
  write), like its Spark bulk import (java/bulk-import/); compaction
  merges on Arrow kernels (`tasks.py`);
- the query path is driver-side partition pruning + an explicit file-list
  scan + region predicates (Parquet row-group pushdown is automatic);
- everything the reference lacks (joins, windows, SQL, dedup, similarity
  search, text analysis) is stock Spark, exposed in `functions/`.
"""

from sleeper_spark.schema import Field, Schema
from sleeper_spark.ranges import Range, Region
from sleeper_spark.partitions import Partition, PartitionTree
from sleeper_spark.properties import TableProperties
from sleeper_spark.query import Query
from sleeper_spark.table import SleeperTable

__version__ = "0.1.0"

__all__ = [
    "Field",
    "Schema",
    "Range",
    "Region",
    "Partition",
    "PartitionTree",
    "Query",
    "SleeperTable",
    "TableProperties",
]
