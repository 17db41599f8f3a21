"""Table properties: the subset of the reference's table configuration that
affects query/compaction semantics, plus Parquet layout defaults.

Reference: java/core/src/main/java/sleeper/core/properties/table/TableProperty.java
and instance defaults (TableDefaultProperty.java:45-58 — zstd compression,
8 MiB row groups, 128 KiB pages; PartitionSplittingProperty.java:97 —
1e9-row split threshold; compaction batch size COMPACTION_FILES_BATCH_SIZE).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

from sleeper_spark.iterators import (
    parse_aggregations,
    parse_filters,
    validate_aggregations,
    validate_filters,
)
from sleeper_spark.schema import Schema


@dataclass
class TableProperties:
    table_name: str = "table"
    # sleeper.table.online (docs/design.md:68-71): offline tables are
    # skipped by partition splitting and compaction job creation; ingest
    # and queries still work
    online: bool = True
    # iterator configs, reference grammar (docs/usage/data-processing.md)
    filters: str = ""              # e.g. "ageOff(timestamp, 1209600000)"
    aggregations: str = ""         # e.g. "sum(count), max(last_seen), map_sum(tags)"
    # custom chain, e.g. "securityFilter(label, public)"; a table with
    # one compacts through compaction.run_jobs, every other table
    # through compaction.run_jobs_arrow
    iterators: str = ""
    # parquet layout (S4: ParquetRowWriterFactory.java:74-77)
    compression: str = "zstd"
    row_group_bytes: int = 8 * 1024 * 1024
    page_bytes: int = 128 * 1024
    # maintenance knobs
    partition_split_threshold: int = 1_000_000_000  # PartitionSplittingProperty.java:97
    compaction_files_batch_size: int = 11           # matches baseline job shape
    compaction_strategy: str = "basic"  # "basic" | "size_ratio" | "leveled"
    size_ratio: int = 3                             # SizeRatioCompactionStrategy
    level_fanout: int = 10                          # leveled: size class base
    level_trigger: int = 4                          # leveled: files per level
    gc_delay_seconds: float = 600.0                 # docs/design.md:331-343
    # per-file quantile sketch sidecar resolution (Sketches.java:45-62
    # writes a DataSketches quantiles sketch per row-key field per file;
    # ours stores the file's values at <= sketch_size+1 evenly spaced
    # ranks, giving <= rows/sketch_size rank error per file on merge)
    sketch_size: int = 1024
    # query-planner metadata cache TTL, seconds
    # (sleeper.table.query.processor.cache.timeout is minutes in the
    # reference, QueryPlanner.java:111-149; default 1 minute)
    query_cache_timeout_seconds: float = 60.0
    # CHECK constraint (beyond-reference, Delta CONSTRAINT analog): a
    # SQL boolean expression over the table's columns, enforced on
    # every WRITE path that goes through the ingest writer (ingest,
    # stream_ingest, merge_upsert inserts) as a codegen'd per-row guard
    # inside the partition-id expression — zero extra scan, a violating
    # row fails the write job loudly before anything commits. SQL CHECK
    # semantics: NULL evaluates as pass; only FALSE rejects. NOT
    # enforced by update_where assignments (documented there).
    constraints: str = ""
    extra: dict[str, Any] = field(default_factory=dict)

    def validate(self, schema: Schema) -> None:
        from sleeper_spark.iterators import parse_custom_iterators

        validate_filters(schema, parse_filters(self.filters))
        validate_aggregations(schema, parse_aggregations(self.aggregations))
        parse_custom_iterators(self.iterators, schema)  # raises on unknown names

    def to_json(self) -> str:
        d = dict(self.__dict__)
        return json.dumps(d)

    @staticmethod
    def from_json(s: str) -> "TableProperties":
        return TableProperties(**json.loads(s))
