"""Batch ingestion pipeline (SURVEY.md §7 Phase 3 — the set-oriented
re-architecture of the reference's EP1 row-loop,
import_files_to_postgre.py:134-238).

The reference makes ≥6 DB round-trips per row; here a whole batch of
workbooks flows through declarative transforms into staged dimension /
fact DataFrames and one upsert per table. Semantics (filters, fill,
dedup, defaults, SCD stamping) replicate the reference exactly — see
ingest.py docstrings for the per-rule citations and the two places the
reference's behavior is surprising (lag-1 link fill; truthy price
defaults).

Two stores serve it: ``ParquetTableStore`` (one parquet directory per
table) and ``TableGroup``, the transactional store (one snapshot log
per root: atomic multi-table commits, time travel, the change feed and
exactly-once keyed commits).
"""

from pythondataingestionprocess_spark.pipeline.ingest import IngestResult, ingest_batch  # noqa: F401
from pythondataingestionprocess_spark.pipeline.store import ParquetTableStore  # noqa: F401
from pythondataingestionprocess_spark.pipeline.snapshot_store import ConcurrentWriteError  # noqa: F401
from pythondataingestionprocess_spark.pipeline.txn_group import TableGroup  # noqa: F401
