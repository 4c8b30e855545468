"""File-queue streaming ingestion (SURVEY.md §2.9, S5/S6).

Reproduces the reference's directory-poll → process → archive/dead-
letter loop (import_files_to_postgre.py:287-293, utils_tools.py:199-231)
as a Structured Streaming file source with exactly-once semantics:

- checkpointed file tracking replaces move-on-success bookkeeping
  (the reference's move is at-most-once; a crash between process and
  move double-ingests — checkpoints fix that);
- per-micro-batch ``foreachBatch`` replaces the per-file transaction
  (import_files_to_postgre.py:136,229-237) — the batch function must
  be idempotent on retry, which the parquet-append + batchId pattern
  below provides;
- failures route the batch to a dead-letter directory instead of
  aborting the stream (the reference's ``data_errors/``), with the
  batchId as the collision-proof suffix (the reference's timestamp
  suffix at utils_tools.py:211-215 calls ``datetime.datetime.now()``
  on a ``from datetime import datetime`` import — a latent
  AttributeError; we keep the intent, not the bug).

``trigger(availableNow=True)`` reproduces the reference's single-pass
batch behavior; remove it for a long-lived ingestion daemon.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType


def file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    fmt: str = "json",
    max_files_per_trigger: int | None = None,
    archive_dir: str | None = None,
) -> DataFrame:
    """Streaming scan over a drop directory.

    ``archive_dir`` enables Spark's own processed-file archiving
    (``cleanSource=archive``) — the exactly-once replacement for the
    reference's move-to-``data_processed/``.
    """
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if archive_dir is not None:
        reader = reader.option("cleanSource", "archive").option(
            "sourceArchiveDir", archive_dir
        )
    return reader.load(path)


def run_ingestion(
    stream_df: DataFrame,
    process: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    dead_letter_dir: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Drive ``stream_df`` through ``process(batch_df, batch_id)`` with
    dead-letter isolation: a failing batch is written to
    ``dead_letter_dir/batch_<id>`` (parquet) and the stream continues —
    file-level fault isolation, like the reference's error routing,
    but without losing the data."""

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        try:
            process(batch_df, batch_id)
        except Exception:
            if dead_letter_dir is None:
                raise
            batch_df.write.mode("overwrite").parquet(
                os.path.join(dead_letter_dir, f"batch_{batch_id}")
            )

    writer = stream_df.writeStream.foreachBatch(_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
