"""Streaming observability: persist every query's progress events.

A long-lived ingestion daemon is operated from its metrics —
rows/second, batch duration, state size, watermark lag. Spark emits
all of it per micro-batch through ``StreamingQueryProgress``; this
module appends each progress event as one JSON line per file under a
log directory, giving the warehouse a queryable ops table
(``spark.read.json(log_dir)``) with zero extra instrumentation in the
pipelines themselves.

Scale notes: the listener runs ON THE DRIVER and writes one tiny file
per micro-batch — no executor involvement, no contention with the
data path. At production batch rates, point ``log_dir`` at object
storage and compact periodically, or subclass and push to a metrics
bus instead. The listener is process-wide (SparkSession-level), so
attach once per session, not per query; events carry the query
id/name for fan-out.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


class ProgressFileLogger(StreamingQueryListener):
    """Append every StreamingQueryProgress as a one-line JSON file.

    File-per-event (uuid-named) rather than a shared append handle:
    progress callbacks can arrive from multiple query threads, and
    independent files need no locking and survive crashes mid-write
    (a torn file is one lost event, not a corrupted log).
    """

    def __init__(self, log_dir: str) -> None:
        # local-filesystem writer only; the module docstring says
        # "point log_dir at object storage", and os.makedirs on
        # 's3://bucket/x' happily creates a LOCAL directory named
        # 's3:/bucket/x' — every event then lands on the driver's
        # disk while spark.read.json(log_dir) finds nothing. Reject
        # URI schemes loudly; an object-store deployment subclasses
        # with a Hadoop-FS/metrics-bus writer.
        scheme = log_dir.split("://", 1)[0] if "://" in log_dir else ""
        if scheme and scheme != "file":
            raise ValueError(
                f"ProgressFileLogger writes through the local "
                f"filesystem; got scheme {scheme!r} — subclass with a "
                f"Hadoop FileSystem writer for object storage"
            )
        self.log_dir = log_dir.removeprefix("file://")
        os.makedirs(self.log_dir, exist_ok=True)

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        path = os.path.join(self.log_dir, f"progress-{uuid.uuid4().hex}.json")
        with open(path, "w") as f:
            f.write(p.json if isinstance(p.json, str) else json.dumps(p.json))
            f.write("\n")

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass


def attach_progress_log(spark: SparkSession, log_dir: str) -> ProgressFileLogger:
    """Attach (and return) a ProgressFileLogger for this session.
    Detach with ``spark.streams.removeListener(listener)`` — tests
    must, or every later stream in the session keeps logging here."""
    listener = ProgressFileLogger(log_dir)
    spark.streams.addListener(listener)
    return listener
