"""Directory batch source + archive/dead-letter routing (SURVEY.md
§2.1 S5/S6).

Batch twin of streaming/file_ingest: scan a drop directory, process
each workbook, move it to ``processed``/``errors`` — the reference's
loop (import_files_to_postgre.py:283-296) and ``move_file``
(utils_tools.py:199-231) with two fixes kept deliberately:

- collision renaming appends a timestamp suffix, and a counter when
  that name is taken too, so no archived file is overwritten; the
  reference's implementation would raise ``AttributeError`` on that path
  (``datetime.datetime.now()`` on a ``from datetime import datetime``
  import, utils_tools.py:212 — latent bug); intent preserved, bug not.
- moves retry with backoff (3 tries, like utils_tools.py:217-227).
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import datetime


def scan_directory(data_dir: str, suffix: str = ".xlsx") -> list[str]:
    """S5/P7: deterministic (sorted) listing of ingestable files."""
    return sorted(glob.glob(os.path.join(data_dir, f"*{suffix}")))


def _collision_free(dest_dir: str, file_name: str) -> str:
    """F20 intent: on name collision, suffix with a timestamp, then with
    a counter, so a move never lands on an existing file (the stamp has
    one-second resolution and a name can recur within that second)."""
    dest = os.path.join(dest_dir, file_name)
    if not os.path.exists(dest):
        return dest
    base, ext = os.path.splitext(file_name)
    stamp = datetime.now().strftime("%Y%m%d_%H%M%S")
    dest, n = os.path.join(dest_dir, f"{base}_{stamp}{ext}"), 0
    while os.path.exists(dest):
        n += 1
        dest = os.path.join(dest_dir, f"{base}_{stamp}_{n}{ext}")
    return dest


def move_file(
    file_path: str,
    success: bool,
    processed_dir: str,
    errors_dir: str,
    retries: int = 3,
    backoff_s: float = 0.2,
) -> str:
    """S6 archive / dead-letter move with retries. Returns the final
    destination path."""
    dest_dir = processed_dir if success else errors_dir
    os.makedirs(dest_dir, exist_ok=True)
    dest = _collision_free(dest_dir, os.path.basename(file_path))
    last_exc: Exception | None = None
    for attempt in range(retries):
        try:
            shutil.move(file_path, dest)
            return dest
        except OSError as exc:  # pragma: no cover - rare fs race
            last_exc = exc
            time.sleep(backoff_s * (attempt + 1))
    raise OSError(f"could not move {file_path} after {retries} tries") from last_exc


@dataclass
class DirectoryIngestReport:
    processed: list[str]
    errored: list[str]
    # files whose post-outcome MOVE failed (full/unwritable archive or
    # dead-letter mount): still in the inbox at their ORIGINAL path —
    # the next run re-scans them and history dedup absorbs the replay
    unmoved: list[str] = field(default_factory=list)


def ingest_directory(
    data_dir: str,
    process: Callable[[str], None],
    processed_dir: str,
    errors_dir: str,
) -> DirectoryIngestReport:
    """The reference's main loop (import_files_to_postgre.py:283-296):
    per-file fault isolation — one bad workbook dead-letters, the rest
    continue. ``process`` raises to signal failure.

    Fault isolation covers the MOVE too: a file's outcome is decided by
    ``process`` alone, so an ingested file whose archive move fails is
    never dead-lettered, and a failed move never stops the loop. The
    file stays in place, reported in ``unmoved`` alongside its
    processing outcome."""
    ok: list[str] = []
    bad: list[str] = []
    unmoved: list[str] = []
    for path in scan_directory(data_dir):
        try:
            process(path)
            success = True
        except Exception:
            success = False
        try:
            dest = move_file(path, success, processed_dir, errors_dir)
        except OSError:
            dest = path
            unmoved.append(path)
        (ok if success else bad).append(dest)
    return DirectoryIngestReport(processed=ok, errored=bad, unmoved=unmoved)
