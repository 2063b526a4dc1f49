"""Post-commit file archival (SURVEY.md §2.1 S7).

The reference copies every processed blob to an archive prefix and
deletes the original, sequentially on the driver
(``PySpark Scripts/pyspark_ercot_merge_fm_load_latest_BQ_archive_csv.py:125-161``).
That gives once-per-file processing at the folder level but is
write-then-archive (crash between = duplicate append ⇒ at-least-once).

Here: an atomic local rename per file after a successful write — same
contract, no copy. A re-run after a crash between write and archive
re-reads the file, and ``writers.upsert_table``'s insert-only MERGE
keeps that re-delivery from duplicating rows.
"""

from __future__ import annotations

import os
import shutil


def archive_folder(src_dir: str, archive_dir: str, suffix: str = ".csv") -> list[str]:
    """Move every ``suffix`` file from src_dir to archive_dir.

    Returns the list of archived file names. Idempotent: a name collision
    in the archive gets a numeric suffix rather than clobbering.
    """
    if not os.path.isdir(src_dir):
        return []
    os.makedirs(archive_dir, exist_ok=True)
    moved: list[str] = []
    for name in sorted(os.listdir(src_dir)):
        if not name.endswith(suffix) or name.startswith(("_", ".")):
            continue
        src = os.path.join(src_dir, name)
        dst = os.path.join(archive_dir, name)
        n = 0
        while os.path.exists(dst):
            n += 1
            dst = os.path.join(archive_dir, f"{name}.{n}")
        shutil.move(src, dst)
        moved.append(name)
    return moved
