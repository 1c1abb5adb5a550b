"""Versioned parquet snapshot store (reference parity: S7-S9).

The reference checkpoints watcher state as JSON backup files
(``BackupManager``, ``monitoring/_monitoring.py:100-147``), tolerating
missing/corrupt backups by starting empty. Here a snapshot version is
one zstd parquet file under ``<root>/v=<n>/``, written on the driver
with pyarrow, plus a ``_latest`` pointer file — write-new-then-swap,
so a crash mid-write never corrupts the previous version, and the next
save clears a crashed save's partial ``v=<n>/`` before writing it
(single-writer discipline, same as the reference's one backup owner).
Versions written by earlier releases — Spark ``part-*`` directories
with ``_SUCCESS`` and ``.crc`` files — read unchanged through both
``load`` (Spark) and ``read`` (Arrow).
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class SnapshotStore:
    """One named snapshot slot (e.g. per watcher / per state table)."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    @property
    def _pointer(self) -> str:
        return os.path.join(self.root, "_latest")

    def _version_dir(self, v: int) -> str:
        return os.path.join(self.root, f"v={v}")

    def latest_version(self) -> int | None:
        try:
            with open(self._pointer) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return None  # S8: tolerate missing/corrupt pointer → empty

    def save(self, data: pa.Table | DataFrame) -> int:
        """S7/S9 — persist a new version and move the pointer. A
        DataFrame is collected with ``toArrow`` first: one write path."""
        table = data if isinstance(data, pa.Table) else data.toArrow()
        v = (self.latest_version() or 0) + 1
        path = self._version_dir(v)
        shutil.rmtree(path, ignore_errors=True)  # a crashed save's leftover
        os.makedirs(path)
        pq.write_table(table, os.path.join(path, "part-0.zstd.parquet"), compression="zstd")
        tmp = self._pointer + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._pointer)  # atomic pointer swap
        self._prune(keep=2)
        return v

    def read(self, columns: list[str] | None = None) -> pa.Table | None:
        """The latest snapshot's ``columns`` as an Arrow table on the
        driver (no Spark job), or None when there is none (S8)."""
        v = self.latest_version()
        if v is None:
            return None
        return pq.read_table(self._version_dir(v), columns=columns)

    def load(self, spark: SparkSession, schema: StructType) -> DataFrame:
        """S8 — latest snapshot, or an empty frame with the right schema."""
        v = self.latest_version()
        if v is None:
            return spark.createDataFrame([], schema)
        return spark.read.parquet(self._version_dir(v))

    def clear(self) -> None:
        """S9 — reset (reference ``clear_backup``)."""
        try:
            os.remove(self._pointer)
        except FileNotFoundError:
            pass
        self._prune(keep=0)

    def _prune(self, keep: int) -> None:
        latest = self.latest_version() or 0
        for entry in os.listdir(self.root):
            if entry.startswith("v="):
                v = int(entry[2:])
                if v <= latest - keep or (keep == 0):
                    if v != latest or keep == 0:
                        shutil.rmtree(os.path.join(self.root, entry), ignore_errors=True)
