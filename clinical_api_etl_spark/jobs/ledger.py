"""Job ledger (SURVEY §2 S9-S11) — single source of truth.

The reference keeps job state in two stores that can disagree (in-memory
dict ``state.py:5`` vs Postgres ``db.py:31-39``; the HTTP endpoint prefers
memory, ``main.py:76-82``) and its DB read-back is dead code
(``db.py:24-29`` lacks a ``return`` — §2.9.1). This engine implements the
*corrected* semantics the SURVEY declares: one ledger table, reads return
rows, ``completed_at`` stamped only on terminal transitions
(``CASE WHEN status IN ('completed','failed') THEN NOW()`` — db.py:35, F10).

Progress maps to the reference's fixed checkpoints (etl.py:236-263) and,
for streaming jobs, to ``StreamingQuery.lastProgress``.

Storage: one single-row parquet file per job,
``etl_jobs/id=<escaped job id>/part-0.parquet`` — the hive layout Spark's
``partitionBy("id")`` writes, so ``wh.read("etl_jobs")``, the views and
outside readers (DuckDB ``hive_partitioning``) see one table whose ``id``
column comes from the directory name. The driver writes the file with
pyarrow (INT96 timestamps and Spark's row metadata, as Spark writes them):
a status change costs one small file write and launches no Spark job.

Atomic replace: each write goes to a hidden temp name in the job's
directory (leading ``.``, no ``.parquet`` suffix, so neither Spark nor a
``*.parquet`` glob picks it up) and is moved over ``part-0.parquet`` with
``os.replace`` under the warehouse's commit guard. A reader opens either
the old file or the new one, never a missing or partial one, so status
polls need no retry.

One writer per job: ``mark`` is read-modify-write on the job's own file,
and only the job that owns an id marks it; jobs never touch each other's
files.
"""

from __future__ import annotations

import os
import time
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Row
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql import types as T

from clinical_api_etl_spark.sources.sinks import ParquetWarehouse
from clinical_api_etl_spark.sources.snapshots import SnapshotWarehouse

JOBS_TABLE = "etl_jobs"

TERMINAL = ("completed", "failed")

#: Columns stored in each job file; ``id`` lives in the directory name
#: and reads back as the last column, as with Spark's ``partitionBy``.
_SCHEMA = T.StructType(
    [
        T.StructField("filename", T.StringType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("message", T.StringType(), True),
        T.StructField("progress", T.IntegerType(), True),
        T.StructField("created_at", T.TimestampType(), True),
        T.StructField("updated_at", T.TimestampType(), True),
        T.StructField("completed_at", T.TimestampType(), True),
    ]
)

_TIMESTAMPS = ("created_at", "updated_at", "completed_at")

#: Timestamps are UTC epoch microseconds in memory and INT96 on disk.
_ARROW_SCHEMA = to_arrow_schema(_SCHEMA).with_metadata(
    {"org.apache.spark.sql.parquet.row.metadata": _SCHEMA.json()}
)

#: Characters Spark's ``ExternalCatalogUtils.escapePathName`` turns into
#: ``%XX`` in partition directory names.
_ESCAPED = frozenset(chr(c) for c in range(0x01, 0x20)) | frozenset("\"#%'*/:=?\\\x7f{[]^")


def escape_path_name(value: str) -> str:
    """Hive partition-value escaping, byte-for-byte as Spark does it, so
    any job id maps to one directory that Spark unescapes back."""
    return "".join(f"%{ord(c):02X}" if c in _ESCAPED else c for c in value)


def _now_us() -> int:
    return time.time_ns() // 1000


class JobLedger:
    def __init__(self, warehouse: ParquetWarehouse) -> None:
        if isinstance(warehouse, SnapshotWarehouse):
            raise TypeError(
                "JobLedger writes plain hive-layout files; a SnapshotWarehouse "
                "would not list them in its manifests — use a ParquetWarehouse"
            )
        self.wh = warehouse
        self._table = warehouse.root / JOBS_TABLE

    def _file(self, job_id: str) -> Path:
        return self._table / f"id={escape_path_name(job_id)}" / "part-0.parquet"

    def _load(self, job_id: str) -> dict | None:
        # One open file for footer and pages: a path-based read opens the
        # file twice and can mix two versions across a concurrent replace.
        try:
            with open(self._file(job_id), "rb") as f:
                table = pq.ParquetFile(f, coerce_int96_timestamp_unit="us").read()
        except FileNotFoundError:
            return None
        for c in _TIMESTAMPS:
            i = table.schema.get_field_index(c)
            table = table.set_column(i, c, table.column(c).cast(pa.int64()))
        return table.to_pylist()[0]

    def _store(self, job_id: str, rec: dict) -> None:
        path = self._file(job_id)
        with self.wh._commit_guard():  # noqa: SLF001 — same writer lock as the sinks
            path.parent.mkdir(parents=True, exist_ok=True)
            tmp = path.with_name(f".part-0.{uuid.uuid4().hex}.tmp")
            try:
                pq.write_table(
                    pa.Table.from_pylist([rec], schema=_ARROW_SCHEMA),
                    tmp,
                    use_deprecated_int96_timestamps=True,
                )
                os.replace(tmp, path)
            finally:
                tmp.unlink(missing_ok=True)

    def submit(self, filename: str, job_id: str | None = None) -> str:
        """S9: create the job row in ``pending`` (etl.service.ts:28-43)."""
        jid = job_id or str(uuid.uuid4())
        now = _now_us()
        self._store(
            jid,
            {
                "filename": filename,
                "status": "pending",
                "message": None,
                "progress": 0,
                "created_at": now,
                "updated_at": now,
                "completed_at": None,
            },
        )
        return jid

    def mark(self, job_id: str, status: str, message: str | None = None, progress: int | None = None) -> None:
        """S10: status update with conditional completed_at stamping.

        ``message`` always replaces the previous one (``None`` clears it);
        ``progress=None`` keeps the previous progress. An id that was never
        submitted is left alone."""
        if not self._table.is_dir():
            raise KeyError(f"no jobs table; submit first (job {job_id})")
        rec = self._load(job_id)
        if rec is None:
            return
        now = _now_us()
        rec.update(status=status, message=message, updated_at=now)
        if progress is not None:
            rec["progress"] = progress
        if status in TERMINAL:
            rec["completed_at"] = now
        self._store(job_id, rec)

    def fetch(self, job_id: str) -> Row | None:
        """S11 corrected: actually returns the row (§2.9.1) — the fields and
        values ``wh.read("etl_jobs")`` collects for it, read from the job's
        own file."""
        rec = self._load(job_id)
        if rec is None:
            return None
        ts = T.TimestampType()
        for c in _TIMESTAMPS:
            if rec[c] is not None:
                rec[c] = ts.fromInternal(rec[c])
        return Row(**rec, id=job_id)

    def all_jobs(self) -> DataFrame | None:
        return self.wh.read(JOBS_TABLE)
