"""Service facade — the reference's HTTP surface as plain Python. [§3]

The reference splits this across two services and four hops (Express
routes → ETL FastAPI → Postgres; SURVEY §3.1-3.3). On Spark there is no
cross-service boundary: one facade over the SparkSession + warehouse
exposes the same operations with the same response envelope
(``{success, message, data, timestamp}`` — reference
``api-service/src/utils/response.ts:11-41``):

=============================================  =================================
reference endpoint                             facade method
=============================================  =================================
``POST /api/etl/jobs``                         :meth:`ClinicalAPI.submit_job`
``GET /api/etl/jobs/:id``                      :meth:`ClinicalAPI.get_job`
``GET /api/etl/jobs/:id/status``               :meth:`ClinicalAPI.get_job_status`
``GET /api/data?...``                          :meth:`ClinicalAPI.get_data`
``GET /api/data/studies/:id``                  :meth:`ClinicalAPI.get_study_data`
``GET /health``                                :meth:`ClinicalAPI.health`
=============================================  =================================

Deviations, all declared in SURVEY §2.9: job state has a single source of
truth (the ledger table — §2.9.7), and job lookups actually return rows
(§2.9.1). ``build_fastapi_app`` wires the facade to real HTTP routes when
fastapi is installed (not required — the facade is the contract).
"""

from __future__ import annotations

import threading
import uuid as _uuid
from datetime import datetime, timezone
from pathlib import Path
from typing import Any

from pyspark.sql import SparkSession

from clinical_api_etl_spark.jobs.ledger import JobLedger
from clinical_api_etl_spark.jobs.runner import process_job
from clinical_api_etl_spark.plans.views import query_measurements
from clinical_api_etl_spark.sources.clinical_csv import ClinicalCsvError, validate_path
from clinical_api_etl_spark.sources.sinks import ParquetWarehouse


def _envelope(success: bool, message: str, data: Any = None) -> dict:
    """The reference's JSON envelope (response.ts:11-25)."""
    return {
        "success": success,
        "message": message,
        "data": data,
        "timestamp": datetime.now(timezone.utc).isoformat(),
    }


def _is_uuid(s: str) -> bool:
    """UUID validation before job lookups (etl.service.ts:79-81)."""
    try:
        _uuid.UUID(s)
        return True
    except (ValueError, AttributeError, TypeError):
        return False


class ClinicalAPI:
    """One instance ≈ the reference's API+ETL service pair."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: ParquetWarehouse,
        data_root: str,
        *,
        background: bool = False,
    ) -> None:
        self.spark = spark
        self.wh = warehouse
        self.data_root = data_root
        self.background = background
        self.ledger = JobLedger(warehouse)

    # -- §3.1 job submission ------------------------------------------------

    def submit_job(self, filename: str | None) -> dict:
        """POST /api/etl/jobs — validate, create the job row, run.

        The reference responds before processing finishes (FastAPI
        BackgroundTasks, main.py:63); ``background=True`` reproduces that
        with a daemon thread, the default runs inline for deterministic
        callers.
        """
        if not filename:
            return _envelope(False, "filename is required")  # etl.controller.ts:16-34
        try:
            # Filenames resolve under the data root, reference-style
            # (``/app/data / filename`` — main.py:30-34), and the resolved
            # path must stay inside it (S4 traversal guard).
            path = validate_path(
                str(Path(self.data_root) / filename), root=self.data_root
            )
        except ClinicalCsvError as e:
            return _envelope(False, str(e))
        job_id = str(_uuid.uuid4())
        if self.background:
            # Seed the pending row before returning (etl.service.ts:28-43);
            # the worker thread then only marks it.
            self.ledger.submit(path.name, job_id=job_id)
            threading.Thread(
                target=self._run_safely, args=(str(path), job_id), daemon=True
            ).start()
        else:
            self._run_safely(str(path), job_id)
        return _envelope(True, "ETL job submitted", {"jobId": job_id, "status": "running"})

    def _run_safely(self, path: str, job_id: str) -> None:
        try:
            process_job(
                self.spark,
                self.wh,
                path,
                job_id=job_id,
                data_root=self.data_root,
                submitted=self.background,
            )
        except Exception:  # noqa: BLE001 — runner already marked the job failed
            pass

    # -- §3.3 job reads -----------------------------------------------------

    def get_job(self, job_id: str) -> dict:
        """GET /api/etl/jobs/:id — full ledger row."""
        if not _is_uuid(job_id):
            return _envelope(False, "invalid job id")
        row = self.ledger.fetch(job_id)
        if row is None:
            return _envelope(False, "job not found")
        return _envelope(True, "job", {k: _jsonable(v) for k, v in row.asDict().items()})

    def get_job_status(self, job_id: str) -> dict:
        """GET /api/etl/jobs/:id/status — status + progress subset."""
        if not _is_uuid(job_id):
            return _envelope(False, "invalid job id")
        row = self.ledger.fetch(job_id)
        if row is None:
            return _envelope(False, "job not found")
        return _envelope(
            True,
            "status",
            {
                "jobId": row["id"],
                "status": row["status"],
                "progress": row["progress"],
                "message": row["message"],
            },
        )

    # -- §3.2 data queries --------------------------------------------------

    def get_data(
        self,
        *,
        study_id: str | None = None,
        participant_id: str | None = None,
        measurement_type: str | None = None,
        start_date: str | None = None,
        end_date: str | None = None,
        limit: int = 1000,
    ) -> dict:
        """GET /api/data — P1-P3 parameterized slice over *bronze* (the
        reference's documented quirk: database.service.ts:98 reads staging)."""
        try:
            df = query_measurements(
                self.wh,
                study_id=study_id,
                participant_id=participant_id,
                measurement_type=measurement_type,
                start_date=start_date,
                end_date=end_date,
                limit=limit,
            )
        except KeyError:
            return _envelope(True, "measurements", [])
        rows = [
            {k: _jsonable(v) for k, v in r.asDict().items()} for r in df.collect()
        ]
        return _envelope(True, "measurements", rows)

    def get_study_data(self, study_id: str) -> dict:
        """GET /api/data/studies/:id — study slice, 404-shaped on empty
        (data.controller.ts:44-47)."""
        out = self.get_data(study_id=study_id)
        if out["success"] and not out["data"]:
            return _envelope(False, f"no data for study {study_id}")
        return out

    def health(self) -> dict:
        """GET /health — session liveness."""
        ok = self.spark.sparkContext._jsc is not None  # noqa: SLF001
        return _envelope(ok, "healthy" if ok else "spark session down")

    def reset(self) -> dict:
        """POST /__test__/reset — S12 test fixture: drop all warehouse
        tables (reference main.py:40-45, corrected — see
        ParquetWarehouse.reset)."""
        self.wh.reset()
        return _envelope(True, "reset")


def _jsonable(v: Any) -> Any:
    if isinstance(v, datetime):
        return v.isoformat()
    if hasattr(v, "as_integer_ratio") and not isinstance(v, (int, float)):
        return float(v)  # Decimal
    return v


def build_fastapi_app(api: ClinicalAPI):
    """Optional real HTTP wiring (same routes as the reference). fastapi is
    not a dependency of this engine; callers that have it get actual
    endpoints, everyone else uses the facade directly."""
    try:
        from fastapi import FastAPI
    except ImportError as e:  # pragma: no cover
        raise ImportError("fastapi not installed; use ClinicalAPI directly") from e

    app = FastAPI(title="clinical-api-etl-spark")

    @app.get("/health")
    def health():
        return api.health()

    @app.post("/api/etl/jobs")
    def submit(body: dict):
        return api.submit_job(body.get("filename"))

    @app.get("/api/etl/jobs/{job_id}")
    def job(job_id: str):
        return api.get_job(job_id)

    @app.get("/api/etl/jobs/{job_id}/status")
    def status(job_id: str):
        return api.get_job_status(job_id)

    @app.get("/api/data")
    def data(
        studyId: str | None = None,
        participantId: str | None = None,
        measurementType: str | None = None,
        startDate: str | None = None,
        endDate: str | None = None,
    ):
        return api.get_data(
            study_id=studyId,
            participant_id=participantId,
            measurement_type=measurementType,
            start_date=startDate,
            end_date=endDate,
        )

    @app.get("/api/data/studies/{study_id}")
    def study(study_id: str):
        return api.get_study_data(study_id)

    @app.post("/__test__/reset")
    def reset():
        return api.reset()

    return app
