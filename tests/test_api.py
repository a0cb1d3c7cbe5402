"""Facade tests for the reference's endpoint surface (SURVEY §3).

Covers: submit → status lifecycle, envelope shape (response.ts:11-25),
S4 path-traversal guard, UUID validation (etl.service.ts:79-81), the
bronze-not-silver data-query quirk (§3.2), camelCase projection, and the
404-shaped empty study response (data.controller.ts:44-47).
"""

from __future__ import annotations

import pytest

from clinical_api_etl_spark.api import ClinicalAPI

HEADER = "study_id,participant_id,measurement_type,value,unit,timestamp,site_id,quality_score"
ROWS = [
    "S1,P1,glucose,95.5,mg/dL,2024-01-15T09:30:00Z,SITE_A,0.98",
    "S1,P2,blood_pressure,120/80,mmHg,2024-01-16T09:00:00Z,SITE_A,0.9",
    "S2,P1,weight,70.5,kg,2024-01-17T10:00:00Z,SITE_B,",
]


@pytest.fixture()
def api(spark, warehouse, tmp_path):
    data = tmp_path / "data"
    data.mkdir()
    (data / "study.csv").write_text("\n".join([HEADER, *ROWS]) + "\n")
    return ClinicalAPI(spark, warehouse, str(data))


def _check_envelope(out, success):
    assert set(out) == {"success", "message", "data", "timestamp"}
    assert out["success"] is success


def test_submit_and_status_lifecycle(api):
    out = api.submit_job("study.csv")
    _check_envelope(out, True)
    jid = out["data"]["jobId"]

    status = api.get_job_status(jid)
    _check_envelope(status, True)
    assert status["data"]["status"] == "completed"
    assert status["data"]["progress"] == 100

    job = api.get_job(jid)
    _check_envelope(job, True)
    assert job["data"]["filename"] == "study.csv"
    assert job["data"]["completed_at"] is not None  # terminal stamp (F10)


def test_submit_requires_filename(api):
    _check_envelope(api.submit_job(None), False)
    _check_envelope(api.submit_job(""), False)


def test_path_traversal_rejected(api):
    out = api.submit_job("../../etc/passwd")
    _check_envelope(out, False)
    assert "escapes" in out["message"] or "no such file" in out["message"]


def test_job_lookup_validation(api):
    _check_envelope(api.get_job_status("not-a-uuid"), False)
    _check_envelope(
        api.get_job_status("00000000-0000-0000-0000-000000000000"), False
    )  # valid UUID, unknown job


def test_data_query_reads_bronze_with_camelcase(api):
    api.submit_job("study.csv")
    out = api.get_data(study_id="S1", measurement_type="blood_pressure")
    _check_envelope(out, True)
    assert len(out["data"]) == 1
    row = out["data"][0]
    # camelCase keys (database.service.ts:138-149)
    assert {"studyId", "participantId", "measurementType", "rowNum"} <= set(row)
    # bronze quirk: raw string value, not the exploded silver rows (§3.2)
    assert row["value"] == "120/80"


def test_data_query_time_range_and_order(api):
    api.submit_job("study.csv")
    out = api.get_data(start_date="2024-01-16T00:00:00Z")
    assert [r["studyId"] for r in out["data"]] == ["S2", "S1"]  # ts DESC


def test_study_slice_404_on_empty(api):
    api.submit_job("study.csv")
    _check_envelope(api.get_study_data("S1"), True)
    _check_envelope(api.get_study_data("NOPE"), False)


def test_health(api):
    _check_envelope(api.health(), True)


def test_reset_clears_all_tables(api):
    api.submit_job("study.csv")
    assert api.get_data()["data"]  # populated
    out = api.reset()
    _check_envelope(out, True)
    assert api.get_data()["data"] == []  # S12: everything gone
    # pipeline works again after reset
    out2 = api.submit_job("study.csv")
    _check_envelope(out2, True)
    assert len(api.get_data()["data"]) == 3


def test_background_submit_polls_to_completion(spark, warehouse, tmp_path):
    """background=True reproduces the reference's async submit (FastAPI
    BackgroundTasks): the call returns immediately with a pending/running
    job that reaches 'completed' on polling."""
    import time as _time

    from clinical_api_etl_spark.api import ClinicalAPI

    data = tmp_path / "bgdata"
    data.mkdir()
    (data / "study.csv").write_text("\n".join([HEADER, *ROWS]) + "\n")
    api = ClinicalAPI(spark, warehouse, str(data), background=True)

    out = api.submit_job("study.csv")
    _check_envelope(out, True)
    jid = out["data"]["jobId"]

    status = None
    deadline = _time.time() + 120
    while _time.time() < deadline:
        status = api.get_job_status(jid)["data"]["status"]
        if status in ("completed", "failed"):
            break
        _time.sleep(1)
    assert status == "completed"
    assert len(api.get_data()["data"]) == 3


def _background_api(spark, warehouse, tmp_path):
    from clinical_api_etl_spark.api import ClinicalAPI

    data = tmp_path / "bgdata"
    data.mkdir()
    (data / "study.csv").write_text("\n".join([HEADER, *ROWS]) + "\n")
    return ClinicalAPI(spark, warehouse, str(data), background=True)


def test_background_pending_row_written_once(spark, warehouse, tmp_path):
    """The API writes the pending row; the worker thread only marks it, so
    ``created_at`` stays the time of the submit call."""
    import time as _time
    from datetime import datetime

    api = _background_api(spark, warehouse, tmp_path)
    before = datetime.now()
    jid = api.submit_job("study.csv")["data"]["jobId"]
    after = datetime.now()

    deadline = _time.time() + 120
    while api.get_job_status(jid)["data"]["status"] not in ("completed", "failed"):
        assert _time.time() < deadline
        _time.sleep(0.2)
    row = api.ledger.fetch(jid)
    assert row["status"] == "completed"
    assert before <= row["created_at"] <= after


def test_background_status_poll_never_regresses(spark, warehouse, tmp_path):
    """A tight status-poll loop during a background job always finds the
    job, and neither its progress nor its status ever goes backwards."""
    import time as _time

    api = _background_api(spark, warehouse, tmp_path)
    jid = api.submit_job("study.csv")["data"]["jobId"]
    rank = {"pending": 0, "running": 1, "completed": 2}
    seen: list[tuple[int, int]] = []
    deadline = _time.time() + 120
    while _time.time() < deadline:
        out = api.get_job_status(jid)
        assert out["success"], out["message"]
        seen.append((rank[out["data"]["status"]], out["data"]["progress"]))
        if out["data"]["status"] == "completed":
            break
        _time.sleep(0.005)
    assert seen[-1] == (2, 100)
    assert seen == sorted(seen), [s for a, s in zip(seen, seen[1:]) if s < a]
    assert len({p for _, p in seen}) > 2  # the loop saw the job in progress
