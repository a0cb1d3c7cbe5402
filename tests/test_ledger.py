"""Job ledger (``jobs/ledger.py``): one single-row parquet file per job.

Every behaviour runs on both warehouse flavours — the plain
``ParquetWarehouse`` and the blueprint-partitioned ``clinical_warehouse`` —
and is checked against what Spark itself reads back from the table.
"""

from __future__ import annotations

import time
import uuid

import pytest

from clinical_api_etl_spark.jobs.ledger import JOBS_TABLE, JobLedger, escape_path_name
from clinical_api_etl_spark.sources.sinks import ParquetWarehouse, clinical_warehouse
from clinical_api_etl_spark.sources.snapshots import SnapshotWarehouse

#: ``wh.read("etl_jobs").dtypes``: the stored columns, then ``id`` from the
#: hive directory name.
DTYPES = [
    ("filename", "string"),
    ("status", "string"),
    ("message", "string"),
    ("progress", "int"),
    ("created_at", "timestamp"),
    ("updated_at", "timestamp"),
    ("completed_at", "timestamp"),
    ("id", "string"),
]

#: Every character Spark escapes in partition directory names, plus some
#: it leaves alone (space, ``}``, ``~``, non-ASCII).
AWKWARD_IDS = [
    "a/b",
    "c=d",
    "e%f",
    "g:h",
    "i#j",
    "x/y=z%20:#",
    "q\"'*?\\{[]^}~ é\t",
]


@pytest.fixture(params=["plain", "clinical"])
def wh(request, spark, tmp_path):
    if request.param == "plain":
        return ParquetWarehouse(spark, str(tmp_path / "wh"))
    return clinical_warehouse(spark, str(tmp_path / "wh"))


@pytest.fixture()
def ledger(wh):
    return JobLedger(wh)


def _spark_row(wh, job_id):
    jobs = wh.read(JOBS_TABLE)
    rows = jobs.filter(jobs.id == job_id).collect()
    assert len(rows) == 1, rows
    return rows[0]


def test_submit_writes_pending_row(wh, ledger):
    jid = ledger.submit("study.csv")
    row = ledger.fetch(jid)
    assert (row["id"], row["filename"], row["status"], row["progress"]) == (
        jid,
        "study.csv",
        "pending",
        0,
    )
    assert row["message"] is None and row["completed_at"] is None
    assert row["created_at"] == row["updated_at"]


def test_fetch_equals_spark_collect(wh, ledger):
    jid = ledger.submit("study.csv", job_id="job-1")
    ledger.mark(jid, "running", "reading csv", progress=10)
    ledger.mark(jid, "completed", "completed", progress=100)
    got = ledger.fetch(jid)
    want = _spark_row(wh, jid)
    assert got == want
    assert got.asDict() == want.asDict()  # same field names, same order


def test_read_dtypes(wh, ledger):
    ledger.submit("study.csv")
    assert wh.read(JOBS_TABLE).dtypes == DTYPES


def test_created_at_kept_across_marks(ledger):
    jid = ledger.submit("study.csv")
    before = ledger.fetch(jid)
    time.sleep(0.01)
    ledger.mark(jid, "running", "reading csv", progress=10)
    ledger.mark(jid, "completed", "completed", progress=100)
    after = ledger.fetch(jid)
    assert after["created_at"] == before["created_at"]
    assert after["updated_at"] > before["updated_at"]


@pytest.mark.parametrize("terminal", ["completed", "failed"])
def test_completed_at_only_on_terminal(ledger, terminal):
    jid = ledger.submit("study.csv")
    ledger.mark(jid, "running", "step", progress=30)
    assert ledger.fetch(jid)["completed_at"] is None
    ledger.mark(jid, terminal, "done", progress=100)
    done = ledger.fetch(jid)
    assert done["completed_at"] is not None
    assert done["completed_at"] == done["updated_at"]
    # A later non-terminal mark keeps the stamp rather than clearing it.
    ledger.mark(jid, "running", "retry", progress=10)
    assert ledger.fetch(jid)["completed_at"] == done["completed_at"]


def test_progress_none_keeps_previous(ledger):
    jid = ledger.submit("study.csv")
    ledger.mark(jid, "running", "step", progress=45)
    ledger.mark(jid, "running", "still going")
    row = ledger.fetch(jid)
    assert (row["progress"], row["message"]) == (45, "still going")


def test_message_replaced_including_by_none(ledger):
    jid = ledger.submit("study.csv")
    ledger.mark(jid, "running", "first", progress=10)
    ledger.mark(jid, "running", "second")
    assert ledger.fetch(jid)["message"] == "second"
    ledger.mark(jid, "running", None)
    assert ledger.fetch(jid)["message"] is None


def test_unknown_ids(wh, ledger):
    assert ledger.fetch("nope") is None  # no table yet
    with pytest.raises(KeyError):
        ledger.mark("nope", "running")  # mark before any submit
    jid = ledger.submit("study.csv")
    ledger.mark("nope", "completed", "done", progress=100)  # no-op
    assert ledger.fetch("nope") is None
    assert [r["id"] for r in wh.read(JOBS_TABLE).collect()] == [jid]


@pytest.mark.parametrize("job_id", AWKWARD_IDS)
def test_awkward_ids_round_trip(wh, ledger, job_id):
    assert ledger.submit("study.csv", job_id=job_id) == job_id
    ledger.mark(job_id, "completed", "done", progress=100)
    row = ledger.fetch(job_id)
    assert (row["id"], row["status"], row["progress"]) == (job_id, "completed", 100)
    assert _spark_row(wh, job_id) == row


def test_escaping_matches_spark(spark, tmp_path):
    """Directory names equal the ones Spark's own ``partitionBy`` writes."""
    out = tmp_path / "spark_partitioned"
    spark.createDataFrame([(i, 1) for i in AWKWARD_IDS], "id string, x int").write.partitionBy(
        "id"
    ).parquet(str(out))
    spark_dirs = sorted(p.name for p in out.iterdir() if p.is_dir())
    assert spark_dirs == sorted(f"id={escape_path_name(i)}" for i in AWKWARD_IDS)


def test_replace_leaves_one_file_per_job(wh, ledger):
    jid = ledger.submit("study.csv")
    for p in (10, 30, 45, 65, 75, 90):
        ledger.mark(jid, "running", "step", progress=p)
    ledger.mark(jid, "completed", "completed", progress=100)
    job_dir = wh.root / JOBS_TABLE / f"id={jid}"
    assert [p.name for p in job_dir.iterdir()] == ["part-0.parquet"]


def test_ledger_launches_no_spark_job(spark, ledger):
    """submit + mark + fetch are driver-side file operations."""
    sc = spark.sparkContext
    group = f"ledger-probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "ledger spark-job probe")
    try:
        jid = ledger.submit("study.csv")
        for p in (10, 30, 45, 65, 75, 90):
            ledger.mark(jid, "running", "step", progress=p)
        ledger.mark(jid, "completed", "completed", progress=100)
        assert ledger.fetch(jid)["status"] == "completed"
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        # The probe does count jobs launched under the group.
        spark.range(3).count()
        assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_concurrent_jobs_and_pollers(wh, ledger):
    """More writer threads than cores, one job each, with pollers reading
    every job throughout: no poll misses a submitted job or sees its
    progress go back, and no job's last update is lost."""
    import sys
    import threading

    n_jobs, steps = 8, 20
    ids = [f"job-{i}" for i in range(n_jobs)]
    submitted = threading.Barrier(n_jobs + 1)
    done = threading.Event()
    errors: list[str] = []

    def writer(jid):
        ledger.submit("study.csv", job_id=jid)
        submitted.wait(timeout=30)
        for p in range(1, steps + 1):
            ledger.mark(jid, "running", f"step {p}", progress=p)
        ledger.mark(jid, "completed", "completed", progress=100)

    def poller():
        last = dict.fromkeys(ids, -1)
        while not done.is_set():
            for jid in ids:
                try:
                    row = ledger.fetch(jid)
                except Exception as e:  # noqa: BLE001 — reported by the test
                    errors.append(f"{jid}: {e!r}")
                    return
                if row is None or row["progress"] < last[jid]:
                    errors.append(f"{jid}: {row} after progress {last[jid]}")
                    return
                last[jid] = row["progress"]

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        writers = [threading.Thread(target=writer, args=(j,)) for j in ids]
        for t in writers:
            t.start()
        submitted.wait(timeout=30)
        pollers = [threading.Thread(target=poller) for _ in range(4)]
        for t in pollers:
            t.start()
        for t in writers:
            t.join(timeout=60)
        done.set()
        for t in pollers:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in writers + pollers)
    assert errors == []
    final = {r["id"]: (r["status"], r["progress"]) for r in wh.read(JOBS_TABLE).collect()}
    assert final == dict.fromkeys(ids, ("completed", 100))


def test_snapshot_warehouse_rejected(spark, tmp_path):
    with pytest.raises(TypeError, match="SnapshotWarehouse"):
        JobLedger(SnapshotWarehouse(spark, str(tmp_path / "snap")))


def test_process_job_with_awkward_id(spark, wh, tmp_path):
    from clinical_api_etl_spark.jobs.runner import BRONZE_TABLE, process_job

    csv = tmp_path / "study.csv"
    csv.write_text(
        "study_id,participant_id,measurement_type,value,unit,timestamp,site_id,quality_score\n"
        "S1,P1,glucose,95.5,mg/dL,2024-01-15T09:30:00Z,SITE_A,0.98\n"
    )
    jid = "run/1=a%b:c#d"
    assert process_job(spark, wh, str(csv), job_id=jid) == jid
    row = JobLedger(wh).fetch(jid)
    assert (row["status"], row["progress"], row["filename"]) == ("completed", 100, "study.csv")
    assert _spark_row(wh, jid) == row
    bronze = wh.read(BRONZE_TABLE)
    assert bronze.filter(bronze.job_id == jid).count() == 1
