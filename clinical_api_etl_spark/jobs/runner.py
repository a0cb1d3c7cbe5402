"""Batch job runner — the reference's 6-stage pipeline (etl.py:232-266)
as one lazy DataFrame lineage with one action per sink.

Stage map (progress checkpoints mirror etl.py:236-263):

====  ========================  =============================================
 10%  read                      S1-S3 validated all-string CSV scan
 30%  stage                     R3 lineage → S5 idempotent bronze append
 45%  dims                      A2 distinct studies/participants → J2 upsert
 65%  transform                 R1/R2/R4 silver build → S6 idempotent append
 75%  quality                   A3-A5 counters on the raw input → S7 append
 90%  aggregate                 A1 gold roll-up → S8 asymmetric merge
====  ========================  =============================================

Unlike the reference (which materializes every stage as Python lists —
etl.py:80-96,206), bronze is written once and each downstream frame is a
lazy projection of it; Spark schedules the minimal work per sink action.
Any exception marks the job failed with the message (etl.py:264-266).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from clinical_api_etl_spark.jobs.ledger import JobLedger
from clinical_api_etl_spark.operators.clinical import (
    GOLD_KEY,
    SILVER_KEY,
    build_gold,
    build_silver,
    extract_participants,
    extract_studies,
    quality_counts,
    stage_bronze,
    validate_quality_scores,
)
from clinical_api_etl_spark.sources.clinical_csv import read_clinical_csv
from clinical_api_etl_spark.sources.sinks import ParquetWarehouse

BRONZE_TABLE = "staging_clinical_measurements"
SILVER_TABLE = "processed_measurements"
QUALITY_TABLE = "data_quality_reports"
GOLD_TABLE = "measurement_aggregations"

#: S5 idempotency key (02_staging_clinical_trials.sql:22).
BRONZE_KEY = ["job_id", "source_filename", "row_num"]


def process_job(
    spark: SparkSession,
    warehouse: ParquetWarehouse,
    csv_path: str,
    *,
    job_id: str | None = None,
    data_root: str | None = None,
    submitted: bool = False,
) -> str:
    """Run the full pipeline for one CSV; returns the job id.

    ``submitted=True`` means the caller already wrote the pending row for
    ``job_id`` (the API's background path), so it is not written again."""
    ledger = JobLedger(warehouse)
    filename = os.path.basename(csv_path)
    jid = job_id if submitted else ledger.submit(filename, job_id=job_id)
    try:
        ledger.mark(jid, "running", "reading csv", progress=10)
        raw = read_clinical_csv(spark, csv_path, root=data_root)
        validate_quality_scores(raw)  # CHECK-constraint parity: job fails whole

        ledger.mark(jid, "running", "staging rows", progress=30)
        bronze = stage_bronze(raw, jid, filename)
        # One materialization of bronze; everything downstream reads the
        # written table so lineage stays short and the CSV is scanned once.
        warehouse.append_if_absent(BRONZE_TABLE, bronze, BRONZE_KEY)
        staged = warehouse.read(BRONZE_TABLE).filter(f"job_id = '{jid}'")

        ledger.mark(jid, "running", "upserting dimensions", progress=45)
        warehouse.append_if_absent("studies", extract_studies(staged), ["study_id"])
        warehouse.upsert(
            "participants",
            extract_participants(staged),
            ["study_id", "participant_id"],
        )

        ledger.mark(jid, "running", "building processed", progress=65)
        silver = build_silver(staged)
        warehouse.append_if_absent(SILVER_TABLE, silver, list(SILVER_KEY))

        ledger.mark(jid, "running", "quality checks", progress=75)
        # Keyed-idempotent on (job_id, rule_name): a retried job id never
        # duplicates its quality rows (parity with the bronze/silver keys).
        warehouse.append_if_absent(
            QUALITY_TABLE, quality_counts(raw, jid), ["job_id", "rule_name"]
        )

        ledger.mark(jid, "running", "aggregations", progress=90)
        # Gold is built from THIS job's silver rows (the reference
        # aggregates the in-memory processed list, etl.py:260), not the
        # whole table — re-ingest semantics then come from the S8 merge.
        gold = build_gold(build_silver(staged), jid)
        warehouse.merge_aggregations(GOLD_TABLE, gold, list(GOLD_KEY))

        ledger.mark(jid, "completed", "completed", progress=100)
    except Exception as e:  # noqa: BLE001 — any failure marks the job failed
        ledger.mark(jid, "failed", str(e), progress=100)
        raise
    return jid
