"""Metric catalogue and the derivation of every metric from a run.

End-to-end metrics come from the untraced run. Per-layer metrics come
from the traced run's spans. Both workloads print every metric of the
catalogue; a layer a workload does not reach reads 0. Per-layer times are
given as a share of the timed operations' time (``*_pct``), so a layer's
figure is comparable across runs that fit a different number of
operations in the same seconds; counts are per timed operation.
"""

from __future__ import annotations

import statistics

from perfbench.workloads import LLM_BUILDERS

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_ms": "ms",
    "rows_per_s": "rows/s",
}

#: (method, table, name in metrics): medallion names keep every metric
#: name within 64 characters.
SINKS = (
    ("append_if_absent", "staging_clinical_measurements", "bronze"),
    ("append_if_absent", "processed_measurements", "silver"),
    ("append_if_absent", "data_quality_reports", "quality"),
    ("append_if_absent", "studies", "studies"),
    ("upsert", "participants", "participants"),
    ("upsert", "etl_jobs", "etl_jobs"),
    ("merge_aggregations", "measurement_aggregations", "gold"),
)


def _per_layer_units() -> dict[str, str]:
    u = {
        "traced.latency_p50_ms": "ms",
        "tracer.overhead_pct": "%",
        "unattributed_pct": "%",
        "spark.jobs": "count/op",
        "spark.tasks": "count/op",
        "session.get_spark.busy_s": "s",
        "bench.warmup_s": "s",
        "bench.peak_rss_mb": "MB",
        "api.submit_job.busy_pct": "%",
        "api.get_job_status.busy_pct": "%",
        "api.get_data.busy_pct": "%",
        "api.self_pct": "%",
        "jobs.runner.process_job.busy_pct": "%",
        "jobs.runner.process_job.self_pct": "%",
        "jobs.ledger.ledger_share": "%",
    }
    for f in ("submit", "mark", "fetch"):
        u[f"jobs.ledger.{f}.busy_pct"] = "%"
        u[f"jobs.ledger.{f}.spark_jobs"] = "count/op"
    for method, _, alias in SINKS:
        p = f"sources.sinks.{method}.{alias}"
        u[f"{p}.busy_pct"] = "%"
        u[f"{p}.spark_jobs"] = "count/op"
        u[f"{p}.files_written"] = "count/op"
        u[f"{p}.partitions_rewritten"] = "count/op"
    u.update(
        {
            "sources.sinks.append_if_absent.kept_ratio": "ratio",
            "sources.sinks.read.busy_pct": "%",
            "sources.sinks.read.files_listed": "count/op",
            "sources.sinks.storage_bytes_per_input_byte": "ratio",
            "sources.clinical_csv.read_clinical_csv.busy_pct": "%",
            "sources.clinical_csv.read_clinical_csv.spark_jobs": "count/op",
            "operators.clinical.validate_quality_scores.busy_pct": "%",
            "operators.clinical.validate_quality_scores.spark_jobs": "count/op",
            "operators.clinical.silver_rows_per_bronze_row": "ratio",
            "plans.views.query_measurements.busy_pct": "%",
            "plans.views.query_measurements.rows": "count/op",
            "plans.views.register_views.busy_pct": "%",
            "plans.views.view_sql.busy_pct": "%",
            "streaming.ingest.run_ingest_stream.spark_jobs": "count",
            "streaming.ingest.batches": "count",
            "streaming.ingest.num_input_rows": "count",
            "streaming.ingest.add_batch_pct": "%",
            "streaming.ingest.ledger_pct": "%",
        }
    )
    for b in LLM_BUILDERS:
        p = f"plans.registry.{b}"
        u[f"{p}.busy_pct"] = "%"
        u[f"{p}.spark_jobs"] = "count/op"
        u[f"{p}.tasks"] = "count/op"
        u[f"{p}.single_task_stage_frac"] = "ratio"
    u["plans.registry.ann_hnsw_topk.recall"] = "ratio"
    return u


PER_LAYER = _per_layer_units()


def end_to_end(result) -> dict[str, float]:
    lat = [op.latency_s for op in result.ops]
    return {
        "setup_s": result.setup_s,
        "ops_per_s": len(result.ops) / result.wall_s,
        "latency_p50_ms": 1000.0 * statistics.median(lat),
        "rows_per_s": sum(op.rows_in for op in result.ops) / result.wall_s,
    }


class SpanIndex:
    """Parent/child views over the finished spans."""

    def __init__(self, spans: list[dict]) -> None:
        self.spans = spans
        self.by_id = {s["id"]: s for s in spans}
        self.children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s)

    @staticmethod
    def busy(s: dict) -> float:
        return s["end"] - s["start"] - s["aux"]

    def self_time(self, s: dict) -> float:
        return self.busy(s) - sum(self.busy(c) for c in self.children.get(s["id"], ()))

    def inclusive(self, s: dict, key: str) -> int:
        return s.get(key, 0) + sum(self.inclusive(c, key) for c in self.children.get(s["id"], ()))

    def ancestors(self, s: dict):
        p = s["parent"]
        while p is not None and p in self.by_id:
            s = self.by_id[p]
            yield s
            p = s["parent"]

    def under(self, s: dict, root: dict) -> bool:
        return any(a is root for a in self.ancestors(s))

    def outermost(self, spans, pred):
        """Spans matching ``pred`` with no matching ancestor."""
        return [s for s in spans if pred(s) and not any(pred(a) for a in self.ancestors(s))]


def per_layer(spans: list[dict], result) -> dict[str, float]:
    idx = SpanIndex(spans)
    timed = [s for s in spans if s["phase"] == "timed"]
    ops = [s for s in timed if s["name"] == "bench.op"]
    n_ops = max(len(ops), 1)
    op_time = sum(idx.busy(s) for s in ops) or 1.0
    m = dict.fromkeys(PER_LAYER, 0.0)

    def named(name, table=None, pool=timed):
        return [s for s in pool if s["name"] == name and (table is None or s.get("table") == table)]

    def pct(spans_):
        return 100.0 * sum(idx.busy(s) for s in spans_) / op_time

    def jobs(spans_, key="jobs"):
        return sum(idx.inclusive(s, key) for s in spans_) / n_ops

    raw = [s["end"] - s["start"] for s in ops]
    if raw:
        m["traced.latency_p50_ms"] = 1000.0 * statistics.median(raw)
        m["tracer.overhead_pct"] = 100.0 * sum(s["aux"] for s in ops) / sum(raw)
    m["unattributed_pct"] = 100.0 * sum(idx.self_time(s) for s in ops) / op_time
    m["spark.jobs"] = jobs(ops)
    m["spark.tasks"] = jobs(ops, "tasks")
    gs = [idx.busy(s) for s in spans if s["name"] == "session.get_spark"]
    m["session.get_spark.busy_s"] = statistics.median(gs) if gs else 0.0
    m["bench.warmup_s"] = result.warmup_s
    m["bench.peak_rss_mb"] = result.peak_rss_mb

    for f in ("submit_job", "get_job_status", "get_data"):
        m[f"api.{f}.busy_pct"] = pct(named(f"api.{f}"))
    api = [s for s in timed if s["name"].startswith("api.")]
    m["api.self_pct"] = 100.0 * sum(idx.self_time(s) for s in api) / op_time
    pj = named("jobs.runner.process_job")
    m["jobs.runner.process_job.busy_pct"] = pct(pj)
    m["jobs.runner.process_job.self_pct"] = 100.0 * sum(idx.self_time(s) for s in pj) / op_time
    is_ledger = lambda s: s["name"].startswith("jobs.ledger.")  # noqa: E731
    in_jobs = [s for s in timed if any(idx.under(s, j) for j in pj)]
    ledger_in_jobs = idx.outermost(in_jobs, is_ledger)
    pj_busy = sum(idx.busy(s) for s in pj)
    if pj_busy:
        m["jobs.ledger.ledger_share"] = 100.0 * sum(idx.busy(s) for s in ledger_in_jobs) / pj_busy
    for f in ("submit", "mark", "fetch"):
        sp = named(f"jobs.ledger.{f}")
        m[f"jobs.ledger.{f}.busy_pct"] = pct(sp)
        m[f"jobs.ledger.{f}.spark_jobs"] = jobs(sp)

    for method, table, alias in SINKS:
        sp = [s for s in named(f"sources.sinks.{method}", table) if s.get("outer_sink")]
        p = f"sources.sinks.{method}.{alias}"
        m[f"{p}.busy_pct"] = pct(sp)
        m[f"{p}.spark_jobs"] = jobs(sp)
        m[f"{p}.files_written"] = sum(s.get("files_written", 0) for s in sp) / n_ops
        m[f"{p}.partitions_rewritten"] = sum(s.get("partitions_rewritten", 0) for s in sp) / n_ops
    aia = [s for s in named("sources.sinks.append_if_absent") if "rows_offered" in s]
    offered = sum(s["rows_offered"] for s in aia)
    if offered:
        m["sources.sinks.append_if_absent.kept_ratio"] = sum(s["rows_written"] for s in aia) / offered
    reads = named("sources.sinks.read")
    m["sources.sinks.read.busy_pct"] = pct(reads)
    m["sources.sinks.read.files_listed"] = sum(s["files_listed"] for s in reads) / n_ops
    m["sources.sinks.storage_bytes_per_input_byte"] = result.storage_ratio

    rc = named("sources.clinical_csv.read_clinical_csv")
    m["sources.clinical_csv.read_clinical_csv.busy_pct"] = pct(rc)
    m["sources.clinical_csv.read_clinical_csv.spark_jobs"] = jobs(rc)
    vq = named("operators.clinical.validate_quality_scores")
    m["operators.clinical.validate_quality_scores.busy_pct"] = pct(vq)
    m["operators.clinical.validate_quality_scores.spark_jobs"] = jobs(vq)
    rows_to = {t: sum(s["rows_offered"] for s in aia if s.get("table") == t) for t in (
        "staging_clinical_measurements", "processed_measurements")}
    if rows_to["staging_clinical_measurements"]:
        m["operators.clinical.silver_rows_per_bronze_row"] = (
            rows_to["processed_measurements"] / rows_to["staging_clinical_measurements"]
        )

    m["plans.views.query_measurements.busy_pct"] = pct(named("plans.views.query_measurements"))
    per_visit = result.extra.get("rows_per_visit", [])
    if per_visit:
        m["plans.views.query_measurements.rows"] = sum(per_visit) / len(per_visit)
    m["plans.views.register_views.busy_pct"] = pct(named("plans.views.register_views"))
    m["plans.views.view_sql.busy_pct"] = pct(named("plans.views.view_sql"))

    streams = [s for s in spans if s["name"] == "streaming.ingest.run_ingest_stream"]
    if streams:
        progress = [p for s in streams for p in s.get("progress", [])]
        m["streaming.ingest.run_ingest_stream.spark_jobs"] = float(
            sum(idx.inclusive(s, "jobs") for s in streams)
        )
        m["streaming.ingest.batches"] = float(sum(1 for p in progress if p["numInputRows"]))
        m["streaming.ingest.num_input_rows"] = float(sum(p["numInputRows"] for p in progress))
        trig = sum(p["triggerExecution_ms"] for p in progress)
        if trig:
            m["streaming.ingest.add_batch_pct"] = 100.0 * sum(p["addBatch_ms"] for p in progress) / trig
        inner = [s for s in spans if any(idx.under(s, st) for st in streams)]
        m["streaming.ingest.ledger_pct"] = (
            100.0 * sum(idx.busy(s) for s in idx.outermost(inner, is_ledger))
            / sum(idx.busy(s) for s in streams)
        )

    m["plans.registry.ann_hnsw_topk.recall"] = result.extra.get("ann_recall", 0.0)
    for b in LLM_BUILDERS:
        sp = named(f"plans.registry.{b}")
        p = f"plans.registry.{b}"
        calls = max(len(sp), 1)
        m[f"{p}.busy_pct"] = pct(sp)
        m[f"{p}.spark_jobs"] = sum(idx.inclusive(s, "jobs") for s in sp) / calls
        m[f"{p}.tasks"] = sum(idx.inclusive(s, "tasks") for s in sp) / calls
        stages = sum(idx.inclusive(s, "stages") for s in sp)
        if stages:
            m[f"{p}.single_task_stage_frac"] = (
                sum(idx.inclusive(s, "single_task_stages") for s in sp) / stages
            )
    return m


def span_summary(spans: list[dict]) -> list[dict]:
    """Calls, busy and self seconds, Spark jobs and tasks per phase and
    span name (and table), heaviest first."""
    idx = SpanIndex(spans)
    out: dict[tuple, dict] = {}
    for s in spans:
        key = (s["phase"], s["name"], s.get("table"))
        row = out.setdefault(key, dict(phase=key[0], span=key[1], table=key[2], calls=0,
                                       busy_s=0.0, self_s=0.0, spark_jobs=0, tasks=0))
        row["calls"] += 1
        row["busy_s"] += idx.busy(s)
        row["self_s"] += idx.self_time(s)
        row["spark_jobs"] += s.get("jobs", 0)
        row["tasks"] += s.get("tasks", 0)
    return sorted(out.values(), key=lambda r: (r["phase"], -r["busy_s"]))


def job_breakdown(spans: list[dict]) -> list[dict]:
    """Where each ingest job's time went: ledger, sinks by table (outside
    the ledger), CSV source, clinical operators, the job's own remainder
    and the tracer's bookkeeping."""
    idx = SpanIndex(spans)
    out = []
    for job in (s for s in spans if s["name"] == "jobs.runner.process_job"):
        inner = [s for s in spans if idx.under(s, job)]
        row = {"phase": job["phase"], "op": job["op"], "busy_s": idx.busy(job)}
        row["jobs.ledger"] = sum(
            idx.busy(s) for s in idx.outermost(inner, lambda s: s["name"].startswith("jobs.ledger."))
        )
        not_ledger = [s for s in inner if not any(a["name"].startswith("jobs.ledger.") for a in idx.ancestors(s))]
        for s in idx.outermost(not_ledger, lambda s: s["name"].startswith("sources.sinks.")):
            key = f"sources.sinks[{s.get('table')}]"
            row[key] = row.get(key, 0.0) + idx.busy(s)
        for layer in ("sources.clinical_csv.", "operators.clinical."):
            row[layer.rstrip(".")] = sum(
                idx.busy(s) for s in idx.outermost(inner, lambda s, l=layer: s["name"].startswith(l))
            )
        row["unattributed"] = idx.self_time(job)
        row["tracer_aux"] = job["aux"]
        row["spark_jobs"] = idx.inclusive(job, "jobs")
        out.append(row)
    return out
