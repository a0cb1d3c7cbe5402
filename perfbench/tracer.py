"""Outside-in tracer: wraps the program's public functions from here.

Each wrapped call records a span (name, start, end, parent, phase, op) in
memory. A span runs its Spark jobs under a job group of its own, so the
jobs and tasks it caused are read back from the status tracker when the
spans are collected. Sink calls also diff their table directory (files and
bytes written, partitions rewritten, files listed on read) and count the
rows offered against the rows written. All of that bookkeeping is timed as
``aux`` and subtracted from every enclosing span, so busy and self times
exclude the tracer's own work; the remaining overhead shows as the
difference between a traced and an untraced run.

Nothing here changes what the program computes: the wrappers call the
original functions with the original arguments and return their results.
"""

from __future__ import annotations

import functools
import itertools
import os
import sys
import threading
import time
from contextlib import contextmanager
from pathlib import Path

PACKAGE = "clinical_api_etl_spark"
AUX_GROUP = "perfbench-aux"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.phase = "setup"
        self.op: int | None = None
        self.sc = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_stack: list[dict] = []
        self._lock = threading.Lock()
        self._collected = 0
        self.aux_total = 0.0

    # -- spans ------------------------------------------------------------

    def _stack(self) -> list[dict]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        # A callback thread (a streaming micro-batch) nests under whatever
        # the main thread is blocked in.
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        sp = {
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "name": name,
            "phase": self.phase,
            "op": self.op,
            "aux": 0.0,
            "groups": [],
            **attrs,
        }
        prev_group = None
        if self.sc is not None:
            gid = f"perfbench-{sp['id']}"
            sp["groups"].append(gid)
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", gid)
        stack.append(sp)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append(sp)

    @contextmanager
    def aux(self):
        """Tracer bookkeeping: its time is charged to no span."""
        open_spans = list(self._main_stack) + (
            [] if threading.current_thread() is threading.main_thread() else self._stack()
        )
        prev = self.sc.getLocalProperty("spark.jobGroup.id") if self.sc else None
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", AUX_GROUP)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)
            for sp in open_spans:
                sp["aux"] += dt
            self.aux_total += dt

    # -- patching -----------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, hook=None) -> None:
        """Replace ``owner.attr`` by a traced wrapper. For a module-level
        function every module of the program that imported it by name is
        patched too, so calls from inside the program are traced."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            attrs = hook.before(tracer, args, kwargs) if hook else {}
            with tracer.span(name, **attrs) as sp:
                result = orig(*args, **kwargs)
                if hook:
                    hook.after(tracer, sp, args, kwargs, result)
            return result

        targets = [owner]
        if not isinstance(owner, type):
            targets += [
                m
                for n, m in list(sys.modules.items())
                if n.startswith(PACKAGE) and m is not owner and getattr(m, attr, None) is orig
            ]
        for t in targets:
            setattr(t, attr, traced)

    # -- Spark job attribution ------------------------------------------------

    def collect_jobs(self) -> None:
        """Read jobs/tasks per span from the status tracker. Call before
        the SparkContext that ran them stops."""
        if self.sc is None:
            return
        st = self.sc.statusTracker()
        with self._lock:
            pending = self.spans[self._collected :]
            self._collected = len(self.spans)
        for sp in pending:
            jobs = tasks = stages = single = 0
            for gid in sp["groups"]:
                for jid in st.getJobIdsForGroup(gid):
                    info = st.getJobInfo(jid)
                    if info is None:
                        continue
                    jobs += 1
                    for sid in info.stageIds:
                        s = st.getStageInfo(sid)
                        if s is None or s.numCompletedTasks == 0:
                            continue  # skipped stage (shuffle reuse)
                        stages += 1
                        tasks += s.numCompletedTasks
                        single += s.numCompletedTasks == 1
            sp.update(jobs=jobs, tasks=tasks, stages=stages, single_task_stages=single)


# -- hooks: extra counters at sink / read / stream boundaries ---------------


def _snapshot(table_dir: Path) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _, files in os.walk(table_dir):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out[p] = (st.st_ino, st.st_size)
    return out


def _rows_in(paths) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(p).num_rows for p in paths)


class SinkHook:
    """``ParquetWarehouse`` writers: directory diff of the target table and,
    for ``append_if_absent``, rows offered vs rows written."""

    def __init__(self, method: str) -> None:
        self.method = method

    def before(self, tracer: Tracer, args, kwargs) -> dict:
        wh, table = args[0], args[1]
        stack = tracer._stack()
        outer = not any(s.get("table") == table and s["name"].startswith("sources.sinks.") for s in stack)
        attrs = {"table": table, "outer_sink": outer}
        if outer:
            with tracer.aux():
                attrs["_before"] = _snapshot(wh.root / table)
        return attrs

    def after(self, tracer: Tracer, sp, args, kwargs, result) -> None:
        if not sp["outer_sink"]:
            return
        wh, table, df = args[0], args[1], args[2]
        with tracer.aux():
            before = sp.pop("_before")
            after = _snapshot(wh.root / table)
            old = set(before.items())
            new = [p for p, v in after.items() if (p, v) not in old]
            gone = [p for p in before if p not in after or after[p] != before[p]]
            tdir = str(wh.root / table)

            def part(p: str) -> str:
                rel = os.path.relpath(p, tdir).split(os.sep)
                return rel[0] if len(rel) > 1 else ""

            sp["files_written"] = len(new)
            sp["bytes_written"] = sum(after[p][1] for p in new)
            sp["partitions_rewritten"] = len({part(p) for p in gone})
            # Timed calls only: a count inside a streaming micro-batch would
            # re-read the source and show in the query's numInputRows.
            if self.method == "append_if_absent" and tracer.phase == "timed":
                sp["rows_written"] = _rows_in(new)
                sp["rows_offered"] = df.count()


class ReadHook:
    def before(self, tracer: Tracer, args, kwargs) -> dict:
        wh, table = args[0], args[1]
        with tracer.aux():
            n = len(_snapshot(wh.root / table))
        return {"table": table, "files_listed": n}

    def after(self, *a) -> None:
        pass


class StreamHook:
    """``run_ingest_stream``: the query's per-batch progress and its own
    job group (micro-batch planning runs under the query's run id)."""

    def before(self, tracer, args, kwargs) -> dict:
        return {}

    def after(self, tracer, sp, args, kwargs, q) -> None:
        if q is None:
            return
        sp["groups"].append(str(q.runId))
        sp["progress"] = [
            {
                "batchId": p["batchId"],
                "numInputRows": p["numInputRows"],
                "addBatch_ms": p["durationMs"].get("addBatch", 0),
                "triggerExecution_ms": p["durationMs"].get("triggerExecution", 0),
                "filesOutstanding": [
                    s.get("metrics", {}).get("numFilesOutstanding") for s in p["sources"]
                ],
            }
            for p in q.recentProgress
        ]


def install(tracer: Tracer) -> None:
    """Wrap the public functions of every layer the workloads reach."""
    import importlib

    mod = importlib.import_module
    session = mod(f"{PACKAGE}.session")
    api = mod(f"{PACKAGE}.api")
    runner = mod(f"{PACKAGE}.jobs.runner")
    ledger = mod(f"{PACKAGE}.jobs.ledger")
    sinks = mod(f"{PACKAGE}.sources.sinks")
    csvsrc = mod(f"{PACKAGE}.sources.clinical_csv")
    catalog = mod(f"{PACKAGE}.sources.catalog")
    clinical = mod(f"{PACKAGE}.operators.clinical")
    ingest = mod(f"{PACKAGE}.streaming.ingest")
    views = mod(f"{PACKAGE}.plans.views")
    dedup = mod(f"{PACKAGE}.operators.dedup")
    hnsw = mod(f"{PACKAGE}.operators.hnsw")

    tracer.wrap(session, "get_spark", "session.get_spark")
    for m in ("submit_job", "get_job_status", "get_data"):
        tracer.wrap(api.ClinicalAPI, m, f"api.{m}")
    tracer.wrap(runner, "process_job", "jobs.runner.process_job")
    for m in ("submit", "mark", "fetch"):
        tracer.wrap(ledger.JobLedger, m, f"jobs.ledger.{m}")
    W = sinks.ParquetWarehouse
    for m in ("append_if_absent", "upsert", "merge_aggregations", "append"):
        tracer.wrap(W, m, f"sources.sinks.{m}", SinkHook(m))
    tracer.wrap(W, "read", "sources.sinks.read", ReadHook())
    for f in ("read_clinical_csv", "validate_path"):
        tracer.wrap(csvsrc, f, f"sources.clinical_csv.{f}")
    tracer.wrap(catalog, "load", "sources.catalog.load")
    for f in (
        "validate_quality_scores",
        "stage_bronze",
        "build_silver",
        "quality_counts",
        "build_gold",
        "extract_studies",
        "extract_participants",
    ):
        tracer.wrap(clinical, f, f"operators.clinical.{f}")
    tracer.wrap(ingest, "run_ingest_stream", "streaming.ingest.run_ingest_stream", StreamHook())
    for f in ("register_views", "query_measurements"):
        tracer.wrap(views, f, f"plans.views.{f}")
    for f in ("minhash_lsh_pairs", "simhash_pairs"):
        tracer.wrap(dedup, f, f"operators.dedup.{f}")
    for f in ("hnsw_topk", "hnsw_build"):
        tracer.wrap(hnsw, f, f"operators.hnsw.{f}")
