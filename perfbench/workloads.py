"""The two workloads. Each is a closed loop with one client: the next
operation starts when the previous one has returned.

A workload function takes a :class:`Ctx` and returns a :class:`Result`
holding the set-up time, the timed operations and the mismatches the
output check found. The program is driven only through its public
functions: ``session.get_spark``, ``api.ClinicalAPI``,
``streaming.ingest.run_ingest_stream``, ``plans.views`` and the
``plans.registry`` builders.
"""

from __future__ import annotations

import random
import shutil
import statistics
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

from perfbench import check, gen

SETUP_REPS = 5
#: Timed passes per ``llm_dedup`` run; its latency is their median.
LLM_PASSES = 2
VIEWS = (
    "v_study_quality",
    "v_glucose_trend",
    "v_counts_by_site",
    "v_low_quality",
    "v_recent_30d",
    "v_participants_per_study",
)
LLM_BUILDERS = (
    "dedup_exact_groups",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_hnsw_topk",
)


@dataclass
class Op:
    latency_s: float
    rows_in: int
    failed: bool = False


@dataclass
class Result:
    setup_s: float
    ops: list[Op]
    wall_s: float
    errors: list[str] = field(default_factory=list)
    storage_ratio: float = 0.0
    peak_rss_mb: float = 0.0
    warmup_s: float = 0.0
    extra: dict = field(default_factory=dict)


def _cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[7]


def _vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Ctx:
    """One benchmark process: its run directory, Spark session and tracer."""

    def __init__(self, run_dir: Path, seed: int, seconds: float, tracer=None) -> None:
        self.run_dir = run_dir
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.spark = None
        self.t_start = time.perf_counter()

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext()

    def phase(self, name: str) -> None:
        now = time.perf_counter()
        print(f"phase {name} at {now - self.t_start:.2f}s", file=sys.stderr, flush=True)
        if self.tracer:
            self.tracer.phase = name

    def start_session(self):
        """(Re)start the SparkSession; the first call launches the JVM."""
        from clinical_api_etl_spark import session

        if self.spark is not None:
            if self.tracer:
                self.tracer.collect_jobs()
                self.tracer.sc = None
            self.spark.stop()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(self.run_dir / "spark-warehouse"),
            # No hsperfdata file under /tmp: the run writes only in its directory.
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.run_dir / 'tmp'} -XX:-UsePerfData",
        }
        if self.tracer:
            # Keep every job's record for the per-span job/task counts.
            conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
        self.spark = session.get_spark("perfbench", extra_conf=conf)
        if self.tracer:
            self.tracer.sc = self.spark.sparkContext
        return self.spark

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc else None

    def peak_rss_mb(self) -> float:
        pid = self.jvm_pid()
        return max(_vm_hwm_mb("self"), _vm_hwm_mb(pid) if pid else 0.0)

    def stop(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        import subprocess

        from pyspark import SparkContext

        if self.spark is None:
            return
        if self.tracer:
            self.tracer.collect_jobs()
            self.tracer.sc = None
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        self.spark.stop()
        self.spark = None
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def timed_loop(self, step, min_ops: int = 1) -> tuple[list, float]:
        """Call ``step(i)`` until ``seconds`` have elapsed and ``min_ops``
        operations have completed."""
        self.phase("timed")
        out = []
        ticks = [_cpu_ticks()]
        t0 = time.perf_counter()
        i = 0
        while i < min_ops or time.perf_counter() - t0 < self.seconds:
            if self.tracer:
                self.tracer.op = i
            r = step(i)
            if r is None:
                break
            out.append(r)
            ticks.append(_cpu_ticks())
            i += 1
        wall = time.perf_counter() - t0

        # On a shared VM the hypervisor's steal explains slow runs.
        def steal(a, b):
            return f"cpu steal {100 * (b[1] - a[1]) / max(b[0] - a[0], 1):.1f}%"

        ops = ", ".join(
            f"{op.latency_s:.2f}s ({steal(a, b)})" for op, a, b in zip(out, ticks, ticks[1:])
        )
        print(f"timed {wall:.2f}s, {steal(ticks[0], ticks[-1])}; ops {ops}", file=sys.stderr)
        return out, wall


def _setup_reps(ctx: Ctx, prepare) -> tuple[float, object]:
    """Run the set-up ``SETUP_REPS`` times in fresh directories; the median
    is the set-up time. The first repetition also launches the JVM, so the
    median is a set-up in a running JVM: a new SparkSession, the inputs
    and an empty warehouse."""
    times, state = [], None
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        ctx.start_session()
        state = prepare(ctx.run_dir / f"rep{rep}")
        times.append(time.perf_counter() - t0)
        if rep < SETUP_REPS - 1:
            shutil.rmtree(ctx.run_dir / f"rep{rep}", ignore_errors=True)
    return statistics.median(times), state


def _dir_bytes(p: Path) -> int:
    return sum(f.stat().st_size for f in p.rglob("*") if f.is_file())


# -- ingest_jobs ---------------------------------------------------------------


def ingest_jobs(ctx: Ctx) -> Result:
    """API job path, with the clinical reads a caller makes after a job.

    Set-up: session, seeded CSVs, empty warehouse. Pre-load: the history
    file streams in from the drop folder through ``run_ingest_stream``
    (``available_now``, one file per trigger). Warm-up: the planted
    invalid file goes through ``submit_job`` (it must end ``failed``),
    then one status poll and one data query.
    Timed operation (one *visit*): ``submit_job`` on the next small CSV
    (part new rows, part rows re-submitted from the history, duplicate
    keys), ``get_job_status`` on its id, ``get_data`` with seeded P1-P3
    filters, then ``register_views`` and the six views."""
    from clinical_api_etl_spark.api import ClinicalAPI
    from clinical_api_etl_spark.plans import views
    from clinical_api_etl_spark.sources.sinks import clinical_warehouse
    from clinical_api_etl_spark.streaming import ingest

    plan = gen.clinical_plan(ctx.seed)

    def prepare(base: Path):
        gen.write_clinical(plan, base / "data", base / "drop")
        wh = clinical_warehouse(ctx.spark, str(base / "wh"))
        return base, wh, ClinicalAPI(ctx.spark, wh, str(base / "data"))

    ctx.phase("setup")
    setup_s, (base, wh, api) = _setup_reps(ctx, prepare)
    spark = ctx.spark
    gen.write_expected(plan, base / "expected.json")

    ctx.phase("preload")
    t0 = time.perf_counter()
    ingest.run_ingest_stream(
        spark, wh, str(base / "drop"), str(base / "ckpt"),
        available_now=True, max_files_per_trigger=1,
    )
    ingested = [("stream-0", plan.history, base / "drop" / plan.history.name)]
    stream_jobs = {"stream-0": [plan.history.name]}

    visits = []

    def visit(i: int):
        if i >= len(plan.jobs):
            return None
        f = plan.jobs[i]
        rng = random.Random(ctx.seed * 1000 + i)
        r = rng.choice(f.rows)
        # P1+P2 always (a participant's rows stay far below the 1000-row
        # limit), plus P3's type filter or date window half the time each.
        filters = {"study_id": r[0], "participant_id": r[1]}
        if rng.random() < 0.5:
            filters["measurement_type"] = r[2]
        if rng.random() < 0.5:
            m = rng.randint(1, 9)
            filters["start_date"] = f"2024-{m:02d}-01"
            filters["end_date"] = f"2024-{m + 3:02d}-28"
        t = time.perf_counter()
        with ctx.span("bench.op"):
            job_id = api.submit_job(f.name)["data"]["jobId"]
            status = api.get_job_status(job_id)
            data = api.get_data(**filters)
            views.register_views(wh)
            view_rows = {}
            for view in VIEWS:
                with ctx.span("plans.views.view_sql"):
                    view_rows[view] = [row.asDict() for row in spark.sql(f"SELECT * FROM {view}").collect()]
        latency = time.perf_counter() - t
        ingested.append((job_id, f, base / "data" / f.name))
        visits.append(
            dict(upto=len(ingested), filters=filters, status=status, data=data, view_rows=view_rows)
        )
        return Op(latency, len(f.rows))

    ctx.phase("warmup")
    invalid_job = api.submit_job(plan.invalid.name)["data"]["jobId"]
    failed_jobs = {invalid_job: plan.invalid}
    api.get_job_status(invalid_job)
    api.get_data(study_id=plan.history.rows[0][0], limit=10)
    warmup_s = time.perf_counter() - t0

    ops, wall = ctx.timed_loop(visit)
    peak = ctx.peak_rss_mb()

    ctx.phase("check")
    import duckdb

    con = duckdb.connect()
    check.load_raw(con, ingested)
    errors = check.check_clinical(con, Path(wh.root), ingested, failed_jobs, stream_jobs)
    for op, v in zip(ops, visits):
        errs = check.check_status(v["status"])
        errs += check.check_data_response(con, v["upto"], v["filters"], 1000, v["data"])
        files = [f for _, f, _ in ingested[: v["upto"]]]
        for view, rows in v["view_rows"].items():
            want = check.view_expectation(view, files, frozenset(stream_jobs["stream-0"]))
            if want is not None and check.view_measure(view, rows) != want:
                errs.append(f"{view}: {check.view_measure(view, rows)} != {want}")
        op.failed = bool(errs)
        errors += errs
    con.close()
    if errors and not any(op.failed for op in ops):
        ops[-1].failed = True  # a warehouse-level mismatch fails the run
    csv_bytes = sum(p.stat().st_size for _, _, p in ingested)
    return Result(
        setup_s, ops, wall, errors,
        storage_ratio=_dir_bytes(Path(wh.root)) / csv_bytes,
        peak_rss_mb=peak,
        warmup_s=warmup_s,
        extra={"rows_per_visit": [len(v["data"]["data"]) for v in visits]},
    )


# -- llm_dedup -------------------------------------------------------------------


def llm_dedup(ctx: Ctx) -> Result:
    """Dedup and similarity operators through their registry builders.

    Set-up: session and a seeded corpus shaped like the program's sf0.1
    testdata (see ``gen.corpus``). Warm-up: one untimed pass.
    Timed operation: one *pass*, i.e. each builder in turn is called and
    its result collected, with ``memo.reset()`` and ``clearCache()``
    before every call; a run times at least ``LLM_PASSES`` passes. This
    workload reaches no clinical layer."""
    from clinical_api_etl_spark.functions import memo
    from clinical_api_etl_spark.plans.registry import all_queries

    queries = all_queries()
    ctx.phase("setup")

    def prepare(base: Path):
        gen.write_corpus(ctx.seed, base / "corpus")
        return base / "corpus"

    setup_s, corpus_dir = _setup_reps(ctx, prepare)
    spark = ctx.spark
    import pyarrow.parquet as pq

    n_in = {
        t: pq.read_metadata(corpus_dir / f"{t}.parquet").num_rows
        for t in ("documents", "embeddings")
    }
    rows_in = sum(n_in["embeddings" if b == "ann_hnsw_topk" else "documents"] for b in LLM_BUILDERS)

    def one_pass() -> dict[str, list[dict]]:
        out = {}
        for name in LLM_BUILDERS:
            memo.reset()
            spark.catalog.clearCache()
            with ctx.span(f"plans.registry.{name}"):
                df = queries[name].builder(spark, str(corpus_dir))
                out[name] = [r.asDict() for r in df.collect()]
        return out

    ctx.phase("warmup")
    t0 = time.perf_counter()
    reference = one_pass()
    warmup_s = time.perf_counter() - t0

    results = []

    def step(i: int):
        t = time.perf_counter()
        with ctx.span("bench.op"):
            results.append(one_pass())
        return Op(time.perf_counter() - t, rows_in)

    ops, wall = ctx.timed_loop(step, LLM_PASSES)
    peak = ctx.peak_rss_mb()

    ctx.phase("check")
    oracle_of = {
        "dedup_exact_groups": queries["dedup_exact_groups"].oracle,
        "dedup_minhash_lsh": queries["dedup_ngram_jaccard"].oracle,
    }
    errors = []
    for name, rows in reference.items():
        errors += check.check_llm(name, rows, corpus_dir, oracle_of.get(name))
    for op, res in zip(ops, results):
        for name, rows in res.items():
            if check.rows_hash([tuple(r.values()) for r in rows]) != check.rows_hash(
                [tuple(r.values()) for r in reference[name]]
            ):
                errors.append(f"{name}: timed call returned different rows than the warm-up")
                op.failed = True
        op.failed = op.failed or bool(errors)
    return Result(setup_s, ops, wall, errors, peak_rss_mb=peak, warmup_s=warmup_s,
                  extra={"ann_recall": check.ann_recall(reference["ann_hnsw_topk"], corpus_dir)})


WORKLOADS = {"ingest_jobs": ingest_jobs, "llm_dedup": llm_dedup}
