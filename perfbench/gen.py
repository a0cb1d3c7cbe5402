"""Seeded input generators and their expected results.

Two families, both pure Python and deterministic per seed:

* Clinical CSVs in the reference wire format (8 string columns, header
  row). The files cover valid, out-of-range and dashed ``S/D`` blood
  pressure, slash-less ``"120"`` passthrough, ``''`` and ``"null"``
  quality sentinels, units padded with whitespace, missing units,
  duplicate natural keys, out-of-range values, files without the optional
  ``quality_score`` column, rows re-submitted from an earlier file, and
  an invalid file (a missing required column or a blank ``study_id``).
  :func:`expected_tables` replays the pipeline's documented semantics over
  a sequence of ingested files and returns the warehouse row counts and
  quality-rule counts the program must produce.
* A document/embedding corpus for the dedup and similarity operators,
  shaped like the program's sf0.1 testdata and written as parquet with
  the columns the registry builders read.
"""

from __future__ import annotations

import csv
import json
import random
from dataclasses import dataclass, field
from decimal import Decimal, InvalidOperation
from pathlib import Path

HEADER = [
    "study_id",
    "participant_id",
    "measurement_type",
    "value",
    "unit",
    "timestamp",
    "site_id",
    "quality_score",
]

UNITS = {
    "glucose": "mg/dL",
    "cholesterol": "mg/dL",
    "weight": "kg",
    "height": "cm",
    "blood_pressure": "mmHg",
    "heart_rate": "bpm",
}
NORMAL = {
    "glucose": (70, 180),
    "cholesterol": (120, 280),
    "weight": (45, 130),
    "height": (140, 200),
    "heart_rate": (50, 110),
}
OUT_OF_RANGE = {
    "glucose": "1000",
    "cholesterol": "20",
    "weight": "500",
    "height": "12",
    "heart_rate": "300",
}
# Mirrors the program's declared rule inputs (FIXTURES.md §A); duplicated
# here so the expectations do not come from the code under test.
REQ_UNIT = ("glucose", "cholesterol", "weight", "height", "blood_pressure")
RANGES = {
    "glucose": (40.0, 400.0),
    "cholesterol": (50.0, 400.0),
    "weight": (1.0, 400.0),
    "height": (30.0, 300.0),
    "heart_rate": (20.0, 240.0),
}
TYPES = list(UNITS)
TYPE_WEIGHTS = [3, 2, 2, 1, 3, 2]
N_STUDIES = 4
PER_STUDY = 40  # participants per study
DUP_SHARE = 0.03  # rows that repeat a natural key of their own file


@dataclass
class CsvFile:
    name: str
    rows: list[list[str]]
    #: ``None`` for a valid file, else why the job must fail.
    invalid: str | None = None
    columns: list[str] = field(default_factory=lambda: list(HEADER))

    def write(self, directory: Path) -> Path:
        path = directory / self.name
        with open(path, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(self.columns)
            idx = [HEADER.index(c) for c in self.columns]
            for r in self.rows:
                w.writerow([r[i] for i in idx])
        return path


# -- row semantics (FIXTURES.md §A) ----------------------------------------


def _decimal(v: str) -> Decimal | None:
    s = v.strip()
    if not s:
        return None
    try:
        d = Decimal(s)
    except InvalidOperation:
        return None
    return d if d.is_finite() else None


def _bp(v: str) -> tuple[int, int] | None:
    parts = v.split("/")
    if len(parts) != 2:
        return None
    try:
        s, d = (int(p.strip()) for p in parts)
    except ValueError:
        return None
    return (s, d) if 50 <= s <= 250 and 30 <= d <= 200 else None


def observations(row: list[str]) -> list[tuple[str, Decimal | None]]:
    """Silver observations of one raw row: ``(measurement_type, value_num)``
    with ``None`` for a text observation."""
    mtype, value = row[2], row[3]
    if mtype == "blood_pressure":
        bp = _bp(value)
        if bp is not None:
            return [
                ("blood_pressure_systolic", Decimal(bp[0])),
                ("blood_pressure_diastolic", Decimal(bp[1])),
            ]
    return [(mtype, _decimal(value))]


def quality_rules(rows: list[list[str]]) -> dict[str, int]:
    """The three rule counters over the raw input rows (zero rules dropped)."""
    missing = bad_bp = out = 0
    for r in rows:
        mtype, value, unit = r[2], r[3], r[4]
        if mtype in REQ_UNIT and unit.strip() == "":
            missing += 1
        if mtype == "blood_pressure" and _bp(value) is None:
            bad_bp += 1
        if mtype in RANGES:
            d = _decimal(value)
            lo, hi = RANGES[mtype]
            if d is not None and (float(d) < lo or float(d) > hi):
                out += 1
    counts = {
        "missing_unit_required": missing,
        "malformed_blood_pressure": bad_bp,
        "numeric_out_of_range": out,
    }
    return {k: v for k, v in counts.items() if v > 0}


# -- clinical generator -----------------------------------------------------


class ClinicalGen:
    """Row factory over one seeded domain of studies/participants/sites."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        self.studies = [f"STUDY{i:03d}" for i in range(1, N_STUDIES + 1)]
        self.participants = {
            s: [f"P{j:04d}" for j in range(1, PER_STUDY + 1)] for s in self.studies
        }
        self.home_site = {
            (s, p): f"SITE_{self.rng.choice('ABCD')}"
            for s in self.studies
            for p in self.participants[s]
        }

    def _value(self, mtype: str) -> str:
        rng = self.rng
        if mtype == "blood_pressure":
            u = rng.random()
            if u < 0.04:
                return f"{rng.randint(100, 160)}-{rng.randint(60, 95)}"  # dashed
            if u < 0.08:
                return str(rng.randint(100, 160))  # slash-less passthrough
            if u < 0.11:
                return f"{rng.randint(260, 320)}/{rng.randint(60, 95)}"  # out of range
            return f"{rng.randint(95, 170)}/{rng.randint(55, 105)}"
        if rng.random() < 0.03:
            return OUT_OF_RANGE[mtype]
        lo, hi = NORMAL[mtype]
        if rng.random() < 0.5:
            return str(rng.randint(lo, hi))
        return f"{rng.uniform(lo, hi):.1f}"

    def _unit(self, mtype: str) -> str:
        u = self.rng.random()
        if u < 0.04:
            return ""  # missing (a quality warning on the required types)
        if u < 0.14:
            return f"  {UNITS[mtype]} "  # padded: trimmed on read
        return UNITS[mtype]

    def _quality(self) -> str:
        u = self.rng.random()
        if u < 0.06:
            return ""
        if u < 0.12:
            return "null"
        return f"{self.rng.uniform(0.6, 1.0):.2f}"

    def row(self, studies: list[str]) -> list[str]:
        rng = self.rng
        s = rng.choice(studies)
        p = rng.choice(self.participants[s])
        site = self.home_site[(s, p)] if rng.random() < 0.95 else "SITE_E"
        mtype = rng.choices(TYPES, TYPE_WEIGHTS)[0]
        ts = (
            f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
            f"T{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:00Z"
        )
        return [s, p, mtype, self._value(mtype), self._unit(mtype), ts, site, self._quality()]

    def file(
        self,
        name: str,
        n_rows: int,
        studies: list[str],
        *,
        resubmit_from: list[list[str]] | None = None,
        resubmit_share: float = 0.0,
    ) -> CsvFile:
        rng = self.rng
        rows: list[list[str]] = []
        for _ in range(n_rows):
            u = rng.random()
            if resubmit_from and u < resubmit_share:
                rows.append(list(rng.choice(resubmit_from)))
            elif rows and u < resubmit_share + DUP_SHARE:
                # Duplicate natural key inside the file, different value.
                dup = list(rng.choice(rows))
                dup[3] = self._value(dup[2])
                rows.append(dup)
            else:
                rows.append(self.row(studies))
        f = CsvFile(name, rows)
        if rng.random() >= 0.7:  # no optional quality_score column
            f.columns = HEADER[:-1]
            for r in rows:
                r[7] = ""
        return f


@dataclass
class ClinicalPlan:
    """Every file a clinical run may ingest, in ingestion order."""

    history: CsvFile  # streamed in from the drop folder before the timed section
    invalid: CsvFile  # submitted through the API; must end ``failed``
    jobs: list[CsvFile]  # the timed API submissions, in order

    def all_files(self) -> list[CsvFile]:
        return [self.history, self.invalid, *self.jobs]


def clinical_plan(
    seed: int,
    *,
    history_rows: int = 6000,
    job_rows: int = 300,
    n_jobs: int = 8,
) -> ClinicalPlan:
    g = ClinicalGen(seed)
    hist = g.file("history_000.csv", history_rows, g.studies)
    # One planted invalid file per run; the seed's parity picks the kind.
    if seed % 2:
        invalid = g.file("invalid_blank_study.csv", 40, g.studies[:1])
        invalid.rows[len(invalid.rows) // 2][0] = "  "
        invalid.invalid = "blank study_id"
    else:
        invalid = g.file("invalid_missing_column.csv", 40, g.studies[:1])
        invalid.columns = [c for c in HEADER if c != "site_id"]
        invalid.invalid = "missing required column site_id"

    jobs = []
    for i in range(n_jobs):
        studies = g.rng.sample(g.studies, 2)
        jobs.append(
            g.file(
                f"job_{i:03d}.csv",
                job_rows,
                studies,
                resubmit_from=[r for r in hist.rows if r[0] in studies],
                resubmit_share=0.15,
            )
        )
    return ClinicalPlan(hist, invalid, jobs)


def expected_tables(files: list[CsvFile], streamed: frozenset[str] = frozenset()) -> dict:
    """Warehouse contents after ingesting ``files`` in order.

    Invalid files change nothing but their ledger row. Bronze keeps every
    row; silver keeps the first observation per natural key; gold keys are
    the (study, participant, site, type) groups with a numeric
    observation; quality rows are per job. Files named in ``streamed``
    came through the drop-folder stream, which writes no study or
    participant dimension rows."""
    bronze = 0
    silver_keys: set[tuple] = set()
    gold_keys: set[tuple] = set()
    studies: set[str] = set()
    participants: set[tuple] = set()
    quality: list[dict] = []
    for f in files:
        if f.invalid:
            continue
        bronze += len(f.rows)
        for r in f.rows:
            if f.name not in streamed:
                studies.add(r[0])
                participants.add((r[0], r[1]))
            for mtype, num in observations(r):
                silver_keys.add((r[0], r[1], mtype, r[5], r[6]))
                if num is not None:
                    gold_keys.add((r[0], r[1], r[6], mtype))
        quality.append({"file": f.name, "rules": quality_rules(f.rows)})
    return {
        "staging_clinical_measurements": bronze,
        "processed_measurements": len(silver_keys),
        "measurement_aggregations": len(gold_keys),
        "studies": len(studies),
        "participants": len(participants),
        "quality": quality,
        "must_fail": [f.name for f in files if f.invalid],
    }


def write_clinical(plan: ClinicalPlan, data_dir: Path, drop_dir: Path) -> None:
    """Write the history file under ``drop_dir`` and the API files under
    ``data_dir``."""
    data_dir.mkdir(parents=True, exist_ok=True)
    drop_dir.mkdir(parents=True, exist_ok=True)
    plan.history.write(drop_dir)
    for f in [plan.invalid, *plan.jobs]:
        f.write(data_dir)


def write_expected(plan: ClinicalPlan, path: Path) -> None:
    """Write the expected results as JSON: per-file rows, quality rules and
    validity, plus the table counts after every prefix of the plan."""
    files = plan.all_files()
    streamed = frozenset({plan.history.name})
    doc = {
        "files": [
            {
                "name": f.name,
                "rows": len(f.rows),
                "quality": quality_rules(f.rows),
                "must_fail": f.invalid,
            }
            for f in files
        ],
        "after_prefix": [
            {k: v for k, v in expected_tables(files[:n], streamed).items() if k != "quality"}
            for n in range(1, len(files) + 1)
        ],
    }
    path.write_text(json.dumps(doc, indent=1))


# -- document / embedding corpus -------------------------------------------
# Shaped after the program's sf0.1 testdata (documents.parquet and
# embeddings.parquet), as measured with DuckDB and NumPy: 5 000 documents of
# 10-99 words drawn uniformly from 30 words; 250 near-duplicate variants,
# each another document with " dup" appended (3-gram Jaccard >= 0.8 in
# 223 pairs, 9 triples and 1 quadruple; the 8 exact-copy pairs are two
# variants of the same document); 41 % "en" and
# about 15 % each of four other languages; 20 sources in turn; and 2 000
# uniformly random unit vectors of 64 dimensions with a random label 0-9.

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
N_DOCS = 5000
N_NEAR = 250  # near-duplicate variants
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (41, 15, 15, 15, 14)
N_SOURCES = 20
N_VECS = 2000
DIM = 64
N_LABELS = 10


def corpus(seed: int):
    """Documents with near-duplicate variants, and random unit vectors.

    Returns two pyarrow tables with the testdata schema of ``documents``
    and ``embeddings``."""
    import numpy as np
    import pyarrow as pa

    rng = random.Random(seed)
    texts = [
        " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 99))) for _ in range(N_DOCS)
    ]
    variants = rng.sample(range(N_DOCS), N_NEAR)
    originals = sorted(set(range(N_DOCS)) - set(variants))
    for i in variants:
        texts[i] = texts[rng.choice(originals)] + " dup"
    docs = pa.table(
        {
            "doc_id": pa.array(range(N_DOCS), pa.int64()),
            "text": texts,
            "lang": rng.choices(LANGS, LANG_WEIGHTS, k=N_DOCS),
            "source": [f"src{i % N_SOURCES}" for i in range(N_DOCS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    nrng = np.random.default_rng(seed)
    vecs = nrng.normal(size=(N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(range(N_VECS), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(nrng.integers(0, N_LABELS, size=N_VECS), pa.int32()),
        }
    )
    return docs, emb


def write_corpus(seed: int, out_dir: Path) -> None:
    import pyarrow.parquet as pq

    out_dir.mkdir(parents=True, exist_ok=True)
    docs, emb = corpus(seed)
    pq.write_table(docs, out_dir / "documents.parquet")
    pq.write_table(emb, out_dir / "embeddings.parquet")
