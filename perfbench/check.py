"""Output checks, run after the timed section (off the clock).

Clinical runs are compared with two independent references:

* the generator's replay of the documented semantics
  (:func:`gen.expected_tables`): warehouse row counts, the three quality
  rules per job, and which jobs end ``failed``;
* DuckDB over the generated CSVs: the gold ``cnt``/``min_num``/``max_num``
  per key, and every sampled ``get_data`` response, against the bronze
  rows ingested up to that call.

Operator runs are checked per builder: the same rows on every call, and
the registry's DuckDB oracle or an exact brute-force reference (see
:func:`check_llm`).

Every function returns a list of human-readable mismatches; empty means
the outputs are correct.
"""

from __future__ import annotations

import hashlib
from collections import Counter
from pathlib import Path

import duckdb

from perfbench.gen import CsvFile, expected_tables, observations, quality_rules

TS_FMT = "%Y-%m-%dT%H:%M:%SZ"


def _table(wh: Path, name: str) -> str:
    return (
        f"read_parquet('{wh / name}/**/*.parquet', hive_partitioning=true, "
        "union_by_name=true)"
    )


def load_raw(con, ingested: list[tuple[str, CsvFile, Path]]) -> None:
    """Table ``raw``: every row of every successfully ingested CSV, with
    its ingestion sequence number, job id, file name and 1-based row
    number, read by DuckDB from the files on disk."""
    con.execute("SET threads TO 1")  # file order == insertion order
    con.execute(
        """CREATE OR REPLACE TABLE raw (seq INT, job_id VARCHAR, fname VARCHAR,
        row_num BIGINT, study_id VARCHAR, participant_id VARCHAR,
        measurement_type VARCHAR, value VARCHAR, unit VARCHAR, ts VARCHAR,
        site_id VARCHAR, quality_score VARCHAR)"""
    )
    for seq, (job_id, f, path) in enumerate(ingested):
        qs = "quality_score" if "quality_score" in f.columns else "NULL"
        con.execute(
            f"""INSERT INTO raw SELECT {seq}, ?, ?, row_number() OVER (),
            study_id, participant_id, measurement_type, value, unit, "timestamp",
            site_id, {qs}
            FROM read_csv('{path}', header=true, all_varchar=true, delim=',',
                          quote='"', auto_detect=false,
                          columns={{{", ".join(f"'{c}': 'VARCHAR'" for c in f.columns)}}})""",
            [job_id, f.name],
        )


_BP_OK = """(len(string_split(value, '/')) = 2
    AND regexp_matches(trim(string_split(value, '/')[1]), '^[+-]?[0-9]+$')
    AND regexp_matches(trim(string_split(value, '/')[2]), '^[+-]?[0-9]+$')
    AND TRY_CAST(trim(string_split(value, '/')[1]) AS BIGINT) BETWEEN 50 AND 250
    AND TRY_CAST(trim(string_split(value, '/')[2]) AS BIGINT) BETWEEN 30 AND 200)"""

GOLD_ORACLE = f"""
WITH r AS (
  SELECT *, measurement_type = 'blood_pressure' AND {_BP_OK} AS bp FROM raw),
obs AS (
  SELECT seq, study_id, participant_id, site_id,
         'blood_pressure_systolic' AS mtype,
         TRY_CAST(trim(string_split(value, '/')[1]) AS DECIMAL(14,4)) AS num
  FROM r WHERE bp
  UNION ALL
  SELECT seq, study_id, participant_id, site_id,
         'blood_pressure_diastolic',
         TRY_CAST(trim(string_split(value, '/')[2]) AS DECIMAL(14,4))
  FROM r WHERE bp
  UNION ALL
  SELECT seq, study_id, participant_id, site_id, measurement_type,
         TRY_CAST(NULLIF(trim(value), '') AS DECIMAL(14,4))
  FROM r WHERE NOT bp),
per_job AS (
  SELECT study_id, participant_id, site_id, mtype, seq, COUNT(*) AS cnt,
         MIN(num) AS mn, MAX(num) AS mx
  FROM obs WHERE num IS NOT NULL
  GROUP BY ALL)
SELECT study_id, participant_id, site_id, mtype,
       arg_max(cnt, seq) AS cnt, CAST(MIN(mn) AS DOUBLE) AS mn,
       CAST(MAX(mx) AS DOUBLE) AS mx
FROM per_job GROUP BY ALL
"""


def check_clinical(
    con,
    wh: Path,
    ingested: list[tuple[str, CsvFile, Path]],
    failed_jobs: dict[str, CsvFile],
    stream_jobs: dict[str, list[str]],
) -> list[str]:
    """Warehouse state after the run.

    ``ingested`` lists (job id, file, path) of the successful ingestions in
    order; ``failed_jobs`` maps the job id of each planted invalid
    submission to its file; ``stream_jobs`` maps each micro-batch job id to
    its file names. ``con`` holds ``raw`` (:func:`load_raw`) for the same
    ingestions."""
    errs: list[str] = []
    files = [f for _, f, _ in ingested]
    exp = expected_tables(files, frozenset(n for names in stream_jobs.values() for n in names))

    for table in (
        "staging_clinical_measurements",
        "processed_measurements",
        "measurement_aggregations",
        "studies",
        "participants",
    ):
        got = con.execute(f"SELECT COUNT(*) FROM {_table(wh, table)}").fetchone()[0]
        if got != exp[table]:
            errs.append(f"{table}: {got} rows, expected {exp[table]}")

    ledger = {
        r[0]: r[1:]
        for r in con.execute(
            f"SELECT id, filename, status, progress FROM {_table(wh, 'etl_jobs')}"
        ).fetchall()
    }
    want_jobs = {j: ("completed", f.name) for j, f, _ in ingested}
    for j, names in stream_jobs.items():
        want_jobs[j] = ("completed", ",".join(sorted(names)))
    want_jobs.update({j: ("failed", f.name) for j, f in failed_jobs.items()})
    if set(ledger) != set(want_jobs):
        errs.append(f"etl_jobs ids differ: {len(ledger)} rows, expected {len(want_jobs)}")
    for j, (status, name) in want_jobs.items():
        row = ledger.get(j)
        if row is None:
            continue
        if (row[1], row[0], row[2]) != (status, name, 100):
            errs.append(f"etl_jobs {j}: {row}, expected {status} {name} 100")

    quality: dict[str, dict[str, int]] = {}
    for job, rule, n in con.execute(
        f"SELECT job_id, rule_name, affected_rows FROM {_table(wh, 'data_quality_reports')}"
    ).fetchall():
        quality.setdefault(job, {})[rule] = n
    for j, f, _ in ingested:
        if quality.get(j, {}) != quality_rules(f.rows):
            errs.append(f"quality {j} ({f.name}): {quality.get(j)} != {quality_rules(f.rows)}")

    return errs + gold_mismatches(con, wh)


def gold_mismatches(con, wh: Path) -> list[str]:
    """Gold ``cnt``/``min_num``/``max_num`` against the DuckDB oracle over
    the rows in ``raw``."""
    oracle = set(con.execute(GOLD_ORACLE).fetchall())
    gold = set(
        con.execute(
            f"""SELECT study_id, participant_id, site_id, measurement_type, cnt,
            min_num, max_num FROM {_table(wh, 'measurement_aggregations')}"""
        ).fetchall()
    )
    if gold != oracle:
        return [
            f"gold cnt/min/max: {len(gold - oracle)} rows not in the DuckDB oracle, "
            f"{len(oracle - gold)} oracle rows missing"
        ]
    return []


DATA_COLS = (
    "jobId",
    "sourceFilename",
    "rowNum",
    "studyId",
    "participantId",
    "measurementType",
    "value",
    "unit",
    "timestamp",
    "siteId",
    "qualityScore",
)


def data_oracle(con, upto: int, filters: dict) -> list[tuple]:
    """``get_data`` over the bronze rows of the first ``upto`` ingestions:
    every matching row, without the limit."""
    where = [f"seq < {upto}"]
    params = []
    for col in ("study_id", "participant_id", "measurement_type"):
        if filters.get(col) is not None:
            where.append(f"{col} = ?")
            params.append(filters[col])
    if filters.get("start_date"):
        where.append("strptime(ts, ?) >= CAST(? AS TIMESTAMP)")
        params += [TS_FMT, filters["start_date"]]
    if filters.get("end_date"):
        where.append("strptime(ts, ?) <= CAST(? AS TIMESTAMP)")
        params += [TS_FMT, filters["end_date"]]
    sql = f"""SELECT job_id, fname, row_num, study_id, participant_id,
        measurement_type, coalesce(value, ''), NULLIF(trim(coalesce(unit, '')), ''),
        strftime(strptime(ts, '{TS_FMT}'), '%Y-%m-%dT%H:%M:%S'), site_id,
        CASE WHEN coalesce(quality_score, '') IN ('', 'null') THEN NULL
             ELSE TRY_CAST(quality_score AS DOUBLE) END
        FROM raw WHERE {' AND '.join(where)}"""
    return con.execute(sql, params).fetchall()


def check_data_response(con, upto: int, filters: dict, limit: int, resp: dict) -> list[str]:
    if not resp.get("success"):
        return [f"get_data failed: {resp.get('message')}"]
    got = [tuple(r[c] for c in DATA_COLS) for r in resp["data"]]
    want = data_oracle(con, upto, filters)
    if len(want) > limit or Counter(got) != Counter(want):
        return [f"get_data {filters}: {len(got)} rows differ from {len(want)} oracle rows"]
    return []


def check_status(resp: dict) -> list[str]:
    d = resp.get("data") or {}
    if not resp.get("success") or d.get("status") != "completed" or d.get("progress") != 100:
        return [f"job status {d}"]
    return []


def view_expectation(view: str, files: list[CsvFile], streamed: frozenset[str]) -> int | None:
    """Row count (or summed count) a view must return after ``files``."""
    if view == "v_recent_30d":
        return 0  # every generated timestamp lies in 2024
    ok = [f for f in files if not f.invalid]
    exp = expected_tables(ok, streamed)
    if view == "v_counts_by_site":
        return exp["processed_measurements"]
    if view == "v_participants_per_study":
        return exp["participants"]
    if view == "v_study_quality":  # over silver, which the stream also fills
        return len({r[0] for f in ok for r in f.rows})
    if view == "v_glucose_trend":
        days = set()
        for f in ok:
            for r in f.rows:
                for mtype, num in observations(r):
                    if mtype == "glucose" and num is not None:
                        days.add((r[0], r[1], r[5][:10]))
        return len(days)
    return None  # v_low_quality: which duplicate survives is unspecified


def view_measure(view: str, rows: list) -> int:
    if view == "v_counts_by_site":
        return sum(r["cnt"] for r in rows)
    if view == "v_participants_per_study":
        return sum(r["participants"] for r in rows)
    return len(rows)


# -- operator checks ----------------------------------------------------------


def rows_hash(rows: list[tuple]) -> str:
    """Order-insensitive digest of a result (floats rounded to 9 digits)."""

    def norm(v):
        if isinstance(v, float):
            return f"{v:.9g}"
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(norm(x) for x in v) + "]"
        return repr(v)

    lines = sorted("|".join(norm(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def check_llm(name: str, rows: list[dict], corpus_dir: Path, oracle_sql: str | None) -> list[str]:
    """One builder's result against an independent reference."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{corpus_dir / 'documents.parquet'}')"
    )
    try:
        if name == "dedup_exact_groups":
            want = Counter(con.execute(oracle_sql).fetchall())
            got = Counter((r["digest"], r["survivor_id"], r["n_members"]) for r in rows)
            return [] if got == want else [f"{name}: differs from the DuckDB oracle"]
        if name == "dedup_minhash_lsh":
            exact = {(a, b) for a, b, _ in con.execute(oracle_sql).fetchall()}
            got = {(r["id_a"], r["id_b"]) for r in rows}
            if not got <= exact:
                return [f"{name}: {len(got - exact)} pairs not in the exact Jaccard result"]
            if exact and len(got) / len(exact) < 0.9:
                return [f"{name}: recall {len(got)}/{len(exact)} below 0.9"]
            return []
        if name == "dedup_simhash":
            want = Counter(simhash_pairs(corpus_dir))
            got = Counter((r["id_a"], r["id_b"], r["hamming"]) for r in rows)
            if got != want:
                return [
                    f"{name}: {sum((got - want).values())} rows not in the brute-force "
                    f"result, {sum((want - got).values())} of its {len(want)} rows missing"
                ]
            return []
        if name == "ann_hnsw_topk":
            return _check_ann(rows, corpus_dir)[0]
    finally:
        con.close()
    return [f"{name}: no check defined"]


# -- SimHash reference ----------------------------------------------------------
# The operator's documented semantics, computed without Spark: a document's
# 64-bit signature has bit j set when more than half of its tokens (the
# lower-cased text split on whitespace) have bit j set in Spark's
# ``xxhash64`` (XXH64, seed 42, over the UTF-8 bytes); the result is every
# pair id_a < id_b whose signatures differ in at most 3 bits, the registry
# builder's ``max_hamming``. Identical texts always pair (Hamming 0).

SIMHASH_MAX_HAMMING = 3
SPARK_HASH_SEED = 42

_M64 = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87,
    0xC2B2AE3D27D4EB4F,
    0x165667B19E3779F9,
    0x85EBCA77C2B2AE63,
    0x27D4EB2F165667C5,
)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def xxh64(data: bytes) -> int:
    """XXH64 of ``data`` with Spark's seed, as an unsigned 64-bit integer."""
    seed = SPARK_HASH_SEED
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        while i + 32 <= n:
            for k in range(4):
                v[k] = _round(v[k], int.from_bytes(data[i : i + 8], "little"))
                i += 8
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for k in range(4):
            h = ((h ^ _round(0, v[k])) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        lane = _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h ^ lane, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        lane = (int.from_bytes(data[i : i + 4], "little") * _P1) & _M64
        h = (_rotl(h ^ lane, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M64), 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    return h ^ (h >> 32)


def simhash_pairs(corpus_dir: Path) -> list[tuple[int, int, int]]:
    """(id_a, id_b, hamming) of every SimHash near-duplicate pair, by brute force."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(corpus_dir / "documents.parquet", columns=["doc_id", "text"]).to_pydict()
    vocab: dict[str, int] = {}
    doc_of, tok = [], []
    for n, text in enumerate(t["text"]):
        words = text.strip().lower().split()
        doc_of += [n] * len(words)
        tok += [vocab.setdefault(w, len(vocab)) for w in words]
    n_docs, n_words = len(t["text"]), len(vocab)
    counts = np.bincount(  # (document, token) occurrence counts
        np.array(doc_of) * n_words + np.array(tok), minlength=n_docs * n_words
    ).reshape(n_docs, n_words).astype(np.float32)
    bits = np.array(
        [[(xxh64(w.encode()) >> j) & 1 for j in range(64)] for w in vocab], dtype=np.float32
    )
    sig = (2 * (counts @ bits) > counts.sum(axis=1, keepdims=True)).astype(np.float32)
    ones = sig.sum(axis=1)
    ids = np.array(t["doc_id"])
    out = []
    for lo in range(0, len(ids), 1000):
        ham = ones[lo : lo + 1000, None] + ones[None, :] - 2 * (sig[lo : lo + 1000] @ sig.T)
        for a, b in zip(*np.nonzero(ham <= SIMHASH_MAX_HAMMING)):
            if ids[lo + a] < ids[b]:
                out.append((int(ids[lo + a]), int(ids[b]), int(ham[a, b])))
    return out


#: HNSW is approximate. This is the registry's own recall gate
#: (``ann_hnsw_recall_gate``); the seed code's recall on this corpus was
#: 0.9-1.0 (median 1.0) over seeds 1-30. ``ann_recall`` reports the value.
ANN_RECALL_FLOOR = 0.8


def ann_recall(rows: list[dict], corpus_dir: Path) -> float:
    return _check_ann(rows, corpus_dir)[1]


#: ``ann_hnsw_topk`` returns this many neighbours of each query.
ANN_K = 5


def _check_ann(rows: list[dict], corpus_dir: Path) -> tuple[list[str], float]:
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(corpus_dir / "embeddings.parquet").to_pydict()
    ids = np.array(t["vec_id"])
    vecs = np.array(t["embedding"], dtype=np.float64)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pos = {int(i): n for n, i in enumerate(ids)}
    errs, hits, total = [], 0, 0
    by_q: dict[int, list[dict]] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    queries = [int(i) for i in ids if i < 10]
    if sorted(by_q) != queries:
        return [f"ann_hnsw_topk: queries {sorted(by_q)} != {queries}"], 0.0
    for q in queries:
        sims = vecs @ vecs[pos[q]]
        sims[pos[q]] = -np.inf
        exact = set(ids[np.argsort(-sims, kind="stable")[:ANN_K]].tolist())
        got = by_q[q]
        if len(got) != ANN_K:
            errs.append(f"ann_hnsw_topk: query {q} has {len(got)} neighbours")
        for r in got:
            if abs(r["cos_sim"] - sims[pos[r["neighbor_id"]]]) > 1e-5:
                errs.append(f"ann_hnsw_topk: cos_sim of ({q}, {r['neighbor_id']}) is not exact")
        hits += len(exact & {r["neighbor_id"] for r in got})
        total += ANN_K
    if hits / total < ANN_RECALL_FLOOR:
        errs.append(f"ann_hnsw_topk: recall {hits}/{total} below {ANN_RECALL_FLOOR}")
    return errs, hits / total
