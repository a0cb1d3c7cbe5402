"""Self-tests of the benchmark. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(REPO))

from perfbench import check, gen, metrics  # noqa: E402
from perfbench.run import result_line  # noqa: E402
from perfbench.workloads import Op, Result  # noqa: E402


def _small_plan(seed: int) -> gen.ClinicalPlan:
    return gen.clinical_plan(seed, history_rows=300, job_rows=60, n_jobs=2)


def _files(tmp: Path) -> list[Path]:
    return sorted(p for p in tmp.rglob("*") if p.is_file())


def test_generator_is_deterministic_per_seed(tmp_path):
    for run in ("a", "b"):
        gen.write_clinical(_small_plan(7), tmp_path / run / "data", tmp_path / run / "drop")
        gen.write_expected(_small_plan(7), tmp_path / run / "expected.json")
        gen.write_corpus(7, tmp_path / run / "corpus")
    a, b = _files(tmp_path / "a"), _files(tmp_path / "b")
    assert [p.relative_to(tmp_path / "a") for p in a] == [p.relative_to(tmp_path / "b") for p in b]
    for pa, pb in zip(a, b):
        assert pa.read_bytes() == pb.read_bytes(), pa.name
    other = _small_plan(8)
    assert other.history.rows != _small_plan(7).history.rows


def test_generator_covers_the_fixture_domain():
    plan = gen.clinical_plan(3)
    rows = [r for f in plan.all_files() for r in f.rows]
    values = [r[3] for r in rows if r[2] == "blood_pressure"]
    assert any("-" in v for v in values)  # dashed S-D
    assert any("/" not in v and "-" not in v for v in values)  # slash-less passthrough
    assert any(gen._bp(v) is None and "/" in v for v in values)  # out-of-range S/D
    assert {"", "null"} <= {r[7] for r in rows}
    assert any(r[4] != r[4].strip() for r in rows)  # padded units
    assert any(r[4] == "" for r in rows)  # missing units
    assert any("quality_score" not in f.columns for f in plan.all_files())
    keys = [(r[0], r[1], r[2], r[5], r[6]) for r in plan.jobs[0].rows]
    assert len(set(keys)) < len(keys)  # duplicate natural keys
    exp = gen.expected_tables(plan.all_files(), frozenset({plan.history.name}))
    assert exp["must_fail"] == [plan.invalid.name]
    assert all(q["rules"] for q in exp["quality"])


def _gold_warehouse(tmp_path, plant=None):
    """A gold table equal to the DuckDB oracle, optionally with one row
    altered by ``plant``; returns (connection with ``raw``, warehouse)."""
    plan = _small_plan(5)
    gen.write_clinical(plan, tmp_path / "data", tmp_path / "drop")
    ingested = [
        ("stream-0", plan.history, tmp_path / "drop" / plan.history.name),
        ("job-1", plan.jobs[0], tmp_path / "data" / plan.jobs[0].name),
    ]
    con = duckdb.connect()
    check.load_raw(con, ingested)
    rows = con.execute(check.GOLD_ORACLE).fetchall()
    if plant:
        rows[0] = plant(rows[0])
    con.execute(
        "CREATE TABLE g (study_id VARCHAR, participant_id VARCHAR, site_id VARCHAR, "
        "measurement_type VARCHAR, cnt BIGINT, min_num DOUBLE, max_num DOUBLE)"
    )
    con.executemany("INSERT INTO g VALUES (?, ?, ?, ?, ?, ?, ?)", rows)
    wh = tmp_path / "wh"
    (wh / "measurement_aggregations").mkdir(parents=True)
    con.execute(
        f"COPY g TO '{wh / 'measurement_aggregations'}' (FORMAT PARQUET, PARTITION_BY (study_id))"
    )
    return con, wh


def test_checker_accepts_the_oracle_and_fails_on_a_planted_wrong_row(tmp_path):
    con, wh = _gold_warehouse(tmp_path / "ok")
    assert check.gold_mismatches(con, wh) == []
    con, wh = _gold_warehouse(tmp_path / "bad", lambda r: (*r[:4], r[4] + 1, *r[5:]))
    assert check.gold_mismatches(con, wh)


def test_data_check_fails_on_a_planted_wrong_row(tmp_path):
    con, _ = _gold_warehouse(tmp_path)
    study = con.execute("SELECT study_id FROM raw LIMIT 1").fetchone()[0]
    filters = {"study_id": study, "measurement_type": "glucose"}
    want = check.data_oracle(con, 2, filters)
    resp = {"success": True, "data": [dict(zip(check.DATA_COLS, r)) for r in want]}
    assert want and check.check_data_response(con, 2, filters, 1000, resp) == []
    resp["data"][0]["value"] = "999999"
    assert check.check_data_response(con, 2, filters, 1000, resp)


def test_simhash_check_fails_on_a_missing_or_wrong_pair(tmp_path):
    gen.write_corpus(11, tmp_path)
    ref = check.simhash_pairs(tmp_path)
    rows = [{"id_a": a, "id_b": b, "hamming": h} for a, b, h in ref]
    assert check.check_llm("dedup_simhash", rows, tmp_path, None) == []
    texts = duckdb.sql(
        f"SELECT text, list(doc_id ORDER BY doc_id) FROM '{tmp_path / 'documents.parquet'}' "
        "GROUP BY text HAVING count(*) > 1"
    ).fetchall()
    same = {(ids[0], ids[1]) for _, ids in texts}
    assert same and same <= {(a, b) for a, b, h in ref if h == 0}  # identical texts pair
    dropped = [r for r in rows if (r["id_a"], r["id_b"]) not in same]
    assert check.check_llm("dedup_simhash", dropped, tmp_path, None)
    rows[0] = {**rows[0], "hamming": rows[0]["hamming"] + 1}
    assert check.check_llm("dedup_simhash", rows, tmp_path, None)


def test_printed_metrics_match_benchmark_json():
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == metrics.END_TO_END
    assert layer == metrics.PER_LAYER
    for name, unit in [*e2e.items(), *layer.items()]:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", name), name
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", unit), unit
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)

    res = Result(setup_s=1.5, ops=[Op(2.0, 300), Op(3.0, 300, failed=True)], wall_s=5.0)
    line = result_line(res, metrics.end_to_end(res), metrics.END_TO_END)
    assert {k: v["unit"] for k, v in line["metrics"].items()} == e2e
    assert (line["correct"], line["attempted"], line["failed"]) == (False, 2, 1)
    line = result_line(res, metrics.per_layer([], res), metrics.PER_LAYER)
    assert {k: v["unit"] for k, v in line["metrics"].items()} == layer


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(REPO / "BENCHMARK.json", tmp_path)
    shutil.copytree(REPO / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    proc = subprocess.run(
        [*spec["command"], "--workload", spec["workloads"][0]["name"], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
