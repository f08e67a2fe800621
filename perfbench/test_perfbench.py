"""The benchmark's own tests: deterministic inputs, expected answers that
match a real pipeline run, and metric names that match BENCHMARK.json.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import metrics, rues_gen, tables_gen
from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _rues_files(base, seed: int) -> list[str]:
    gen = rues_gen.RuesGenerator(seed, 500)
    os.makedirs(base)
    gen.write_base(f"{base}/base.csv")
    gen.write_catalogs(str(base))
    gen.write_update_batch(f"{base}/batch.csv", 50)
    return sorted(os.listdir(base))


def test_rues_generator_is_deterministic(tmp_path):
    names = _rues_files(tmp_path / "a", 3)
    assert names == _rues_files(tmp_path / "b", 3)
    for n in names:
        assert _digest(tmp_path / "a" / n) == _digest(tmp_path / "b" / n)
    _rues_files(tmp_path / "c", 4)
    assert _digest(tmp_path / "a" / "base.csv") != _digest(tmp_path / "c" / "base.csv")


def test_tables_generator_is_deterministic(tmp_path):
    a = tables_gen.generate(str(tmp_path / "a"), 5, sf=0.002)
    b = tables_gen.generate(str(tmp_path / "b"), 5, sf=0.002)
    assert a == b
    for t in a:
        assert _digest(tmp_path / "a" / f"{t}.parquet") == _digest(tmp_path / "b" / f"{t}.parquet")


def test_generator_reproduces_fixture_pathologies(tmp_path):
    gen = rues_gen.RuesGenerator(1, 3000)
    gen.write_base(str(tmp_path / "base.csv"))
    exp = gen.expected()
    v = exp["validation"]
    for rule in ("fecha_matricula_null", "fecha_renovacion_null", "codigo_identificacion_null",
                 "actividad_economica_null", "antiguedad_negativa", "matricula_null"):
        assert v[rule] > 0, rule
    assert exp["orphans"] == [None]
    raw = (tmp_path / "base.csv").read_text(encoding="utf-8")
    assert "21590" in raw and "/" in raw  # golden record, ts9 dates
    assert any(c.startswith("0") for c, _ in gen.ciiu)
    assert exp["silver_rows"] < raw.count("\n") - 1  # older duplicates


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    from big_data_processing_with_aws_glue_workshop_spark.session import get_session

    s = get_session(app_name="perfbench-tests")
    yield s
    s.stop()


def test_expected_answers_match_a_tiny_medallion_pass(tmp_path, spark):
    from perfbench.workloads import MedallionBuild

    wl = MedallionBuild(str(tmp_path), 7, Tracer(enabled=False), keys=400)
    wl.generate()
    wl.setup(spark)
    wl.check_op("build", wl.run_op("build"))  # raises CheckFailed on a mismatch


def test_refresh_matches_bookkeeping_and_full_rebuild(tmp_path, spark):
    from perfbench.workloads import MedallionRefresh

    wl = MedallionRefresh(str(tmp_path), 7, Tracer(enabled=False), keys=300, batch_rows=40)
    wl.generate()
    wl.setup(spark)
    wl.warm_up()
    for op in ["write", "read", "write", "read"]:
        wl.prepare(op)
        wl.check_op(op, wl.run_op(op))
    wl.final_check()


def test_metric_specs_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in doc["workloads"]] == list(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in doc["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in doc["per_layer"]} == metrics.PER_LAYER


@pytest.mark.parametrize(
    "workload,trace", [("query_mix", 0), ("query_mix", 1), ("medallion_build", 1)]
)
def test_command_prints_exactly_the_named_metrics(workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True,
    ).stdout.strip().splitlines()
    res = json.loads(out[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0
    named = {m["name"]: m["unit"] for m in doc["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == named


def test_command_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
