"""The benchmark's own tests: generator determinism, declared metric
names, the CPU meter, and a tiny run of every workload through its
correctness gate.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import csv
import hashlib
import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_food_csv_same_seed_same_bytes_and_counts(tmp_path):
    a = gen.write_food_csv(str(tmp_path / "a.csv"), 5_000, seed=3)
    b = gen.write_food_csv(str(tmp_path / "b.csv"), 5_000, seed=3)
    c = gen.write_food_csv(str(tmp_path / "c.csv"), 5_000, seed=4)
    assert a == b
    assert _digest(tmp_path / "a.csv") == _digest(tmp_path / "b.csv")
    assert _digest(tmp_path / "a.csv") != _digest(tmp_path / "c.csv")


def test_food_csv_counts_match_the_file(tmp_path):
    """The expected counts agree with a plain re-parse of the bytes, and
    the FIXTURES.md section 1 quirks are all present."""
    path = tmp_path / "f.csv"
    got = gen.write_food_csv(str(path), 20_000, seed=11)
    raw = path.read_bytes()
    assert raw.startswith(b"\xef\xbb\xbf") and b"restaurnt" in raw.split(b"\n")[0]
    with open(path, encoding="utf-8-sig", newline="") as f:
        rows = list(csv.reader(f))[1:]
    short = [r for r in rows if len(r) < 11]
    delivered = [r for r in rows if len(r) == 11 and r[8].lower() == "delivered"]
    assert got == gen.FoodCounts(len(rows), len(delivered), len(rows) - len(delivered), len(short))
    full = [r for r in rows if len(r) == 11]
    assert 0.9 < sum(r[4].endswith(":") for r in full) / len(full) < 0.97
    assert any("E+" in r[3] for r in full)
    assert any(set("?%&") & set(",".join(r)) for r in full)
    assert any(r[8] == "Not delivered" for r in full)


def test_tables_same_seed_same_bytes(tmp_path):
    a = gen.write_tables(str(tmp_path / "a"), 0.001, seed=5)
    b = gen.write_tables(str(tmp_path / "b"), 0.001, seed=5)
    assert a == b and set(a) == set(gen.TABLES)
    for t in gen.TABLES:
        assert _digest(tmp_path / "a" / f"{t}.parquet") == _digest(tmp_path / "b" / f"{t}.parquet")


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_declared_names_are_well_formed():
    spec = _declared()
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)


# Runs in a session of its own, as the launcher runs a workload: a
# mapInPandas job whose Python workers each burn 0.5 s of CPU per batch.
_METER_PROBE = r"""
import json, os, sys, time
sys.path.insert(0, sys.argv[1])
from workloads import cpu_s
from gcp_food_delivery_data_pipeline_spark import session

def burn(batches):
    import pandas as pd
    for _ in batches:
        t = time.process_time()
        while time.process_time() - t < 0.5:
            pass
        yield pd.DataFrame({"cpu": [time.process_time() - t]})

spark = session.get_spark(app_name="perfbench-meter")
df = spark.range(0, 8, 1, 8).mapInPandas(burn, "cpu double")
df.collect()  # the first run also pays for the JVM's JIT, which would hide a miss
before = cpu_s()
workers = sum(r.cpu for r in df.collect())
measured = cpu_s() - before
spark.stop()
print(json.dumps({"workers": workers, "measured": measured}))
"""


def test_cpu_meter_counts_the_python_workers():
    """PySpark's daemon moves its workers into a process group of their
    own; the CPU they use in a mapInPandas job still reaches the meter."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="512m",
               PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    proc = subprocess.run([sys.executable, "-c", _METER_PROBE, BENCH], cwd=ROOT, env=env,
                          capture_output=True, text=True, timeout=300, start_new_session=True)
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().split("\n")[-1])
    assert got["workers"] >= 3.6
    assert got["measured"] >= 0.9 * got["workers"], got


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().split("\n")
    return json.loads(lines[-1]), json.loads(lines[-2])["perfbench"]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in _declared()["workloads"]])
def test_tiny_run_passes_its_gate_and_emits_declared_names(workload, trace):
    result, info = _run(workload, trace)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, info["errors"]
    section = "per_layer" if trace else "end_to_end"
    declared = {m["name"]: m["unit"] for m in _declared()[section]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    assert all(NAME.fullmatch(k) for k in info["metrics"])
    assert info["metrics"]["failed_frac"]["value"] == 0.0
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
