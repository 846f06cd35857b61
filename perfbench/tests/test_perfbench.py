"""The benchmark's own tests. Each runs perfbench/run.py with the
standard arguments, at ``--tiny`` input size:

- every workload emits every metric BENCHMARK.json names, with its
  unit, in both the end-to-end (``--trace 0``) and the per-layer
  (``--trace 1``) run, and the outputs match the oracle;
- a corrupted bucket in the cached oracle makes the run report a
  failed bucket and exit non-zero;
- a committed bucket file whose ``extracted_text`` is tampered with
  (its ``row_hash`` left as written) fails the read-back check;
- a directory holding only the benchmark (no program) exits non-zero
  without printing a result.

Run from the repository root (about 10 minutes on 4 cores):

    python3 -m pytest perfbench/tests -q
"""

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import inputs  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKDIR = ROOT / ".perfbench_work" / "selftest"


def _run(*args, cwd=ROOT, workdir=WORKDIR):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "1", "--seconds", "1",
         "--tiny", "--workdir", str(workdir), *args],
        cwd=cwd, capture_output=True, text=True, timeout=400)


def _result(proc) -> dict:
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace,key", [(0, "end_to_end"), (1, "per_layer")])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_emits_every_metric(workload, trace, key):
    proc = _run("--workload", workload, "--trace", str(trace))
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = _result(proc)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC[key]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want
    for v in res["metrics"].values():
        assert isinstance(v["value"], (int, float))


@pytest.fixture(scope="module")
def chat_run():
    """A passing tiny chat_turns run in a work directory of its own:
    (work directory, a copy of its oracle, a copy of its last output)."""
    workdir = WORKDIR / "negative"
    shutil.rmtree(workdir, ignore_errors=True)
    proc = _run("--workload", "chat_turns", "--trace", "0", workdir=workdir)
    assert proc.returncode == 0, proc.stderr[-3000:]
    oracle_file, = workdir.glob("inputs/*/oracle.json")
    shutil.copytree(workdir / "run" / "out", workdir / "good_out")
    return workdir, json.loads(oracle_file.read_text()), \
        workdir / "good_out"


def test_corrupted_oracle_bucket_fails(chat_run):
    workdir, oracle, _ = chat_run
    oracle_file, = workdir.glob("inputs/*/oracle.json")
    bad = json.loads(oracle_file.read_text())
    bad["buckets"]["0"][1] ^= 1
    oracle_file.write_text(json.dumps(bad))
    try:
        proc = _run("--workload", "chat_turns", "--trace", "0",
                    workdir=workdir)
    finally:
        oracle_file.write_text(json.dumps(oracle))
    assert proc.returncode != 0
    res = _result(proc)
    assert res["correct"] is False
    assert res["failed"] > 0 and res["failed"] / res["attempted"] > 0


def test_tampered_output_bucket_fails_readback(chat_run, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import SparkSession

    _, oracle, good = chat_run
    out = tmp_path / "out"
    shutil.copytree(good, out)
    spark = SparkSession.builder.master("local[2]") \
        .config("spark.ui.enabled", "false").getOrCreate()
    try:
        checked, bad = inputs.readback_mismatches(spark, str(out), oracle,
                                                  include_raw=False)
        assert checked == len(oracle["buckets"]) and bad == []
        # change one row's text; leave the row_hash the program wrote
        f = sorted(out.glob("partition_id=*/*.parquet"))[0]
        t = pq.read_table(f)
        i = t.schema.get_field_index("extracted_text")
        text = t.column(i).to_pylist()
        text[0] += " tampered"
        pq.write_table(t.set_column(i, t.field(i),
                                    pa.array(text, t.field(i).type)), f)
        # drop the stale checksum sidecar Hadoop's local file system
        # would otherwise reject the rewritten file with
        (f.parent / f".{f.name}.crc").unlink(missing_ok=True)
        _, bad = inputs.readback_mismatches(spark, str(out), oracle,
                                            include_raw=False)
    finally:
        spark.stop()
    assert bad == [f.parent.name.split("=", 1)[1]]


def test_without_program_exits_nonzero_without_result(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    for p in SPEC["paths"]:
        shutil.copytree(ROOT / p, tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [*SPEC["command"], "--workload", SPEC["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
