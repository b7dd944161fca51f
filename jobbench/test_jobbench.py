"""Tests of the job benchmark itself.

    python3 -m pytest jobbench -q -p no:cacheprovider

The last two tests run the benchmark end to end (about a minute each).
"""
from __future__ import annotations

import json
import pathlib
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import digest  # noqa: E402
import workloads  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _output_schema() -> pa.Schema:
    """The job's output columns: the input table's, then the extraction
    UDF's struct fields."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from ocr_spark.functions.udfs import EXTRACT_SCHEMA

    inputs = workloads._synth().SCHEMA
    return pa.schema(list(inputs) + list(to_arrow_schema(EXTRACT_SCHEMA)))


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_same_seed_gives_byte_identical_inputs(tmp_path, workload):
    a = workloads.make(workload, 7, tmp_path / "a")
    b = workloads.make(workload, 7, tmp_path / "b")
    c = workloads.make(workload, 8, tmp_path / "c")
    assert a == b and a["files"] == workloads.FILES
    names = sorted(p.name for p in (tmp_path / "a").glob("*.parquet"))
    assert names == sorted(p.name for p in (tmp_path / "b").glob("*.parquet"))
    for n in names:
        assert (tmp_path / "a" / n).read_bytes() == (tmp_path / "b" / n).read_bytes()
    assert any(
        (tmp_path / "a" / n).read_bytes() != (tmp_path / "c" / n).read_bytes() for n in names
    )


def _expected_output(input_dir: pathlib.Path, out_dir: pathlib.Path) -> None:
    """Write what the job should write for ``input_dir``, computed in-process."""
    from ocr_spark.functions.textops import extract_turn

    rows = []
    for r in pq.read_table(input_dir).to_pylist():
        x = extract_turn(r["text"])
        x["spans"] = [{"start": s, "end": e, "kind": k} for s, e, k in x["spans"]]
        rows.append({**r, **x})
    (out_dir / "group=0").mkdir(parents=True)
    pq.write_table(
        pa.Table.from_pylist(rows, schema=_output_schema()),
        out_dir / "group=0" / "part-0.parquet",
        compression="none", use_dictionary=False,
    )


def test_digest_catches_a_single_byte_edit(tmp_path):
    full = tmp_path / "full"
    workloads.make("hot_conversation", 3, full)
    small = tmp_path / "input"
    small.mkdir()
    pq.write_table(pq.read_table(full / "part-0000.parquet").slice(0, 150), small / "part-0000.parquet")
    ref = digest.reference_hashes(small, workers=1)

    out = tmp_path / "out"
    _expected_output(small, out)
    ok = digest.check(ref, out)
    assert ok["failed"] == 0 and ok["digest_ok"] and ok["keys_equal"]

    # flip one byte of one row's normalized_text inside a copy of the file
    edited = tmp_path / "edited"
    shutil.copytree(out, edited)
    path = edited / "group=0" / "part-0.parquet"
    target = next(
        t for t in pq.read_table(path).column("normalized_text").to_pylist() if len(t) > 40
    ).encode()
    blob = bytearray(path.read_bytes())
    at = blob.find(target) + 20
    blob[at] = ord("#") if blob[at] != ord("#") else ord("%")
    path.write_bytes(bytes(blob))

    bad = digest.check(ref, edited)
    assert bad["mismatched"] >= 1 and bad["failed"] >= 1
    assert not bad["digest_ok"]


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_printer_emits_every_declared_metric(trace, section):
    pytest.importorskip("pyspark")
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", "tool_turns",
         "--seed", "5", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = {m["name"]: m["unit"] for m in SPEC[section]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
