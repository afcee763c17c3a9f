"""The benchmark's own tests, at the tiny input scale.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

- every workload, untraced and traced, prints each metric that
  ``BENCHMARK.json`` names (end-to-end or per-layer), with its unit, and
  passes its correctness check;
- a table tampered with before its check fails the run;
- without a ``binlake_spark`` package next to it the benchmark exits
  non-zero and prints no result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["replay_cow", "stream_mor_ivm", "wire_replay"]


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_named_metric_is_printed_with_its_unit(workload, trace):
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, proc.stderr[-4000:]
    assert result["failed"] == 0 and result["attempted"] >= 1
    named = _spec()["per_layer" if trace else "end_to_end"]
    for m in named:
        got = result["metrics"].get(m["name"])
        assert got is not None, m["name"]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float), m["name"]
    if not trace:
        assert all(result["metrics"][m["name"]]["value"] > 0 for m in named)


def _tamper(table) -> None:
    """Add 1 to the tokens of the first row with tokens in every data file
    the table's current snapshot references, and drop the file's Hadoop
    checksum, so that reads see the new content instead of failing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    snap = table.snapshot()
    for fl in [*snap["files"].values(), *snap.get("deltas", {}).values()]:
        for rel in fl:
            path = os.path.join(table.root, rel)
            t = pq.read_table(path)
            i = t.schema.get_field_index("tokens")
            toks = t.column(i).to_pylist()
            k = next((k for k, x in enumerate(toks) if x), None)
            if k is None:
                continue
            toks[k] = [x + 1 for x in toks[k]]
            t = t.set_column(i, t.schema.field(i), pa.array(toks, t.schema.field(i).type))
            pq.write_table(t, path)
            crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
            if os.path.exists(crc):
                os.remove(crc)


@pytest.mark.parametrize("workload", ["stream_mor_ivm", "wire_replay"])
def test_a_tampered_table_fails_the_run(workload, monkeypatch, capsys):
    sys.path.insert(0, ROOT)
    from perfbench import checks, run

    for name in ("table_vs_oracle", "stream_vs_sql"):
        def tampering(spark, table, *args, _check=getattr(checks, name)):
            _tamper(table)
            return _check(spark, table, *args)

        monkeypatch.setattr(checks, name, tampering)
    rc = run.main(["--workload", workload, "--seed", "3", "--seconds", "1",
                   "--trace", "0", "--scale", "tiny"])
    captured = capsys.readouterr()
    assert rc == 0
    result = json.loads(captured.out.strip().splitlines()[-1])
    assert result["correct"] is False
    assert result["failed"] == result["attempted"] >= 1
    assert result["metrics"] == {}
    assert "MISMATCH" in captured.err


def test_without_the_package_it_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("wire_replay", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
