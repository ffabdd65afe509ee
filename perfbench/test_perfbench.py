"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

Run from the root of the repository.  The smoke tests run every workload
on tiny inputs, untraced and traced (one Spark process each, a few minutes
in all); the other tests need no Spark session.
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
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)

TINY_PAGED = {"configs": 2, "pages": 2, "rows_per_page": 20, "extra": 2, "keys": 5, "items": 3}
TINY_BULK = {"configs": 2, "rows": 400, "extra": 4, "keys": 8, "items": 4}
TINY_QUERY_SF = 0.001


@pytest.fixture
def tiny(monkeypatch):
    """Run the benchmark in this process, from the repository root, on tiny
    inputs; returns a runner giving the last stdout line as JSON and every
    line before it."""
    monkeypatch.chdir(ROOT)
    monkeypatch.setitem(run.WORKLOADS, "etl_paged", {"size": TINY_PAGED})
    monkeypatch.setitem(run.WORKLOADS, "etl_bulk", {"size": TINY_BULK})
    monkeypatch.setattr(gen, "QUERY_SF", TINY_QUERY_SF)

    def go(capsys, workload, trace=0):
        assert run.main(["--workload", workload, "--seed", "7", "--seconds", "1",
                         "--trace", str(trace)]) == 0
        lines = capsys.readouterr().out.strip().splitlines()
        return json.loads(lines[-1]), lines[:-1]

    return go


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_tiny_smoke_prints_every_metric_with_its_unit(tiny, capsys, workload, trace):
    out, report = tiny(capsys, workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    declared = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
        assert isinstance(out["metrics"][m["name"]]["value"], (int, float))
        assert f"  {m['name']} = " in "\n".join(report)
    if not trace:
        assert all(out["metrics"][m["name"]]["value"] > 0 for m in declared)
    assert "  failed_ratio = 0 ratio" in report


def test_corrupted_expected_value_fails_the_etl_check(tiny, capsys, monkeypatch):
    """The output check must catch a wrong answer: with the generator's
    impressions sum off by one, every op of the run fails."""
    real = gen.expected_output

    def corrupted(doc, rows):
        exp = real(doc, rows)
        exp["impressions"] += 1
        return exp

    monkeypatch.setattr(gen, "expected_output", corrupted)
    out, _ = tiny(capsys, "etl_paged")
    assert out["correct"] is False
    assert out["failed"] == out["attempted"] >= 1


def test_corrupted_oracle_row_fails_the_query_check(tmp_path):
    """A query result that differs from its DuckDB oracle in one value fails
    every op of that query; an equal one passes."""
    from social_warner_spark.queries import all_oracles
    from spans import Tracer
    from tests.oracle_harness import duck_connection
    from worker import Queries

    gen.generate_tables(7, tmp_path, TINY_QUERY_SF)
    name = "c7_range_join"
    tracer = Tracer()
    q = Queries(None, tracer, {"queries": [name], "inputs": str(tmp_path)})
    good = duck_connection(str(tmp_path)).execute(all_oracles()[name]).df()
    for batch in range(2):
        tracer.begin_op(name, f"b{batch}")
        tracer.end_op(batch, seconds=1.0, failed=False)

    q.first = {name: good}
    assert q.check()[name]["ok"]
    assert not any(op["failed"] for op in tracer.ops)

    bad = good.copy()
    col = bad.select_dtypes("number").columns[0]
    bad.loc[0, col] += 1
    q.first = {name: bad}
    assert not q.check()[name]["ok"]
    assert all(op["failed"] for op in tracer.ops)


def test_same_seed_same_inputs(tmp_path):
    a, b, c = (tmp_path / x for x in "abc")
    gen.generate_paged(3, a, TINY_PAGED)
    gen.generate_paged(3, b, TINY_PAGED)
    gen.generate_paged(4, c, TINY_PAGED)
    read = lambda d: (d / "pages.json").read_text()  # noqa: E731
    assert read(a) == read(b) != read(c)


def test_op_tail_has_ten_ops_beyond_it():
    assert run.op_tail(list(range(1, 31))) == (20, pytest.approx(100 * 20 / 30))
    assert run.op_tail([3.0, 1.0, 2.0]) == (3.0, 100.0)


def test_without_the_program_it_exits_nonzero_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                           "etl_paged", "--seed", "1", "--seconds", "1"],
                          cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
