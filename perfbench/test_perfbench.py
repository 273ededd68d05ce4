"""Tests of the benchmark itself (no engine needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import run  # noqa: E402
from oracle import fold_chain, same_rows  # noqa: E402
from spans import per_layer_names  # noqa: E402
from workloads import Job, Result  # noqa: E402

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def _bytes(path: str) -> bytes:
    with open(path, "rb") as fh:
        return fh.read()


def test_genome_is_deterministic_per_seed(tmp_path):
    a = gen.make_genome(7, str(tmp_path / "a.txt"))
    b = gen.make_genome(7, str(tmp_path / "b.txt"))
    c = gen.make_genome(8, str(tmp_path / "c.txt"))
    assert _bytes(str(tmp_path / "a.txt")) == _bytes(str(tmp_path / "b.txt"))
    assert _bytes(str(tmp_path / "a.txt")) != _bytes(str(tmp_path / "c.txt"))
    assert a.chains == b.chains and a.chains != c.chains
    # same shape on every seed: only the draws change
    assert sorted(map(len, a.chains)) == sorted(map(len, c.chains))


def test_genome_chains_are_what_the_file_says(tmp_path):
    g = gen.make_genome(3, str(tmp_path / "r.txt"))
    lines = {int(l.split()[0]): l.split() for l in open(tmp_path / "r.txt")}
    assert set(lines) == set(g.reads)
    for chain in g.chains:
        for parent, child in zip(chain, chain[1:]):
            succ = [int(x) for x in lines[parent][5:]]
            assert child in succ
            # the chain child outscores every decoy sibling
            assert all(g.reads[child].score > g.reads[d].score for d in succ if d != child)
        assert g.best_next[chain[-1]] == 0


def test_tables_are_deterministic_per_seed(tmp_path):
    gen.make_tables(5, str(tmp_path / "a"), 0.002)
    gen.make_tables(5, str(tmp_path / "b"), 0.002)
    gen.make_tables(6, str(tmp_path / "c"), 0.002)
    for name in ("lineitem", "documents", "events", "embeddings"):
        a = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        assert a.equals(pq.read_table(tmp_path / "b" / f"{name}.parquet"))
        c = pq.read_table(tmp_path / "c" / f"{name}.parquet")
        assert a.num_rows == c.num_rows and not a.equals(c)


def test_fold_oracle_merge_cases():
    # B (overlap), C (1-base overlap), D (gap) on a forward chain
    assert fold_chain([(0, 4, "ACGT"), (2, 4, "GTTA")]) == (0, 6, "ACGTTA")
    assert fold_chain([(0, 4, "ACGT"), (3, 3, "TCC")]) == (0, 6, "ACGTCC")
    assert fold_chain([(0, 2, "AC"), (4, 2, "GG")]) == (0, 6, "ACNNGG")


def test_same_rows_is_order_insensitive_and_strict():
    assert same_rows([(1, 2.0), (0, "x")], [(0, "x"), (1, 2.0000000001)])
    assert not same_rows([(1, 2.0)], [(1, 2.01)])
    assert not same_rows([(1,)], [(1,), (1,)])


class _Planted:
    """A two-job workload whose second job returns a wrong answer."""

    item = "things"

    def pass_jobs(self, pass_no):
        return [
            Job("right", lambda: Result(41 + 1, 3), lambda out: out == 42),
            Job("wrong", lambda: Result(41, 3), lambda out: out == 42),
            Job("raises", _boom, lambda out: True),
        ]


def _boom():
    raise RuntimeError("planted failure")


def test_planted_wrong_answer_counts_as_failed():
    runner = run.Runner(spark=None, workload=_Planted())
    runner.run_pass(measured=False)
    runner.run_pass(measured=True)
    runner.verdicts()
    out = run.result(runner.outcomes, {})
    assert out["attempted"] == 3 and out["failed"] == 2 and out["correct"] is False
    metrics, lines = run.end_to_end_report(runner.outcomes, 1.0, 100.0, "things")
    assert any(l.strip().startswith("error_rate = 0.666667") for l in lines)


def _benchmark() -> dict:
    with open(BENCHMARK) as fh:
        return json.load(fh)


def test_every_end_to_end_metric_is_reported_with_unit_and_count():
    runner = run.Runner(spark=None, workload=_Planted())
    runner.run_pass(measured=True)
    runner.verdicts()
    metrics, lines = run.end_to_end_report(runner.outcomes, 12.5, 900.0, "things")
    declared = {m["name"]: m["unit"] for m in _benchmark()["end_to_end"]}
    assert {n: m["unit"] for n, m in metrics.items()} == declared
    for name in declared:
        (line,) = [l for l in lines if l.strip().startswith(f"{name} = ")]
        assert declared[name] in line and "(" in line and any(ch.isdigit() for ch in line.split("(")[1])
        assert metrics[name]["value"] > 0


def test_per_layer_metrics_match_the_benchmark_file():
    declared = [(m["name"], m["unit"]) for m in _benchmark()["per_layer"]]
    assert declared == per_layer_names()
    metrics, lines = run.per_layer_report({n: 1.0 for n, _ in declared}, 2)
    assert list(metrics) == [n for n, _ in declared] and len(lines) == len(declared)


@pytest.mark.parametrize("n, p", [(5, 0.5), (20, 0.5), (40, 0.75), (100, 0.9)])
def test_tail_has_ten_samples_beyond_once_there_are_twenty(n, p):
    got_p, value, beyond = run.tail([float(i) for i in range(n)])
    assert got_p == pytest.approx(p)
    assert beyond == (10 if n >= 20 else n // 2)
