"""Smoke test of the benchmark itself, at toy size (50 series; 2 queries on
sf0.001 tables).  Run from the repository root:

    python3 -m pytest perfbench/test_smoke.py -q

It checks that every metric named in BENCHMARK.json prints with its unit
in both modes, that the result line is well formed, and that the fleet
checker flags a perturbed or missing ``y_hat``.
"""

from __future__ import annotations

import json
import os
import sys
import warnings

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402 — first: it pins BLAS before numpy loads

run._isolate_scratch()

import pytest  # noqa: E402

import gen  # noqa: E402
import workloads  # noqa: E402

TOY = {
    "toy_fleet": lambda: workloads.Fleet(
        "toy_fleet", n_series=50, n_years=10, start_year=2000, replay_n=5
    ),
    "toy_queries": lambda: workloads.RegistryQueries(
        "toy_queries", ["disagg_reagg_check", "prorata_disagg"], sf=0.001
    ),
}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _solved_fleet(n_series: int = 6):
    """A fleet output produced by the library API, without Spark."""
    import pandas as pd

    from tsdisagg_spark.disagg import disaggregate_full

    low, ind = gen.fleet_tables(seed=3, n_series=n_series, n_years=10, start_year=2000)
    parts = []
    for sid in range(n_series):
        low_df, high_df, kw = workloads._frames(
            low[low["series_id"] == sid], ind[ind["series_id"] == sid], ["x1"]
        )
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            y_hat = disaggregate_full(low_df, high_df, verbose=False, **kw)["output"]
        parts.append(pd.DataFrame({"series_id": sid, "ts": y_hat.index, "y_hat": y_hat.to_numpy()}))
    return low, pd.concat(parts, ignore_index=True)


def test_checker_passes_then_flags_perturbed_and_missing_output():
    low, out = _solved_fleet()
    assert workloads.check_fleet(out, low, 120) == {}

    perturbed = out.copy()
    perturbed.loc[perturbed.index[130], "y_hat"] += 1e-3  # series 1
    assert set(workloads.check_fleet(perturbed, low, 120)) == {1}

    missing = out[out["series_id"] != 4]
    assert set(workloads.check_fleet(missing, low, 120)) == {4}

    short = out.drop(out.index[250])  # series 2 loses a month
    assert set(workloads.check_fleet(short, low, 120)) == {2}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(TOY))
def test_every_metric_prints_with_unit(monkeypatch, capsys, workload, trace):
    monkeypatch.setattr(workloads, "WORKLOADS", {**workloads.WORKLOADS, **TOY})
    spec = _spec()
    want = spec["per_layer"] if trace else spec["end_to_end"]
    code = run.main(
        ["--workload", workload, "--seed", "5", "--seconds", "1", "--trace", str(trace)]
    )
    assert code == 0
    lines = capsys.readouterr().out.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        # the human-readable line too: "<name> = <value> <unit>"
        assert any(
            line.startswith(f"{m['name']} = ") and line.endswith(f" {m['unit']}")
            for line in lines
        ), m["name"]
