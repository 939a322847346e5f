"""bench.py's last stdout line must fit whole inside the 2000-byte
stdout tail its consumers keep."""

from __future__ import annotations

import json

import bench


def _full(names: list[str], sec: float) -> dict:
    return {
        "metric": "headline_queries_total_wall_sec",
        "value": round(sec * len(names), 3),
        "queries": {n: sec for n in names},
        "sf": 0.1,
    }


def test_headline_contract_line_fits():
    """The current headline set keeps its per-query map, even with every
    row at a two-digit steady median."""
    line = bench.contract_line(_full(bench.HEADLINE, 12.34))
    assert len(line.encode()) <= bench.CONTRACT_LINE_MAX_BYTES
    assert set(json.loads(line)["queries"]) == set(bench.HEADLINE)


def test_oversized_contract_line_falls_back_to_totals(capsys):
    names = [f"{n}_{i}" for i in range(3) for n in bench.HEADLINE]
    line = bench.contract_line(_full(names, 12.34))
    got = json.loads(line)
    assert "queries" not in got
    assert got["metric"] == "headline_queries_total_wall_sec" and got["value"] > 0
    assert "totals only" in capsys.readouterr().err
