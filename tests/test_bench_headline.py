"""The bench's final headline line stays under 1900 chars whatever the
per-query values look like: re-round ``queries`` to 2, then 1 decimals,
then drop it."""

from __future__ import annotations

import json

from bench import _headline_line


def _short(times: dict) -> dict:
    return {
        "metric": "declared_query_suite_wall_seconds",
        "value": round(sum(times.values()), 4),
        "queries": {n: round(v, 3) for n, v in times.items()},
    }


def test_narrow_queries_keep_three_decimals():
    times = {f"q{i:02d}": 0.123456 for i in range(50)}
    line = _headline_line(_short(times), times)
    assert len(line) < 1900
    assert json.loads(line)["queries"]["q00"] == 0.123


def test_wide_queries_rerounded_then_dropped():
    # 50 long names with 3-dp values overflow; 1 dp fits
    times = {f"q{i:02d}_" + "x" * 20: 1234.56789 for i in range(50)}
    assert len(json.dumps(_short(times))) >= 1900
    line = _headline_line(_short(times), times)
    assert len(line) < 1900
    assert json.loads(line)["queries"][f"q00_{'x' * 20}"] == 1234.6
    # so many names that even 1 dp overflows: queries is dropped
    times = {f"q{i:03d}_" + "x" * 40: 1234.56789 for i in range(80)}
    line = _headline_line(_short(times), times)
    assert len(line) < 1900
    out = json.loads(line)
    assert "queries" not in out and out["metric"].startswith("declared")
