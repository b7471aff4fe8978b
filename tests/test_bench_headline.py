"""The bench's final headline line stays under 1900 chars whatever the
per-query values look like: re-round ``queries`` to 2, then 1 decimals,
then drop it. A section that raises is recorded, not dropped."""

from __future__ import annotations

import json

from bench import _headline_line, _run_sections


def _short(times: dict) -> dict:
    return {
        "metric": "declared_query_suite_wall_seconds",
        "value": round(sum(times.values()), 4),
        "cpus_requested": "32",
        "default_parallelism": 32,
        "queries": {n: round(v, 3) for n, v in times.items()},
        "n_section_errors": 0,
    }


def test_narrow_queries_keep_three_decimals():
    times = {f"q{i:02d}": 0.123456 for i in range(50)}
    line = _headline_line(_short(times), times)
    assert len(line) < 1900
    out = json.loads(line)
    assert out["queries"]["q00"] == 0.123 and out["n_section_errors"] == 0
    assert (out["cpus_requested"], out["default_parallelism"]) == ("32", 32)


def test_wide_queries_rerounded_then_dropped():
    # 50 long names with 3-dp and 2-dp values overflow; 1 dp fits
    times = {f"q{i:02d}_" + "x" * 18: 1234.56789 for i in range(50)}
    assert len(json.dumps(_short(times))) >= 1900
    line = _headline_line(_short(times), times)
    assert len(line) < 1900
    assert json.loads(line)["queries"][f"q00_{'x' * 18}"] == 1234.6
    # so many names that even 1 dp overflows: queries is dropped
    times = {f"q{i:03d}_" + "x" * 40: 1234.56789 for i in range(80)}
    line = _headline_line(_short(times), times)
    assert len(line) < 1900
    out = json.loads(line)
    assert "queries" not in out and out["metric"].startswith("declared")
    assert out["n_section_errors"] == 0


def test_failing_section_is_recorded_and_the_rest_still_run():
    def broken(*args):
        # a JVM error's message ends in its Java stack: recorded without it
        raise ValueError("no such dir\n\tat org.Foo.bar(Foo.java:1)")

    calls = []
    sections = (
        ("first", lambda *a: {"args": a}),
        ("second", broken),
        ("third", lambda *a: calls.append(a) or {"ok": True}),
    )
    errors: dict = {}
    out = _run_sections(sections, errors, "spark", "specs", "sf_dir")
    assert list(out) == ["first", "second", "third"]
    assert out["first"] == {"args": ("spark", "specs", "sf_dir")}
    assert out["second"] is None
    assert out["third"] == {"ok": True} and calls == [("spark", "specs", "sf_dir")]
    assert errors == {"second": "ValueError: no such dir"}
