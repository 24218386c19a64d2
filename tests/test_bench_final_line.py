"""bench.py's bounded last stdout line (no Spark needed): the compact
per-query dict rides the line while it fits; when it cannot, the line
says so (``queries_dropped``) and a warning goes to stderr."""

from __future__ import annotations

import json

import bench

HEADLINE = {"metric": "total_runtime_all_registered_queries",
            "value": 12.5, "unit": "sec", "n_queries": 0, "sf": 0.1}


def test_small_dict_rides_the_line(capsys):
    timings = {"q01_pricing": 1.234, "x03_dedup_minhash_lsh": 2.5}
    line = bench.final_line(HEADLINE, timings, {"x03_dedup_minhash_lsh": 2.1})
    got = json.loads(line)
    assert got["queries"] == {"q01": 1.23, "x03": 2.1}
    assert "queries_dropped" not in got
    assert capsys.readouterr().err == ""


def test_oversized_dict_is_dropped_loudly(capsys):
    timings = {f"x{i:04d}_op": 1.234 for i in range(400)}
    line = bench.final_line(HEADLINE, timings, {})
    assert len(line) <= bench.FINAL_LINE_MAX
    got = json.loads(line)
    assert got["queries_dropped"] is True
    assert "queries" not in got
    assert {k: got[k] for k in HEADLINE} == HEADLINE
    err = capsys.readouterr().err
    assert err.count("\n") == 1 and "drops its per-query dict" in err
