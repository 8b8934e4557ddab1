"""bench.py's stdout line stays parseable from a 2,000-char tail."""

import json
import os

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _committed_headline() -> dict:
    """run_headline's result rebuilt from the committed round-5 headline
    artifact, padded to every query bench.py times now (a query the
    artifact lacks takes its slowest query's numbers)."""
    with open(os.path.join(REPO, "BENCH", "headline_r5_local.json")) as f:
        d = json.load(f)
    worst = max(d["queries"], key=d["queries"].get)
    return {
        "timings": {q: d["queries"].get(q, d["queries"][worst])
                    for q in bench.HEADLINE_QUERIES},
        "dispersion": {q: d["dispersion"].get(q, d["dispersion"][worst])
                       for q in bench.HEADLINE_QUERIES},
        "cpu_control": d["cpu_control"],
        "n_pages": d["n_pages"],
        "pages_per_sec": d["pages_per_sec"],
    }


def test_result_line_fits_and_round_trips():
    out = bench.result_line(_committed_headline(), 0.1)
    line = json.dumps(out)
    assert len(line) <= bench.LINE_MAX
    assert json.loads(line) == out
    assert set(out["queries"]) == set(out["iqr"]) == set(bench.HEADLINE_QUERIES)
    with open(os.path.join(REPO, bench.SCALING_ARTIFACT)) as f:
        sc = json.load(f)
    assert out["scaling"] == {
        "scaling_efficiency": sc["scaling_efficiency"],
        "2to8": sc["pairs"]["2to8"],
        "artifact": bench.SCALING_ARTIFACT,
    }
