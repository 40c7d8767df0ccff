"""The bench anchor chain (SCALE.md §30): the driver keeps only the
last 2000 chars of bench stdout, so an overflowing line yields a
``parsed: null`` artifact whose tail starts MID-LINE. ``bench.py``
must (a) emit a compact line that fits the window and (b) salvage an
overflowed artifact instead of silently re-anchoring a round back.
Pure-python tests — no Spark session.
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def _fake_line(n_queries: int = 60) -> str:
    out = {
        "metric": "headline_suite_wall_seconds",
        "value": 91.5,
        "unit": "sec",
        "queries": {f"query_name_number_{i:03d}": 1.234 for i in range(n_queries)},
        "sf": 0.1,
        "calib_sec": 0.4052,
        "calib_probes": [0.41, 0.40, 0.42],
        "calib_par_sec": 0.3761,
        "calib_par_probes": [0.38, 0.37, 0.39],
        "vs_anchor": {
            "anchor": "BENCH_rX.json",
            "prev_total": 62.8,
            "regressions": {
                "query_name_number_001": {"prev": 0.5, "now": 1.0}
            },
        },
    }
    return json.dumps(out)


def test_salvage_recovers_mid_line_tail():
    line = _fake_line()
    assert len(line) > 2000, "fixture must overflow the driver window"
    tail = line[-2000:]  # what the driver keeps
    got = bench._salvage_tail(tail)
    assert got["_salvaged"] is True
    # the truncated first pair is dropped; everything else is intact
    assert 0 < len(got["queries"]) < 60
    assert all(v == 1.234 for v in got["queries"].values())
    # calib medians recovered from the top level, not vs_anchor
    assert got["calib_sec"] == 0.4052
    assert got["calib_par_sec"] == 0.3761
    # vs_anchor's nested floats must NOT pollute the queries dict
    assert "prev" not in got["queries"]
    assert "prev_total" not in got["queries"]


def test_salvage_rejects_junk():
    assert bench._salvage_tail(None) == {}
    assert bench._salvage_tail("no json here") == {}
    assert bench._salvage_tail('"sf": 0.1 }') == {}


def test_real_r11_artifact_salvages():
    """BENCH_r11.json records a tail that overflowed the parser
    (parsed: null); salvage must recover most of its 40 headline rows
    plus both probe medians."""
    path = os.path.join(os.path.dirname(bench.__file__), "BENCH_r11.json")
    data = json.load(open(path))
    assert data["parsed"] is None  # the overflowed tail, as recorded
    got = bench._salvage_tail(data["tail"])
    assert got["_salvaged"] is True
    assert len(got["queries"]) >= 35
    assert got["queries"]["dedup_incremental_lsh"] == 2.899
    assert got["calib_sec"] == 0.3817
    assert got["calib_par_sec"] == 0.4202


def test_compact_line_fits_driver_window():
    """The stdout line bench now prints must stay under the 2000-char
    capture window with headroom; rebuild it from BENCH_LOCAL.json
    exactly as main() does."""
    path = os.path.join(os.path.dirname(bench.__file__), "BENCH_LOCAL.json")
    out = json.load(open(path))
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "queries": {n: round(t, 2) for n, t in out["queries"].items()},
        "sf": out["sf"],
        "calib_sec": out["calib_sec"],
        "calib_par_sec": out["calib_par_sec"],
    }
    if "vs_anchor" in out:
        va = out["vs_anchor"]
        compact["vs_anchor"] = {
            "anchor": va["anchor"],
            "ratio_common": va["ratio_common"],
            "ratio_common_calib_normalized": va[
                "ratio_common_calib_normalized"
            ],
            "host_factor": 1.0,
            "host_factor_par": va["host_factor_par"],
            "regressions": sorted(va["regressions"]),
            "detail": "BENCH_LOCAL.json",
        }
    assert len(json.dumps(compact)) <= 1900
