"""Pins bench.py's output contract against the driver's capture window.

Round-6 post-mortem (VERDICT r6 §Missing #1): the driver keeps only the
LAST ~2000 chars of bench stdout; the 45-query single-line JSON (~3400
chars) overflowed it and BENCH_r06.json recorded parsed=null. The
contract is now: per-query detail on EARLIER stdout lines + the
append-only BENCH_HISTORY.jsonl; the FINAL stdout line is a compact
summary that must stay well under the window no matter how the catalog
grows. These tests run without Spark.
"""

from __future__ import annotations

import io
import json
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

import bench  # noqa: E402


def _fake_lane(scale: float) -> dict[str, float]:
    # worst-case realistic magnitudes (xx.xxx) so the length bound is
    # tested against maximal digit counts, not optimistic 0.1s values
    return {n: 10.0 + scale for n in bench.BENCH_QUERIES}


def _capture(timings, cold, tmp_path):
    os.environ["SPARK_GRAFT_BENCH_HISTORY"] = str(tmp_path / "hist.jsonl")
    try:
        buf = io.StringIO()
        with redirect_stdout(buf):
            out = bench.build_output(
                timings, cold, "0.1", str(tmp_path / "perquery.json")
            )
        return out, buf.getvalue()
    finally:
        del os.environ["SPARK_GRAFT_BENCH_HISTORY"]


def test_final_line_fits_driver_tail_window(tmp_path):
    out, stdout = _capture(_fake_lane(89.999), _fake_lane(89.998), tmp_path)
    final_line = json.dumps(out)
    # driver window is 2000 chars and must also hold any trailing Spark
    # shutdown noise; the verdict prescribed < 1800
    assert len(final_line) < 1800, len(final_line)
    # compact summary only — per-query dicts live on detail lines
    assert "queries" not in out and "queries_cold" not in out
    for key in (
        "metric", "value", "unit", "sf", "value_r2set", "value_ext",
        "value_cold", "value_cold_r2set", "value_cold_ext", "n_queries",
    ):
        assert key in out, key
    # ADVICE r6: "value" is the FROZEN r2-set lineage number
    assert out["value"] == out["value_r2set"]
    assert out["n_queries"] == len(bench.BENCH_QUERIES)
    assert out["value_ext"] > out["value_r2set"]


def test_detail_lines_precede_summary_and_parse(tmp_path):
    out, stdout = _capture(_fake_lane(1.0), _fake_lane(2.0), tmp_path)
    detail_lines = [
        ln for ln in stdout.splitlines() if ln.startswith("BENCH_DETAIL ")
    ]
    assert len(detail_lines) == 1
    detail = json.loads(detail_lines[0][len("BENCH_DETAIL "):])
    assert set(detail["queries"]) == set(bench.BENCH_QUERIES)
    assert set(detail["queries_cold"]) == set(bench.BENCH_QUERIES)
    # history record carries both detail and summary for the regression tool
    hist_path = tmp_path / "hist.jsonl"
    rec = json.loads(hist_path.read_text().splitlines()[-1])
    assert rec["queries"] == detail["queries"]
    assert rec["value"] == out["value"]
    assert "ts" in rec


def test_cold_lane_optional(tmp_path):
    out, _ = _capture(_fake_lane(1.0), {}, tmp_path)
    assert "value_cold" not in out
    assert json.dumps(out)  # still serializable


def test_perquery_sidecar_published_whole(tmp_path):
    """VERDICT r13 #1: the driver's PERF builder needs the full
    per-query dict somewhere truncation can't eat it — a sidecar file
    rewritten atomically each run, named on the final summary line."""
    out, _ = _capture(_fake_lane(1.0), _fake_lane(2.0), tmp_path)
    sidecar = json.loads((tmp_path / "perquery.json").read_text())
    assert set(sidecar["per_query"]) == set(bench.BENCH_QUERIES)
    assert set(sidecar["per_query_cold"]) == set(bench.BENCH_QUERIES)
    assert sidecar["sf"] == 0.1 and "ts" in sidecar
    # the summary line points at it without growing past the window
    assert out["per_query_file"] == "perquery.json"
    # no stray temp files left behind (atomic publish)
    assert [p.name for p in tmp_path.glob("*.part.*")] == []


def test_steal_contamination_marks_summary_and_warns(
    tmp_path, monkeypatch
):
    """VERDICT r11 #4: a contaminated run must be loud — stderr
    warning + flags on the SUMMARY line (the artifact of record), so a
    shipped BENCH_r{N}.json self-identifies without the detail line."""
    import io as _io
    from contextlib import redirect_stderr

    # before/after /proc/stat snapshots with 2% steal in the delta
    monkeypatch.setattr(bench, "_STAT_BEFORE", (100, 10_000))
    monkeypatch.setattr(
        bench, "_cpu_stat", lambda: (100 + 20, 10_000 + 1_000)
    )
    err = _io.StringIO()
    with redirect_stderr(err):
        out, stdout = _capture(_fake_lane(1.0), {}, tmp_path)
    assert out["steal_contaminated"] is True
    assert out["steal_pct"] == 2.0
    assert "steal_pct=2.0" in err.getvalue()
    detail = json.loads(
        [
            ln
            for ln in stdout.splitlines()
            if ln.startswith("BENCH_DETAIL ")
        ][0][len("BENCH_DETAIL "):]
    )
    assert detail["steal_contaminated"] is True
    # clean run: no flag, no warning
    monkeypatch.setattr(
        bench, "_cpu_stat", lambda: (100 + 5, 10_000 + 1_000)
    )
    err2 = _io.StringIO()
    with redirect_stderr(err2):
        out2, _ = _capture(_fake_lane(1.0), {}, tmp_path)
    assert "steal_contaminated" not in out2
    assert "steal_pct" not in out2  # summary stays compact when clean
    assert err2.getvalue() == ""


def test_steal_threshold_matches_regression_tool():
    from tools.bench_regression import STEAL_MAX_PCT

    assert bench.STEAL_CONTAMINATION_PCT == STEAL_MAX_PCT


def test_r2_set_is_frozen():
    # the lineage subtotal is only meaningful if the r2 list never changes
    assert len(bench.BENCH_QUERIES_R2) == 29
    assert bench.BENCH_QUERIES_R2[0] == "q01_pricing_summary"
    assert bench.BENCH_QUERIES_R2[-1] == "json_props_bucket_stats"
