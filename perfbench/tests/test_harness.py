"""Tests for the benchmark harness.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The unit tests need no JVM.  The smoke tests run each workload at a tiny
size through ``run.py`` (a few Spark sessions, about three minutes on four
cores) and check the result line and the gates."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from core import (  # noqa: E402
    Span, Tracer, covered, cpu_seconds, disk_files, self_times, summarize, tail_percentile,
)
from metrics import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


# ------------------------------------------------------------ percentile rule
@pytest.mark.parametrize(
    "n, want",
    [(0, None), (19, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (9999, 99.0), (10000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


def test_summarize_reports_median_tail_and_count():
    out = summarize([float(i) for i in range(1, 101)])
    assert out["n"] == 100 and out["p50"] == 50.5
    assert out["tail_pct"] == 90.0 and out["tail"] == pytest.approx(90.1)
    assert "tail" not in summarize([1.0, 2.0, 3.0])


# ------------------------------------------------------------ self time
def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (8, 12)], 0, 10) == 6
    assert covered([], 0, 10) == 0
    assert covered([(-5, -1), (11, 20)], 0, 10) == 0


def test_self_time_subtracts_only_direct_children():
    spans = [
        Span(1, "root", "a", 1, None, 0.0, 10.0),
        Span(2, "child", "b", 1, 1, 1.0, 5.0),
        Span(3, "child", "b", 1, 1, 4.0, 6.0),
        Span(4, "grandchild", "c", 1, 2, 2.0, 3.0),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(5.0)  # 10 - union([1,5],[4,6])
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(2.0)
    assert st[4] == pytest.approx(1.0)


def test_tracer_nests_spans_into_one_trace_and_sums_layers():
    tr = Tracer(True)
    with tr.span("outer", "x", new_trace=True):
        with tr.span("inner", "y"):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.sid and inner.trace == outer.trace
    assert set(tr.layer_self_times()) == {"x", "y"}
    off = Tracer(False)
    with off.span("s", "x") as s:
        assert s is None
    assert off.spans == []


# ------------------------------------------------------------ CPU clock, phase length
def test_cpu_seconds_counts_this_process_not_sleep():
    import time

    c0 = cpu_seconds()
    time.sleep(0.3)
    slept = cpu_seconds() - c0
    c0, t0 = cpu_seconds(), time.process_time()
    x = 0
    while time.process_time() - t0 < 0.3:
        x += 1
    busy = cpu_seconds() - c0
    assert slept < 0.1
    assert 0.2 <= busy <= 0.5


def test_disk_files_counts_new_files_not_links_or_renames(tmp_path):
    (tmp_path / "a").write_bytes(b"x" * 10)
    before = disk_files(str(tmp_path))
    os.link(tmp_path / "a", tmp_path / "a-link")
    os.rename(tmp_path / "a", tmp_path / "a-moved")
    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "b").write_bytes(b"y" * 7)
    new = [size for key, size in disk_files(str(tmp_path)).items() if key not in before]
    assert new == [7]


def test_another_runs_the_minimum_then_only_what_fits():
    import time

    from workloads import another

    start = time.perf_counter()
    assert another(start, 0.0, 1, 2, 10.0)  # below the minimum: always
    assert not another(start, 5.0, 2, 2, 10.0)  # one more would overrun
    assert another(start, 5.0, 2, 2, 1.0)


# ------------------------------------------------------------ oracle checksum
def test_frames_match_is_order_insensitive_with_float_tolerance():
    from workloads import frames_match

    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.1, 0.2, 0.3], "s": ["x", None, "z"]})
    b = a.iloc[::-1].reset_index(drop=True)
    b["v"] = b["v"] + 1e-12
    assert frames_match(a, b) == (True, None)
    assert not frames_match(a, b.iloc[:2])[0]
    c = b.copy()
    c.loc[0, "s"] = "changed"
    assert not frames_match(a, c)[0]


# ------------------------------------------------------------ BENCHMARK.json
def test_benchmark_json_matches_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert set(doc) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in doc["workloads"]] == list(WORKLOADS)
    assert [w["why"] for w in doc["workloads"]] == [w["why"] for w in WORKLOADS.values()]
    keys = ("name", "unit", "better", "bound")
    assert doc["end_to_end"] == [{k: m[k] for k in keys} for m in END_TO_END]
    assert doc["per_layer"] == [{k: m[k] for k in keys[:3]} for m in PER_LAYER]
    assert any(m["name"] == "setup_s" and m["bound"] == max(x["bound"] for x in END_TO_END)
               for m in doc["end_to_end"])


def test_run_refuses_a_directory_without_the_product(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout


# ------------------------------------------------------------ smoke runs
def _run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    lines = out.stdout.strip().splitlines()
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


@pytest.mark.parametrize("workload", list(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_every_metric_emitted_and_gates_pass(workload, trace):
    report, res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = PER_LAYER if trace else END_TO_END
    assert list(res["metrics"]) == [m["name"] for m in want]
    for m in want:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], float)
    if not trace:
        assert all(res["metrics"][m["name"]]["value"] > 0 for m in END_TO_END)
    else:
        # the traced run keeps its own end-to-end numbers, spans and self times
        assert set(report["e2e"]) == {m["name"] for m in END_TO_END}
        assert report["layer_self_s"]
        with open(os.path.join(ROOT, report["trace_file"])) as f:
            spans = json.load(f)["spans"]
        assert spans and all(s["self_s"] >= -1e-9 for s in spans)
