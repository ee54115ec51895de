"""The driver runs `python bench.py` per round and parses ONE JSON line --
pin that contract so refactors can't silently break BENCH_r{N}."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_emits_contract_json(tmp_path):
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="4",
        FETCHEZ_BENCH_EVENTS="100000",
        FETCHEZ_BENCH_BATCHES="2",
        FETCHEZ_SKIP_QUERIES="1",
        FETCHEZ_BENCH_TMPDIR=str(tmp_path),
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        timeout=420,
        check=True,
    )
    line = out.stdout.strip().splitlines()[-1]
    d = json.loads(line)
    assert d["metric"] == "cdc_replay_events_per_sec"
    assert d["unit"] == "events/sec" and d["value"] > 0
    assert d["events"] == 100000 and d["cores"] == 4
    assert "cdc_replay" in d["queries"] and d["final_rows"] > 0


def test_bench_extra_profiles_only_existing_sink_methods():
    import importlib.util

    from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

    spec = importlib.util.spec_from_file_location(
        "bench_extra", os.path.join(REPO, "bench_extra.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert [n for n in mod.SINK_PHASES if n not in LocalSnapshotSink.__dict__] == []
