"""Tests of the benchmark itself: event-log folding, metric names, the
timing wrappers and a smoke run of each workload.

Run from the root of a checkout: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import tempfile
import time
import uuid

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)

from perfbench import run as bench  # noqa: E402
from perfbench.procs import descendants, end_all  # noqa: E402
from perfbench.trace import (  # noqa: E402
    Phase,
    Phases,
    TimedCatalog,
    TimedRegistry,
    fold_event_log,
    max_task_share,
)

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def load_fixture():
    with open(os.path.join(HERE, "data", "eventlog_small.jsonl")) as fh:
        events = [json.loads(line) for line in fh]
    with open(os.path.join(HERE, "data", "eventlog_small_phases.json")) as fh:
        phases = [Phase(**p) for p in json.load(fh)]
    return events, phases


def test_fold_small_recorded_event_log():
    events, phases = load_fixture()
    count, udf, stream = phases
    folds = fold_event_log(events, phases)
    starts = [e for e in events if e["Event"] == "SparkListenerJobStart"]
    inside = [
        e for e in starts
        if any(p.start_ms <= e["Submission Time"] <= p.end_ms for p in phases)
    ]
    # the stream's source file is written between phases; that job is no one's
    assert len(starts) - len(inside) == 1
    assert sum(f.jobs for f in folds.values()) == len(inside)
    for ph in phases:
        f = folds[ph.id]
        assert f.jobs >= 1 and f.stages >= 1, ph.id
        assert 0.0 <= f.driver_s(ph) <= ph.wall_s
        assert f.task_cpu_s > 0
    # the phase slept 0.3 s outside any Spark job
    assert folds[count.id].driver_s(count) >= 0.3
    assert folds[count.id].shuffle_write_bytes > 0
    # only the pandas UDF phase crosses the Arrow boundary
    assert folds[udf.id].python_sent > 0 and folds[udf.id].python_returned > 0
    assert folds[count.id].python_sent == 0
    # micro-batch jobs run under the stream's own job group and are
    # attributed to the caller's phase by time; so is its progress
    groups = {(e.get("Properties") or {}).get("spark.jobGroup.id") for e in inside}
    assert groups - {p.id for p in phases}, "fixture has no stream-thread job"
    assert folds[stream.id].progress and not folds[count.id].progress
    assert 0.0 < max_task_share(folds[udf.id].stage_walls) <= 1.0


def test_driver_s_merges_overlapping_job_spans():
    from perfbench.trace import Fold

    ph = Phase("p", "build", "q", start_ms=0.0, end_ms=10_000.0)
    f = Fold(job_spans=[(1000, 3000), (2000, 4000), (9000, 12_000)])
    assert f.driver_s(ph) == pytest.approx(10.0 - 3.0 - 1.0)


def test_metric_names_match_pattern_and_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in spec[key]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.fullmatch(n) and len(n) <= 64, n
    assert [w["name"] for w in spec["workloads"]] == bench.WORKLOADS
    layer = bench.layer_metrics(
        Phases(), {}, [], {"import_s": 1.0, "start_s": 2.0, "overhead": 1.0, "n_pass": 1}
    )
    assert list(layer) == [m["name"] for m in spec["per_layer"]]
    assert {k: v["unit"] for k, v in layer.items()} == {
        m["name"]: m["unit"] for m in spec["per_layer"]
    }


def test_expected_hashes_are_not_of_empty_results():
    import hashlib

    with open(os.path.join(BENCH, "expected.json")) as fh:
        hashes = json.load(fh)["hashes"]
    empty = hashlib.md5(b"").hexdigest()
    for sf, at_sf in hashes.items():
        assert set(at_sf) == set(bench.QUERY_MIX), sf
        for name, want in at_sf.items():
            assert want["hash"] != empty, f"{name}@sf{sf}"


class FakeCatalog:
    root = "/nowhere"

    def __init__(self):
        self.seen = []

    def append_raw(self, df, name="raw_weather"):
        self.seen.append((df, name))
        return ("raw", df, name)

    def append_stats(self, df):
        raise ValueError(df)

    def read(self, name):
        return f"read:{name}"


def test_timed_catalog_delegates_unchanged():
    inner = FakeCatalog()
    cat = TimedCatalog(inner)
    assert cat.append_raw("df1", name="x") == ("raw", "df1", "x")
    assert inner.seen == [("df1", "x")]
    assert cat.read("t") == "read:t" and cat.root == "/nowhere"
    with pytest.raises(ValueError):
        cat.append_stats("bad")
    assert len(cat.calls["append_raw"]) == 1 and len(cat.calls["append_stats"]) == 1
    assert "read" not in cat.calls


def test_timed_registry_delegates_unchanged():
    class Reg:
        def log(self, name, models, params):
            return (name, models, params)

        def load(self, spark, mv):
            return (spark, mv)

        def versions(self, name):
            return [1, 2]

    reg = TimedRegistry(Reg())
    assert reg.log("m", "bundle", params={"a": 1}) == ("m", "bundle", {"a": 1})
    assert reg.load("s", "v") == ("s", "v")
    assert reg.versions("m") == [1, 2]
    assert [len(reg.calls[k]) for k in ("log", "load")] == [1, 1]


def marked_processes(mark: str) -> list[int]:
    """Pids of live processes whose environment holds ``mark``."""
    out = []
    for entry in os.listdir("/proc"):
        try:
            with open(f"/proc/{entry}/environ", "rb") as fh:
                if mark.encode() in fh.read().split(b"\0"):
                    out.append(int(entry))
        except (OSError, ValueError):
            continue
    return out


def test_end_all_waits_for_every_descendant():
    # a child that ignores its stdin, and a grandchild that outlives its parent
    sh = subprocess.Popen(["sh", "-c", "sleep 60 & exec sleep 60"])
    deadline = time.monotonic() + 10
    while len(procs := descendants()) < 2 and time.monotonic() < deadline:
        time.sleep(0.05)
    assert {p for p, _ in procs} >= {sh.pid}
    t0 = time.monotonic()
    end_all(procs, grace_s=0.2)
    assert time.monotonic() - t0 < 10
    assert descendants() == set()
    assert sh.poll() is not None


@pytest.mark.parametrize("workload", bench.WORKLOADS)
def test_smoke_run_from_outside_the_checkout(workload, tmp_path):
    cmd = [
        sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
        "--seed", "7", "--seconds", "1", "--trace", "0", "--sf", "0.001",
    ]
    mark = f"PERFBENCH_SMOKE={uuid.uuid4().hex}"
    env = dict(os.environ, PERFBENCH_SMOKE=mark.split("=", 1)[1])
    # output to files, not pipes: a pipe would wait for every process that
    # inherited it, hiding one that outlives the run
    with tempfile.TemporaryFile("w+") as out, tempfile.TemporaryFile("w+") as err:
        returncode = subprocess.run(
            cmd, cwd=tmp_path, env=env, stdout=out, stderr=err, timeout=600
        ).returncode
        # the driver JVM and its workers inherit the marker; none may outlive the run
        left = marked_processes(mark)
        out.seek(0)
        err.seek(0)
        stdout, stderr = out.read(), err.read()
    assert returncode == 0, stderr[-3000:]
    assert left == []
    *_, report, last = stdout.strip().splitlines()
    result = json.loads(last)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {"setup_s", "pass_s"}
    assert all(v["value"] > 0 for v in result["metrics"].values())
    checks = json.loads(report)["checks"]
    assert checks and all(v.startswith("ok") for v in checks.values())
    assert os.listdir(tmp_path) == []
