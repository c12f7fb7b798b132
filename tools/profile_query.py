"""Per-query optimization profiler (r14 measurement harness, guide §1).

For each named query: captures .explain("formatted") to plans/<tag>/, then
times min-of-2 noop-sink runs with setJobDescription labels and pulls
per-stage wall/metrics from the live UI REST API so the expensive stage is
attributable (shuffle bytes, task time, python eval).

Usage:
    python tools/profile_query.py [--tag r14_before] [--plans-only] name ...
    python tools/profile_query.py --top N          # N slowest from committed ladder
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import EXTRA  # noqa: E402
from weatherdatapipeline_spark.queries import QUERIES  # noqa: E402
from weatherdatapipeline_spark.session import get_spark  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def newest_ladder(root: str) -> str:
    """The committed ladder of the highest round: ``bench_local_rNN.json``
    (sidecars such as ``-contended`` or ``_x10`` are not ladders)."""
    rounds = [
        (int(m.group(1)), f)
        for f in os.listdir(root)
        for m in [re.match(r"bench_local_r(\d+)\.json$", f)]
        if m
    ]
    return os.path.join(root, max(rounds)[1])


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def rest(app_port: int, path: str):
    url = f"http://localhost:{app_port}/api/v1/{path}"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def main() -> int:
    args = [a for a in sys.argv[1:]]
    tag = "r14"
    plans_only = False
    names: list[str] = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--tag":
            tag = args[i + 1]
            i += 2
        elif a == "--plans-only":
            plans_only = True
            i += 1
        elif a == "--top":
            n = int(args[i + 1])
            i += 2
            ladder = json.load(open(newest_ladder(ROOT)))["queries"]
            names += [
                k for k, _ in sorted(ladder.items(), key=lambda kv: -kv[1])[:n]
            ]
        else:
            names.append(a)
            i += 1

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        "profile", extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4050"}
    )
    plans_dir = os.path.join(ROOT, "plans", tag)
    os.makedirs(plans_dir, exist_ok=True)

    apps = rest(4050, "applications")
    app_id = apps[0]["id"]

    out: dict[str, dict] = {}
    for name in names:
        fn = QUERIES.get(name) or EXTRA.get(name)
        if fn is None:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        df = fn(spark, sf_dir)
        with open(os.path.join(plans_dir, f"{name}.txt"), "w") as fh:
            fh.write(plan_of(df))
        if plans_only:
            continue
        sc = spark.sparkContext
        times = []
        jobs_before = {j["jobId"] for j in rest(4050, f"applications/{app_id}/jobs")}
        for attempt in range(2):
            sc.setJobDescription(f"{name}#{attempt}")
            t0 = time.perf_counter()
            # rebuild the df per attempt: some queries carry session caches
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - t0, 3))
        sc.setJobDescription(None)
        jobs = [
            j
            for j in rest(4050, f"applications/{app_id}/jobs")
            if j["jobId"] not in jobs_before
            and (j.get("description") or "").startswith(name + "#")
        ]
        stage_rows = []
        for j in jobs:
            attempt = j["description"].rsplit("#", 1)[-1]
            for sid in j.get("stageIds", []):
                try:
                    ss = rest(4050, f"applications/{app_id}/stages/{sid}")
                except Exception:
                    continue
                for s in ss:
                    if s.get("status") == "SKIPPED":
                        continue
                    dur = None
                    if s.get("firstTaskLaunchedTime") and s.get("completionTime"):
                        from datetime import datetime

                        fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
                        t1 = datetime.strptime(s["firstTaskLaunchedTime"], fmt)
                        t2 = datetime.strptime(s["completionTime"], fmt)
                        dur = round((t2 - t1).total_seconds(), 3)
                    stage_rows.append(
                        {
                            "attempt": attempt,
                            "stage": sid,
                            "name": s.get("name", "")[:80],
                            "wall": dur,
                            "taskTime_s": round(s.get("executorRunTime", 0) / 1e3, 2),
                            "cpuTime_s": round(
                                s.get("executorCpuTime", 0) / 1e9, 2
                            ),
                            "tasks": s.get("numCompleteTasks"),
                            "input_mb": round(s.get("inputBytes", 0) / 1e6, 1),
                            "sh_read_mb": round(
                                s.get("shuffleReadBytes", 0) / 1e6, 1
                            ),
                            "sh_write_mb": round(
                                s.get("shuffleWriteBytes", 0) / 1e6, 1
                            ),
                            "rows_out": s.get("outputRecords"),
                        }
                    )
        out[name] = {"times": times, "min": min(times), "stages": stage_rows}
        print(f"== {name}: {times}")
        big = sorted(
            (s for s in stage_rows if s["attempt"] == "1"),
            key=lambda s: -(s["wall"] or 0),
        )[:8]
        for s in big:
            print(
                f"   wall={s['wall']}s task={s['taskTime_s']}s cpu={s['cpuTime_s']}s"
                f" tasks={s['tasks']} in={s['input_mb']}MB shR={s['sh_read_mb']}MB"
                f" shW={s['sh_write_mb']}MB  {s['name']}"
            )
    path = os.path.join(ROOT, "plans", tag, "_profile.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
