"""One-shot timing sweep over EVERY registered query at sf0.1.

VERDICT r13 item 1: the frozen ladder covers 75/446 queries; everything
else has strict correctness evidence but NO timing evidence, and both
real r13 defects (ansari int64 overflow, cache-release recompute) were
caught only because the affected queries happened to be benched. This
sweep closes that observability gap: a single instrumented pass — NOT a
frozen ladder, no min-of-2, no DuckDB half — that records one wall time
per registered query so any heavy-tail outlier becomes visible and can
be promoted into the slope-recorded ladder.

Usage (idle machine — check the calibration line before trusting it):

    python tools/bench_sweep.py [out.json]

Writes ``bench_sweep_r{N}.json`` (round from SPARK_GRAFT_ROUND, else
max committed sweep + 1) with per-query seconds, the contention canary
(loadavg + 1-core calibration), and the >1 s shortlist the ladder
promotion reads. Each query is forced through the noop sink like
bench.py so the number is engine time, not collect() transfer.

Single-timed-run semantics: per-plan codegen (~0.3-1 s constant) is IN
the number, unlike the ladder's min-of-2 steady state — sweep times are
upper bounds for triage, not comparable to ladder entries. The warmup
query initializes JVM/parquet-footer caches so that constant is paid
once, not 446 times.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import EXTRA, _calibrate  # noqa: E402
from weatherdatapipeline_spark.queries import QUERIES  # noqa: E402
from weatherdatapipeline_spark.session import default_parallelism, get_spark  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _round_no() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_ROUND", ""))
    except ValueError:
        pass
    rounds = [0]
    for f in os.listdir(REPO):
        m = re.match(r"bench_sweep_r(\d+)\.json$", f)
        if m:
            rounds.append(int(m.group(1)))
    return max(rounds) + 1


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out_path = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.path.join(REPO, f"bench_sweep_r{_round_no()}.json")
    )
    load_start = os.getloadavg()[0]
    calibration = _calibrate()
    spark = get_spark("bench-sweep")

    names = sorted(set(QUERIES) | set(EXTRA))

    def run(name: str) -> float:
        fn = QUERIES.get(name) or EXTRA[name]
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    try:
        run("q1_pricing_summary")  # untimed warmup (JVM/codegen/footers)
    except Exception:
        pass

    per_query: dict[str, float] = {}
    errors: dict[str, str] = {}
    t_sweep = time.perf_counter()
    for i, name in enumerate(names, 1):
        try:
            per_query[name] = round(run(name), 3)
        except Exception as e:  # one broken query must not kill the sweep
            errors[name] = str(e).split("\n")[0][:200]
        if i % 25 == 0 or i == len(names):
            print(
                f"[{i}/{len(names)}] {time.perf_counter() - t_sweep:.0f}s "
                f"elapsed, last={name}",
                file=sys.stderr,
                flush=True,
            )

    over_1s = {n: t for n, t in sorted(per_query.items()) if t > 1.0}
    out = {
        "metric": "full_registry_sweep",
        "unit": "sec",
        "sf": float(sf),
        "n": len(per_query),
        "total": round(sum(per_query.values()), 3),
        "over_1s": over_1s,
        "queries": dict(sorted(per_query.items())),
        "machine": {
            "loadavg_start": round(load_start, 2),
            "loadavg_end": round(os.getloadavg()[0], 2),
            "calibration_sec": calibration,
            "cpus": default_parallelism(),
        },
        "note": (
            "single timed run per query after one warmup — codegen "
            "constant included; triage upper bounds, not ladder-"
            "comparable steady state"
        ),
    }
    if errors:
        out["errors"] = errors
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(
        json.dumps(
            {
                "metric": out["metric"],
                "n": out["n"],
                "total": out["total"],
                "over_1s": len(over_1s),
                "errors": len(errors),
                "out": out_path,
            }
        )
    )
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
