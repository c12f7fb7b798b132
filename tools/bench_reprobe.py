"""Min-of-2 steady-state re-probe of sweep-flagged queries.

The full-registry sweep (tools/bench_sweep.py) times each query ONCE,
codegen constant included — an upper bound good for triage, not for
ladder promotion. This re-probe re-times a shortlist with the ladder's
min-of-2 discipline so the promotion rule ("steady-state > THRESH at
sf0.1 joins the slope-recorded ladder") runs on steady-state numbers.

    python tools/bench_reprobe.py <sweep.json> [thresh_single] [out.json]

Selects sweep queries with single-run time > thresh_single (default 2.0)
that are NOT already in bench.HEADLINE, runs each min-of-2 via the noop
sink, and writes {"queries": {name: steady_sec}, ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, _calibrate  # noqa: E402
from weatherdatapipeline_spark.queries import QUERIES  # noqa: E402
from weatherdatapipeline_spark.session import default_parallelism, get_spark  # noqa: E402


def main() -> int:
    sweep_path = sys.argv[1]
    thresh = float(sys.argv[2]) if len(sys.argv) > 2 else 2.0
    out_path = sys.argv[3] if len(sys.argv) > 3 else "bench_reprobe.json"
    sweep = json.load(open(sweep_path))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sorted(
        n
        for n, t in sweep["queries"].items()
        if t > thresh and n not in HEADLINE and n in QUERIES
    )
    load_start = os.getloadavg()[0]
    calibration = _calibrate()
    spark = get_spark("bench-reprobe")

    def run(name: str) -> float:
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    try:
        run("q1_pricing_summary")  # warmup
    except Exception:
        pass
    per, errors = {}, {}
    for i, n in enumerate(names, 1):
        try:
            per[n] = round(min(run(n), run(n)), 3)
        except Exception as e:
            errors[n] = str(e).split("\n")[0][:200]
        print(f"[{i}/{len(names)}] {n} {per.get(n)}", file=sys.stderr, flush=True)
    out = {
        "metric": "steady_state_reprobe",
        "source_sweep": os.path.basename(sweep_path),
        "thresh_single_run": thresh,
        "queries": per,
        "machine": {
            "loadavg_start": round(load_start, 2),
            "loadavg_end": round(os.getloadavg()[0], 2),
            "calibration_sec": calibration,
            "cpus": default_parallelism(),
        },
    }
    if errors:
        out["errors"] = errors
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps({"n": len(per), "errors": len(errors), "out": out_path}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
