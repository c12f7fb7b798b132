#!/usr/bin/env python3
"""Regenerate ``perfbench/expected.json``: the result hash of every query
the benchmark runs, on the benchmark's own tables.

The expected hash is the DuckDB oracle's (``ORACLES[name]`` on the same
parquet files) whenever the oracle exists and finishes within
``ORACLE_TIMEOUT_S`` seconds; otherwise it is the Spark result of the code
this is run on, labelled with its git commit. Both sides are hashed with
``tools/check_oracle.py``'s ``spark_multiset_hash``. A query whose Spark
result differs from its oracle is reported and keeps the oracle's hash.

Usage (from the root of a checkout): python3 perfbench/make_expected.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

from perfbench import run as bench  # noqa: E402
from perfbench.procs import stop_spark  # noqa: E402
from perfbench.tables import DATA_SEED, write_tables  # noqa: E402

# the benchmark's scale, and the one its smoke test runs at
SCALES = (0.01, 0.001)
ORACLE_TIMEOUT_S = 300.0


def oracle_hash(con, sql: str, timeout: float, hash_fn):
    """Hash of the DuckDB result, or None when it does not finish in time."""
    timer = threading.Timer(timeout, con.interrupt)
    timer.start()
    try:
        return hash_fn(con.execute(sql).df())
    except Exception as ex:  # noqa: BLE001 - interrupted or failed oracle
        print(f"  oracle did not finish: {type(ex).__name__}: {ex}"[:200], file=sys.stderr)
        return None
    finally:
        timer.cancel()


def main() -> int:
    check_oracle = bench.load_check_oracle()
    hash_fn = check_oracle.spark_multiset_hash

    import duckdb

    from weatherdatapipeline_spark.queries import ORACLES, QUERIES
    from weatherdatapipeline_spark.session import get_spark

    commit = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"], cwd=ROOT, capture_output=True, text=True
    ).stdout.strip()
    spark = get_spark("perfbench-expected")
    hashes, mismatches, empty = {}, [], []
    for sf in SCALES:
        data_dir = os.path.join(bench.WORK, f"sf{sf}")
        write_tables(data_dir, sf)
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for t in check_oracle.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        at_sf = hashes[str(sf)] = {}
        for name in bench.QUERY_MIX:
            result = QUERIES[name](spark, data_dir).toPandas()
            if result.empty:
                # the benchmark counts an empty result as a failure
                empty.append(f"{name}@sf{sf}")
            got = hash_fn(result)
            want = (
                oracle_hash(con, ORACLES[name], ORACLE_TIMEOUT_S, hash_fn)
                if name in ORACLES else None
            )
            if want is None:
                at_sf[name] = {"hash": got, "source": f"spark output at commit {commit}"}
            else:
                at_sf[name] = {"hash": want, "source": "duckdb oracle"}
                if want != got:
                    mismatches.append(f"{name}@sf{sf}")
            same = "matches" if want in (None, got) else "DIFFERS"
            print(f"sf{sf} {name}: {at_sf[name]['source']}, spark {same}")
        con.close()
    stop_spark(spark)
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump({"data_seed": DATA_SEED, "hashes": hashes}, fh, indent=2)
        fh.write("\n")
    if empty:
        print(f"empty result on: {', '.join(empty)}", file=sys.stderr)
    if mismatches:
        print(f"spark differs from the oracle on: {', '.join(mismatches)}", file=sys.stderr)
    if empty or mismatches:
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
