"""Local replica of the driver's oracle-differential check.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, then compares row count, column names, and an
order-insensitive value multiset (columns sorted by name).

Two comparison modes:

- **loose** (default): ``collect()``/``fetchall()`` rows, floats normalized
  to 12 significant digits. Fast sanity pass; historically too forgiving —
  both r8 driver-red rows passed it.
- **--strict** (driver-strict, VERDICT r8 item 2): compares the
  pandas/Arrow-converted frames (``DataFrame.toPandas()`` vs duckdb
  ``.df()``) at FULL precision with NO float normalization, and asserts the
  pandas **dtype of every column matches** between engines. This is the
  path the driver's hash actually sees — e.g. an uncast DuckDB HUGEINT
  window sum converts to float64 (``59.0``) while Spark emits int64
  (``59``): identical under the loose check, red at the driver
  (CORRECTNESS_r08 ``token_budget_admission``). If strict passes, the
  driver's stringified hash has no representation left to disagree on.

``--emit PATH`` (strict mode) additionally writes a machine-readable
per-query evidence artifact: {name: {rows, cols, value_hash}} where
value_hash is the md5 of the sorted strict row multiset of the SPARK
result (the oracle must have matched for the row to be recorded as ok).
Committed per round as STRICT_rNN.json, it gives per-query correctness
evidence for the FULL registry — not just the driver's sampled window —
and makes cross-round regressions diffable.

Usage: python tools/check_oracle.py [--strict] [--emit PATH] [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def norm_val(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # kill -0.0 and representation noise beyond ~12 significant digits
        return f"{v + 0.0:.12g}"
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, (list, tuple)):
        return tuple(norm_val(x) for x in v)
    return str(v)


def df_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(norm_val(r[i]) for i in order) for r in rows)


def strict_cell(v):
    """Full-precision canonical string for one pandas cell.

    Type-tagged so an int64 59 ("i:59") can never collide with a float64
    59.0 ("f:59.0") or Decimal("59") — the exact drift class the driver's
    hash catches and the loose normalizer hides.
    """
    import numpy as np
    import pandas as pd

    if v is None:
        return "NULL"
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        return f"f:{f!r}"
    if isinstance(v, (np.bool_, bool)):
        return f"b:{bool(v)}"
    if isinstance(v, (np.integer, int)):
        return f"i:{int(v)}"
    if isinstance(v, np.ndarray):
        return "[" + ",".join(strict_cell(x) for x in v.tolist()) + "]"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(strict_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        items = sorted(v.items())
        return "{" + ",".join(f"{k}:{strict_cell(x)}" for k, x in items) + "}"
    try:
        if pd.isna(v):  # NaT and pd.NA scalars
            return "NULL"
    except (TypeError, ValueError):
        pass
    return f"{type(v).__name__}:{v}"


def strict_compare(spdf, ddf):
    """Driver-strict frame compare; returns list of problem strings."""
    problems = []
    if len(spdf) != len(ddf):
        problems.append(f"rowcount spark={len(spdf)} duckdb={len(ddf)}")
    scols, dcols = sorted(spdf.columns), sorted(ddf.columns)
    if scols != dcols:
        problems.append(f"columns spark={scols} duckdb={dcols}")
        return problems
    dt_mismatch = [
        f"{c}: spark={spdf[c].dtype} duckdb={ddf[c].dtype}"
        for c in scols
        if str(spdf[c].dtype) != str(ddf[c].dtype)
    ]
    if dt_mismatch:
        problems.append("pandas dtypes differ [" + "; ".join(dt_mismatch) + "]")
    if problems:
        return problems
    ms = Counter(
        tuple(strict_cell(v) for v in row)
        for row in spdf[scols].itertuples(index=False, name=None)
    )
    md = Counter(
        tuple(strict_cell(v) for v in row)
        for row in ddf[dcols].itertuples(index=False, name=None)
    )
    if ms != md:
        diff = (ms - md) + (md - ms)
        sample = list(diff)[:2]
        problems.append(f"strict value multiset differs; e.g. {sample}")
    return problems


def spark_multiset_hash(spd) -> str:
    """md5 of the sorted strict row multiset of a pandas frame."""
    import hashlib

    cols = sorted(spd.columns)
    rows = sorted(
        "\x1f".join(strict_cell(v) for v in row)
        for row in spd[cols].itertuples(index=False, name=None)
    )
    return hashlib.md5("\x1e".join(rows).encode()).hexdigest()


def main() -> int:
    argv = sys.argv[1:]
    strict = "--strict" in argv
    argv = [a for a in argv if a != "--strict"]
    emit = None
    if "--emit" in argv:
        i = argv.index("--emit")
        emit = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as e
    from weatherdatapipeline_spark.session import get_spark

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = e.queries()
    oracles = e.oracle_sql()
    failures = []
    evidence = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            if strict:
                spd = sdf.toPandas()
                scols, nrows = list(spd.columns), len(spd)
            else:
                scols = sdf.columns
                srows = [tuple(r) for r in sdf.collect()]
                nrows = len(srows)
        except Exception as ex:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {ex}")
            continue
        if name not in oracles:
            if emit and strict:
                evidence[name] = {
                    "rows": nrows, "cols": sorted(scols),
                    "value_hash": spark_multiset_hash(spd), "oracle": "rows-only",
                }
            print(f"ok    {name}: rows-only, {nrows} rows")
            continue
        try:
            res = con.execute(oracles[name])
            if strict:
                dpd = res.df()
            else:
                dcols = [d[0] for d in res.description]
                drows = res.fetchall()
        except Exception as ex:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {ex}")
            continue
        if strict:
            problems = strict_compare(spd, dpd)
        else:
            problems = []
            if len(srows) != len(drows):
                problems.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
            if sorted(scols) != sorted(dcols):
                problems.append(
                    f"columns spark={sorted(scols)} duckdb={sorted(dcols)}"
                )
            if not problems:
                ms, md = df_multiset(scols, srows), df_multiset(dcols, drows)
                if ms != md:
                    diff = (ms - md) + (md - ms)
                    sample = list(diff)[:3]
                    problems.append(f"value multiset differs; e.g. {sample}")
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            if emit and strict:
                evidence[name] = {
                    "rows": nrows, "cols": sorted(scols),
                    "value_hash": spark_multiset_hash(spd), "oracle": "matched",
                }
            print(f"ok    {name}: {nrows} rows match" + (" [strict]" if strict else ""))
    # count only names that exist in the registry: a typo'd name is
    # silently skipped by the loop and must not inflate "N/N ok"
    n_run = len(only & set(qs)) if only else len(qs)
    unknown = sorted(only - set(qs)) if only else []
    if unknown:
        print(f"WARN  unknown query names (not run): {', '.join(unknown)}")
    print(f"\n{n_run - len(failures)}/{n_run} ok" + (" [strict]" if strict else ""))
    if emit and strict:
        import json

        # registry-completeness gate (VERDICT r12 item 1): a full-registry
        # emit must stamp EVERY registered query — r11 and r12 both
        # shipped STRICT artifacts smaller than the registry because
        # queries landed after the last refresh. Fail loudly instead.
        if not only and len(evidence) != len(qs):
            missing = sorted(set(qs) - set(evidence))
            print(
                f"FAIL  strict emit covers {len(evidence)}/{len(qs)} "
                f"registered queries; unstamped: {', '.join(missing[:10])}"
            )
            return 1
        with open(emit, "w") as fh:
            json.dump(dict(sorted(evidence.items())), fh, indent=1)
            fh.write("\n")
        print(f"evidence: {len(evidence)} entries -> {emit}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
