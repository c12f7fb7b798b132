"""Hourly weather-poll files for the ``weather_day`` workload, and the
numpy-side expectations the catalog is checked against.

Each file holds one hour of the reference's 5-minute polls over 54 cities
(12 polls x 54 cities = 648 rows), in the engine's ``WEATHER_RAW`` column
layout. Values come from ``numpy.random.default_rng(seed)``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CITIES = [
    ("Mumbai", "IN"), ("Delhi", "IN"), ("Bangalore", "IN"), ("Chennai", "IN"),
    ("Kolkata", "IN"), ("Hyderabad", "IN"), ("Pune", "IN"), ("Ahmedabad", "IN"),
    ("Jaipur", "IN"), ("Lucknow", "IN"), ("London", "GB"), ("Manchester", "GB"),
    ("New York", "US"), ("Los Angeles", "US"), ("Chicago", "US"), ("Houston", "US"),
    ("Toronto", "CA"), ("Vancouver", "CA"), ("Mexico City", "MX"), ("Sao Paulo", "BR"),
    ("Rio de Janeiro", "BR"), ("Buenos Aires", "AR"), ("Lima", "PE"), ("Bogota", "CO"),
    ("Santiago", "CL"), ("Tokyo", "JP"), ("Osaka", "JP"), ("Seoul", "KR"),
    ("Beijing", "CN"), ("Shanghai", "CN"), ("Hong Kong", "HK"), ("Singapore", "SG"),
    ("Bangkok", "TH"), ("Jakarta", "ID"), ("Manila", "PH"), ("Kuala Lumpur", "MY"),
    ("Sydney", "AU"), ("Melbourne", "AU"), ("Auckland", "NZ"), ("Paris", "FR"),
    ("Berlin", "DE"), ("Madrid", "ES"), ("Rome", "IT"), ("Amsterdam", "NL"),
    ("Stockholm", "SE"), ("Moscow", "RU"), ("Istanbul", "TR"), ("Cairo", "EG"),
    ("Lagos", "NG"), ("Nairobi", "KE"), ("Johannesburg", "ZA"), ("Dubai", "AE"),
    ("Riyadh", "SA"), ("Tehran", "IR"),
]
CONDITIONS = [
    ("Clear", "clear sky"), ("Clouds", "scattered clouds"), ("Rain", "light rain"),
    ("Mist", "mist"), ("Thunderstorm", "thunderstorm with rain"),
]
POLLS_PER_HOUR = 12
POLL_SECONDS = 300
START_UNIX = 1_700_000_000


def write_day(src_dir: str, seed: int, hours: int) -> dict:
    """Write ``hours`` files ``hour_NN.parquet`` into ``src_dir``.

    Returns the expectations: total rows, the last poll per city, and
    (count, min temperature, max temperature) per file."""
    rng = np.random.default_rng(seed)
    n_city = len(CITIES)
    base = rng.uniform(-5.0, 32.0, n_city)
    os.makedirs(src_dir, exist_ok=True)
    per_file, last = [], {}
    for h in range(hours):
        poll = np.repeat(np.arange(POLLS_PER_HOUR), n_city)
        ci = np.tile(np.arange(n_city), POLLS_PER_HOUR)
        n = len(ci)
        step = h * POLLS_PER_HOUR + poll
        temp = np.round(base[ci] + 4.0 * np.sin(step / 48.0) + rng.normal(0, 1.5, n), 2)
        cond = rng.integers(0, len(CONDITIONS), n)
        table = pa.table({
            "city": [CITIES[i][0] for i in ci],
            "country": [CITIES[i][1] for i in ci],
            "temperature": temp,
            "feels_like": np.round(temp + rng.normal(0, 2.0, n), 2),
            "humidity": pa.array(rng.integers(20, 101, n), pa.int32()),
            "pressure": pa.array(rng.integers(990, 1031, n), pa.int32()),
            "weather": [CONDITIONS[c][0] for c in cond],
            "description": [CONDITIONS[c][1] for c in cond],
            "wind_speed": np.round(rng.uniform(0.0, 15.0, n), 2),
            "timestamp": (START_UNIX + step * POLL_SECONDS).astype("int64"),
        })
        pq.write_table(table, os.path.join(src_dir, f"hour_{h:02d}.parquet"))
        per_file.append((n, float(temp.min()), float(temp.max())))
        if h == hours - 1:
            final = poll == POLLS_PER_HOUR - 1
            last = {
                CITIES[c][0]: (float(t), int(s))
                for c, t, s in zip(ci[final], temp[final], table["timestamp"].to_numpy()[final])
            }
    return {"rows": sum(f[0] for f in per_file), "per_file": per_file, "last_poll": last}


def check_catalog(catalog, expect: dict, evaluation: dict) -> list[tuple[str, str | None]]:
    """Compare the catalog a drain wrote with the generator's expectations.

    Returns ``(check, problem)`` per check; ``problem`` is None when it holds."""
    out = []
    raw_rows = catalog.read("raw_weather").count()
    out.append((
        "raw_rows",
        None if raw_rows == expect["rows"] else f"{raw_rows} rows, generated {expect['rows']}",
    ))
    current = {
        r["city"]: (r["temperature"], r["timestamp"])
        for r in catalog.read("current_weather").select("city", "temperature", "timestamp").collect()
    }
    out.append((
        "current_weather",
        None if current == expect["last_poll"]
        else f"differs from the last poll ({len(current)} rows, {len(expect['last_poll'])} cities)",
    ))
    stats = sorted(
        (r["total_records"], r["min_temperature"], r["max_temperature"])
        for r in catalog.read("weather_statistics").collect()
    )
    out.append((
        "weather_statistics",
        None if stats == sorted(expect["per_file"])
        else f"rows {stats} != per-batch {sorted(expect['per_file'])}",
    ))
    out.append(("evaluate_n", None if evaluation.get("n") else f"n={evaluation.get('n')}"))
    return out
