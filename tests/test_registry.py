"""The query registry is pinned to a committed snapshot: the ordered
(name, sha256 of the oracle SQL, or null for a rows-only query) list.
A change to how queries are registered must leave names, order and every
oracle string byte-identical. Adding or editing a query rewrites the
snapshot deliberately: ``python -m tests.test_registry`` from the repo
root.
"""

from __future__ import annotations

import hashlib
import json
import os

from weatherdatapipeline_spark.queries import ORACLES, QUERIES

SNAPSHOT = os.path.join(os.path.dirname(__file__), "data", "registry_snapshot.json")


def registry_snapshot() -> list[list]:
    return [
        [n, hashlib.sha256(ORACLES[n].encode()).hexdigest() if n in ORACLES else None]
        for n in QUERIES
    ]


def test_registry_matches_snapshot():
    with open(SNAPSHOT) as f:
        assert registry_snapshot() == json.load(f)
    # ORACLES holds exactly the non-null entries, nothing more
    assert set(ORACLES) <= set(QUERIES)


def test_registry_keys_are_function_names():
    for name, build in QUERIES.items():
        assert build.__wrapped__.__name__ == name


if __name__ == "__main__":
    with open(SNAPSHOT, "w") as f:
        f.write("[\n" + ",\n".join(json.dumps(p) for p in registry_snapshot()) + "\n]\n")
