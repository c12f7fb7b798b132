"""Sketch + experiment-design suite demo (round-9 additions): KMV distinct
sketches with union/intersection algebra, bottom-k quantile sampling,
Merkle-bucket replica reconciliation, Neyman budget allocation, and the
O'Brien-Fleming group-sequential monitor — the bounded-state/bounded-
output operators a 100 TB deployment leans on when exact global answers
are unnecessary or unaffordable.

Run: python examples/sketch_and_design_demo.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from weatherdatapipeline_spark.queries import (
    bottomk_quantile_sketch,
    group_sequential_obrien_fleming,
    kmv_distinct_users,
    kmv_intersection_estimate,
    kmv_union_merge_audit,
    merkle_bucket_diff,
    neyman_allocation_by_type,
)
from weatherdatapipeline_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("sketch-design-demo")

    print("\n== KMV distinct-user sketch per event type (k=64) ==")
    kmv_distinct_users(spark, sf_dir).orderBy("event_type").show(truncate=False)

    print("== KMV mergeability audit: direct vs merged union sketches ==")
    kmv_union_merge_audit(spark, sf_dir).orderBy("type_a", "type_b").show(5)

    print("== KMV set algebra: intersection estimates per type pair ==")
    kmv_intersection_estimate(spark, sf_dir).orderBy("type_a", "type_b").show(5)

    print("== bottom-k quantile sampling vs exact medians ==")
    bottomk_quantile_sketch(spark, sf_dir).orderBy("event_type").show()

    print("== Merkle bucket reconciliation (2% simulated replica drift) ==")
    merkle_bucket_diff(spark, sf_dir).orderBy("bucket").show(8)

    print("== Neyman allocation of a 1000-unit labeling budget ==")
    neyman_allocation_by_type(spark, sf_dir).orderBy("event_type").show()

    print("== O'Brien-Fleming group-sequential A/B monitor (5 looks) ==")
    group_sequential_obrien_fleming(spark, sf_dir).orderBy("look").show()

    spark.stop()


if __name__ == "__main__":
    main()
