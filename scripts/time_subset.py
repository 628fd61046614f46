#!/usr/bin/env python
"""Time a named subset of registry queries with the bench.py protocol
(q01 warmup, then ``bench.min_time``: the WARM_PLAN untimed call and
the min over $SPARK_GRAFT_BENCH_REPS) and print old-vs-new per query
against a reference bench_runs record. Usage:
  python scripts/time_subset.py <ref_record.json> <name> [name ...]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import bench_reps, min_time  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ref_path, names = sys.argv[1], sys.argv[2:]
    ref = json.load(open(ref_path))
    old = {**ref.get("queries", {}), **ref.get("singles", {})}
    from oxi_diel_db_spark.queries import load_registry
    from oxi_diel_db_spark.session import get_spark

    spark = get_spark("time_subset")
    reg = load_registry()
    reg["q01_pricing_summary"].build(spark, SF_DIR).collect()  # warmup
    total_old = total_new = 0.0
    reps = bench_reps()
    for name in names:
        best = min_time(name, lambda: reg[name].build(spark, SF_DIR).collect(), reps)
        o = old.get(name, float("nan"))
        total_old += o if o == o else 0.0
        total_new += best
        print(f"{name:38s} {o:7.2f} -> {best:6.2f}  ({best / o:.2f}x)"
              if o == o else f"{name:38s}    n/a -> {best:6.2f}")
    print(f"{'TOTAL':38s} {total_old:7.2f} -> {total_new:6.2f}")


if __name__ == "__main__":
    main()
