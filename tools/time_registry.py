#!/usr/bin/env python
"""Time EVERY registry query once (single-shot: ``bench.min_time`` with
reps=1, so a WARM_PLAN entry gets its untimed call first, as in
bench.py) at the given SF dir — the full-surface regression net behind
the headline bench.
Prints one line per query sorted by runtime plus a total; slow lines
are expected only for ML training, streaming trigger fixed costs,
file-IO round-trips, and iterative graph loops (see NOTES/SCALE.md).

Usage: python tools/time_registry.py [sf_dir] [name_prefix ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import min_time  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
PREFIXES = tuple(sys.argv[2:])


def main() -> None:
    from oxi_diel_db_spark.queries import load_registry
    from oxi_diel_db_spark.session import get_spark

    spark = get_spark("time_registry")
    reg = load_registry()
    timings: dict[str, float] = {}
    failures: dict[str, str] = {}
    for name, qdef in reg.items():
        if PREFIXES and not name.startswith(PREFIXES):
            continue
        t0 = time.time()
        try:
            timings[name] = min_time(name, lambda: qdef.build(spark, SF_DIR).collect(), 1)
        except Exception as ex:  # keep sweeping; report at the end
            failures[name] = str(ex).split("\n")[0][:160]
        sys.stderr.write(f"  {name}: {time.time() - t0:.1f}s\n")
    for name, sec in sorted(timings.items(), key=lambda kv: -kv[1]):
        print(f"{sec:8.2f}s  {name}")
    print(f"\nTOTAL {sum(timings.values()):.1f}s over {len(timings)} queries")
    if failures:
        print(f"{len(failures)} FAILURES:")
        for name, msg in failures.items():
            print(f"  {name}: {msg}")
        sys.exit(1)


if __name__ == "__main__":
    main()
