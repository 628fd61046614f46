"""Smoke check of the benchmark itself (not of the engine's speed).

* The seeded plan: a fixed seed reproduces the op order and the
  generated ``lookup``/``predict`` inputs, and another seed changes them.
* The shortest run of each workload at sf0.001 (two passes), untraced
  and traced: the run
  exits 0, answers correctly, and its last line reports exactly the
  metrics ``BENCHMARK.json`` declares, each with its declared unit.

Usage: python3 perfbench/smoke.py     (about four minutes; exits 1 on a failure)
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import common  # noqa: E402
import workloads as W  # noqa: E402

SF = 0.001


def check_plan() -> list[str]:
    corpus = build.corpus_inputs()

    def draws(seed: int, wl: W.Workload):
        plan = W.Plan(wl.ops, seed, corpus["mp_ids"], corpus["formulas"])
        return [plan.cold] + [plan.timed(i) for i in range(3)]

    errors = []
    for wl in W.WORKLOADS.values():
        if draws(7, wl) != draws(7, wl):
            errors.append(f"{wl.name}: seed 7 drew two different plans")
        if draws(7, wl) == draws(8, wl):
            errors.append(f"{wl.name}: seeds 7 and 8 drew the same plan")
    return errors


def check_run(workload: str, trace: int, declared: dict[str, str]) -> list[str]:
    cmd = [
        sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "1",
        "--seconds", "0", "--trace", str(trace), "--sf", f"{SF:g}",
    ]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    tag = f"{workload} trace={trace}"
    if p.returncode != 0 or not lines:
        return [f"{tag}: exit {p.returncode}\n{p.stderr[-3000:]}"]
    print("\n".join(lines[:-1]))
    res = json.loads(lines[-1])
    errors = []
    if not res["correct"] or res["failed"]:
        errors.append(f"{tag}: {res['failed']} of {res['attempted']} requests failed")
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != declared:
        errors.append(f"{tag}: metrics {got} != BENCHMARK.json {declared}")
    for k, v in res["metrics"].items():
        print(f"  {tag}  {k} = {v['value']:.6g} {v['unit']}")
    return errors


def main() -> int:
    common.require_checkout()
    spec = json.loads((common.ROOT / "BENCHMARK.json").read_text())
    declared = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    errors = check_plan()
    if {w["name"] for w in spec["workloads"]} != set(W.WORKLOADS):
        errors.append("BENCHMARK.json workloads differ from workloads.WORKLOADS")
    for name in W.WORKLOADS:
        for trace in (0, 1):
            errors += check_run(name, trace, declared[trace])
    for e in errors:
        print("SMOKE FAIL", e)
    print("smoke:", "FAIL" if errors else "ok")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
