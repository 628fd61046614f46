#!/usr/bin/env python
"""Machine-compute the next round's sampling rotation.

The driver's correctness gate samples the FIRST 50 registry keys per
round (CORRECTNESS_r0N.json). This tool unions every existing
CORRECTNESS file, diffs against the current registry, and prints:

* the never-officially-sampled residue (exact list, import order),
* any sampled query whose LATEST official status was not fully green
  (these should lead the next prefix),
* how many slots remain for new-in-round queries.

Usage: python tools/rotation_plan.py [--json]
Run at the START of a round, after the driver has written the new
CORRECTNESS file — the output seeds the next `_PRIORITY` list in
queries/__init__.py (after the fixed `_SENTINELS` head; new/changed
queries then take slots from the tail).
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys

sys.path.insert(0, ".")

_PKG = "oxi_diel_db_spark"


def _registering_module(name: str) -> str | None:
    """Module file that holds the ``register("name", ...)`` call
    (NOT queries/__init__.py — its priority list quotes names but
    carries no behavior)."""
    for path in glob.glob(f"{_PKG}/queries/*.py"):
        if path.endswith("__init__.py"):
            continue
        with open(path) as fh:
            src = fh.read()
        if re.search(rf'register\(\s*\n?\s*"{re.escape(name)}"', src):
            return path
    return None


def _module_deps(path: str) -> set[str]:
    """Repo files this queries module imports from the package
    (operators/functions/sources/streaming/ml — the code whose change
    can alter a registered query's behavior)."""
    deps: set[str] = set()
    with open(path) as fh:
        src = fh.read()
    for m in re.finditer(
        rf"from {_PKG}\.(\w+)(?:\.(\w+))? import ([\w, ()\n]+)", src
    ):
        sub, mod, names = m.group(1), m.group(2), m.group(3)
        if sub == "queries":
            continue
        if mod:
            cand = f"{_PKG}/{sub}/{mod}.py"
            if os.path.exists(cand):
                deps.add(cand)
        else:
            # `from pkg.sub import a, b` — a/b may be modules
            for n in re.split(r"[,\s()]+", names):
                cand = f"{_PKG}/{sub}/{n}.py"
                if n and os.path.exists(cand):
                    deps.add(cand)
            init = f"{_PKG}/{sub}/__init__.py"
            if os.path.exists(init):
                deps.add(init)
    return deps


def _git_last_ts(path: str, cache: dict[str, int]) -> int:
    if path not in cache:
        out = subprocess.run(
            ["git", "log", "-1", "--format=%ct", "--", path],
            capture_output=True,
            text=True,
        ).stdout.strip()
        cache[path] = int(out) if out else 0
    return cache[path]


def _record_ts(cfile: str, cache: dict[str, int]) -> int:
    """Timestamp the official record landed (commit that ADDED it)."""
    if cfile not in cache:
        out = subprocess.run(
            ["git", "log", "--diff-filter=A", "-1", "--format=%ct", "--", cfile],
            capture_output=True,
            text=True,
        ).stdout.strip()
        cache[cfile] = int(out) if out else 0
    return cache[cfile]


def staleness_report(reg, latest: dict[str, dict]) -> list[dict]:
    """Per-entry: is the newest official driver row OLDER than the last
    commit touching the entry's registering module or its imported
    operator/function/source files? (r8 verdict ask #2.) Sorted stalest
    first: stale entries by official-row age ascending, then name."""
    ts_cache: dict[str, int] = {}
    rec_cache: dict[str, int] = {}
    dep_cache: dict[str, set[str]] = {}
    rows = []
    for name in reg:
        if name not in latest:
            continue  # never-sampled: handled by the residue list
        mod = _registering_module(name)
        if mod is None:
            continue
        if mod not in dep_cache:
            dep_cache[mod] = _module_deps(mod) | {mod}
        code_ts = max(_git_last_ts(p, ts_cache) for p in dep_cache[mod])
        row_ts = _record_ts(latest[name]["round"], rec_cache)
        rows.append(
            {
                "name": name,
                "module": mod,
                "row_round": latest[name]["round"],
                "row_ts": row_ts,
                "code_ts": code_ts,
                "stale": code_ts > row_ts,
            }
        )
    rows.sort(key=lambda r: (not r["stale"], r["row_ts"], r["name"]))
    return rows


def main() -> None:
    from oxi_diel_db_spark.queries import load_registry

    reg = load_registry()
    latest: dict[str, dict] = {}
    files = sorted(glob.glob("CORRECTNESS_r*.json"))
    for path in files:
        with open(path) as fh:
            data = json.load(fh)
        for name, row in data.items():
            latest[name] = {"round": path, **(row if isinstance(row, dict) else {})}

    never = [n for n in reg if n not in latest]
    def _green(n: str, row: dict) -> bool:
        if reg[n].oracle is None:
            # rows-only by design: a recorded row count IS the pass;
            # but if the query HAS an oracle NOW, an old rows-only
            # record is stale (gate upgraded) and must be re-sampled
            return row.get("err") == "no_oracle" and row.get("spark_rows") is not None
        return bool(
            row.get("rows_match")
            and row.get("schema_match")
            and row.get("hash_match")
        )

    not_green = [n for n, row in latest.items() if n in reg and not _green(n, row)]
    stale_rows = staleness_report(reg, latest) if "--staleness" in sys.argv else []
    out = {
        "registry": len(reg),
        "officially_sampled": len([n for n in reg if n in latest]),
        "never_sampled": never,
        "latest_status_not_green": not_green,
        "free_slots_after_residue": max(0, 50 - len(never) - len(not_green)),
        "correctness_files": files,
    }
    if stale_rows:
        out["staleness"] = stale_rows
        out["stale_count"] = sum(1 for r in stale_rows if r["stale"])
    if "--json" in sys.argv:
        print(json.dumps(out, indent=2))
        return
    print(f"registry: {out['registry']}; officially sampled: {out['officially_sampled']}")
    print(f"\nnever-sampled residue ({len(never)}):")
    for n in never:
        print(f"    \"{n}\",")
    if not_green:
        print(f"\nLATEST STATUS NOT GREEN ({len(not_green)}) — lead the prefix:")
        for n in not_green:
            print(f"    \"{n}\",  # {latest[n]}")
    print(f"\nfree slots after residue: {out['free_slots_after_residue']}")
    if stale_rows:
        import datetime

        def _d(ts: int) -> str:
            return datetime.datetime.utcfromtimestamp(ts).strftime("%m-%d") if ts else "?"

        n_stale = out["stale_count"]
        print(f"\nstaleness (official row predates last code change): {n_stale}")
        for r in stale_rows:
            if not r["stale"]:
                break
            print(
                f"    \"{r['name']}\",  # row {r['row_round']} ({_d(r['row_ts'])})"
                f" < code {_d(r['code_ts'])} [{r['module'].rsplit('/',1)[-1]}]"
            )


if __name__ == "__main__":
    main()
