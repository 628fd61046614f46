"""Build step: everything a run needs that is not timed.

* primes the model artifacts the first ``predict`` would otherwise
  train (``.scratch/models/el_comp_100`` and ``scaler_comp.json``),
  in a pinned ``local[2]`` session;
* computes the DuckDB oracle answer (row count, column names,
  order-insensitive value hash with ``tools/check_oracle.py``'s
  canonicalization) of every registry op the workloads send;
* reads the materials corpus directly with pyarrow for the ``lookup``
  and ``predict`` input pools and the expected ``lookup`` rows.

``run.py`` starts it in a child process when the build stamp is missing
or stale.  Usage: python3 perfbench/build.py SF
"""

from __future__ import annotations

import hashlib
import json
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import common  # noqa: E402
import workloads as W  # noqa: E402


def stamp_key(sf: float) -> str:
    h = hashlib.sha1(f"{sf:g}".encode())
    inputs = [common.HERE / name for name in ("build.py", "workloads.py")]
    inputs += [common.ROOT / "tools" / "check_oracle.py"]
    inputs += sorted(common.data_dir(sf).glob("*.parquet"))
    for path in inputs:
        h.update(path.read_bytes())
    return h.hexdigest()


def is_built(sf: float) -> bool:
    stamp = common.build_dir(sf) / "stamp.json"
    if not stamp.is_file() or not all(common.artifact_state().values()):
        return False
    return json.loads(stamp.read_text()).get("key") == stamp_key(sf)


def load_check_oracle():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "check_oracle", common.ROOT / "tools" / "check_oracle.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def corpus_inputs() -> dict:
    import pyarrow.dataset as ds

    t = ds.dataset(str(common.ROOT / "data" / "materials.parquet"), format="parquet").to_table(
        columns=["mp_id", "formula", "nelements", "nsites", "band_gap", "spacegroup", "dielectric"]
    )
    expected: dict[str, list] = {}
    for r in t.to_pylist():
        expected.setdefault(r["mp_id"], []).append(
            [
                r["mp_id"],
                r["formula"],
                r["nelements"],
                r["nsites"],
                r["band_gap"],
                (r["spacegroup"] or {}).get("symbol"),
                (r["dielectric"] or {}).get("epsilon_ionic_avg"),
            ]
        )
    return {
        "mp_ids": sorted(expected),
        "formulas": sorted({r["formula"] for r in t.select(["formula"]).to_pylist()}),
        "lookup": expected,
    }


def oracle_answers(registry, sf_dir: Path) -> dict:
    import duckdb

    co = load_check_oracle()
    con = duckdb.connect()
    for t in co.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    names = sorted({op for w in W.WORKLOADS.values() for op in w.ops if op in W.REGISTRY_OPS})
    out = {}
    for op in names:
        oracle = registry[W.REGISTRY_OPS[op]].oracle
        if oracle is None:
            continue
        rel = con.sql(oracle)
        cols = [d[0] for d in rel.description]
        rows = rel.fetchall()
        out[op] = {"rows": len(rows), "cols": sorted(cols), "hash": co.table_hash(cols, rows)}
    con.close()
    return out


def main(sf: float) -> None:
    common.require_checkout()
    sf_dir, out = common.data_dir(sf), common.build_dir(sf)
    if out.exists():
        shutil.rmtree(out)
    run_dir = out / "build_run"
    common.pin_session(run_dir, sf_dir)
    corpus = corpus_inputs()
    from oxi_diel_db_spark.queries import load_registry

    oracle = oracle_answers(load_registry(), sf_dir)
    if not all(common.artifact_state().values()):
        from oxi_diel_db_spark.engine import Engine

        spark = common.start_spark("perfbench-build")
        try:
            Engine(spark, str(sf_dir)).predict_log10_eps("SiO2")
        finally:
            common.stop_spark(spark)
    shutil.rmtree(run_dir, ignore_errors=True)
    (out / "corpus.json").write_text(json.dumps(corpus))
    (out / "oracle.json").write_text(json.dumps(oracle, indent=1))
    (out / "stamp.json").write_text(
        json.dumps({"key": stamp_key(sf), "artifacts": common.artifact_state()})
    )


if __name__ == "__main__":
    main(float(sys.argv[1]))
