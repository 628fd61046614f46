"""Closed-loop, single-client benchmark of the engine.

    python3 perfbench/run.py --workload analyst --seed 1 --seconds 10 --trace 0

One process drives one pinned ``local[2]`` session (see ``common.py``).
Set-up imports the engine and its registry, starts the session
``SETUPS`` times (a fresh JVM each time; the last one is kept),
registers the views and makes one cold call of every op type.  Then the
client runs timed passes for ``--seconds``: at least ``MIN_PASSES``, and
one more only while it is expected to end inside ``--seconds``.  Each
pass sends every op type of the workload once, in an order drawn from
``--seed``, which also draws the ``lookup``/``predict`` inputs.  Times
are wall times less the share the hypervisor stole
(``common.StealClock``); the raw wall values are printed beside them.

Correctness is checked outside the timed window: cold answers against
the DuckDB oracle (row count, column names, value hash), every timed
answer against the cold answer of its op, ``lookup`` rows against a
direct parquet read, ``predict`` values finite and repeating exactly.

Standard output: a host line, an artifact line and a summary line, then
one JSON object ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
passes alternate traced/untraced and the metrics are the per-layer ones
(``tracing.py``), with spans written under ``.bench_build/perfbench``.
"""

from __future__ import annotations

import time

T_PROC0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

sys.path.insert(0, str(Path(__file__).resolve().parent))

import common  # noqa: E402
import workloads as W  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "op_p50_gmean_s": "s",
    "ops_per_s": "1/s",
}
#: session starts per run; setup_s counts the median one
SETUPS = 3
#: timed passes per run at the least, so every op type has two samples
MIN_PASSES = 2


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.01, help="table scale factor")
    return ap.parse_args(argv)


def ensure_built(sf: float) -> float:
    """Run the build in a child process if needed; return its seconds."""
    import build

    if build.is_built(sf):
        return 0.0
    t0 = time.perf_counter()
    subprocess.run(
        [sys.executable, str(Path(build.__file__)), f"{sf:g}"], check=True, timeout=840
    )
    if not build.is_built(sf):
        raise RuntimeError("perfbench build finished without a valid stamp")
    return time.perf_counter() - t0


class Checker:
    """Correctness of every answer, decided outside the timed window."""

    def __init__(self, build_dir: Path):
        import build

        self.oracle = json.loads((build_dir / "oracle.json").read_text())
        self.corpus = json.loads((build_dir / "corpus.json").read_text())
        self._hash = build.load_check_oracle().table_hash
        self.reference: dict[str, object] = {}
        self.failures: list[str] = []

    def fail(self, what: str) -> bool:
        self.failures.append(what)
        return False

    def _lookup_ok(self, mp_id: str, rows) -> bool:
        want = sorted(tuple(r) for r in self.corpus["lookup"].get(mp_id, []))
        return sorted(rows) == want

    def cold(self, op: str, p: W.Pass, cols, rows) -> bool:
        if op == "lookup":
            self.reference[op] = rows
            return self._lookup_ok(p.mp_id, rows) or self.fail(f"lookup {p.mp_id}: rows differ")
        if op == "predict":
            self.reference[op] = rows[0][0]
            return math.isfinite(rows[0][0]) or self.fail(f"predict {p.formula}: not finite")
        h = self._hash(cols, rows)
        self.reference[op] = h
        want = self.oracle.get(op)
        if want is None:
            return True
        got = {"rows": len(rows), "cols": sorted(cols), "hash": h}
        return got == want or self.fail(f"{op}: {got} != oracle {want}")

    def timed(self, op: str, p: W.Pass, first_pass: bool, cols, rows) -> bool:
        if op == "lookup":
            return self._lookup_ok(p.mp_id, rows) or self.fail(f"lookup {p.mp_id}: rows differ")
        if op == "predict":
            v = rows[0][0]
            if not math.isfinite(v):
                return self.fail(f"predict {p.formula}: not finite")
            if first_pass and v != self.reference.get(op):
                return self.fail(f"predict {p.formula}: {v} != cold {self.reference.get(op)}")
            return True
        ref = self.reference.get(op)
        if ref is None:
            return self.fail(f"{op}: no cold answer to compare the timed answer with")
        return self._hash(cols, rows) == ref or self.fail(
            f"{op}: timed answer differs from the cold answer"
        )


def redirect_sinks(run_dir: Path) -> None:
    """Point the registry's sink writes at this run's fresh directory."""
    from oxi_diel_db_spark.queries import extras

    extras._SCRATCH = str(run_dir / "sinks")


def window_metrics(by_op: dict[str, list[float]]) -> dict:
    """End-to-end window metrics from each op type's median latency."""
    medians = [statistics.median(v) for v in by_op.values()]
    return {
        "op_p50_gmean_s": statistics.geometric_mean(medians),
        "ops_per_s": len(medians) / sum(medians),
    }


def measure(args, sf_dir: Path, build_dir: Path, run_dir: Path, build_s: float) -> dict:
    clock = common.StealClock()
    wl = W.WORKLOADS[args.workload]
    checker = Checker(build_dir)
    plan = W.Plan(wl.ops, args.seed, checker.corpus["mp_ids"], checker.corpus["formulas"])
    spans: dict[str, list[tuple[float, float]]] = {}  # set-up part -> intervals
    by_op: dict[str, list[tuple[float, float]]] = {}  # op type -> timed intervals

    import oxi_diel_db_spark.session  # noqa: F401  (imports pyspark)

    t = time.perf_counter()
    from oxi_diel_db_spark.queries import load_registry

    registry = load_registry()
    spans["queries.load_registry"] = [(t, time.perf_counter())]
    redirect_sinks(run_dir)
    spans["imports"] = [(T_PROC0 + build_s, time.perf_counter())]

    spark = None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                common.stop_spark(spark)
                spark = None
            t = time.perf_counter()
            spark = common.start_spark("perfbench")
            spans.setdefault("session.get_spark", []).append((t, time.perf_counter()))
        t = time.perf_counter()
        client = W.Client(spark, registry, str(sf_dir), wl)
        spans["client_init"] = [(t, time.perf_counter())]

        t = time.perf_counter()
        attempted = failed = 0
        cold: dict[str, float] = {}
        for op in plan.cold.order:
            attempted += 1
            try:
                t0 = time.perf_counter()
                cols, rows = client.collect(client.build(op, plan.cold))
                cold[op] = round(time.perf_counter() - t0, 3)
                ok = checker.cold(op, plan.cold, cols, rows)
            except Exception as e:  # an op that raises is a failed request
                ok = checker.fail(f"{op} (cold): {type(e).__name__}: {e}")
            failed += not ok
        spans["cold_pass"] = [(t, time.perf_counter())]

        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
        untraced: list[float] = []
        answers = []
        stat0 = common.read_cpu()
        t_window = time.perf_counter()
        i = 0
        # a pass starts only if one more of the mean pass so far fits in
        # --seconds; traced runs alternate traced/untraced passes, traced
        # first, so the later and warmer untraced pass makes
        # trace.overhead_s an upper bound
        while (
            i < MIN_PASSES
            or (time.perf_counter() - t_window) * (i + 1) / i <= args.seconds
            or (tracer is not None and i % 2)
        ):
            p = plan.timed(i)
            traced = tracer is not None and i % 2 == 0
            if traced:
                tracer.install()
            try:
                for op in p.order:
                    attempted += 1
                    try:
                        if traced:
                            res, _ = tracer.run_op(
                                op, lambda: client.build(op, p), client.collect
                            )
                        else:
                            t0 = time.perf_counter()
                            res = client.collect(client.build(op, p))
                            t1 = time.perf_counter()
                            if tracer is not None:
                                untraced.append(t1 - t0)
                            else:
                                by_op.setdefault(op, []).append((t0, t1))
                        answers.append((op, p, i == 0, res))
                    except Exception as e:  # an op that raises is a failed request
                        failed += 1
                        checker.fail(f"{op} (pass {i}): {type(e).__name__}: {e}")
            finally:
                if traced:
                    tracer.uninstall()
            i += 1
        window_s = time.perf_counter() - t_window
        steal = common.steal_pct(stat0, common.read_cpu())
        clock.stop()

        for op, p, first, (cols, rows) in answers:
            failed += not checker.timed(op, p, first, cols, rows)

        def wall(iv):
            return iv[1] - iv[0]

        def net(iv):
            return iv[1] - iv[0] - clock.lost(*iv)

        def setup_parts(dur):
            return {k: statistics.median(dur(iv) for iv in v) for k, v in spans.items()}

        setup, setup_wall = setup_parts(net), setup_parts(wall)
        extra = {
            "passes": i,
            "window_s": round(window_s, 3),
            "setup": {k: round(v, 3) for k, v in setup.items()},
            "session_starts_s": [round(wall(iv), 3) for iv in spans["session.get_spark"]],
            "cold_s": cold,
        }
        if tracer is not None:
            metrics = tracer.layer_metrics(setup_wall, untraced)
            from tracing import LAYER_METRICS

            units = {k: u for k, (u, _) in LAYER_METRICS.items()}
            trace_dir = common.BUILD_DIR / "traces"
            trace_dir.mkdir(parents=True, exist_ok=True)
            trace_path = trace_dir / f"{wl.name}-seed{args.seed}-{os.getpid()}.json"
            tracer.write(trace_path, {"workload": wl.name, "seed": args.seed, "setup": setup_wall})
            extra["trace_file"] = str(trace_path.relative_to(common.ROOT))
            extra["self_s_per_op"] = tracer.self_times()
        else:
            if not by_op:
                raise RuntimeError("no timed op succeeded: " + "; ".join(checker.failures[:3]))
            parts = ("imports", "session.get_spark", "client_init", "cold_pass")
            metrics = {
                "setup_s": sum(setup[k] for k in parts),
                **window_metrics({k: [net(iv) for iv in v] for k, v in by_op.items()}),
            }
            units = END_TO_END
            raw = {
                "setup_s": sum(setup_wall[k] for k in parts),
                **window_metrics({k: [wall(iv) for iv in v] for k, v in by_op.items()}),
            }
            extra["wall"] = {k: round(v, 4) for k, v in raw.items()}
            extra["timed_ops"] = sum(len(v) for v in by_op.values())
            extra["op_s"] = {k: [round(net(iv), 4) for iv in v] for k, v in sorted(by_op.items())}
    finally:
        clock.stop()
        if spark is not None:
            common.stop_spark(spark)
    return {
        "attempted": attempted,
        "failed": failed,
        "failures": checker.failures[:10],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        "steal_pct": steal,
        "extra": extra,
    }


def main(argv=None) -> int:
    load1_pre = os.getloadavg()[0]
    args = parse_args(argv)
    common.require_checkout()
    build_s = ensure_built(args.sf)
    sf_dir = common.data_dir(args.sf)
    run_dir = common.BUILD_DIR / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    common.pin_session(run_dir, sf_dir)
    try:
        out = measure(args, sf_dir, common.build_dir(args.sf), run_dir, build_s)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print("perfbench host " + common.dump(common.host_stamp(load1_pre, out["steal_pct"])))
    print("perfbench artifacts " + common.dump(common.artifact_state()))
    m = out["metrics"]
    fail_frac = out["failed"] / out["attempted"]
    summary = " ".join(f"{k}={v['value']:.6g} {v['unit']}" for k, v in m.items())
    print(
        f"perfbench {args.workload} seed={args.seed} trace={args.trace}: {summary} "
        f"fail_frac={fail_frac:.6g} ({out['failed']}/{out['attempted']}) "
        + common.dump(out["extra"])
    )
    for f in out["failures"]:
        print(f"perfbench FAILED {f}")
    print(
        json.dumps(
            {
                "correct": out["failed"] == 0,
                "attempted": out["attempted"],
                "failed": out["failed"],
                "metrics": m,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
