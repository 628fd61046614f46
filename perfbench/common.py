"""Paths, the pinned session shape, host stamps and the Spark lifecycle
shared by the benchmark's scripts.

The session shape is fixed here and nowhere else: ``local[2]`` with
shuffle partitions following the core count, a JVM that sizes its GC
and JIT thread pools for the same two cores, a 2 GB driver heap, one
BLAS thread per process, and fresh Spark local, JVM and Python temp
directories for every run.  Two cores, not all of them: on a 4-core
host the same 16-query relational mix ran at 17.6, 21.9 and 18.8 s at
``local[4]`` (24% spread) against 16.7 and 17.0 s at ``local[2]``, and
hypervisor steal grows with the benchmark's own thread demand.
"""

from __future__ import annotations

import hashlib
import json
import os
import platform
import shlex
import subprocess
import sys
import tempfile
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD_DIR = ROOT / ".bench_build" / "perfbench"
CPUS = 2
DRIVER_MEM = "2g"
MODELS_DIR = ROOT / ".scratch" / "models"
#: The artifacts the first ``predict`` would otherwise train and save
#: (31 s) — primed by the build so every run starts from the same state.
MODEL_ARTIFACTS = ("el_comp_100", "scaler_comp.json")


def require_checkout() -> None:
    """Exit with status 2 unless ROOT holds the engine and its corpus."""
    missing = [
        p
        for p in ("oxi_diel_db_spark/__init__.py", "data/materials.parquet")
        if not (ROOT / p).exists()
    ]
    if missing:
        print(
            f"perfbench: not an engine checkout, missing {', '.join(missing)} under {ROOT}",
            file=sys.stderr,
        )
        raise SystemExit(2)


def data_dir(sf: float) -> Path:
    """The tables at scale factor ``sf``: copies of the engine's test
    tables (the driver's seed-42 TPC-H-style set), kept read-only."""
    return HERE / "data" / f"sf{sf:g}"


def build_dir(sf: float) -> Path:
    """What the untimed build derives from those tables."""
    return BUILD_DIR / f"sf{sf:g}"


def pin_session(run_dir: Path, sf_dir: Path) -> None:
    """Pin the environment the engine reads at session start.  Must run
    before ``pyspark`` or ``oxi_diel_db_spark`` is imported."""
    for sub in ("local", "tmp", "jvm_tmp"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    env = os.environ
    for k in ("SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_ANSI"):
        env.pop(k, None)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(CPUS),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_SF_DIR": str(sf_dir),
            "SPARK_LOCAL_DIRS": str(run_dir / "local"),
            "TMPDIR": str(run_dir / "tmp"),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "OMP_NUM_THREADS": "1",
            "OPENBLAS_NUM_THREADS": "1",
            "MKL_NUM_THREADS": "1",
            "PYSPARK_SUBMIT_ARGS": " ".join(
                [
                    "--driver-java-options",
                    shlex.quote(
                        f"-Djava.io.tmpdir={run_dir / 'jvm_tmp'} "
                        f"-XX:ActiveProcessorCount={CPUS} -XX:-UsePerfData"
                    ),
                    "--conf spark.ui.showConsoleProgress=false",
                    "pyspark-shell",
                ]
            ),
        }
    )
    tempfile.tempdir = None  # re-read TMPDIR
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def start_spark(app: str):
    from oxi_diel_db_spark.session import get_spark

    return get_spark(app)


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def read_cpu() -> list[int] | None:
    """The aggregate cpu line of /proc/stat (user..steal jiffies)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


class StealClock:
    """Estimates how much of a wall-clock interval the hypervisor took.

    A daemon thread samples the aggregate cpu line of /proc/stat every
    ``PERIOD`` seconds.  Within one sample interval, ``steal / (busy +
    steal)`` is the share of the time that the vCPUs wanting to run were
    withheld, and it costs an interval's wall time only as far as at
    least one cpu wanted to run: the share is scaled by ``min(1, busy
    cpus)``, so time an op spends waiting idle is not discounted for
    steal it did not suffer.
    """

    PERIOD = 0.1

    def __init__(self):
        self._hz = os.sysconf("SC_CLK_TCK")
        self._samples = [(time.perf_counter(), read_cpu())]
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        while not self._done.wait(self.PERIOD):
            self._samples.append((time.perf_counter(), read_cpu()))

    def stop(self) -> None:
        if not self._done.is_set():
            self._done.set()
            self._thread.join()
            self._samples.append((time.perf_counter(), read_cpu()))

    def lost(self, t0: float, t1: float) -> float:
        """Seconds of [t0, t1] (``perf_counter`` times) lost to steal."""
        total = 0.0
        for (ta, a), (tb, b) in zip(self._samples, self._samples[1:]):
            lo, hi = max(t0, ta), min(t1, tb)
            if hi <= lo or not a or not b:
                continue
            d = [y - x for x, y in zip(a, b)]
            busy = sum(d) - d[3] - d[4]  # non-idle jiffies, steal included
            if busy > 0:
                cpus = busy / self._hz / (tb - ta)
                total += (hi - lo) * d[7] / busy * min(1.0, cpus)
        return total


def steal_pct(pre, post) -> float | None:
    """Steal as a share of all user..steal jiffies between two
    ``read_cpu`` samples, as bench.py reports it."""
    if not pre or not post:
        return None
    d = [b - a for a, b in zip(pre, post)]
    return round(100.0 * d[7] / sum(d), 2) if sum(d) > 0 else None


def source_fingerprint() -> str:
    """sha1 over the engine's Python sources: identifies the program in
    a checkout that is not a git repository."""
    h = hashlib.sha1()
    for p in sorted((ROOT / "oxi_diel_db_spark").rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:12]


def git_sha() -> str | None:
    if not (ROOT / ".git").exists():
        return None
    try:
        out = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "--short=12", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def host_stamp(load1_pre: float, steal: float | None) -> dict:
    import pyspark

    return {
        "steal_pct": steal,
        "load1_pre": round(load1_pre, 2),
        "host_cpus": os.cpu_count(),
        "session_cpus": CPUS,
        "git_sha": git_sha(),
        "source_sha1": source_fingerprint(),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }


def artifact_state() -> dict:
    """Presence and size of the primed model artifacts."""
    state = {}
    for name in MODEL_ARTIFACTS:
        p = MODELS_DIR / name
        if p.is_dir():
            files = [f for f in p.rglob("*") if f.is_file()]
            state[name] = {"files": len(files), "bytes": sum(f.stat().st_size for f in files)}
        elif p.is_file():
            state[name] = {"files": 1, "bytes": p.stat().st_size}
        else:
            state[name] = None
    return state


def dump(obj) -> str:
    return json.dumps(obj, separators=(",", ":"), sort_keys=True)
