"""Run environment: CPU count, BLAS threads, scratch dirs, the stray-JVM
check, the Spark session's lifetime and the stamp every run prints.

`configure()` must run before numpy or pyspark is imported, because
BLAS reads its thread count at load time and Spark's python workers
inherit the driver's environment through the JVM.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".bench_work"
PACKAGE = ROOT / "h3_rs_spark"

_BLAS_VARS = (
    "OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
    "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS",
)


class SetupError(RuntimeError):
    """The benchmark cannot run here; nothing was measured."""


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure(run_dir: Path) -> None:
    """Environment for the driver, the JVM and its python workers."""
    if not (PACKAGE / "__init__.py").is_file():
        raise SetupError(f"package sources not found under {PACKAGE}")
    sys.path.insert(0, str(ROOT))
    # the package defaults to 32 CPUs when this is unset
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    for var in _BLAS_VARS:
        os.environ[var] = "1"
    tmp = run_dir / "tmp"
    local = run_dir / "spark-local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    # every JVM started from here (spark-submit's launcher too): temp and
    # derby files in the run dir, no /tmp/hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(run_dir / "warehouse")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def spark_jvms() -> list[int]:
    """PIDs of running Spark JVMs (any SparkSubmit process)."""
    pids = []
    for entry in Path("/proc").iterdir():
        if not entry.name.isdigit():
            continue
        try:
            cmd = (entry / "cmdline").read_bytes()
        except OSError:
            continue
        if b"org.apache.spark.deploy.SparkSubmit" in cmd:
            pids.append(int(entry.name))
    return pids


def refuse_stray_jvm() -> None:
    stray = spark_jvms()
    if stray:
        raise SetupError(
            f"a Spark JVM is already running (pids {stray}); it would skew "
            "every timing, so stop it first"
        )


def start_session(run_dir: Path, event_log: bool):
    """Spark session at local[nproc] with the package's own settings.
    Scratch, warehouse and (optionally) the event log stay in run_dir."""
    from h3_rs_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": str(run_dir / "spark-warehouse")}
    if event_log:
        log_dir = run_dir / "eventlog"
        log_dir.mkdir(exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = log_dir.as_uri()
        conf["spark.eventLog.compress"] = "false"
    spark = get_spark(app="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM (and with it every python
    worker it forked) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while spark_jvms() and time.monotonic() < deadline:
        time.sleep(0.2)


def cpu_probe_ms() -> float:
    """bench.py's single-core numpy probe, imported from the checkout."""
    import bench

    return bench.cpu_probe_ms()


def jvm_probe_ms(spark) -> float:
    """JVM-side single-core probe: one one-partition job of 20M
    double-precision sqrt sums (best of three, after a warm-up)."""
    df = spark.range(0, 20_000_000, 1, 1).selectExpr(
        "sum(sqrt(cast(id AS double) * id + 1.0)) AS s"
    )
    df.collect()
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        df.collect()
        best = min(best, time.perf_counter() - t0)
    return round(best * 1000.0, 1)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat. The steal share
    over a phase tells how much of the time the host gave to other guests."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def source_digest() -> str:
    digest = hashlib.sha256()
    for py in sorted(PACKAGE.rglob("*.py")):
        digest.update(str(py.relative_to(ROOT)).encode())
        digest.update(py.read_bytes())
    return digest.hexdigest()[:16]


def git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown (not a git checkout)"
