"""Shared measurement helpers: environment, Spark session, statistics,
host-load sentinel and peak memory."""

from __future__ import annotations

import os
import statistics
import sys
import time


_T0 = time.perf_counter()


def log(*parts) -> None:
    print(f"perfbench [{time.perf_counter() - _T0:6.1f}s]:", *parts,
          file=sys.stderr, flush=True)


def prepare_env(work: str) -> None:
    """Point every scratch location of Python, Spark and the JVM into
    ``work`` (inside the checkout), and pin the session shape: local[n]
    with n the cores this process may use, and a 2 GB driver heap (the
    package's 8 GB default is sized for a dedicated host).  Other engine
    settings keep the package defaults.  Must run before pyspark is
    imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CACHE_DIR"] = os.path.join(work, "cache")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # no hsperfdata files in the system temp dir, from the launcher JVM
    # either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile
    tempfile.tempdir = tmp


def start_session(work: str):
    """The session the workloads share, with scratch dirs inside ``work``;
    returns (spark, seconds taken)."""
    from graphdb_free_mocha_sa_spark.session import get_spark
    tmp = os.path.join(work, "tmp")
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench", master=f"local[{cpus}]",
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} "
                f"-XX:-UsePerfData",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit: the JVM quits when its
    stdin pipe closes, which the interpreter would otherwise leave to
    after this process is gone."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def calibrate(spark) -> float:
    """Host-load sentinel: the fixed constant-work CPU job of ``bench.py``
    (200 M-row hashed sum over 32 partitions), one sample after a
    1 M-row warm-up of the same expression so a fresh JVM's code
    generation is not what gets timed.  Recorded at the start and the end
    of every run; it is not a gate and triggers no retry."""
    def job(rows: int) -> None:
        spark.range(0, rows, 1, 32).selectExpr(
            "sum((id * 2654435761) % 1000003) AS s") \
            .write.format("noop").mode("overwrite").save()
    job(1_000_000)
    t0 = time.perf_counter()
    job(200_000_000)
    return round(time.perf_counter() - t0, 4)


def _hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python driver plus its JVM, in MB."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_hwm_kb("self") + _hwm_kb(jvm_pid)) / 1024.0


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it: the 11th-largest sample.  Fewer than 11 samples
    give the maximum, flagged by percentile 100."""
    s = sorted(xs)
    if not s:
        return 0.0, 0.0
    if len(s) < 11:
        return float(s[-1]), 100.0
    i = len(s) - 11
    return float(s[i]), round(100.0 * i / (len(s) - 1), 1)


def throughput(ops) -> float:
    """Completed operations per second of the closed loop: the sum over
    clients of (operations / time spent in them).  Unlike operations per
    wall-clock window it does not depend on where the window's end cuts a
    long in-flight operation."""
    busy: dict[int, list] = {}
    for op in ops:
        b = busy.setdefault(op.client, [0, 0.0])
        b[0] += 1
        b[1] += op.t1 - op.t0
    return sum(n / t for n, t in busy.values() if t > 0)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class Outcome:
    """What a workload hands back to the runner."""

    def __init__(self):
        self.setups: list[float] = []      # seconds per repeated set-up
        self.ops: list = []                # client.Op, checked
        self.checks: list = []             # (name, ok) whole-run checks
        self.report: dict = {}             # named workload figures
        self.layers: dict = {}             # per-layer figures it measured
        self.store = None                  # store whose commits are counted
        self.ingested_nt_bytes = 0         # N-Triples/update bytes ingested
        self.cleanup = None                # removes the workload's scratch
