"""Harness shared by the workloads: closed-loop op accounting, statistics,
session bring-up and memory probes."""

from __future__ import annotations

import contextlib
import math
import os
import subprocess
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "mb_crdb_cdc_dlgen2_synapse_spark"
CORES = 4


def p50(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return math.nan
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest nearest-rank percentile with at
    least ten samples above it. A run too short for that percentile to lie
    above its median (fewer than 21 samples) reports its maximum
    (percentile 100) instead."""
    s = sorted(xs)
    n = len(s)
    i = n - 11 if n >= 21 else n - 1
    return s[i], round(100.0 * (i + 1) / n, 1), n


def class_balanced(samples: list[float], labels: list[str]) -> tuple[float, float]:
    """(median, tail) weighting every class equally: the geometric means,
    over the classes, of each class's median and of each class's tail."""
    by: dict[str, list[float]] = {}
    for x, c in zip(samples, labels):
        by.setdefault(c, []).append(x)
    meds = [p50(xs) for xs in by.values()]
    tails = [tail(xs)[0] for xs in by.values()]
    gmean = lambda v: math.exp(sum(map(math.log, v)) / len(v))  # noqa: E731
    return gmean(meds), gmean(tails)


class Ops:
    """Closed-loop accounting: one client, each op checked before the next
    is issued. A failed op (exception or wrong result) counts against the
    attempts and its latency sample is +inf."""

    def __init__(self, log):
        self.log = log
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.labels: dict[str, list[str]] = {}

    def run(self, kind: str, label: str, fn, t0: float | None = None):
        """Time ``fn()`` (which performs the op and returns True when its
        output checks) from ``t0`` (default: now) to the checked result."""
        self.attempted += 1
        start = time.perf_counter() if t0 is None else t0
        ok, detail = False, ""
        try:
            ok = bool(fn())
            if not ok:
                detail = "wrong result"
        except Exception:  # a failed op is recorded and the loop goes on
            detail = traceback.format_exc(limit=3).strip().splitlines()[-1]
        dt = time.perf_counter() - start
        if not ok:
            self.failed += 1
            self.failures.append(f"{kind}:{label}: {detail}")
            self.log(f"FAILED {kind} {label}: {detail}")
            dt = math.inf
        self.log(f"op {kind} {label}: {dt:.4f} s")
        self.samples.setdefault(kind, []).append(dt)
        self.labels.setdefault(kind, []).append(label)
        return ok

    def check(self, label: str, ok: bool) -> None:
        """An untimed end-of-run check, counted as one op."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"check:{label}")
            self.log(f"FAILED check {label}")


def close(a: float, b: float, rel: float = 1e-6) -> bool:
    return abs(a - b) <= rel * max(abs(a), abs(b), 1e-9)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus its descendants (the
    Spark JVM and its Python workers), from each one's VmHWM."""
    seen, todo, kb = set(), [os.getpid()], 0
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        kb += _vm_hwm_kb(pid)
        todo += _children(pid)
    return kb / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat. Steal
    is time the hypervisor gave this VM's CPUs to someone else: the share of
    it during a run says how much neighbours slowed the run down."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def prepare_env(work: str) -> None:
    """Environment for the Spark JVM and its Python workers, set before the
    gateway launches: the package must import inside workers launched
    outside the repo root (Python data sources run there), and scratch,
    shuffle and temp files stay inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # the spark-submit launcher JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-memory 3g --driver-java-options "{jvm_opts}" pyspark-shell'
    )


def start_spark(work: str, master: str):
    from mb_crdb_cdc_dlgen2_synapse_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=master,
        shuffle_partitions=CORES,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


@contextlib.contextmanager
def nullspan(*_a, **_k):
    yield None


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
