"""Session lifecycle, timing and process probes shared by the workloads."""

from __future__ import annotations

import contextlib
import hashlib
import os
import statistics
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cpus() -> int:
    return os.cpu_count() or 1


def start_spark(work: str, event_log_dir: str | None = None):
    """A session built through the library's own factory on local[nproc],
    with every scratch path inside ``work``."""
    from httpz_spark.session import get_spark

    n = cpus()
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "1536m",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work} -Dderby.system.home={work}",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{n}]",
                      shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit (its Python
    workers exit with it)."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak RSS of this driver process plus the JVM."""
    return (_hwm_kb("self") + _hwm_kb(jvm_pid())) / 1024.0


def load1() -> float:
    return os.getloadavg()[0]


class Clock:
    """Named wall-clock steps: ``with clock.step("run_wave"): ...``."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.steps: list[tuple[str, float]] = []

    @contextlib.contextmanager
    def step(self, name: str):
        t0 = time.perf_counter()
        with self.tracer.span(name):
            yield
        self.steps.append((name, time.perf_counter() - t0))

    @property
    def total(self) -> float:
        return sum(s for _n, s in self.steps)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def digest(rows) -> str:
    """Order-insensitive digest of an iterable of tuples."""
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(tuple(r)).encode())
    return h.hexdigest()[:16]


def dir_bytes(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            with contextlib.suppress(OSError):
                total += os.path.getsize(os.path.join(d, f))
    return total
