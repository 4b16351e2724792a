"""Session lifecycle, host record and process-tree memory sampling."""

from __future__ import annotations

import os
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
MASTER = "local[4]"


def start_session():
    """The package's own session factory with its defaults."""
    from irivermetrics_spark.session import get_spark

    return get_spark("perfbench", master=MASTER)


def set_up(wl) -> tuple[object, list[float]]:
    """Session start + input table materialization + warm-up. Returns the
    session and the wall seconds of the three steps."""
    t = [time.perf_counter()]
    spark = start_session()
    t.append(time.perf_counter())
    wl.materialize(spark)
    t.append(time.perf_counter())
    wl.warm_up(spark)
    t.append(time.perf_counter())
    return spark, [b - a for a, b in zip(t, t[1:])]


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def host_record() -> dict:
    """What a reader needs to tell a noisy window from a regression:
    cores, load, the busy-loop probe of bench.py, library versions."""
    import pyarrow
    import pyspark

    from bench import calib_ms

    return dict(nproc=len(os.sched_getaffinity(0)), loadavg=list(os.getloadavg()),
                calib_ms=calib_ms(), pyspark=pyspark.__version__, pyarrow=pyarrow.__version__)


def _tree() -> dict[int, dict[str, list[str]]]:
    """/proc status fields of this process and all its descendants."""
    children: dict[int, list[int]] = {}
    status: dict[int, dict[str, list[str]]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = {}
        try:
            with open(f"/proc/{entry}/status") as f:
                for line in f:
                    key, _, value = line.partition(":")
                    fields[key] = value.split()
        except OSError:
            continue  # the process ended while we read it
        pid = int(entry)
        status[pid] = fields
        children.setdefault(int(fields["PPid"][0]), []).append(pid)
    tree, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in status:
            tree[pid] = status[pid]
        todo.extend(children.get(pid, ()))
    return tree


def tree_peak_rss() -> dict[str, int]:
    """Peak resident bytes (the kernel's VmHWM) of this process and all
    its descendants (Python driver, JVM, Python workers), summed by
    command name."""
    by_name: dict[str, int] = {}
    for fields in _tree().values():
        name = fields["Name"][0]
        by_name[name] = by_name.get(name, 0) + int(fields.get("VmHWM", ["0"])[0]) * 1024
    return by_name
