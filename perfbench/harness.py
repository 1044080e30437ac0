"""Process-level plumbing for the KG benchmark: the Spark session, its
shutdown, and CPU / memory accounting over the benchmark's process tree
(this Python process, the Spark JVM it launches, and the Python
workers the JVM forks)."""

from __future__ import annotations

import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_count() -> int:
    """Cores this process may run on, as `nproc` reports them."""
    return len(os.sched_getaffinity(0))


def start_session(work: str, event_log_dir: str | None = None):
    """A local[nproc] session whose every file lives under `work`.

    With `event_log_dir`, the Spark event log is written there,
    uncompressed; the UI stays off either way."""
    from careers_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark_local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark("perfbench", cpus=cpu_count(), extra_conf=conf)


def warm_workers(spark) -> None:
    """Start one Python worker per core and import the pipeline's
    worker-side modules in each, so the next job does not pay for
    interpreter start-up and imports."""

    def _import(batches):
        import careers_spark.functions.text  # noqa: F401
        import careers_spark.operators.coherence  # noqa: F401
        import careers_spark.operators.mentions  # noqa: F401

        yield from batches

    n = spark.sparkContext.defaultParallelism
    spark.range(n, numPartitions=n).mapInPandas(_import, schema="id long").count()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pids() -> list[int]:
    """This process and every process started under it."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_cpu_s() -> float:
    """User+sys CPU seconds of the live process tree, including the
    reaped children each process has waited for."""
    total = 0
    for p in tree_pids():
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of stat(5)
        total += sum(int(x) for x in fields[11:15])
    return total / CLK_TCK


def tree_peak_rss_mb() -> float:
    """Sum over the live process tree of each process's peak resident
    memory (VmHWM). It is read once, so no sampler runs beside the
    timed work. Processes that have ended are not counted."""
    total_kb = 0
    for p in tree_pids():
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1e3


def _alive(pid: int, start: str) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return False
    # a zombie has ended; a different start time means a reused pid
    return fields[0] != "Z" and fields[19] == start


def shutdown_spark(timeout: float = 30.0) -> None:
    """Stop the active SparkContext, then the JVM it runs in, and wait
    until every process started under this one has ended."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    procs = []
    for p in tree_pids():
        if p == os.getpid():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                procs.append((p, f.read().rsplit(")", 1)[1].split()[19]))
        except OSError:
            continue
    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            # the JVM exits when its stdin closes
            proc.stdin.close()
            proc.wait(timeout)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while any(_alive(p, s) for p, s in procs):
        if time.monotonic() > deadline:
            raise TimeoutError("processes started by the benchmark did not end")
        time.sleep(0.1)
