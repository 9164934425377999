"""What every workload shares: the Spark session, the host-noise probe,
peak memory, and the statistics the metrics are reported with."""

from __future__ import annotations

import math
import os
import statistics
import time

from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark import (
    get_spark,
)

#: Spark local property that tags every job with the span it ran under
SPAN_PROPERTY = "perfbench.span"


def start_session(work: str, event_log_dir: str | None = None):
    """A ``local[$SPARK_GRAFT_CPUS]`` session whose scratch space stays
    under ``work``. With ``event_log_dir`` Spark writes its event log
    there as plain, unrolled JSON lines."""
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if event_log_dir is not None:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    # every INC read logs a caught FileNotFoundException at WARN; the
    # benchmark counts failures by raised exceptions, not log lines
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM has exited. The JVM ends when
    the pipe to its standard input closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def noop_job_s(spark, repeats: int = 5) -> float:
    """Median time of a one-row no-op Spark job: the per-job overhead of
    the host right now. Taken at the start and the end of every run so
    that host drift shows beside the metrics."""
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as f:
                kids = [int(c) for c in f.read().split()]
        except OSError:
            kids = []
        out.extend(kids)
        todo.extend(kids)
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this driver process plus the
    JVM it launched, in MB."""
    me = os.getpid()
    jvms = [p for p in _descendants(me) if _comm(p) == "java"]
    return sum(_vm_hwm_kb(p) for p in [me, *jvms]) / 1024


def retained_heap_mb(spark) -> float:
    """JVM heap still live after a full collection, in MB: what the
    session keeps after the work — cached frames, memos, broadcast
    blocks — rather than how far the collector let garbage pile up.
    Read from each heap pool's usage as of its last collection, so
    objects allocated after the collection do not count."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    # the first collection queues unreachable frames and broadcasts for
    # Spark's context cleaner, which releases their blocks on its own
    # thread; the second collects what the cleaner let go
    jvm.java.lang.System.gc()
    time.sleep(1.0)
    jvm.java.lang.System.gc()
    pools = [p for p in mf.getMemoryPoolMXBeans() if str(p.getType()) == "Heap memory"]
    return sum(p.getCollectionUsage().getUsed() for p in pools) / 2**20


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile p whose nearest-rank sample has at
    least ten samples beyond it, for ``n`` samples; None when no
    percentile does (fewer than 11 samples)."""
    best = None
    for p in range(1, 100):
        rank = math.ceil(p * n / 100)
        if rank >= 1 and n - rank >= 10:
            best = p
    return best


def nearest_rank(values: list[float], p: int) -> float:
    ordered = sorted(values)
    return ordered[max(math.ceil(p * len(ordered) / 100), 1) - 1]


def latency_summary(values: list[float]) -> dict:
    """Sample count, median, and the tail percentile with its value when
    the sample count allows one."""
    out: dict = {"n": len(values)}
    if values:
        out["p50_s"] = statistics.median(values)
        p = tail_percentile(len(values))
        if p is not None:
            out["tail_pct"] = p
            out["tail_s"] = nearest_rank(values, p)
    return out


def du_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, name))
            except OSError:
                pass
    return total
