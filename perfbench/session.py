"""The benchmark's Spark session: fixed settings, probes, clean stop.

Every file Spark, the JVM and Python write goes under the run's work
directory inside the checkout. The heap and shuffle partitions are fixed
here, not left to ``get_spark``'s defaults (24g heap), so runs on the same
machine use the same memory and parallelism.
"""

from __future__ import annotations

import json
import os
import resource
import tempfile
import time

# maximum heap only: the JVM commits heap as the program needs it, so
# peak RSS follows the program's own memory use
DRIVER_HEAP = "2g"
# class-data-sharing archive of the classes the JVM loads: the first run
# in a checkout writes it when its JVM exits, later runs map it instead
# of loading and verifying those classes again (shorter start-up and
# warm-up). The JVM ignores an archive it cannot use.
CDS_ARCHIVE = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), ".perfbench_build", "spark-classes.jsa")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start(work: str, event_log: bool):
    """Start the session; returns (spark, seconds it took)."""
    for sub in ("tmp", "local", "warehouse", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # these environment variables would move Spark's files elsewhere or
    # switch on the Hive catalog
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ.pop("SPARK_GRAFT_METASTORE_DIR", None)
    # Spark puts its conf directory on the class path; the archive only
    # accepts empty directories there, and the class path must be the
    # same in every run (the installed conf directory holds templates
    # Spark never reads)
    conf_dir = os.path.join(os.path.dirname(CDS_ARCHIVE), "conf")
    os.makedirs(conf_dir, exist_ok=True)
    os.environ["SPARK_CONF_DIR"] = conf_dir
    cds = ("SharedArchiveFile" if os.path.exists(CDS_ARCHIVE)
           else "ArchiveClassesAtExit")

    from lamapi_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:{cds}={CDS_ARCHIVE} "
            # no hsperfdata file: the JVM would write it under /tmp
            "-Xlog:disable -Xlog:all=error:stderr -XX:-UsePerfData",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    n = cores()
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{n}]",
                      shuffle_partitions=n, extra_conf=conf)
    elapsed = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, elapsed


def stop(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    # the JVM exits when its stdin closes
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def peak_rss_mb() -> float:
    """Peak RSS of the JVM (VmHWM) plus that of this Python process."""
    from pyspark import SparkContext

    jvm_kb = 0
    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def gc_totals(spark) -> tuple[float, int]:
    """JVM garbage-collection (seconds, collections) so far, from the
    GarbageCollector MXBeans."""
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return (sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0,
            sum(max(b.getCollectionCount(), 0) for b in beans))


def persisted_rdds(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def release(spark, keep: set[int]) -> None:
    """Unpersist every RDD not in ``keep`` and ask the JVM for a GC, so
    one sample's leftovers are not paid for by the next."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(rdds.keySet()):
        if int(rid) not in keep:
            rdds.get(rid).unpersist(True)
    spark.sparkContext._jvm.System.gc()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def event_log_jobs(events_dir: str) -> list[dict]:
    """Jobs from the (uncompressed) event log with their task count and
    shuffle bytes written: [{"submit_ms", "tasks", "shuffle_bytes"}].
    Read it after the session stopped, when the log is complete."""
    stage_job: dict[int, int] = {}
    jobs: dict[int, dict] = {}
    for name in os.listdir(events_dir):
        with open(os.path.join(events_dir, name)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"submit_ms": ev["Submission Time"],
                                 "tasks": 0, "shuffle_bytes": 0}
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"]))
                    if job is None:
                        continue
                    job["tasks"] += 1
                    metrics = ev.get("Task Metrics") or {}
                    write = metrics.get("Shuffle Write Metrics") or {}
                    job["shuffle_bytes"] += write.get("Shuffle Bytes Written", 0)
    return list(jobs.values())
