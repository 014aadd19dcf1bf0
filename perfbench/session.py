"""Spark session lifecycle and the probes the benchmark reads from outside
the engine: residue (pinned RDDs, storage memory, temp views, conf diff),
the event log, JVM GC time and process RSS."""

from __future__ import annotations

import gc
import os
import resource
import sys
import time

from measure import Tracer


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def rss_peak_mib(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


class Session:
    """Owns the SparkSession for one benchmark run.

    Spark's local and warehouse dirs, the JVM's temp dir and the event log
    all live under ``work``, inside the checkout."""

    def __init__(self, work: str):
        self.spark = None
        self.cold_start_s = None
        self.tracer = Tracer(False)
        self.event_dir = os.path.join(work, "events")
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.makedirs(self.event_dir, exist_ok=True)
        self._conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }

    def start(self, trace: bool = False):
        from video_etl_spark.session import get_spark

        conf = dict(self._conf)
        if trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", conf=conf)
        if self.cold_start_s is None:
            self.cold_start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        sc = self.spark.sparkContext
        self.tracer = Tracer(trace, on_enter=lambda rec: sc.setJobDescription(
            None if rec is None else f"pb#{rec['id']}"))
        self.conf0 = self.spark.conf.getAll
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM gateway, waiting for the JVM."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    # --- probes -----------------------------------------------------------
    def residue(self) -> tuple:
        """(persistent RDD ids, temp view names, changed SQL confs)."""
        jsc = self.spark.sparkContext._jsc
        rdds = frozenset(int(k) for k in jsc.getPersistentRDDs().keySet().toArray())
        views = self.spark._jsparkSession.sessionState().catalog().getTempViewNames().mkString("\x1f")
        conf = self.spark.conf.getAll
        diff = frozenset(k for k in set(conf) | set(self.conf0) if conf.get(k) != self.conf0.get(k))
        return rdds, frozenset(v for v in views.split("\x1f") if v), diff

    def storage_mem_mib(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() for i in infos) / 2**20

    def jvm_gc_s(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    def jvm_live_mib(self) -> float:
        """JVM heap plus non-heap in use after full collections: what the
        session still holds, without the heap-sizing noise of RSS.  Python
        collects first so py4j releases its JVM references, and the pauses
        let Spark's ContextCleaner drop blocks of RDDs nothing references."""
        gc.collect()
        mem = self.spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        for _ in range(3):
            mem.gc()
            time.sleep(0.5)
        used = mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()
        return used / 2**20

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def event_log_lines(self):
        """Lines of every event log file (Spark 4 rolls logs into a
        directory per application)."""
        for root, _dirs, names in os.walk(self.event_dir):
            for name in sorted(names):
                if name.startswith("events_") or name.startswith("local-"):
                    with open(os.path.join(root, name)) as f:
                        yield from (line for line in f if line.strip())


class Residue:
    """Counts operations that leave net-new pinned RDDs, temp views or conf
    changes behind, read after each operation (no forced GC in between)."""

    def __init__(self, session: Session):
        self.session = session
        self.ops = 0
        self.last = session.residue()

    def check(self) -> None:
        now = self.session.residue()
        if any(now[i] - self.last[i] for i in range(3)):
            self.ops += 1
        self.last = now


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)
