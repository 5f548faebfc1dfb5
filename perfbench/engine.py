"""Engine session lifecycle and JVM-side probes.

``machine_settings`` sizes the engine to the host it runs on (the
engine's own defaults assume a much larger box); ``Engine`` starts the
engine's SparkSession through ``session.get_spark``, keeps every file
the JVM writes inside the benchmark's work directory, and on close
stops the session and waits for the JVM process to exit.
"""

from __future__ import annotations

import logging
import os
import shlex
import subprocess
import time

from spans import log

# live_heap_mb: collect until one more collection frees less than this
LIVE_HEAP_SETTLED_MB = 1.0
LIVE_HEAP_PAUSE_S = 0.5  # lets the context cleaner drop what a collection released
LIVE_HEAP_MAX_GCS = 10


def machine_settings() -> dict:
    """CPUs and JVM heap for this host: every CPU the process may
    run on, and a quarter of physical memory (1-8 GiB) as heap — the
    JVM also needs off-heap room and the host is shared."""
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    mem_mb = 4096
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    mem_mb = int(line.split()[1]) // 1024
                    break
    except OSError:
        pass
    heap_mb = max(1024, min(8192, mem_mb // 4))
    return {"cpus": int(cpus or 1), "heap": f"{heap_mb}m"}


def _vm_status(pid: int, field: str) -> float:
    """A kB field of /proc/<pid>/status (VmHWM, VmRSS) in MiB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Engine:
    """One engine process: SparkSession + its JVM."""

    def __init__(self, work_dir: str, app: str) -> None:
        settings = machine_settings()
        self.settings = settings
        local = os.path.join(work_dir, "spark-local")
        tmp = os.path.join(work_dir, "tmp")
        os.makedirs(local, exist_ok=True)
        os.makedirs(tmp, exist_ok=True)
        os.environ["SPARK_GRAFT_CPUS"] = str(settings["cpus"])
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = settings["heap"]
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tmp
        # A fixed young generation keeps the heap figures from following
        # the collector's adaptive sizing: live_heap_mb spread 2 % between
        # seeds with it and 18 % without.
        young_mb = int(settings["heap"][:-1]) // 8
        java_opts = shlex.quote(f"-Djava.io.tmpdir={tmp} -Xmn{young_mb}m")
        warehouse = shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work_dir, 'warehouse')}")
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--driver-java-options {java_opts} --conf {warehouse} "
            "--conf spark.ui.showConsoleProgress=false "
            "--conf spark.ui.retainedJobs=100000 "
            "pyspark-shell"
        )
        from peerdb_cdc_psql_psql_spark.session import get_spark

        # analysis errors the wire layer retries on are not benchmark news
        logging.getLogger("SQLQueryContextLogger").setLevel(logging.CRITICAL)

        t0 = time.perf_counter()
        self.spark = get_spark(app)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0
        gw = self.spark.sparkContext._gateway
        self._proc = getattr(gw, "proc", None)
        self.jvm = self.spark.sparkContext._jvm

    # -- probes ----------------------------------------------------------
    def jobs_started(self) -> int:
        """Spark jobs submitted so far in this session."""
        v = self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
        return int(v if isinstance(v, int) else v.get())

    def gc_ms(self) -> float:
        total = 0
        for bean in self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans():
            total += max(0, bean.getCollectionTime())
        return float(total)

    def reset_heap_peak(self) -> None:
        for pool in self.jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
            if str(pool.getType().toString()) == "Heap memory":
                pool.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        total = 0
        for pool in self.jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
            if str(pool.getType().toString()) == "Heap memory":
                total += pool.getPeakUsage().getUsed()
        return total / (1024.0 * 1024.0)

    def live_heap_mb(self) -> float:
        """Heap in use once full collections stop freeing memory: what
        the engine retains (state, caches, memos), free of collector
        timing. A collection hands unreachable broadcasts, shuffles and
        cached blocks to Spark's context cleaner, which drops them on
        its own thread, so the next collection frees more; one or two
        fixed collections left between-run spreads of 10-55 %."""
        mx = self.jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        readings = []
        for _ in range(LIVE_HEAP_MAX_GCS):
            self.jvm.java.lang.System.gc()
            readings.append(mx.getHeapMemoryUsage().getUsed() / (1024.0 * 1024.0))
            if len(readings) > 1 and readings[-2] - readings[-1] < LIVE_HEAP_SETTLED_MB:
                break
            time.sleep(LIVE_HEAP_PAUSE_S)
        log("live heap MB after each collection: " + " ".join(f"{r:.1f}" for r in readings))
        return readings[-1]

    def peak_rss_mb(self) -> float:
        """High-water resident set of the JVM process."""
        return _vm_status(self._proc.pid, "VmHWM") if self._proc else 0.0

    def close(self) -> None:
        """Stop every stream, the session and the JVM; wait for it."""
        from pyspark import SparkContext

        try:
            for q in self.spark.streams.active:
                q.stop()
        finally:
            self.spark.stop()
            if SparkContext._gateway is not None:
                SparkContext._gateway.shutdown()
            if self._proc is not None:
                # the gateway JVM exits when its stdin reaches EOF
                if self._proc.stdin is not None:
                    self._proc.stdin.close()
                try:
                    self._proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    self._proc.kill()
                    self._proc.wait(timeout=30)
