"""The Spark lifetime of one benchmark process.

Every session runs on an explicit ``local[k]`` master with an explicit
shuffle-partition count; ``get_spark``'s default master is never used.
All scratch state (Spark local dirs, JVM temp dir, event log) lives in a
per-run directory that the caller creates fresh and deletes afterwards.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

from perfbench import procs

HEAP = "1g"
_LOG4J = os.path.join(os.path.dirname(os.path.abspath(__file__)), "log4j2.properties")


class Engine:
    def __init__(self, root: str, run_dir: str, partitions: int):
        self.run_dir = run_dir
        self.partitions = partitions
        self.spark = None
        self.rss = procs.RssPeaks()
        self._worker_pids: set[int] = set()
        tmp = os.path.join(run_dir, "tmp")
        local = os.path.join(run_dir, "local")
        os.makedirs(tmp, exist_ok=True)
        os.makedirs(local, exist_ok=True)
        # set before the JVM launches: it and the Python workers inherit them
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        )
        # heap pinned and pre-touched (-Xms = spark.driver.memory): the JVM's
        # resident size then no longer depends on when G1 chose to grow
        self._java_opts = (
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -Dlog4j2.configurationFile=file:{_LOG4J}"
        )
        # every JVM, spark-submit's launcher included: no /tmp/hsperfdata,
        # temp files inside the run directory
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"

    def start(self, cores: int, event_log_dir: str | None = None):
        """New SparkSession on local[cores]; returns seconds taken. The
        first call launches the JVM, later ones reuse it."""
        from ocr_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": self._java_opts,
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.eventLog.enabled": "false",
        }
        if event_log_dir is not None:
            os.makedirs(event_log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench", master=f"local[{cores}]",
            shuffle_partitions=self.partitions, extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    @property
    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        return gw.proc.pid if gw is not None and getattr(gw, "proc", None) else None

    def sample(self) -> None:
        """Record peak RSS of driver, JVM and workers; remember worker pids
        so shutdown can wait for them."""
        jvm = self.jvm_pid
        self.rss.sample(os.getpid(), jvm)
        if jvm is not None:
            self._worker_pids.update(procs.descendants(jvm))

    def worker_cpu_seconds(self) -> float:
        jvm = self.jvm_pid
        return procs.tree_cpu_seconds(jvm) if jvm is not None else 0.0

    def stop(self) -> None:
        if self.spark is not None:
            self.sample()
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> list[int]:
        """Stop the session, the JVM and its workers; wait for all of them.
        Returns pids still alive at the deadline."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return procs.wait_gone(sorted(self._worker_pids), 30)
        proc = gw.proc
        self._worker_pids.update(procs.descendants(proc.pid))
        gw.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort, must not leave it behind
            proc.kill()
            proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        return procs.wait_gone(sorted(self._worker_pids), 30)


def noop(df) -> None:
    """Materialize ``df`` into Spark's noop sink (full execution, no I/O)."""
    df.write.format("noop").mode("overwrite").save()
