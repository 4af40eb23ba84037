"""An isolated, pinned Spark session for one benchmark run.

Every run gets a fresh root directory inside the checkout (under
``.perfbench_runs/``) that holds the warehouse, the Spark local dirs, the
JVM's temp dir, the saved state and the event logs; the root is deleted
when the run ends. The session runs at ``local[nproc]`` with a driver
heap sized for a small host.
"""

from __future__ import annotations

import os
import platform
import shutil
import tempfile

RUNS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".perfbench_runs"
)
DRIVER_MEMORY = "1g"


class Run:
    """Owns the run root and the session; ``close`` stops the session
    and deletes the root."""

    def __init__(self, trace: bool):
        os.makedirs(RUNS_DIR, exist_ok=True)
        self.root = os.path.abspath(tempfile.mkdtemp(prefix="run-", dir=RUNS_DIR))
        for d in ("warehouse", "local", "jtmp", "events", "state"):
            os.makedirs(os.path.join(self.root, d))
        self.trace = trace
        self.nproc = os.cpu_count() or 1
        self.spark = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def conf(self) -> dict[str, str]:
        c = {
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.local.dir": self.path("local"),
            # a fixed-size heap: the resident set then does not depend on
            # when G1 decides to grow the heap
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={self.path('jtmp')}"
            ),
            "spark.python.worker.reuse": "true",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            c.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.path("events"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return c

    def start(self):
        # Python workers and any tempfile use inherit the run root; an
        # inherited SPARK_LOCAL_DIRS would override spark.local.dir; the
        # JVMs (launcher and driver) keep no perf-data file under /tmp
        os.environ["TMPDIR"] = self.path("jtmp")
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        tempfile.tempdir = None
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        from embeddingsearch_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.nproc}]",
            shuffle_partitions=self.nproc,
            extra_conf=self.conf(),
        )
        return self.spark

    def stop(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self):
        """Stop the session, end the JVM (it exits when its stdin closes)
        and wait for it, then delete the run directory."""
        from pyspark import SparkContext

        try:
            self.stop()
            gateway = SparkContext._gateway
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                gateway.shutdown()
                proc.stdin.close()
                proc.wait(timeout=60)
                SparkContext._gateway = SparkContext._jvm = None
        finally:
            shutil.rmtree(self.root, ignore_errors=True)
            try:
                os.rmdir(RUNS_DIR)  # only when no other run is live
            except OSError:
                pass

    def describe(self) -> dict:
        """nproc, versions and the session conf, for the run header."""
        import pyspark

        sc = self.spark.sparkContext
        prop = self.spark._jvm.java.lang.System.getProperty
        keep = (
            "spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold",
            "spark.eventLog.enabled", "spark.python.worker.reuse",
        )
        conf = {k: v for k, v in sc.getConf().getAll() if k in keep}
        return {
            "nproc": self.nproc,
            "spark": pyspark.__version__,
            "java": f"{prop('java.vm.name')} {prop('java.version')}",
            "python": platform.python_version(),
            "conf": dict(sorted(conf.items())),
        }
