"""One local Spark session per benchmark run, kept inside the checkout.

The JVM, its scratch space, the warehouse and the Python workers' temp files
all live under ``<work>``; ``close`` stops the session, ends the JVM gateway
process and waits for every process the session started.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

from probes import process_tree, wait_gone


class SparkEnv:
    def __init__(self, root: str, work: str, cores: int) -> None:
        self.work, self.cores = work, cores
        self.spark = None
        for sub in ("tmp", "spark-local", "warehouse"):
            os.makedirs(os.path.join(work, sub), exist_ok=True)
        tmp = os.path.join(work, "tmp")
        java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ.update({
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            # workers import the program and, for the ledger's no-op
            # stage, this directory's modules
            "PYTHONPATH": os.pathsep.join(
                p for p in (root, os.path.dirname(os.path.abspath(__file__)),
                            os.environ.get("PYTHONPATH")) if p),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_SUBMIT_OPTS": f"{os.environ.get('SPARK_SUBMIT_OPTS', '')} {java_opts}",
            "SPARK_LAUNCHER_OPTS": java_opts,
        })
        tempfile.tempdir = None  # re-read TMPDIR
        self._java_opts = java_opts

    def start(self) -> None:
        from pyspark.sql import SparkSession

        k = self.cores
        self.spark = (
            SparkSession.builder.master(f"local[{k}]")
            .appName("perfbench")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.shuffle.partitions", str(2 * k))
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.driver.memory", "2g")
            .config("spark.driver.extraJavaOptions", self._java_opts)
            .config("spark.local.dir", os.path.join(self.work, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
            .getOrCreate()
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def warm_up(self, sample) -> None:
        """One extraction pass over ``sample`` (a small pyarrow page table)
        on every core, so each Python worker has started and imported the
        kernels."""
        from pdf_extraction_spark.pipeline import extract_corpus

        df = self.spark.createDataFrame(sample.to_pandas()).repartition(self.cores)
        extract_corpus(df, repartition=False).write.format("noop").mode("overwrite").save()

    def setup(self, sample) -> float:
        """Start a session and warm its workers; returns the seconds taken."""
        t0 = time.perf_counter()
        self.start()
        self.warm_up(sample)
        return time.perf_counter() - t0

    def restart(self, sample) -> float:
        """Stop the session and set up a new one in the same JVM."""
        self.spark.stop()
        return self.setup(sample)

    def close(self) -> None:
        from pyspark import SparkContext

        procs = [p for p in process_tree() if p != os.getpid()]
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        left = wait_gone(procs, 30.0)
        for pid in left:
            try:
                os.kill(pid, 9)
            except OSError:
                pass
        wait_gone(left, 10.0)
