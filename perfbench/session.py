"""Session start-up as a user pays it, and its teardown.

``configure_env`` points Spark at the machine's real core count (the
production default is 32), keeps every scratch file inside the checkout and
lets the Python workers import the package.  ``start_session`` is the
``setup_s`` span: the production ``get_spark`` with its conf unchanged, then
one single-partition pandas-UDF job, which spawns the first Python worker.
"""

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")


def ncpus() -> int:
    """What ``nproc`` reports: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def configure_env() -> None:
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpus())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # java.io.tmpdir takes the native-library extraction (zstd, arrow);
    # no hsperfdata files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session():
    """-> (spark, {"session_s", "first_worker_s"})."""
    t0 = time.perf_counter()
    import pandas as pd
    from pyspark.sql import functions as F

    from html_parser_spark.spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()

    @F.pandas_udf("long")
    def _plus_one(x: pd.Series) -> pd.Series:
        return x + 1

    spark.range(1, numPartitions=1).select(_plus_one("id")).collect()
    t2 = time.perf_counter()
    return spark, {"session_s": t1 - t0, "first_worker_s": t2 - t1}


def effective_conf(spark) -> dict:
    """The conf the jobs run with (what ``get_spark`` set plus Spark's
    defaults for the keys the benchmark's numbers depend on)."""
    keys = (
        "spark.master",
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        "spark.sql.execution.arrow.pyspark.enabled",
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled",
        "spark.sql.files.maxPartitionBytes",
        "spark.driver.memory",
        "spark.python.worker.reuse",
    )
    conf = spark.sparkContext.getConf()
    out = {k: conf.get(k, None) for k in keys}
    for k in keys:
        if out[k] is None:
            out[k] = spark.conf.get(k, None)
    return out


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait until it has exited (the
    Python workers are its children and go with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway server exits on stdin EOF
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
