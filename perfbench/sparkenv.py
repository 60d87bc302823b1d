"""Session lifecycle for the benchmark: scratch dirs inside the checkout,
the timed session start, and a shutdown that waits for the JVM and the
Python workers to exit."""

from __future__ import annotations

import os
import signal
import subprocess
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
TRANSCRIPT_DDL = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"


def contain_scratch() -> None:
    """Point every temp dir Spark, the JVMs (the spark-submit launcher and
    Spark's own) and Python use into the checkout."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None  # re-read TMPDIR


def start_session(master: str, span):
    """``session.get_spark`` then the first tiny ``extract_transcripts``
    count, which spawns the Python workers. Returns (spark, get_spark_s,
    worker_warmup_s)."""
    from pdf_extractors_spark import pipeline, session

    with span("session.get_spark"):
        t0 = time.perf_counter()
        spark = session.get_spark(master=master)
        t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    with span("session.worker_warmup"):
        t2 = time.perf_counter()
        tiny = spark.createDataFrame([("warmup", 0, "user", "Status: ok", None, None)], TRANSCRIPT_DDL)
        pipeline.extract_transcripts(tiny).count()
        t3 = time.perf_counter()
    return spark, t1 - t0, t3 - t2


def extract_count(df):
    """The pipeline layer alone: extract and aggregate, no write.
    Returns (turns, parse_errors)."""
    from pyspark.sql import functions as F

    from pdf_extractors_spark import pipeline

    r = pipeline.extract_transcripts(df).agg(F.count("*"), F.sum("parse_errors")).collect()[0]
    return int(r[0]), int(r[1] or 0)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def shutdown(spark, timeout: float = 30.0) -> None:
    """Stop Spark, close the gateway JVM, and wait for every process this
    process started (killing any that outlive ``timeout``)."""
    from pyspark import SparkContext

    from .procs import descendants

    started = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in started:
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
