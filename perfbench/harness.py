"""Session lifetime, output digests and process measurements shared by the
benchmark's workloads and its traced run.

Everything the benchmark writes stays under ``<checkout>/.perfbench_work``
(Spark local dirs, temp files, event logs, workload outputs) and
``<checkout>/.perfbench_cache`` (generated inputs)."""

from __future__ import annotations

import os
import statistics
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
CACHE = ROOT / ".perfbench_cache"
CPUS = 4


def prepare_environment() -> None:
    """Point every temp/scratch location of Python, the JVM and Spark at
    the checkout. Must run before pyspark starts a JVM."""
    for d in ("tmp", "local"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    CACHE.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_session(app: str, extra: dict[str, str] | None = None):
    from esmarc_spark.session import get_spark

    conf = {
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(WORK / "local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        # a fixed-size heap: peak RSS then reflects the work, not how far
        # the collector happened to grow the heap in this run
        "spark.driver.extraJavaOptions": f"-Xms1g -Djava.io.tmpdir={WORK / 'tmp'}",
    }
    conf.update(extra or {})
    spark = get_spark(app, cpus=CPUS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def shutdown(spark) -> None:
    """Stop the session, then the JVM the gateway launched, and wait for
    it to exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def peak_rss_mb(pids: list[int | None]) -> float:
    """Sum of VmHWM (peak resident set) over the given processes."""
    total_kb = 0
    for pid in pids:
        if pid is None:
            continue
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn, *args, **kwargs) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def digest(df, cols: tuple[str, ...] = ("subj", "pred", "obj")) -> dict:
    """Order-independent content digest: row count plus the decimal sum of
    xxhash64 over ``cols`` (exact, so any changed, missing or extra row
    changes it)."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return {"rows": int(row["n"]), "hash": str(row["h"])}


def corrupt_one_row(df, col: str):
    """``df`` with ``col`` altered in exactly one row — the negative control
    for every output check."""
    from pyspark.sql import functions as F

    first = df.orderBy(*df.columns).head()
    match = None
    for c in df.columns:
        cond = F.col(c).eqNullSafe(F.lit(first[c]))
        match = cond if match is None else match & cond
    return df.withColumn(
        col, F.when(match, F.concat(F.col(col), F.lit("#"))).otherwise(F.col(col))
    )
