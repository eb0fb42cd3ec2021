"""Plan construction of the webtext pipeline: its Python->JVM round-trip
budget, and its plan-construction memos across sessions and JVM lifetimes.

``run_pipeline`` renders its hot-path expressions as Spark SQL text (one
round trip per stage instead of one per Column node), so a warm build
costs a few hundred py4j commands where the Column-built plan cost ~1,900.
The memos must hold no JVM object (a Column bound to a dead JVM crashes
the next build) and must not pin a stopped session.
"""

import json
import subprocess
import sys
import textwrap
import threading
from pathlib import Path

import pytest

from esmarc_spark.pipeline.run import run_pipeline
from esmarc_spark.pipeline.webtext import gazetteer_df, synth_webtext

REPO = Path(__file__).resolve().parent.parent

# py4j commands the building thread sends during one warm run_pipeline
# build over the synthetic fixture with a canonical map: 233 measured on
# PySpark 4.1 (the Column-built plan it replaced: ~1,550). Commands of
# other threads are not counted: the handle-release messages, and whatever
# a streaming query left running by another test sends. The margin absorbs
# PySpark-internal variation, not a new Column-built helper on the hot path
PY4J_BUDGET = 300


def test_run_pipeline_py4j_budget(spark, monkeypatch):
    import py4j.clientserver

    webtext = synth_webtext(spark, 200)
    gazetteer = gazetteer_df(spark)
    canonical_map = spark.createDataFrame(
        [("https://d-nb.info/gnd/4011882-4", "http://www.wikidata.org/entity/Q64")],
        "uri string, canonical_uri string",
    )
    # warm: the gazetteer probe and the fold text are memoized
    run_pipeline(webtext, gazetteer, canonical_map=canonical_map)

    calls = 0
    send = py4j.clientserver.ClientServerConnection.send_command
    builder = threading.get_ident()

    def counting(self, command):
        nonlocal calls
        calls += threading.get_ident() == builder
        return send(self, command)

    monkeypatch.setattr(
        py4j.clientserver.ClientServerConnection, "send_command", counting
    )
    try:
        run_pipeline(webtext, gazetteer, canonical_map=canonical_map)
    finally:
        monkeypatch.undo()
    assert 0 < calls <= PY4J_BUDGET, calls


# Two JVM lifetimes in one Python process, each with its own session: the
# pipeline must build and run in both, and the memos must drop a frame's or
# a stopped session's entries once nothing else references it. (PySpark's
# own ``RDD.toDF`` closure references the newest session until the next
# one starts, so session 1 is checked for once session 2 exists.)
_LIFETIMES = textwrap.dedent(
    """
    import gc, json, sys, tempfile
    sys.path.insert(0, sys.argv[1])
    from pyspark import SparkContext
    from esmarc_spark.session import get_spark
    from esmarc_spark.pipeline import mentions
    from esmarc_spark.pipeline.run import run_pipeline
    from esmarc_spark.pipeline.webtext import gazetteer_df, synth_webtext
    import __spark_entry__ as entry

    def stop_jvm(spark):
        gateway = SparkContext._gateway
        spark.stop()
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc.stdin.close()
        proc.wait(timeout=60)

    tables = tempfile.mkdtemp()
    out = []
    for life in (1, 2):
        spark = get_spark(f"lifetime-{life}", cpus=1, shuffle_partitions=2)
        gc.collect()
        stale_readers = len(entry._T_READERS)
        spark.range(3).write.mode("overwrite").parquet(f"{tables}/t.parquet")
        gaz = gazetteer_df(spark)
        rows = run_pipeline(synth_webtext(spark, 40), gaz).count()
        probed = gaz in mentions._GAZ_PROBE_CACHE
        del gaz
        gc.collect()
        entry._t(spark, tables, "t").count()
        readers = [s is spark for s in entry._T_READERS.keys()]
        out.append({
            "rows": rows,
            "probed": probed,
            "probe_entries_after_del": len(mentions._GAZ_PROBE_CACHE),
            "readers": readers,
            "stale_readers": stale_readers,
        })
        stop_jvm(spark)
        del spark
    print(json.dumps(out))
    """
)


@pytest.fixture(scope="module")
def lifetimes():
    proc = subprocess.run(
        [sys.executable, "-c", _LIFETIMES, str(REPO)],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(REPO / "tests"),
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_pipeline_survives_jvm_restart(lifetimes):
    first, second = lifetimes
    assert first["rows"] > 0
    assert second["rows"] == first["rows"]


def test_memos_do_not_pin_stopped_sessions(lifetimes):
    for life in lifetimes:
        # the probe memo held the gazetteer while it lived, not after
        assert life["probed"]
        assert life["probe_entries_after_del"] == 0
        # one reader entry, for the live session only
        assert life["readers"] == [True]
    # the stopped first session's entry is gone once the second starts
    assert [life["stale_readers"] for life in lifetimes] == [0, 0]
