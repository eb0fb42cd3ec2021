"""The traced run: per-layer metrics from Spark's event log.

The cold operation is timed (``trace.cold_op_s``: a single sample, so a
per-layer figure rather than an end-to-end one). After it, the workload's
steady operation runs four times,
each in a fresh session, in the order traced, untraced, untraced, traced.
A traced session is started with the event log on (``extra_conf`` to
``get_spark``: ``spark.eventLog.enabled``, uncompressed), an untraced one
without; both reuse the JVM. The order gives both sides the same mean
position on the JIT warm-up curve (the first steady operation after the
cold one is the slowest), and the workload restores its output state
before each of the four, so every one does the same work.
``trace.overhead_s`` is the traced mean minus the untraced mean.

The last traced session then sweeps the layers the workload goes through,
each under its own job group; a layer the workload does not go through
reports 0:

* webtext_batch (extract, mentions, link, canonicalize, materialize):
  each layer's self time is the noop time of stage prefix *k* minus prefix
  *k-1*; ``*.build_s`` is the wall time of the public call that returns
  the lazy frame, whose eager jobs are counted as ``*.build_jobs``. Row
  counts come from ``DataFrame.observe`` on the same noop pass.
  Then the daily_incremental path (not a workload of its own): a backfill
  of the first days into a fresh ``out_root``, APPENDS appends of the next
  day (restored in between, so each does the same work), whose jobs are
  split by call site into the triples write and the lineage bookkeeping
  after it; then the resume probe of
  ``CheckpointStore.completed_partitions`` and the path's output checks.
* marc_records: mapping self time is the mapped-docs noop minus the record
  scan; the sink's is the traced write minus the mapping. Then the ten
  ``bench.py`` query leaves, each built and executed once after the
  ``kg_triples`` warm-up, as ``bench.py`` times them (without them this
  traced run is the shortest, so it carries them).

Task time, shuffle bytes, spill and GC per job group are summed from the
event log's ``SparkListenerJobStart``/``JobEnd``/``TaskEnd`` records after
the session stops (which flushes the log).
"""

from __future__ import annotations

import json
import shutil
from contextlib import contextmanager
from pathlib import Path

from harness import WORK, median, noop, start_session, timed

# session of each timed operation: traced, untraced, untraced, traced
TRACE_ORDER = (True, False, False, True)
# appends of the same day in webtext_batch's traced run
APPENDS = 2
MB = 1024.0 * 1024.0


@contextmanager
def job_group(spark, name: str):
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setJobGroup("untracked", "untracked")


def parse_event_log(log_dir: Path) -> list[dict]:
    """One record per Spark job, in submission order: its job group,
    wall seconds, whether it belongs to a write into a
    ``triples`` directory, and the task time, GC, shuffle bytes and spill
    summed over its tasks. Reads every ``events_*`` file under ``log_dir``
    (Spark 4 writes rolling ``eventlog_v2_*/events_*`` files, one
    directory per traced session)."""
    out: list[dict] = []
    for app_dir in sorted(p for p in log_dir.iterdir() if p.is_dir()):
        jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        triples_writes: set[int] = set()
        for path in sorted(app_dir.glob("events_*")):
            with open(path) as fh:
                for line in fh:
                    _event(json.loads(line), jobs, stage_job, triples_writes)
        out.extend(jobs[k] for k in sorted(jobs))
    return out


def _event(ev: dict, jobs: dict, stage_job: dict, triples_writes: set) -> None:
    kind = ev.get("Event", "")
    if kind.endswith("SparkListenerSQLExecutionStart"):
        plan = ev.get("physicalPlanDescription", "")
        if "InsertIntoHadoopFsRelationCommand" in plan and "/triples" in plan:
            triples_writes.add(ev["executionId"])
    elif kind == "SparkListenerJobStart":
        props = ev.get("Properties") or {}
        exec_id = props.get("spark.sql.execution.id")
        jobs[ev["Job ID"]] = {
            "group": props.get("spark.jobGroup.id") or "untracked",
            "start": ev["Submission Time"],
            "write": exec_id is not None and int(exec_id) in triples_writes,
            "secs": 0.0, "task_s": 0.0, "gc_s": 0.0,
            "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
        }
        for stage in ev.get("Stage IDs", []):
            stage_job[stage] = ev["Job ID"]
    elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
        job = jobs[ev["Job ID"]]
        job["secs"] = (ev["Completion Time"] - job["start"]) / 1000.0
    elif kind == "SparkListenerTaskEnd":
        job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
        m = ev.get("Task Metrics")
        if job is None or not m:
            return
        job["task_s"] += m.get("Executor Run Time", 0) / 1000.0
        job["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        r = m.get("Shuffle Read Metrics") or {}
        job["shuffle_read"] += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
        w = m.get("Shuffle Write Metrics") or {}
        job["shuffle_write"] += w.get("Shuffle Bytes Written", 0)
        job["spill"] += m.get("Disk Bytes Spilled", 0)


def group_totals(jobs: list[dict], group: str) -> dict:
    """Job count and summed job/task metrics of one job group."""
    mine = [j for j in jobs if j["group"] == group]
    keys = ("secs", "task_s", "gc_s", "shuffle_read", "shuffle_write", "spill")
    out = {k: sum(j[k] for j in mine) for k in keys}
    out["jobs"] = len(mine)
    return out


def append_split(jobs: list[dict], group: str) -> tuple[float, float]:
    """(triples-write job seconds, seconds of the jobs after the write) of
    one append's job group. What follows the write is the lineage
    bookkeeping: the count-back of the written partition, the input
    re-aggregation and the checkpoint-row append."""
    mine = [j for j in jobs if j["group"] == group]
    last_write = max((i for i, j in enumerate(mine) if j["write"]), default=len(mine))
    write_s = sum(j["secs"] for j in mine if j["write"])
    return write_s, sum(j["secs"] for j in mine[last_write + 1:])


def _exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum("Exchange" in line for line in plan.splitlines())


def _prefix(spark, name: str, df) -> tuple[float, int]:
    """Noop-execute one stage prefix under its job group; (wall, rows)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(name)
    with job_group(spark, f"prefix.{name}"):
        t, _ = timed(noop, df.observe(obs, F.count(F.lit(1)).alias("rows")))
    return t, int(obs.get["rows"])


def _webtext_sweep(spark, inp, workload, m: dict, traced: list[float],
                   pins: dict) -> tuple[list, int]:
    from esmarc_spark.pipeline.canonicalize import (
        canonical_mapping,
        rewrite_through_canonical,
    )
    from esmarc_spark.pipeline.link import link_mentions
    from esmarc_spark.pipeline.materialize import linked_to_triples
    from esmarc_spark.pipeline.mentions import detect_mentions_ngram
    from esmarc_spark.pipeline.run import prepare_docs, run_pipeline
    from esmarc_spark.pipeline.webtext import gazetteer_df

    web, edges = inp.webtext, inp.edges
    # a fresh gazetteer frame, so the mention probe runs (and is counted)
    # whatever ran before
    gaz = gazetteer_df(spark)

    t_scan, _ = _prefix(spark, "scan", web)
    docs = prepare_docs(web)
    t_docs, m["extract.docs_out"] = _prefix(spark, "extract", docs)
    with job_group(spark, "mentions.build"):
        m["mentions.build_s"], mentions = timed(detect_mentions_ngram, docs, gaz)
    t_ment, m["mentions.rows_out"] = _prefix(spark, "mentions", mentions)
    linked = link_mentions(mentions, gaz)
    t_link, m["link.rows_out"] = _prefix(spark, "link", linked)
    stats: dict = {}
    with job_group(spark, "canonicalize.build"):
        m["canonicalize.build_s"], cmap = timed(canonical_mapping, edges, stats=stats)
    m["canonicalize.rounds"] = stats["cc_rounds"]
    m["canonicalize.edges_out"] = stats["cc_edges"]
    canon = rewrite_through_canonical(linked, cmap, "canonical_url")
    t_canon, _ = _prefix(spark, "canonicalize", canon)
    triples = linked_to_triples(canon)
    m["materialize.exchanges"] = _exchanges(triples)
    t_mat, m["materialize.triples_out"] = _prefix(spark, "materialize", triples)

    with job_group(spark, "run.build"):
        m["run.build_s"], _ = timed(run_pipeline, web, gaz, canonical_map=workload.cmap)

    m["scan.exec_s"] = t_scan
    chain = [("extract", t_scan, t_docs), ("mentions", t_docs, t_ment),
             ("link", t_ment, t_link), ("canonicalize", t_link, t_canon),
             ("materialize", t_canon, t_mat)]
    for layer, before, after in chain:
        m[f"{layer}.exec_s"] = after - before
    # plan build + scan + the five self times; compare with
    # trace.untraced_op_s (the steady pass, which reuses the stored
    # canonical map: canonicalize.build_s is not part of it)
    m["layers.sum_s"] = m["run.build_s"] + t_mat
    checks = [
        ("layered pipeline emits run_pipeline's triples",
         m["materialize.triples_out"] == workload.first_digest["rows"]),
        workload.regex_parity(),
    ]
    daily_checks, ops = _incremental_sweep(spark, inp, m, pins)
    return checks + daily_checks, ops


def _incremental_sweep(spark, inp, m: dict, pins: dict) -> tuple[list, int]:
    """The daily_incremental path; (its output checks, operations run)."""
    from esmarc_spark.pipeline.checkpoint import CheckpointStore

    from workloads import DailyIncremental

    daily = DailyIncremental(inp)
    with job_group(spark, "incremental.backfill"):
        m["incremental.backfill_s"], _ = timed(daily.cold)
    daily.snapshot()
    walls = []
    for k in range(APPENDS):
        daily.restore()
        with job_group(spark, f"append.{k}"):
            walls.append(timed(daily.op)[0])
    m["incremental.append_s"] = median(walls)
    with job_group(spark, "checkpoint.probe"):
        m["checkpoint.resume_probe_s"], _ = timed(
            lambda: CheckpointStore(spark, str(daily.out)).completed_partitions().collect()
        )
    m["checkpoint.files"] = sum(1 for _ in (daily.out / "checkpoints").glob("*.parquet"))
    checks, _ = daily.verify(pins)
    return checks, 1 + APPENDS


def _marc_sweep(spark, inp, workload, m: dict, traced: list[float],
                pins: dict) -> tuple[list, int]:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from gen import ERROR_ENTITY

    t_rec, m["mapping.records_in"] = _prefix(spark, "records", inp.records)
    obs = Observation("mapping")
    docs = workload.docs().observe(
        obs,
        F.count(F.lit(1)).alias("docs"),
        F.count(F.when(F.col("entity") == ERROR_ENTITY, 1)).alias("bad"),
    )
    with job_group(spark, "prefix.mapping"):
        t_map, _ = timed(noop, docs)
    m["mapping.docs_out"] = int(obs.get["docs"])
    m["mapping.quarantined"] = int(obs.get["bad"])
    m["mapping.exec_s"] = t_map - t_rec
    m["sinks.write_s"] = median(traced) - t_map
    m["sinks.bytes_out"] = sum(
        p.stat().st_size for p in workload.out.rglob("*") if p.is_file()
    )
    checks = [("mapping emits one doc per record",
               m["mapping.docs_out"] == m["mapping.records_in"] == workload.n)]
    return checks + _query_sweep(spark, inp, m, pins), 0


def _query_sweep(spark, inp, m: dict, pins: dict) -> list:
    from workloads import LEAVES, QueryLeaves

    leaves = QueryLeaves(inp)
    with job_group(spark, "query.warmup"):
        leaves.prime()
    for name, (build_s, exec_s) in leaves.timed_suite().items():
        m[f"query.{name}.build_s"] = build_s
        m[f"query.{name}.exec_s"] = exec_s
    # bench.py's query-suite wall: the ten first executions
    m["query.suite_s"] = sum(
        m[f"query.{name}.{k}_s"] for name in LEAVES for k in ("build", "exec")
    )
    checks, _ = leaves.verify(pins)
    return checks


SWEEPS = {
    "webtext_batch": _webtext_sweep,
    "marc_records": _marc_sweep,
}


def _event_metrics(jobs: list[dict], name: str, m: dict) -> None:
    ops = [f"op.{k}" for k in range(sum(TRACE_ORDER))]
    per_op = [group_totals(jobs, g) for g in ops]
    m["spark.jobs"] = median([t["jobs"] for t in per_op])
    m["spark.task_s"] = median([t["task_s"] for t in per_op])
    m["spark.gc_s"] = median([t["gc_s"] for t in per_op])
    m["spark.shuffle_read_mb"] = median([t["shuffle_read"] for t in per_op]) / MB
    m["spark.shuffle_write_mb"] = median([t["shuffle_write"] for t in per_op]) / MB
    m["spark.spill_mb"] = median([t["spill"] for t in per_op]) / MB
    if name == "webtext_batch":
        for group in ("mentions.build", "canonicalize.build", "run.build"):
            m[f"{group}_jobs"] = group_totals(jobs, group)["jobs"]
        prev = group_totals(jobs, "prefix.scan")
        for layer in ("extract", "mentions", "link", "canonicalize", "materialize"):
            cur = group_totals(jobs, f"prefix.{layer}")
            m[f"{layer}.task_s"] = cur["task_s"] - prev["task_s"]
            prev = cur
        m["materialize.shuffle_write_mb"] = prev["shuffle_write"] / MB
        appends = [f"append.{k}" for k in range(APPENDS)]
        splits = [append_split(jobs, g) for g in appends]
        m["incremental.jobs_per_append"] = median(
            [group_totals(jobs, g)["jobs"] for g in appends]
        )
        m["incremental.write_job_s"] = median([w for w, _ in splits])
        m["incremental.lineage_job_s"] = median([lin for _, lin in splits])
    elif name == "marc_records":
        m["mapping.task_s"] = (group_totals(jobs, "prefix.mapping")["task_s"]
                               - group_totals(jobs, "prefix.records")["task_s"])


def traced_run(spark, inp, workload, app: str, pins: dict, names: list[str]):
    """The traced run of ``workload``; ``names`` are every per-layer metric
    the run must report. Returns (live session, metrics, checks,
    operations attempted)."""
    log_dir = WORK / "eventlog"
    shutil.rmtree(log_dir, ignore_errors=True)
    log_dir.mkdir(parents=True)
    traced_conf = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": log_dir.as_uri(),
    }

    workload.prime()
    cold_s, _ = timed(workload.cold)
    workload.snapshot()
    walls: dict[bool, list[float]] = {True: [], False: []}
    for traced in TRACE_ORDER:
        # a fresh session per operation: the first operation in a session
        # pays its own warm-up (Python workers, file listings, broadcasts)
        spark.stop()
        spark = start_session(app, traced_conf if traced else None)
        inp.register(spark)
        workload.prime()
        workload.restore()
        with job_group(spark, f"op.{len(walls[True])}" if traced else "untraced"):
            walls[traced].append(timed(workload.op)[0])

    m: dict = {}
    checks, sweep_ops = SWEEPS[workload.name](spark, inp, workload, m, walls[True], pins)
    verified, _ = workload.verify(pins)
    spark.stop()

    _event_metrics(parse_event_log(log_dir), workload.name, m)
    m["trace.cold_op_s"] = cold_s
    m["trace.untraced_op_s"] = sum(walls[False]) / len(walls[False])
    m["trace.traced_op_s"] = sum(walls[True]) / len(walls[True])
    m["trace.overhead_s"] = m["trace.traced_op_s"] - m["trace.untraced_op_s"]

    for name in names:
        if name in m or name == "session.start_s":
            continue
        if name.split(".")[0] in workload.layers:
            raise RuntimeError(f"traced run of {workload.name} did not measure {name}")
        m[name] = 0.0  # a layer this workload does not go through
    checks += verified
    attempted = 1 + len(TRACE_ORDER) + sweep_ops + len(checks)
    return spark, m, checks, attempted
