"""Traced run of the benchmark: the per-layer metrics.

The benchmark's own code times calls into each layer's public functions;
nothing inside the program is instrumented.  Every traced run measures
every layer, whichever workload it is: the busy_ledgers run adds the
registry queries over tables from the same seed, the registry run adds the
export command and the layer probes over the busy corpus from the same
seed.  Figures a run measures on the other workload's input come from a
first (cold) pass of those operations.

- ``plans.pipelines`` / ``__main__``: the export commands with Spark's
  event log on (one file per command, since the CLI stops its session
  after each one), from which jobs, tasks, retries, shuffle bytes, executor
  busy share and task scheduling wait are counted.
- ``sources.xdr``: parse calls per ledger, counted inside the Python
  workers by perfbench/hook/sitecustomize.py, and a single-thread parse
  of the corpus bytes in the benchmark's own process.
- ``sources.bronze``, ``sources.silver``: each decode forced alone to a
  ``noop`` sink, rows observed in the same job.
- ``transforms``: each export's transform over silver tables
  materialized to parquet first, to a ``noop`` sink.
- ``operators``: ``compact_changes`` over the materialized changes.
- ``sources.sinks``: ``export_jsonl`` / ``export_parquet`` of one
  materialized transform output.
- ``queries`` / ``entity_queries``: each registry query's build and
  planning time and its execution time to the ``noop`` sink.
"""

from __future__ import annotations

import glob
import json
import os
import time

SILVER = ("ledgers", "transactions", "operations", "changes", "contract_events")
# the change entity the change transform probe routes to: accounts change
# in many ledgers of a 64-ledger batch, so compaction folds rows
CHANGE_TYPES = ("accounts",)
# the silver tables the probed transforms read
MATERIALIZED = ("ledgers", "transactions", "changes")


# -- worker-side parse counts -----------------------------------------------------


def _parse_calls(parse_dir: str) -> int:
    """Parse calls recorded so far by the worker hook (one byte each)."""
    return sum(
        os.path.getsize(p) for p in glob.glob(os.path.join(parse_dir, "parses-*"))
    )


# -- event log -----------------------------------------------------------------------


def event_log_stats(path: str, n: int) -> dict:
    """Jobs, tasks, retries, shuffle bytes, busy share and scheduling wait
    of one application's event log."""
    jobs = tasks = retries = shuffle = 0
    run_ms = wait_ms = 0
    submitted: dict[tuple, int] = {}
    app_start = app_end = None
    task_ends = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerApplicationStart":
                app_start = ev["Timestamp"]
            elif kind == "SparkListenerApplicationEnd":
                app_end = ev["Timestamp"]
            elif kind == "SparkListenerJobStart":
                jobs += 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                submitted[key] = info.get("Submission Time")
            elif kind == "SparkListenerTaskEnd":
                task_ends.append(ev)
    for ev in task_ends:
        info = ev["Task Info"]
        tasks += 1
        retries += info["Attempt"] > 0 or info.get("Failed", False)
        m = ev.get("Task Metrics") or {}
        run_ms += m.get("Executor Run Time", 0)
        shuffle += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        sub = submitted.get((ev["Stage ID"], ev["Stage Attempt ID"]))
        if sub is not None:
            wait_ms += max(0, info["Launch Time"] - sub)
    wall_ms = max(1, (app_end or 0) - (app_start or 0))
    return {
        "jobs": jobs,
        "tasks": tasks,
        "retries": retries,
        "shuffle_bytes": shuffle,
        "busy_share": run_ms / (wall_ms * n),
        "sched_wait_s": wait_ms / 1e3,
    }


def _set_event_log(on: bool) -> None:
    """Switch the event log for the next SparkContext: a new SparkConf
    reads ``spark.*`` JVM system properties."""
    from pyspark import SparkContext

    props = SparkContext._jvm.java.lang.System
    props.setProperty("spark.eventLog.enabled", "true" if on else "false")


# -- per-layer timings ---------------------------------------------------------------


def noop(df) -> tuple[float, int]:
    """Seconds to run ``df`` to the noop sink, and its row count from the
    same job."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    t0 = time.perf_counter()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
        "overwrite"
    ).save()
    dt = time.perf_counter() - t0
    return dt, obs.get["rows"]


def _transforms(s: dict) -> dict:
    """Each command's transform over materialized silver frames ``s``, as
    plans/pipelines.py calls it, without range filter or sink: command ->
    function returning the frames the command would write."""
    from pyspark.sql import functions as F

    from stellar_etl_spark.operators.compaction import compact_changes
    from stellar_etl_spark.streaming.micro_batch import batch_id_col
    from stellar_etl_spark.transforms import transform_transaction
    from stellar_etl_spark.transforms.changes import route_change

    def changes():
        compacted = compact_changes(
            s["changes"].withColumn("batch_id", batch_id_col(batch_size=64))
        ).withColumn("change_type", F.col("effective_change_type"))
        return [route_change(compacted, name) for name in CHANGE_TYPES]

    return {
        "export_transactions": lambda: [
            transform_transaction(s["transactions"], s["ledgers"])
        ],
        "export_ledger_entry_changes": changes,
    }


def _dir_size(path: str) -> tuple[int, int]:
    files = [
        f for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(f)
    ]
    return sum(os.path.getsize(f) for f in files), len(files)


def layer_probes(corpus: str, work: str, n: int) -> dict:
    """Time each layer alone over ``corpus``: returns name -> (value, unit)."""
    from stellar_etl_spark.operators.compaction import compact_changes
    from stellar_etl_spark.session import get_spark
    from stellar_etl_spark.sources import silver
    from stellar_etl_spark.sources.bronze import decode_ledger_files, read_ledger_files
    from stellar_etl_spark.sources.sinks import export_jsonl, export_parquet
    from stellar_etl_spark.sources.xdr import parse_ledger_close_meta
    from stellar_etl_spark.streaming.micro_batch import batch_id_col

    m: dict[str, tuple[float, str]] = {}

    # sources.xdr in this process, one thread, over the corpus bytes
    raws = []
    for path in sorted(glob.glob(os.path.join(corpus, "*.xdr"))):
        with open(path, "rb") as fh:
            raws.append(fh.read())
    t0 = time.perf_counter()
    for raw in raws:
        parse_ledger_close_meta(raw)
    m["xdr.parse_ms_per_ledger"] = ((time.perf_counter() - t0) * 1e3 / len(raws), "ms")

    spark = get_spark("perfbench-layers", cpus=n)
    try:
        bronze = decode_ledger_files(read_ledger_files(spark, corpus))
        dt, rows = noop(bronze)
        m["bronze.read_decode_s"] = (dt, "s")
        m["bronze.rows"] = (rows, "count")

        mat = {}
        for t in SILVER:
            frame = getattr(silver, f"decode_{t}")(bronze)
            dt, rows = noop(frame)
            m[f"silver.decode_s.{t}"] = (dt, "s")
            m[f"silver.rows.{t}"] = (rows, "count")
            if t in MATERIALIZED:
                path = os.path.join(work, "silver", t)
                frame.write.mode("overwrite").parquet(path)
                mat[t] = spark.read.parquet(path)

        transforms = _transforms(mat)
        for cmd in transforms:
            t0 = time.perf_counter()
            for df in transforms[cmd]():
                noop(df)
            m[f"transforms.s.{cmd}"] = (time.perf_counter() - t0, "s")

        batched = mat["changes"].withColumn("batch_id", batch_id_col(batch_size=64))
        dt, _ = noop(compact_changes(batched))
        m["operators.compaction_s"] = (dt, "s")

        # sinks: one transform output materialized, then written both ways
        src = os.path.join(work, "sink_src")
        transforms["export_transactions"]()[0].write.mode("overwrite").parquet(src)
        frame = spark.read.parquet(src)
        total_bytes = total_files = 0
        for fmt, write in (("json", export_jsonl), ("parquet", export_parquet)):
            dest = os.path.join(work, "sinks", fmt)
            t0 = time.perf_counter()
            write(frame, dest)
            m[f"sinks.write_s.{fmt}"] = (time.perf_counter() - t0, "s")
            b, f = _dir_size(dest)
            total_bytes += b
            total_files += f
        m["sinks.bytes_written"] = (total_bytes, "bytes")
        m["sinks.files_written"] = (total_files, "count")
    finally:
        spark.stop()
    return m


# -- the traced run -------------------------------------------------------------------


def jvm_peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of the Spark JVM so far."""
    from pyspark import SparkContext

    pid = SparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def ledger_layers(ledgers, corpus) -> tuple[list, dict]:
    """The export commands over ``corpus`` with the event log and the
    worker parse counter on, one command at a time so each command's log
    file and parse count stand alone; then the layer probes.  Returns the
    operations run and the metrics."""
    n, work = ledgers.n, ledgers.work
    n_ledgers = len(corpus.per_ledger)
    parse_dir = os.environ["PERFBENCH_PARSE_DIR"]
    flag = os.environ["PERFBENCH_PARSE_FLAG"]
    elog = os.path.join(work, "eventlog")

    m: dict[str, tuple[float, str]] = {}
    ops = []
    retries = 0
    _set_event_log(True)
    open(flag, "w").close()
    try:
        for cmd in ledgers.commands:
            before_logs = set(os.listdir(elog))
            before = _parse_calls(parse_dir)
            ops.append((cmd, *ledgers.run_command(cmd, corpus)))
            calls = _parse_calls(parse_dir) - before
            m[f"xdr.parses_per_ledger.{cmd}"] = (calls / n_ledgers, "count")
            new_logs = sorted(set(os.listdir(elog)) - before_logs)
            stats = [event_log_stats(os.path.join(elog, f), n) for f in new_logs]
            m[f"pipelines.jobs.{cmd}"] = (sum(s["jobs"] for s in stats), "count")
            m[f"pipelines.tasks.{cmd}"] = (sum(s["tasks"] for s in stats), "count")
            m[f"pipelines.shuffle_bytes.{cmd}"] = (
                sum(s["shuffle_bytes"] for s in stats), "bytes")
            m[f"pipelines.busy_share.{cmd}"] = (
                sum(s["busy_share"] for s in stats) / max(1, len(stats)), "share")
            m[f"pipelines.sched_wait_s.{cmd}"] = (
                sum(s["sched_wait_s"] for s in stats), "s")
            retries += sum(s["retries"] for s in stats)
    finally:
        os.remove(flag)
        _set_event_log(False)
    m["pipelines.task_retries"] = (retries, "count")
    m.update(layer_probes(corpus.path, work, n))
    return ops, m


def query_metrics(split: dict) -> dict:
    """Per-query planning and execution metrics from a registry pass."""
    m = {}
    for q, (plan_ms, exec_s, _) in split.items():
        m[f"queries.plan_ms.{q}"] = (plan_ms, "ms")
        m[f"queries.exec_s.{q}"] = (exec_s, "s")
    return m


def registry_layers(work: str, n: int, seed: int, log) -> tuple[list, dict]:
    """One pass of the registry queries over the tables for ``seed``.
    Returns the operations run and the metrics."""
    from registry import Registry, build_tables

    data_dir = os.path.join(work, "tables")
    build_tables(data_dir, seed)
    registry = Registry(data_dir, n, log)
    try:
        ops, split = registry.timed_pass()
    finally:
        registry.stop()
    return ops, query_metrics(split)
