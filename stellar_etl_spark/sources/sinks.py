"""Export sinks (reference: cmd/command_utils.go).

- JSONL writer (``ExportEntry``, command_utils.go:55-87) with ``--extra-fields``
  literals
- Parquet writer (``WriteParquet``, command_utils.go:162-180) — the widening
  conversions live in the transforms' schemas, not here
- batch naming ``{start}-{end}-{type}`` (command_utils.go:105-111) as
  partitioned output directories
- transform stats (``PrintTransformStats``, command_utils.go:90-103)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _with_extras(df: DataFrame, extra_fields: dict[str, object] | None) -> DataFrame:
    for k, v in (extra_fields or {}).items():
        df = df.withColumn(k, F.lit(v))
    return df


def export_jsonl(
    df: DataFrame,
    path: str,
    extra_fields: dict[str, object] | None = None,
    mode: str = "overwrite",
) -> None:
    """Newline-delimited JSON, one object per row.  ignoreNullFields=False
    matches the reference's explicit nulls (command_utils.go:56-66 keeps
    int64-safe values; Spark writes longs as JSON numbers losslessly).
    ``mode="append"`` is the streaming micro-batch contract."""
    _with_extras(df, extra_fields).write.mode(mode).option(
        "ignoreNullFields", "false"
    ).json(path)


def export_parquet(
    df: DataFrame,
    path: str,
    extra_fields: dict[str, object] | None = None,
    mode: str = "overwrite",
) -> None:
    _with_extras(df, extra_fields).write.mode(mode).parquet(path)


def batch_dir_name(start: int, end: int, entity: str) -> str:
    """"{start}-{end}-{type}" batch naming (command_utils.go:105-111 uses
    the closed range end = last ledger in batch)."""
    return f"{start}-{end}-{entity}"


def export_batches(
    df: DataFrame,
    out_dir: str,
    entity: str,
    batch_col: str = "batch_id",
    fmt: str = "json",
) -> None:
    """One output directory per batch id, all written in ONE distributed job
    via ``partitionBy`` (no driver-side loop over batches).

    DYNAMIC partition overwrite: only the batch ids present in ``df`` are
    replaced — static overwrite would wipe every previously written batch
    dir, which silently destroys prior epochs when this is the
    ``foreachBatch`` sink of ``stream_compacted_changes``.  Per-window
    overwrite is also exactly the idempotency the streaming path's
    fingerprint guard assumes: a whole-window re-delivery after crash
    recovery rewrites that window's dir with identical deterministic
    content instead of duplicating it."""
    writer = (
        df.withColumn("_batch", F.col(batch_col))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch")
    )
    path = os.path.join(out_dir, entity)
    writer.json(path) if fmt == "json" else writer.parquet(path)


def transform_stats(attempted: DataFrame, success: object) -> dict[str, int]:
    """attempted/successful/failed counts (``PrintTransformStats``,
    command_utils.go:90-103) in ONE aggregate job: ``success`` is a boolean
    Column or column name over ``attempted``.  (The legacy two-frame form —
    a pre-split successful subset costing a second count job — was removed;
    pass the predicate instead, or use :func:`export_with_stats` to fold the
    stats into the export job itself.)"""
    pred = F.col(success) if isinstance(success, str) else success
    row = attempted.agg(
        F.count(F.lit(1)).alias("attempted"),
        F.coalesce(F.sum(pred.cast("int")), F.lit(0)).alias("successful"),
    ).first()
    return {
        "attempted": row["attempted"],
        "successful": row["successful"],
        "failed": row["attempted"] - row["successful"],
    }


def export_with_stats(
    df: DataFrame,
    path: str,
    success: object,
    fmt: str = "json",
    extra_fields: dict[str, object] | None = None,
    mode: str = "overwrite",
) -> dict[str, int]:
    """Export the successful subset AND produce transform stats in ONE job.

    ``df.observe`` attaches the attempted/successful aggregates to the scan
    *before* the success filter, so the write job itself yields the stats —
    no second pass over the data (the reference's ExportEntry +
    PrintTransformStats pairing, command_utils.go:55-103, without its
    re-read).  ``success`` is a boolean Column or column name over ``df``;
    the export pipelines pass ``F.lit(True)`` (plans/pipelines._sink), so
    ``successful`` is the row count the CLI prints.
    """
    from pyspark.sql import Observation

    pred = F.col(success) if isinstance(success, str) else success
    obs = Observation()
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("attempted"),
        F.coalesce(F.sum(pred.cast("int")), F.lit(0)).alias("successful"),
    ).where(pred)
    out = _with_extras(observed, extra_fields).write.mode(mode).option(
        "ignoreNullFields", "false"
    )
    out.json(path) if fmt == "json" else out.parquet(path)
    got = obs.get
    return {
        "attempted": got["attempted"],
        "successful": got["successful"],
        "failed": got["attempted"] - got["successful"],
    }


def compact_small_files(
    spark,
    path: str,
    target_rows_per_file: int = 1_000_000,
) -> int:
    """Rewrite a parquet directory into right-sized files — the maintenance
    job every streaming/batch-append layout needs (each micro-batch/export
    writes at least one file per partition; at 100 TB that is millions of
    tiny files and the NameNode/listing cost dominates scans).

    One pass: count → repartition to ``ceil(rows / target)`` → atomic
    swap via temp dir.  Returns the new file count.  The reference never
    compacts its per-batch files (cmd/command_utils.go:105-111 one file per
    batch forever); this is the Spark-side fix, not a replication.
    """
    import math
    import shutil
    import tempfile

    df = spark.read.parquet(path)
    rows = df.count()
    n_files = max(1, math.ceil(rows / target_rows_per_file))
    tmp = tempfile.mkdtemp(prefix="compact-", dir=os.path.dirname(path.rstrip("/")))
    df.repartition(n_files).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path)
    shutil.move(tmp, path)
    return n_files
