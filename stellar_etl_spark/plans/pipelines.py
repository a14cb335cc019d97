"""The reference's export commands as end-to-end DataFrame pipelines
(reference: one Cobra subcommand per pipeline under cmd/, SURVEY.md §3).

Each pipeline = silver-input DataFrames → transform (transforms/*) → sink
(sources/sinks).  All take a ledger range (the universal ``--start-ledger/
--end-ledger`` contract, internal/utils/main.go:231-253) applied as a
partition-prunable filter, and write JSONL and/or Parquet exactly like
``ExportEntry``/``WriteParquet`` (cmd/command_utils.go).

Shape notes: a table export runs one write job per output format, plus one
job per broadcast join side, and no count job — the rows written are
observed inside the write job (sources/sinks.export_with_stats).
``export_transactions`` is two jobs: the ledgers broadcast and the write.
The range filter reaches the scan; only the aggregation/explode steps
shuffle (see tests/test_plans.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stellar_etl_spark.operators.compaction import compact_changes
from stellar_etl_spark.operators.ranges import ledger_range_for_times
from stellar_etl_spark.sources.sinks import export_with_stats
from stellar_etl_spark.streaming.micro_batch import DEFAULT_BATCH_LEDGERS, batch_id_col
from stellar_etl_spark.transforms import (
    transform_asset,
    transform_contract_events,
    transform_effects,
    transform_ledger,
    transform_offer_normalized,
    transform_operation,
    transform_token_transfer,
    transform_trade,
    transform_transaction,
)
from stellar_etl_spark.transforms.changes import route_changes
from stellar_etl_spark.transforms.transaction import transform_ledger_transaction


def _range(df: DataFrame, start: int, end: int, col: str = "ledger_sequence") -> DataFrame:
    """Inclusive [start, end] ledger range (utils/main.go:231-253); end=0 is
    unbounded (README.md:294-296)."""
    cond = F.col(col) >= start
    if end:
        cond = cond & (F.col(col) <= end)
    return df.where(cond)


def _sink(
    df: DataFrame,
    out_dir: str,
    name: str,
    fmt: str = "json",
    extra_fields: dict[str, object] | None = None,
    mode: str = "overwrite",
) -> DataFrame:
    """Write ``df`` as ``<name>.jsonl`` and/or ``<name>.parquet`` and return
    it, with the transform stats observed in the write job as
    ``df.export_stats``."""
    path = os.path.join(out_dir, name)
    for f, ext in (("json", ".jsonl"), ("parquet", ".parquet")):
        if fmt in (f, "both"):
            df.export_stats = export_with_stats(
                df, path + ext, F.lit(True), f, extra_fields, mode
            )
    return df


def export_ledgers(ledgers, transactions, out_dir, start=0, end=0, fmt="json",
                   strict=False, extra_fields=None, mode="overwrite") -> DataFrame:
    """cmd/export_ledgers.go equivalent (SURVEY.md §3.1)."""
    out = transform_ledger(
        _range(ledgers, start, end, "sequence"), transactions, strict=strict
    )
    return _sink(out, out_dir, "ledgers", fmt, extra_fields, mode=mode)


def export_transactions(transactions, ledgers, out_dir, start=0, end=0,
                        fmt="json", strict=False, extra_fields=None,
                        mode="overwrite") -> DataFrame:
    out = transform_transaction(_range(transactions, start, end), ledgers, strict)
    return _sink(out, out_dir, "transactions", fmt, extra_fields, mode=mode)


def export_ledger_transactions(transactions, out_dir, start=0, end=0,
                               fmt="json", extra_fields=None,
                               mode="overwrite") -> DataFrame:
    out = transform_ledger_transaction(_range(transactions, start, end))
    return _sink(out, out_dir, "ledger_transactions", fmt, extra_fields, mode=mode)


def export_operations(operations, transactions, out_dir, start=0, end=0,
                      fmt="json", extra_fields=None, mode="overwrite") -> DataFrame:
    out = transform_operation(_range(operations, start, end), transactions)
    return _sink(out, out_dir, "operations", fmt, extra_fields, mode=mode)


def export_effects(operations, transactions, out_dir, start=0, end=0,
                   fmt="json", extra_fields=None, mode="overwrite") -> DataFrame:
    out = transform_effects(_range(operations, start, end), transactions)
    return _sink(out, out_dir, "effects", fmt, extra_fields, mode=mode)


def export_trades(operations, ledgers, out_dir, start=0, end=0,
                  fmt="json", extra_fields=None, mode="overwrite") -> DataFrame:
    out = transform_trade(_range(operations, start, end), ledgers)
    return _sink(out, out_dir, "trades", fmt, extra_fields, mode=mode)


def export_assets(operations, out_dir, start=0, end=0, fmt="json",
                  extra_fields=None, mode="overwrite") -> DataFrame:
    out = transform_asset(_range(operations, start, end))
    return _sink(out, out_dir, "assets", fmt, extra_fields, mode=mode)


def export_contract_events(events, out_dir, start=0, end=0, fmt="json",
                           extra_fields=None, mode="overwrite") -> DataFrame:
    out = transform_contract_events(_range(events, start, end))
    return _sink(out, out_dir, "contract_events", fmt, extra_fields, mode=mode)


def export_token_transfers(events, out_dir, start=0, end=0, fmt="json",
                           extra_fields=None, mode="overwrite") -> DataFrame:
    out = transform_token_transfer(_range(events, start, end))
    return _sink(out, out_dir, "token_transfers", fmt, extra_fields, mode=mode)


def export_orderbooks(offers, out_dir, fmt="parquet",
                      mode="overwrite") -> dict[str, DataFrame]:
    """cmd/export_orderbooks.go equivalent: the FNV star schema snapshot."""
    star = transform_offer_normalized(offers)
    for name, df in star.items():
        _sink(df, out_dir, name, fmt, mode=mode)
    return star


# The 9 per-entity export-type flags (utils/main.go:278-288, default all).
DEFAULT_EXPORT_TYPES = (
    "accounts account_signers trustlines offers liquidity_pools "
    "claimable_balances contract_code contract_data config_settings ttls"
).split()


def export_ledger_entry_changes(
    changes,
    out_dir,
    start=0,
    end=0,
    batch_size: int = DEFAULT_BATCH_LEDGERS,
    export_types: list[str] | None = None,
    fmt: str = "json",
    mode: str = "overwrite",
) -> dict[str, DataFrame]:
    """cmd/export_ledger_entry_changes.go equivalent (SURVEY.md §3.3):
    range → 64-ledger batches → per-(batch, key) compaction → per-entity
    routing → one batch-partitioned output dir per entity.

    The whole fan-out is ONE logical plan per entity over a shared compacted
    change log; Spark writes each entity's every batch in a single job
    (partitionBy batch), unlike the reference's sequential per-batch loop.
    """
    ranged = _range(changes, start, end).withColumn(
        "batch_id", batch_id_col(batch_size=batch_size)
    )
    # after compaction the surviving row's type is the RECONCILED one
    # (created→updated collapses to created, ChangeCompactor rule)
    compacted = compact_changes(ranged).withColumn(
        "change_type", F.col("effective_change_type")
    )
    routed = route_changes(compacted)
    wanted = export_types or DEFAULT_EXPORT_TYPES
    out: dict[str, DataFrame] = {}
    for name in wanted:
        out[name] = routed[name]
        path = os.path.join(out_dir, name)
        writer = routed[name].write.mode(mode)
        if fmt == "json":
            writer.option("ignoreNullFields", "false").json(path)
        else:
            writer.parquet(path)
    return out


def get_ledger_range_from_times(ledgers, start_time, end_time) -> DataFrame:
    """cmd/get_ledger_range_from_times.go equivalent (input/ledger_range.go:
    32-68) — answered from min/max statistics over the ledgers table."""
    return ledger_range_for_times(
        ledgers, start_time, end_time, seq_col="sequence", time_col="closed_at"
    )


EXPORT_PIPELINES = {
    "export_ledgers": export_ledgers,
    "export_transactions": export_transactions,
    "export_ledger_transactions": export_ledger_transactions,
    "export_operations": export_operations,
    "export_effects": export_effects,
    "export_trades": export_trades,
    "export_assets": export_assets,
    "export_contract_events": export_contract_events,
    "export_token_transfers": export_token_transfers,
    "export_orderbooks": export_orderbooks,
    "export_ledger_entry_changes": export_ledger_entry_changes,
    "get_ledger_range_from_times": get_ledger_range_from_times,
}
