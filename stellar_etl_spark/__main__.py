"""CLI parity with the reference's Cobra subcommands (cmd/*.go).

    python -m stellar_etl_spark <command> --ledgers-dir DIR --output DIR \\
        [--start-ledger N] [--end-ledger N] [--parquet | --both] \\
        [--strict-export] [--extra-fields k=v ...] [--batch-size N] \\
        [--export-types a,b,...]

``--ledgers-dir`` points at raw LedgerCloseMeta XDR files (one file per
ledger — the reference's datastore layout, utils/main.go:981-984).  The CLI
feeds the raw file bytes straight to the silver decode (sources/silver.py;
each silver table parses each ledger once, as input/ledgers.go:25 does)
and runs the same export pipelines the library exposes
(plans/pipelines.py).  ``export_transactions`` and ``export_trades`` decode
one silver table, whose rows carry their ledger header, so they parse each
ledger once in one Spark job.  The ``rows`` it prints is the count
observed inside the write job itself, so an export is not re-run to count
it.  ``main`` stops the session only when it created it.
``get_ledger_range_from_times`` takes ``--start-time/--end-time`` (RFC3339
or unix seconds) instead of a ledger range, mirroring
cmd/get_ledger_range_from_times.go.

Flag names follow internal/utils/main.go:231-288 where a Spark engine has
an equivalent; captive-core/GCS-credential flags are intentionally absent
(SURVEY.md §2.1 — out of scope / direct gs:// URIs instead).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _parse_extra_fields(pairs: list[str]) -> dict[str, str]:
    out = {}
    for p in pairs:
        if "=" not in p:
            raise SystemExit(f"--extra-fields wants k=v, got {p!r}")
        k, v = p.split("=", 1)
        out[k] = v
    return out


def _time_arg(v: str) -> int:
    try:
        return int(v)
    except ValueError:
        from datetime import datetime

        return int(datetime.fromisoformat(v.replace("Z", "+00:00")).timestamp())


def main(argv: list[str] | None = None) -> None:
    from stellar_etl_spark.plans.pipelines import EXPORT_PIPELINES

    ap = argparse.ArgumentParser(
        prog="stellar_etl_spark",
        description="PySpark-native stellar-etl: export commands",
    )
    ap.add_argument("command", choices=sorted(EXPORT_PIPELINES))
    ap.add_argument("--ledgers-dir", required=True,
                    help="directory of LedgerCloseMeta XDR files (1/ledger)")
    ap.add_argument("--output", "-o", default="exported",
                    help="output directory (reference: --output)")
    ap.add_argument("--start-ledger", "-s", type=int, default=0)
    ap.add_argument("--end-ledger", "-e", type=int, default=0,
                    help="0 = unbounded (README.md:294-296)")
    ap.add_argument("--parquet", action="store_true",
                    help="write parquet instead of JSONL")
    ap.add_argument("--both", action="store_true",
                    help="write JSONL and parquet")
    ap.add_argument("--strict-export", action="store_true",
                    help="transform errors fatal (utils/main.go:233)")
    ap.add_argument("--extra-fields", nargs="*", default=[],
                    help="k=v literals appended to every JSONL row")
    ap.add_argument("--batch-size", type=int, default=64,
                    help="ledgers per changes batch (utils/main.go:269)")
    ap.add_argument("--export-types", default=None,
                    help="comma list of change entities (default all 10)")
    ap.add_argument("--stream", action="store_true",
                    help="run the export as Structured Streaming over the "
                         "ledger directory (unbounded end=0 mode; drains "
                         "what is landed, then stops — availableNow); "
                         "works for every export_* subcommand")
    ap.add_argument("--start-time", default=None,
                    help="get_ledger_range_from_times lower bound")
    ap.add_argument("--end-time", default=None,
                    help="get_ledger_range_from_times upper bound")
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    args = ap.parse_args(argv)

    fmt = "both" if args.both else ("parquet" if args.parquet else "json")
    extra = _parse_extra_fields(args.extra_fields) or None

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from stellar_etl_spark.session import get_spark
    from stellar_etl_spark.sources.bronze import read_ledger_files

    # an in-process caller's active session is borrowed, never stopped
    owned = SparkSession.getActiveSession() is None
    spark = get_spark("stellar-etl-cli", cpus=args.cpus)
    if owned:
        spark.sparkContext.setLogLevel("WARN")
    raw = read_ledger_files(spark, args.ledgers_dir).select(
        F.col("content").alias("lcm_xdr")
    )

    cmd, out = args.command, args.output
    s, e = args.start_ledger, args.end_ledger

    def _dispatch(bronze, mode="overwrite"):
        """One export pass over a bronze frame — the SAME code path serves
        the batch run and every streaming micro-batch (mode="append")."""
        return _dispatch_cmd(
            cmd, bronze, spark, args, out, s, e, fmt, extra, mode
        )

    if args.stream:
        if cmd == "get_ledger_range_from_times":
            raise SystemExit("--stream does not apply to range lookup")
        from stellar_etl_spark.sources.datasource import LedgerDataSource

        spark.dataSource.register(LedgerDataSource)
        tail = (
            spark.readStream.format("stellar_ledgers")
            .option("path", args.ledgers_dir)
            .load()
        )

        def process(batch_df, epoch_id):
            _dispatch(batch_df, mode="append")

        q = (
            tail.writeStream.foreachBatch(process)
            .option("checkpointLocation", os.path.join(out, "_checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        print(json.dumps({"streamed": True, "command": cmd, "output": out}))
        if owned:
            spark.stop()
        return

    df = _dispatch(raw)
    if df is not None:
        # PrintTransformStats parity (cmd/command_utils.go:90-103), from
        # the write job itself
        n = df.export_stats["successful"]
        print(json.dumps({"command": cmd, "rows": n, "output": out, "fmt": fmt}))
    if owned:
        spark.stop()


def _dispatch_cmd(cmd, bronze, spark, args, out, s, e, fmt, extra, mode):
    import json

    from pyspark.sql import functions as F

    from stellar_etl_spark.plans.pipelines import EXPORT_PIPELINES
    from stellar_etl_spark.sources import silver

    types = args.export_types.split(",") if args.export_types else None
    extra_kw = {"mode": mode}
    if cmd == "export_ledgers":
        return EXPORT_PIPELINES[cmd](
            silver.decode_ledgers(bronze), silver.decode_transactions(bronze),
            out, s, e, fmt, args.strict_export, extra, **extra_kw,
        )
    elif cmd == "export_transactions":
        # the header columns ride on the transaction rows: one parse, one job
        return EXPORT_PIPELINES[cmd](
            silver.decode_transactions(bronze), None,
            out, s, e, fmt, args.strict_export, extra, **extra_kw,
        )
    elif cmd == "export_ledger_transactions":
        return EXPORT_PIPELINES[cmd](
            silver.decode_transactions(bronze), out, s, e, fmt, extra,
            **extra_kw,
        )
    elif cmd in ("export_operations", "export_effects"):
        return EXPORT_PIPELINES[cmd](
            silver.decode_operations(bronze), silver.decode_transactions(bronze),
            out, s, e, fmt, extra, **extra_kw,
        )
    elif cmd == "export_trades":
        return EXPORT_PIPELINES[cmd](
            silver.decode_operations(bronze), None,
            out, s, e, fmt, extra, **extra_kw,
        )
    elif cmd == "export_assets":
        return EXPORT_PIPELINES[cmd](
            silver.decode_operations(bronze), out, s, e, fmt, extra, **extra_kw
        )
    elif cmd == "export_contract_events":
        return EXPORT_PIPELINES[cmd](
            silver.decode_contract_events(bronze), out, s, e, fmt, extra,
            **extra_kw,
        )
    elif cmd == "export_token_transfers":
        from stellar_etl_spark.transforms.token_events import (
            derive_token_transfer_events,
        )

        events = derive_token_transfer_events(
            silver.decode_operations(bronze),
            silver.decode_transactions(bronze),
            ledgers=silver.decode_ledgers(bronze),
        )
        return EXPORT_PIPELINES[cmd](events, out, s, e, fmt, extra, mode=mode)
    elif cmd == "export_orderbooks":
        from stellar_etl_spark.transforms.changes import (
            extract_entry_from_change,
        )

        ch = silver.decode_changes(bronze).where(
            F.col("entry_type") == "offer"
        )
        entry = F.col("entry")
        offers = extract_entry_from_change(ch).select(
            entry["seller_id"].alias("seller_id"),
            entry["offer_id"].alias("offer_id"),
            entry["selling"].alias("selling"),
            entry["buying"].alias("buying"),
            entry["amount"].alias("amount"),
            entry["price_n"].alias("price_n"),
            entry["price_d"].alias("price_d"),
            "ledger_sequence",
        )
        star = EXPORT_PIPELINES[cmd](
            offers, out, fmt if fmt != "json" else "parquet", mode=mode
        )
        if mode != "append":
            print(json.dumps({"tables": sorted(star)}))
        return None
    elif cmd == "export_ledger_entry_changes":
        routed = EXPORT_PIPELINES[cmd](
            silver.decode_changes(bronze), out, s, e,
            batch_size=args.batch_size, export_types=types, fmt=fmt,
            mode=mode,
        )
        if mode != "append":
            print(json.dumps({"entities": sorted(routed)}))
        return None
    elif cmd == "get_ledger_range_from_times":
        if not (args.start_time and args.end_time):
            raise SystemExit("--start-time/--end-time required")
        ledgers = silver.decode_ledgers(bronze)
        rng = EXPORT_PIPELINES[cmd](
            ledgers,
            F.timestamp_seconds(F.lit(_time_arg(args.start_time))),
            F.timestamp_seconds(F.lit(_time_arg(args.end_time))),
        ).first()
        print(json.dumps({"start": rng[0], "end": rng[1]}))
        return None
    else:  # pragma: no cover
        raise SystemExit(f"unknown command {cmd}")


if __name__ == "__main__":
    main(sys.argv[1:])
