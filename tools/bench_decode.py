"""XDR ingestion throughput benchmark — the engine-parity measurement.

The reference's extraction loop is single-threaded Go decoding one
`xdr.LedgerCloseMeta` at a time from the datastore (input/ledgers.go:25-83);
the network produces ~1 ledger / 5 s (ledger_range.go:29), and BASELINE.md's
parity bar is >= 64 ledgers per 5 minutes of wall clock per core.

This tool builds N synthetic ledgers (V0/V1 mix, multi-op envelopes) with
the repo's own RFC 4506 encoder, writes them as one-file-per-ledger bronze
(the reference's datastore layout), then times the silver path the CLI
exports run — binaryFile scan -> raw file bytes -> mapInPandas pure-Python
XDR decode -> transaction / operation rows — end to end on
local[$SPARK_GRAFT_CPUS].  No bronze header decode runs first, so the
figures are not comparable with ones taken through
``sources.bronze.decode_ledger_files``.

Usage: python tools/bench_decode.py [n_ledgers]

Prints ONE JSON line: {"metric": "xdr_decode_ledgers_per_sec", ...}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_ledgers(out_dir: str, n: int) -> None:
    from stellar_etl_spark.sources.xdr import (
        LedgerHeader,
        encode_ledger_close_meta_v0,
        encode_ledger_close_meta_v1,
    )

    a, b = b"\x01" * 32, b"\x02" * 32
    usd = {"type": "credit_alphanum4", "code": "USD", "issuer": b}
    payment = {
        "source": None,
        "type": 1,
        "body": {
            "destination": {"ed25519": b, "id": None},
            "asset": usd,
            "amount": 150_000_000,
        },
    }
    offer = {
        "source": {"ed25519": b, "id": None},
        "type": 3,
        "body": {
            "selling": usd,
            "buying": {"type": "native"},
            "amount": 80_000_000,
            "price": (1, 4),
            "offer_id": 42,
        },
    }
    sig = [{"hint": b"\x01\x02\x03\x04", "signature": b"\xaa" * 64}]

    def env(seq_num: int) -> dict:
        return {
            "type": "v1",
            "tx": {
                "source": {"ed25519": a, "id": None},
                "fee": 100,
                "seq_num": seq_num,
                "preconditions": {"time_bounds": {"min_time": 5, "max_time": 50}},
                "memo": {"type": "text", "text": "bench"},
                "operations": [payment, offer, payment],
                "soroban_data": None,
            },
            "signatures": sig,
        }

    # 5 tx x 3 ops per ledger — a busy-ledger shape
    for seq in range(2, 2 + n):
        h = LedgerHeader(
            ledger_version=20 + seq % 2,
            close_time=1_704_067_200 + seq * 5,
            ledger_seq=seq,
            total_coins=10**12,
        )
        envs = [env(100 + i) for i in range(5)]
        raw = (
            encode_ledger_close_meta_v0(h, envs)
            if seq % 2 == 0
            else encode_ledger_close_meta_v1(h, [envs])
        )
        with open(os.path.join(out_dir, f"{seq}.xdr"), "wb") as fh:
            fh.write(raw)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 4096
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from pyspark.sql import functions as F

    from stellar_etl_spark.session import get_spark
    from stellar_etl_spark.sources.bronze import read_ledger_files
    from stellar_etl_spark.sources.silver import (
        decode_operations,
        decode_transactions,
    )

    tmp = tempfile.mkdtemp(prefix="bench_decode_")
    try:
        t0 = time.time()
        build_ledgers(tmp, n)
        t_build = time.time() - t0

        spark = get_spark("bench-decode", cpus=cpus)
        spark.sparkContext.setLogLevel("ERROR")

        # the raw file bytes, as the CLI exports feed them to silver
        raw = read_ledger_files(spark, tmp).select(
            F.col("content").alias("lcm_xdr")
        )
        # warm-up: JVM + Arrow + python worker pool
        decode_transactions(raw.limit(8)).write.format("noop").mode(
            "overwrite"
        ).save()

        t0 = time.time()
        decode_transactions(raw).write.format("noop").mode("overwrite").save()
        t_tx = time.time() - t0
        t0 = time.time()
        decode_operations(raw).write.format("noop").mode("overwrite").save()
        t_op = time.time() - t0

        ledgers_per_sec = round(n / t_tx, 1)
        print(
            json.dumps(
                {
                    "metric": "xdr_decode_ledgers_per_sec",
                    "value": ledgers_per_sec,
                    "unit": "ledgers/sec (tx decode, 5 tx x 3 ops each)",
                    "n_ledgers": n,
                    "cpus": cpus,
                    "tx_decode_sec": round(t_tx, 2),
                    "op_decode_sec": round(t_op, 2),
                    "encode_build_sec": round(t_build, 2),
                    "parity_bar_ledgers_per_sec": round(64 / 300 * cpus, 2),
                    "network_rate_ledgers_per_sec": 0.2,
                }
            )
        )
        spark.stop()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
