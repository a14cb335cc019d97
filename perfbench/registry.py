"""The registry workload: Stellar entity-transform queries over seeded tables.

The registry queries (``stellar_etl_spark.entity_queries.ENTITY_QUERIES``)
derive Stellar-shaped inputs from three relational tables — ``orders``,
``lineitem`` and ``events`` — and run the production transforms over them.
This module writes those tables from a seed, with the column names, types
and value domains of the synthetic test tables in TESTDATA.md, and
checks each query's rows against its DuckDB twin in
``stellar_etl_spark.oracles.ORACLES``.

The same seed always gives byte-identical parquet files.

    python3 perfbench/registry.py --seed 1 --out /tmp/registry
"""

from __future__ import annotations

import argparse
import math
import os
import random
import time
import traceback
from datetime import datetime, timedelta

# The queries the workload runs, in this order: one per transform family
# (transactions, trades, account changes, contract events, token
# transfers).  The heaviest-compiling families (operation details, effects)
# are left out to keep a run near a minute.
QUERIES = (
    "tx_projection",
    "trade_atoms",
    "changes_accounts",
    "contract_events_decode",
    "token_transfer_classify",
)

TABLES = ("orders", "lineitem", "events")

# rows of each table: a tenth of the sf0.01 test tables
ORDERS = 1_500
LINES = 6_000
EVENTS = 1_000

_STATUS = ("F", "O", "P")
_PRIORITY = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_DAY0 = datetime(1995, 1, 1)
_EVENT0 = datetime(2024, 1, 1)


def build_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write ``orders``, ``lineitem`` and ``events`` parquet files for
    ``seed`` into ``out_dir``; returns rows per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"registry:{seed}")
    os.makedirs(out_dir, exist_ok=True)
    ts = pa.timestamp("us")

    orders = pa.table({
        "o_orderkey": pa.array(range(ORDERS), pa.int64()),
        "o_custkey": pa.array([rng.randrange(ORDERS // 10) for _ in range(ORDERS)],
                              pa.int64()),
        "o_orderstatus": [rng.choice(_STATUS) for _ in range(ORDERS)],
        "o_totalprice": [round(rng.uniform(1_000, 500_000), 2) for _ in range(ORDERS)],
        "o_orderdate": pa.array(
            [_DAY0 + timedelta(days=rng.randrange(2_400)) for _ in range(ORDERS)], ts),
        "o_orderpriority": [rng.choice(_PRIORITY) for _ in range(ORDERS)],
    })

    keys = sorted(rng.randrange(ORDERS) for _ in range(LINES))
    quantity = [float(rng.randint(1, 50)) for _ in range(LINES)]
    lineitem = pa.table({
        "l_orderkey": pa.array(keys, pa.int64()),
        "l_partkey": pa.array([rng.randrange(200) for _ in range(LINES)], pa.int64()),
        "l_suppkey": pa.array([rng.randrange(10) for _ in range(LINES)], pa.int64()),
        "l_linenumber": pa.array([rng.randint(1, 7) for _ in range(LINES)], pa.int32()),
        "l_quantity": quantity,
        "l_extendedprice": [round(q * rng.uniform(900, 2_100), 2) for q in quantity],
        "l_discount": [rng.randint(0, 10) / 100 for _ in range(LINES)],
        "l_tax": [rng.randint(0, 8) / 100 for _ in range(LINES)],
        "l_returnflag": [rng.choice("ANR") for _ in range(LINES)],
        "l_linestatus": [rng.choice("FO") for _ in range(LINES)],
        "l_shipdate": pa.array(
            [_DAY0 + timedelta(days=1 + rng.randrange(2_500)) for _ in range(LINES)], ts),
    })

    seconds = sorted(rng.uniform(0, 30 * 86_400) for _ in range(EVENTS))
    events = pa.table({
        "event_id": pa.array(range(EVENTS), pa.int64()),
        "ts": pa.array([_EVENT0 + timedelta(seconds=s) for s in seconds], ts),
        "user_id": pa.array([rng.randrange(150) for _ in range(EVENTS)], pa.int64()),
        "event_type": [rng.choice(_EVENT_TYPES) for _ in range(EVENTS)],
        "value": [round(math.exp(rng.gauss(2.5, 1.2)), 2) for _ in range(EVENTS)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(EVENTS)],
    })

    rows = {}
    for name, t in (("orders", orders), ("lineitem", lineitem), ("events", events)):
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows


# -- running and checking ------------------------------------------------------


def plan_and_noop(spark, name: str, data_dir: str) -> tuple[float, float, int]:
    """Build query ``name``'s frame and force its physical plan, then run
    it to the ``noop`` sink.  Returns (plan ms, execute s, rows)."""
    from layers import noop

    from stellar_etl_spark.queries import QUERIES as REGISTRY

    t0 = time.perf_counter()
    df = REGISTRY[name](spark, data_dir)
    df._jdf.queryExecution().executedPlan()
    plan_ms = (time.perf_counter() - t0) * 1e3
    exec_s, rows = noop(df)
    return plan_ms, exec_s, rows


def oracle_frames(data_dir: str, names) -> dict:
    """Each query's rows from its DuckDB twin, as pandas frames."""
    import duckdb

    from stellar_etl_spark.oracles import ORACLES

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return {n: con.execute(ORACLES[n]).df() for n in names}
    finally:
        con.close()


def compare(spark_df, oracle_df) -> list[str]:
    """Differences between a Spark result and its oracle: row count,
    column names, then the values of both sorted by every column."""
    import numpy as np
    import pandas as pd

    if len(spark_df) != len(oracle_df):
        return [f"{len(spark_df)} rows, oracle {len(oracle_df)}"]
    cols = sorted(spark_df.columns)
    if cols != sorted(oracle_df.columns):
        return [f"columns {cols}, oracle {sorted(oracle_df.columns)}"]
    problems = []
    s = spark_df[cols].sort_values(cols, ignore_index=True)
    o = oracle_df[cols].sort_values(cols, ignore_index=True)
    for c in cols:
        a, b = s[c], o[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            x, y = a.astype(float).to_numpy(), b.astype(float).to_numpy()
            same = (x == y) | (np.isnan(x) & np.isnan(y))
        else:
            same = (a.astype(object).to_numpy() == b.astype(object).to_numpy()) | (
                a.isna().to_numpy() & b.isna().to_numpy())
        if not same.all():
            i = int(np.argmax(~same))
            problems.append(f"column {c}: {int((~same).sum())} values differ, "
                            f"e.g. {a.iloc[i]!r} vs {b.iloc[i]!r}")
    return problems


class Registry:
    """Registry queries over seeded tables in one long-lived session."""

    def __init__(self, data_dir: str, n: int, log):
        self.data_dir, self.n, self.log = data_dir, n, log
        self.queries = QUERIES
        self.spark = None
        self.collected: dict = {}

    def session(self):
        from stellar_etl_spark.session import get_spark

        if self.spark is None:
            self.spark = get_spark("perfbench-registry", cpus=self.n)
        return self.spark

    def collect_pass(self) -> list:
        """Warm-up: collect every query's rows for the oracle check."""
        from stellar_etl_spark.queries import QUERIES as REGISTRY

        spark, ops = self.session(), []
        for q in self.queries:
            t0 = time.perf_counter()
            try:
                self.collected[q] = REGISTRY[q](spark, self.data_dir).toPandas()
                ok = True
            except Exception:
                traceback.print_exc()
                self.log(f"CHECK FAILED {q}: raised while collecting")
                ok = False
            ops.append((q, time.perf_counter() - t0, ok))
        return ops

    def timed_pass(self) -> tuple[list, dict]:
        """One pass: every query built, planned and run to the noop sink.
        Returns [(query, seconds, ok)] and query -> (plan ms, exec s, rows);
        ``ok`` is settled by :meth:`check`."""
        spark, ops, split = self.session(), [], {}
        for q in self.queries:
            t0 = time.perf_counter()
            try:
                split[q] = plan_and_noop(spark, q, self.data_dir)
                ok = True
            except Exception:
                traceback.print_exc()
                self.log(f"CHECK FAILED {q}: raised")
                ok = False
            ops.append((q, time.perf_counter() - t0, ok))
        return ops, split

    def check(self, timed: list) -> list:
        """Compare the collected rows with each query's DuckDB oracle, and
        the rows each timed pass counted with the oracle's row count.
        ``timed`` holds :meth:`timed_pass` results; returns their
        operations with failed checks marked."""
        oracle = oracle_frames(self.data_dir, self.queries)
        bad = set()
        for q in self.queries:
            problems = []
            if q in self.collected:
                problems = compare(self.collected[q], oracle[q])
            problems += [
                f"noop pass counted {split[q][2]} rows, oracle {len(oracle[q])}"
                for _, split in timed if q in split and split[q][2] != len(oracle[q])
            ]
            for p in problems:
                self.log(f"CHECK FAILED {q}: {p}")
            if problems:
                bad.add(q)
        return [[(q, dt, ok and q not in bad) for q, dt, ok in ops] for ops, _ in timed]

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    print(build_tables(args.out, args.seed))


if __name__ == "__main__":
    main()
