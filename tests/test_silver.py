"""End-to-end silver path: real XDR wire bytes → bronze → decoded
transaction/operation rows → the production entity transforms
(sources/silver.py; reference: input/ledgers.go → input/{transactions,
operations}.go → transform_*)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stellar_etl_spark.functions.strkey import VERSION_ACCOUNT, encode_strkey
from stellar_etl_spark.sources.silver import (
    decode_operations,
    decode_transactions,
)
from stellar_etl_spark.sources.xdr import (
    LedgerHeader,
    encode_ledger_close_meta_v0,
    encode_ledger_close_meta_v1,
)

A = b"\x01" * 32
B = b"\x02" * 32
GA = encode_strkey(VERSION_ACCOUNT, A)
GB = encode_strkey(VERSION_ACCOUNT, B)
USD = {"type": "credit_alphanum4", "code": "USD", "issuer": B}

PAYMENT = {
    "source": None,
    "type": 1,
    "body": {
        "destination": {"ed25519": B, "id": None},
        "asset": USD,
        "amount": 150_000_000,
    },
}
OFFER = {
    "source": {"ed25519": B, "id": None},
    "type": 3,
    "body": {
        "selling": USD,
        "buying": {"type": "native"},
        "amount": 80_000_000,
        "price": (1, 4),
        "offer_id": 42,
    },
}


def _sig():
    return [{"hint": b"\x01\x02\x03\x04", "signature": b"\xaa" * 64}]


def _env(ops, memo=None, seq_num=7, fee=100):
    return {
        "type": "v1",
        "tx": {
            "source": {"ed25519": A, "id": None},
            "fee": fee,
            "seq_num": seq_num,
            "preconditions": {
                "time_bounds": {"min_time": 5, "max_time": 50}
            },
            "memo": memo or {"type": "text", "text": "hi"},
            "operations": ops,
            "soroban_data": None,
        },
        "signatures": _sig(),
    }


@pytest.fixture(scope="module")
def bronze(spark, tmp_path_factory):
    from stellar_etl_spark.sources.bronze import (
        decode_ledger_files,
        read_ledger_files,
    )

    tmp = tmp_path_factory.mktemp("silver")
    h2 = LedgerHeader(
        ledger_version=20, close_time=1_704_067_210, ledger_seq=2,
        total_coins=10**12,
    )
    raw2 = encode_ledger_close_meta_v0(h2, [_env([PAYMENT, OFFER])])
    h3 = LedgerHeader(
        ledger_version=21, close_time=1_704_067_215, ledger_seq=3,
        total_coins=10**12,
    )
    bump = {
        "type": "fee_bump",
        "fee_source": {"ed25519": B, "id": None},
        "fee": 5000,
        "inner": _env([PAYMENT], memo={"type": "none"}),
        "signatures": _sig(),
    }
    raw3 = encode_ledger_close_meta_v1(h3, [[bump]])
    (tmp / "2.xdr").write_bytes(raw2)
    (tmp / "3.xdr").write_bytes(raw3)
    return decode_ledger_files(read_ledger_files(spark, str(tmp)))


def _assert_header_paths_equal(bronze) -> tuple[int, int]:
    """``transform_transaction`` / ``transform_trade`` without a ledgers
    frame read the header columns the silver decode puts on each row; both
    must equal the broadcast-join path over ``decode_ledgers`` of the same
    bytes (``exceptAll`` empty both ways).  Returns (transactions, trades)."""
    from stellar_etl_spark.sources.silver import decode_ledgers
    from stellar_etl_spark.transforms.trade import transform_trade
    from stellar_etl_spark.transforms.transaction import transform_transaction

    ledgers = decode_ledgers(bronze)
    txs, ops = decode_transactions(bronze), decode_operations(bronze)
    counts = []
    for on_rows, joined in (
        (transform_transaction(txs), transform_transaction(txs, ledgers)),
        (transform_trade(ops), transform_trade(ops, ledgers)),
    ):
        assert on_rows.schema == joined.schema
        assert on_rows.exceptAll(joined).count() == 0
        assert joined.exceptAll(on_rows).count() == 0
        counts.append(on_rows.count())
    return counts[0], counts[1]


class TestHeaderOnRows:
    def test_bench_corpus(self, spark, tmp_path):
        import os
        import sys

        sys.path.insert(0, os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
        ))
        from bench_decode import build_ledgers

        from stellar_etl_spark.sources.bronze import read_ledger_files

        build_ledgers(str(tmp_path), 6)
        raw = read_ledger_files(spark, str(tmp_path)).select(
            F.col("content").alias("lcm_xdr")
        )
        # 6 ledgers x 5 transactions; the ops carry no results, so no trades
        assert _assert_header_paths_equal(raw) == (30, 0)

    def test_golden_lcms(self, spark, tmp_path):
        from golden_lcm import have_goldens, write_golden_ledger_dir

        from stellar_etl_spark.sources.bronze import read_ledger_files

        if not have_goldens():
            pytest.skip("reference goldens absent")
        write_golden_ledger_dir(str(tmp_path))
        raw = read_ledger_files(spark, str(tmp_path)).select(
            F.col("content").alias("lcm_xdr")
        )
        n_tx, _ = _assert_header_paths_equal(raw)
        assert n_tx > 0


class TestDecodeLedgers:
    def test_header_surface_feeds_transform_ledger(self, spark, bronze):
        """decode_ledgers emits the full LEDGERS_DDL header row (hex
        hashes, re-encoded base64 header XDR, close/fee scalars) and the
        production transform_ledger runs on it (ledger.go:17-107)."""
        from stellar_etl_spark.sources.silver import (
            decode_ledgers,
            decode_transactions,
        )
        from stellar_etl_spark.transforms.ledger import transform_ledger

        ledgers = decode_ledgers(bronze)
        rows = {r.sequence: r for r in ledgers.collect()}
        assert set(rows) == {2, 3}
        assert rows[2].protocol_version == 20
        assert rows[2].total_coins == 10**12
        assert len(rows[2].ledger_hash) == 64
        import base64

        base64.b64decode(rows[2].ledger_header)  # valid b64 XDR

        out = {
            r.sequence: r
            for r in transform_ledger(
                ledgers, decode_transactions(bronze)
            ).collect()
        }
        assert out[2].id == (2 << 32)
        assert out[2].transaction_count == 1
        assert out[3].operation_count == 1  # fee-bump inner payment


class TestTransactionlessLedgers:
    def test_every_decoder_over_ledgers_without_transactions(
        self, spark, tmp_path
    ):
        """A decode partition holding only ledgers without transactions
        yields no rows and no error from every silver table, fed the raw
        file bytes as the CLI feeds them (ledgers: one header row each)."""
        from stellar_etl_spark.sources import silver
        from stellar_etl_spark.sources.bronze import read_ledger_files

        for seq in (2, 3, 4, 5):
            h = LedgerHeader(
                ledger_version=20, close_time=1_704_067_200 + 5 * seq,
                ledger_seq=seq, total_coins=10**12,
            )
            raw = (
                encode_ledger_close_meta_v0(h, [], tx_processing=[])
                if seq % 2
                else encode_ledger_close_meta_v1(h, [[]], tx_processing=[])
            )
            (tmp_path / f"{seq}.xdr").write_bytes(raw)
        files = read_ledger_files(spark, str(tmp_path)).select(
            F.col("content").alias("lcm_xdr")
        )
        for table in ("transactions", "operations", "changes",
                      "contract_events"):
            assert getattr(silver, f"decode_{table}")(files).collect() == []
        ledgers = silver.decode_ledgers(files).collect()
        assert sorted(r.sequence for r in ledgers) == [2, 3, 4, 5]


class TestSilverDecode:
    def test_transactions_from_wire_bytes(self, bronze):
        rows = {
            (r.ledger_sequence, r.tx_index): r
            for r in decode_transactions(bronze).collect()
        }
        t = rows[(2, 1)]
        assert t.source_account == GA
        assert t.memo_type == "text" and t.memo == "hi"
        assert (t.time_bounds_min, t.time_bounds_max) == (5, 50)
        assert t.operation_count == 2
        fb = rows[(3, 1)]
        assert fb.is_fee_bump and fb.fee_account == GB
        assert fb.max_fee == 5000

    def test_operations_from_wire_bytes(self, bronze):
        ops = {
            (r.ledger_sequence, r.tx_index, r.op_index): r
            for r in decode_operations(bronze).collect()
        }
        pay = ops[(2, 1, 0)]
        assert pay.type == 1
        assert pay.body.to == GB
        assert pay.body.asset.asset_code == "USD"
        assert pay.body.asset.asset_issuer == GB
        off = ops[(2, 1, 1)]
        assert off.type == 3 and off.source_account == GB
        assert (off.body.price_n, off.body.price_d) == (1, 4)
        assert off.body.offer_id == 42
        # fee-bump inner operations surface under the outer tx index
        assert (3, 1, 0) in ops

    def test_transforms_consume_silver(self, spark, bronze):
        """The same production transforms run on XDR-decoded rows: TOID ids,
        memo clearing, [a,b) bounds, details JSON — no fixture shortcuts."""
        import json

        from stellar_etl_spark.transforms.operation import transform_operation
        from stellar_etl_spark.transforms.transaction import (
            transform_transaction,
        )

        txs = decode_transactions(bronze)
        ledgers = bronze.select(
            F.col("sequence"),
            F.col("closed_at"),
            F.col("protocol_version"),
        )
        out = {
            (r.ledger_sequence, r.application_order): r
            for r in transform_transaction(txs, ledgers).collect()
        }
        t = out[(2, 1)]
        assert t.id == (2 << 32) | (1 << 12)
        assert t.time_bounds == "[5,50)"
        assert t.account == GA
        assert out[(3, 1)].memo is None  # memo none cleared

        ops = transform_operation(decode_operations(bronze), txs, ledgers)
        rows = {r.id: r for r in ops.collect()}
        pay = rows[(2 << 32) | (1 << 12) | 1]
        assert pay.type_string == "payment"
        d = json.loads(pay.details_json)
        assert d["to"] == GB and d["amount"] == 15.0
        assert pay.closed_at is not None


def _acct_entry(ed25519, balance, seq=5, sponsor=None):
    return {
        "last_modified_ledger": 2,
        "type": 0,
        "data": {
            "account_id": ed25519,
            "balance": balance,
            "seq_num": seq,
            "num_subentries": 1,
            "inflation_dest": None,
            "flags": 0,
            "home_domain": "home.example",
            "thresholds": [1, 0, 2, 3],
            "signers": [{"key": {"type": 0, "key": B}, "weight": 2}],
            "liabilities": {"buying": 5, "selling": 7},
            "num_sponsored": 0,
            "num_sponsoring": 0,
            "signer_sponsoring_ids": [None],
            "seq_ledger": None,
            "seq_time": None,
        },
        "sponsoring_id": sponsor,
        "has_ext_v1": sponsor is not None,
    }


def _offer_entry(offer_id, price, amount=80_000_000):
    return {
        "last_modified_ledger": 2,
        "type": 2,
        "data": {
            "seller_id": B,
            "offer_id": offer_id,
            "selling": USD,
            "buying": {"type": "native"},
            "amount": amount,
            "price": price,
            "flags": 0,
        },
        "sponsoring_id": None,
        "has_ext_v1": False,
    }


class TestFullDecode:
    """Results, claim atoms, per-op changes, and the changes table — all
    from wire bytes (the complete reference ingestion surface)."""

    @pytest.fixture(scope="class")
    def bronze(self, spark, tmp_path_factory):
        from stellar_etl_spark.sources.bronze import (
            decode_ledger_files,
            read_ledger_files,
        )
        from stellar_etl_spark.sources.xdr import transaction_hash

        PUB = "Public Global Stellar Network ; September 2015"
        tmp = tmp_path_factory.mktemp("full")

        env_pay = _env(ops=[PAYMENT], seq_num=11)
        env_offer = _env(ops=[OFFER], seq_num=12, memo={"type": "none"})

        atom = {
            "atom_type": "order_book",
            "seller_id": B,
            "offer_id": 42,
            "asset_sold": USD,
            "amount_sold": 60_000_000,
            "asset_bought": {"type": "native"},
            "amount_bought": 30_000_000,
        }
        proc_pay = {
            "result": {
                "transaction_hash": transaction_hash(env_pay, PUB),
                "result": {
                    "fee_charged": 100,
                    "code": 0,
                    "op_results": [{"code": 0, "type": 1, "inner_code": 0}],
                },
            },
            "fee_changes": [
                {"change_type": 3, "entry": _acct_entry(A, 1_000_000_000)},
                {"change_type": 1, "entry": _acct_entry(A, 900_000_000)},
            ],
            "meta": {
                "version": 2,
                "tx_changes_before": [],
                "operations": [
                    {
                        "changes": [
                            {"change_type": 3, "entry": _acct_entry(A, 900_000_000)},
                            {"change_type": 1, "entry": _acct_entry(A, 750_000_000)},
                        ]
                    }
                ],
                "tx_changes_after": [],
                "soroban": None,
            },
        }
        proc_offer = {
            "result": {
                "transaction_hash": transaction_hash(env_offer, PUB),
                "result": {
                    "fee_charged": 100,
                    "code": 0,
                    "op_results": [
                        {
                            "code": 0,
                            "type": 3,
                            "inner_code": 0,
                            "success": {
                                "offers_claimed": [atom],
                                "effect": 2,  # DELETED
                                "offer": None,
                            },
                        }
                    ],
                },
            },
            "fee_changes": [],
            "meta": {
                "version": 2,
                "tx_changes_before": [],
                "operations": [
                    {
                        "changes": [
                            {
                                "change_type": 3,
                                "entry": _offer_entry(42, (1, 2)),
                            },
                            {
                                "change_type": 2,
                                "key": {
                                    "type": 2,
                                    "seller_id": B,
                                    "offer_id": 42,
                                },
                            },
                        ]
                    }
                ],
                "tx_changes_after": [],
                "soroban": None,
            },
        }
        h = LedgerHeader(
            ledger_version=20, close_time=1_704_067_210, ledger_seq=7,
            total_coins=10**12,
        )
        raw = encode_ledger_close_meta_v0(
            h, [env_pay, env_offer], tx_processing=[proc_pay, proc_offer]
        )
        (tmp / "7.xdr").write_bytes(raw)
        return decode_ledger_files(read_ledger_files(spark, str(tmp)))

    def test_results_fill_transactions(self, bronze):
        rows = {r.tx_index: r for r in decode_transactions(bronze).collect()}
        t = rows[1]
        assert t.successful is True
        assert t.fee_charged == 100
        assert t.result_code == "TransactionResultCodeTxSuccess"
        assert t.transaction_hash and len(t.transaction_hash) == 64
        # the four canonical blobs re-encode from the decoded structures
        assert t.tx_envelope and t.tx_result and t.tx_meta and t.tx_fee_meta

    def test_claim_atoms_and_changes_reach_operations(self, bronze):
        ops = {
            (r.tx_index, r.op_index): r
            for r in decode_operations(bronze).collect()
        }
        offer_op = ops[(2, 0)]
        assert offer_op.result_code == "OperationResultCodeOpInner"
        [a] = offer_op.claim_atoms
        assert a.atom_type == "ob" and a.offer_id == 42
        assert a.amount_sold == 60_000_000
        assert a.asset_sold.asset_code == "USD"
        # the pre-change offer (price source for the trade scan) rides along
        [chg] = offer_op.changes
        assert chg.entry_type == "offer"
        assert (chg.pre.price_n, chg.pre.price_d) == (1, 2)
        assert chg.post is None  # removed

    def test_header_on_rows_equals_ledgers_join(self, bronze):
        """A ledger with a crossed offer: the trade half is not empty."""
        n_tx, n_trades = _assert_header_paths_equal(bronze)
        assert (n_tx, n_trades) == (2, 1)

    def test_trades_from_wire_bytes(self, spark, bronze):
        """transform_trade runs end to end on decoded ops: the atom explodes
        and the price comes from the pre-change offer entry."""
        from stellar_etl_spark.transforms.trade import transform_trade

        ledgers = bronze.select("sequence", "closed_at", "protocol_version")
        trades = transform_trade(decode_operations(bronze), ledgers).collect()
        [t] = trades
        assert t.selling_account_address == GB
        assert (t.price_n, t.price_d) == (1, 2)
        assert t.selling_offer_id == 42
        assert t.trade_type == 1
        assert float(t.selling_amount) == 6.0

    def test_changes_table_and_state_transforms(self, spark, bronze):
        """decode_changes → route_changes: the state-entity family computed
        from raw bytes."""
        from stellar_etl_spark.sources.silver import decode_changes
        from stellar_etl_spark.transforms.changes import route_changes

        changes = decode_changes(bronze)
        routed = route_changes(changes)
        accounts = routed["accounts"].collect()
        # fee sweep + op change → two account updates, post balances
        assert sorted(float(r.balance) for r in accounts) == [75.0, 90.0]
        a = accounts[0]
        assert a.account_id == GA
        assert a.home_domain == "home.example"
        assert (a.master_weight, a.threshold_high) == (1, 3)
        offers = routed["offers"].collect()
        [o] = offers
        assert o.deleted is True  # removed entry surfaces pre state
        assert o.offer_id == 42 and (o.pricen, o.priced) == (1, 2)
        assert o.seller_id == GB
        signers = routed["account_signers"].collect()
        # SignerSummary(): the master key (GA @ weight 1) joins the
        # explicit signer GB (account_signer.go:35)
        assert {s.signer for s in signers} == {GA, GB}


class TestChangeApplyOrder:
    """decode_changes must stream changes in stellar-core's APPLY order:
    every tx's fee changes first, then each tx's apply meta, then ledger
    upgrades — the reference's LedgerChangeReader order.  Interleaving
    fees per tx lets compaction pick a stale fee-phase state."""

    @pytest.fixture(scope="class")
    def bronze(self, spark, tmp_path_factory):
        from stellar_etl_spark.sources.bronze import (
            decode_ledger_files,
            read_ledger_files,
        )
        from stellar_etl_spark.sources.xdr import transaction_hash

        PUB = "Public Global Stellar Network ; September 2015"
        tmp = tmp_path_factory.mktemp("order")

        env1 = _env(ops=[PAYMENT], seq_num=21)
        env2 = _env(ops=[PAYMENT], seq_num=22, memo={"type": "none"})

        def proc(env, fee_changes, op_changes):
            return {
                "result": {
                    "transaction_hash": transaction_hash(env, PUB),
                    "result": {
                        "fee_charged": 100,
                        "code": 0,
                        "op_results": [
                            {"code": 0, "type": 1, "inner_code": 0}
                        ],
                    },
                },
                "fee_changes": fee_changes,
                "meta": {
                    "version": 2,
                    "tx_changes_before": [],
                    "operations": [{"changes": op_changes}],
                    "tx_changes_after": [],
                    "soroban": None,
                },
            }

        # tx1's OP credits A to 990; tx2's FEE debits A to 1100 (applied
        # FIRST in the fee phase, from A's pre-ledger 1200).  Core order:
        # fee(1200->1100), then op(1100->990): A's FINAL state is 990.
        proc1 = proc(
            env1,
            [],
            [
                {"change_type": 3, "entry": _acct_entry(A, 1_100)},
                {"change_type": 1, "entry": _acct_entry(A, 990)},
            ],
        )
        proc2 = proc(
            env2,
            [
                {"change_type": 3, "entry": _acct_entry(A, 1_200)},
                {"change_type": 1, "entry": _acct_entry(A, 1_100)},
            ],
            [],
        )
        # one ledger upgrade bumping B's account entry — must land LAST
        upgrades = [
            {
                "upgrade": {"type": 1, "value": 21},
                "changes": [
                    {"change_type": 3, "entry": _acct_entry(B, 500)},
                    {"change_type": 1, "entry": _acct_entry(B, 777)},
                ],
            }
        ]
        h = LedgerHeader(
            ledger_version=20, close_time=1_704_067_210, ledger_seq=9,
            total_coins=10**12,
        )
        raw = encode_ledger_close_meta_v0(
            h, [env1, env2],
            tx_processing=[proc1, proc2],
            upgrades_processing=upgrades,
        )
        (tmp / "9.xdr").write_bytes(raw)
        return decode_ledger_files(read_ledger_files(spark, str(tmp)))

    def test_fee_phase_precedes_all_ops_and_upgrades_come_last(self, bronze):
        from stellar_etl_spark.operators.compaction import compact_changes
        from stellar_etl_spark.sources.silver import decode_changes

        rows = sorted(
            decode_changes(bronze).collect(), key=lambda r: r.change_index
        )
        balances = [
            (r.change_index, float(r.post.balance) if r.post else None)
            for r in rows
        ]
        # order: tx2's FEE pair first (fee phase), then tx1's OP pair,
        # then the upgrade pair (balances are raw stroops here)
        assert [b for _, b in balances] == [1100.0, 990.0, 777.0]
        # compaction therefore keeps A's OP-phase state as final
        from pyspark.sql import functions as F

        batched = decode_changes(bronze).withColumn("batch_id", F.lit(0))
        final = sorted(
            float(r.post.balance)
            for r in compact_changes(batched).collect()
            if r.post is not None
        )
        assert final == [777.0, 990.0]

    def test_upgrade_roundtrips_through_codec(self):
        from stellar_etl_spark.sources.xdr import (
            Reader,
            Writer,
            read_ledger_upgrade,
            write_ledger_upgrade,
        )

        for u in (
            {"type": 1, "value": 21},
            {"type": 6, "contract_id": b"\x07" * 32,
             "content_hash": b"\x08" * 32},
        ):
            w = Writer()
            write_ledger_upgrade(w, u)
            assert read_ledger_upgrade(Reader(w.bytes())) == u


class TestContractEventsFromMeta:
    """Soroban apply meta → contract-events table → the event transforms."""

    @pytest.fixture(scope="class")
    def bronze(self, spark, tmp_path_factory):
        from stellar_etl_spark.sources.bronze import (
            decode_ledger_files,
            read_ledger_files,
        )
        from stellar_etl_spark.sources.xdr import transaction_hash

        PUB = "Public Global Stellar Network ; September 2015"
        tmp = tmp_path_factory.mktemp("events")
        contract = b"\x07" * 32
        addr_a = {"type": "account", "account_id": A}
        addr_b = {"type": "account", "account_id": B}
        transfer_ev = {
            "contract_id": contract,
            "type": 1,  # contract
            "topics": [
                {"symbol": "transfer"},
                {"address": addr_a},
                {"address": addr_b},
                {"string": b"USD:" + GB.encode()},
            ],
            "data": {"i128": {"hi": 0, "lo": 40_000_000}},
        }
        diag_ev = {
            "contract_id": contract,
            "type": 2,
            "topics": [{"symbol": "fn_call"}],
            "data": {"void": None},
        }
        env = _env([PAYMENT], seq_num=21)
        proc = {
            "result": {
                "transaction_hash": transaction_hash(env, PUB),
                "result": {
                    "fee_charged": 100,
                    "code": 0,
                    "op_results": [{"code": 0, "type": 1, "inner_code": 0}],
                },
            },
            "fee_changes": [],
            "meta": {
                "version": 3,
                "tx_changes_before": [],
                "operations": [{"changes": []}],
                "tx_changes_after": [],
                # GetDiagnosticEvents() semantics: when diagnostics exist
                # they already CONTAIN the contract events (stellar-core
                # emits the wrapped contract event plus the extra
                # diagnostics), so the fixture mirrors that wire shape
                "soroban": {
                    "fees": None,
                    "events": [transfer_ev],
                    "return_value": {"void": None},
                    "diagnostic_events": [
                        {
                            "in_successful_contract_call": True,
                            "event": transfer_ev,
                        },
                        {"in_successful_contract_call": True, "event": diag_ev},
                    ],
                },
            },
        }
        h = LedgerHeader(
            ledger_version=21, close_time=1_704_067_300, ledger_seq=9,
            total_coins=10**12,
        )
        raw = encode_ledger_close_meta_v0(h, [env], tx_processing=[proc])
        (tmp / "9.xdr").write_bytes(raw)
        return decode_ledger_files(read_ledger_files(spark, str(tmp)))

    def test_events_decode_and_classify(self, bronze):
        from stellar_etl_spark.sources.silver import decode_contract_events

        rows = decode_contract_events(bronze).collect()
        assert len(rows) == 2
        t = next(r for r in rows if r.event_type == "contract")
        assert t.sac_kind == "transfer"
        assert t.sac_from == GA and t.sac_to == GB
        assert t.sac_amount == 40_000_000
        assert t.sac_asset == f"USD:{GB}"
        assert t.contract_id.startswith("C")
        assert t.topics_decoded[0] == '{"symbol":"transfer"}'
        d = next(r for r in rows if r.event_type == "diagnostic")
        assert d.sac_kind is None

    def test_event_transforms_consume(self, bronze):
        from stellar_etl_spark.sources.silver import decode_contract_events
        from stellar_etl_spark.transforms.contract_events import (
            transform_contract_events,
        )
        from stellar_etl_spark.transforms.token_transfer import (
            transform_token_transfer,
        )

        events = decode_contract_events(bronze)
        ce = transform_contract_events(events).collect()
        [c] = ce
        assert c.type == 1 and c.type_string == "ContractEventTypeContract"
        tt = transform_token_transfer(events).collect()
        [t] = tt
        assert t.event_topic == "transfer"
        assert t.asset_code == "USD" and float(t.amount) == 4.0


class TestSacClassification:
    """_classify_sac_event unit behavior: muxed destination split and i128
    amount clamping (the long-typed schema must not crash Arrow on a
    SEP-41 amount with a nonzero hi limb)."""

    def _ev(self, kind, addrs, amount_hi, amount_lo):
        topics = [{"symbol": kind}]
        topics += [{"address": a} for a in addrs]
        topics += [{"string": "USD:GABC"}]
        data = {"i128": {"hi": amount_hi, "lo": amount_lo}}
        return topics, data

    def test_muxed_destination_splits_into_g_plus_muxed(self):
        from stellar_etl_spark.sources.silver import _classify_sac_event

        frm = {"type": "account", "account_id": b"\x01" * 32}
        to = {"type": "muxed_account", "ed25519": b"\x02" * 32, "id": 77}
        topics, data = self._ev("transfer", [frm, to], 0, 5)
        out = _classify_sac_event(topics, data)
        assert out["sac_from"] == GA
        assert out["sac_to"] == GB  # the BASE G-address, not the M-form
        assert out["sac_to_muxed"].startswith("M")
        assert out["sac_to_muxed_id"] == 77
        assert out["sac_amount"] == 5

    def test_i128_amount_clamps_to_int64(self):
        from stellar_etl_spark.sources.silver import _classify_sac_event

        to = {"type": "account", "account_id": b"\x02" * 32}
        topics, data = self._ev("mint", [to], 2, 0)  # 2 << 64 > i64 max
        out = _classify_sac_event(topics, data)
        assert out["sac_amount"] == (1 << 63) - 1
        # saturation is flagged, not silent
        assert out["sac_amount_clamped"] is True

    def test_in_range_amount_is_not_flagged(self):
        from stellar_etl_spark.sources.silver import _classify_sac_event

        to = {"type": "account", "account_id": b"\x02" * 32}
        topics, data = self._ev("mint", [to], 0, 5_000_000)
        out = _classify_sac_event(topics, data)
        assert out["sac_amount"] == 5_000_000
        assert out["sac_amount_clamped"] is False


class TestSorobanFeeRefundAndPreP21:
    """transaction.go:167-190 parity: the refund is the fee account's
    balance delta over txChangesAfter with each missing side defaulting to
    0 (one-sided changesets count), and pre-P21 Soroban FEE-BUMP txs
    override fee_charged with resource_fee - refund (stellar-core#4188)."""

    REFUND = 1_500_000
    RESOURCE_FEE = 4_000_000

    def _bump_env(self, with_soroban=True):
        inner = _env([PAYMENT], memo={"type": "none"}, seq_num=41)
        if with_soroban:
            inner["tx"]["soroban_data"] = {
                "footprint": {"read_only": [], "read_write": []},
                "instructions": 1_000,
                "read_bytes": 64,
                "write_bytes": 64,
                "resource_fee": self.RESOURCE_FEE,
            }
        return {
            "type": "fee_bump",
            "fee_source": {"ed25519": B, "id": None},
            "fee": 5_000_000,
            "inner": inner,
            "signatures": _sig(),
        }

    # fee sweep: the fee account pays 4_200_000 up front in the FEE meta
    INITIAL = 4_200_000

    def _bronze(self, spark, tmp_path, ledger_version, changes_after):
        from stellar_etl_spark.sources.bronze import (
            decode_ledger_files,
            read_ledger_files,
        )
        from stellar_etl_spark.sources.xdr import transaction_hash

        PUB = "Public Global Stellar Network ; September 2015"
        env = self._bump_env()
        proc = {
            "result": {
                "transaction_hash": transaction_hash(env, PUB),
                "result": {
                    "fee_charged": 3_999_999,
                    "code": 1,  # txFeeBumpInnerSuccess
                    "inner_hash": b"\x09" * 32,
                    "inner_result": {
                        "fee_charged": 3_999_999,
                        "code": 0,
                        "op_results": [
                            {"code": 0, "type": 1, "inner_code": 0}
                        ],
                    },
                },
            },
            "fee_changes": [
                {"change_type": 3, "entry": _acct_entry(B, 2_000_000_000)},
                {
                    "change_type": 1,
                    "entry": _acct_entry(B, 2_000_000_000 - self.INITIAL),
                },
            ],
            "meta": {
                "version": 3,
                "tx_changes_before": [],
                "operations": [{"changes": []}],
                "tx_changes_after": changes_after,
                "soroban": None,
            },
        }
        h = LedgerHeader(
            ledger_version=ledger_version, close_time=1_704_067_400,
            ledger_seq=15, total_coins=10**12,
        )
        raw = encode_ledger_close_meta_v1(h, [[env]], tx_processing=[proc])
        store = tmp_path / f"store{ledger_version}"
        store.mkdir()
        (store / "15.xdr").write_bytes(raw)
        return decode_ledger_files(read_ledger_files(spark, str(store)))

    def _decode(self, spark, tmp_path, ledger_version, changes_after):
        bronze = self._bronze(spark, tmp_path, ledger_version, changes_after)
        [row] = decode_transactions(bronze).collect()
        return row

    def _refund_pair(self):
        return [
            {"change_type": 3, "entry": _acct_entry(B, 1_000_000_000)},
            {
                "change_type": 1,
                "entry": _acct_entry(B, 1_000_000_000 + self.REFUND),
            },
        ]

    def test_p20_fee_bump_overrides_fee_charged(self, spark, tmp_path):
        row = self._decode(spark, tmp_path, 20, self._refund_pair())
        assert row.fee_refund == self.REFUND
        # result says 3_999_999; the P20 fix recomputes it
        assert row.fee_charged == self.RESOURCE_FEE - self.REFUND

    def test_p21_fee_bump_keeps_result_fee_charged(self, spark, tmp_path):
        row = self._decode(spark, tmp_path, 21, self._refund_pair())
        assert row.fee_refund == self.REFUND
        assert row.fee_charged == 3_999_999

    def test_one_sided_updated_counts_as_refund(self, spark, tmp_path):
        """UPDATED with no STATE: reference defaults start to 0 and
        returns end-start = end (transaction.go:277-305)."""
        one_sided = [
            {"change_type": 1, "entry": _acct_entry(B, self.REFUND)},
        ]
        row = self._decode(spark, tmp_path, 20, one_sided)
        assert row.fee_refund == self.REFUND
        assert row.fee_charged == self.RESOURCE_FEE - self.REFUND

    def test_created_entries_do_not_set_the_end_side(self, spark, tmp_path):
        """The reference's end side matches only UPDATED entries
        (transaction.go:283-291) — a CREATED entry is ignored."""
        created_only = [
            {"change_type": 0, "entry": _acct_entry(B, 2_000_000)},
        ]
        row = self._decode(spark, tmp_path, 20, created_only)
        assert row.fee_refund == 0
        assert row.fee_charged == self.RESOURCE_FEE

    def test_inclusion_fee_charged_uses_the_fee_sweep(self, spark, tmp_path):
        """inclusion_fee_charged = (fee-meta start − end) − resource_fee
        (transaction.go:167-169) — NOT reconstructed from the result's
        fee_charged, which the pre-P21 override replaces on P20 bumps."""
        from pyspark.sql import functions as F

        from stellar_etl_spark.transforms.transaction import (
            transform_transaction,
        )

        bronze = self._bronze(spark, tmp_path, 20, self._refund_pair())
        [srow] = decode_transactions(bronze).collect()
        assert srow.fee_initial_charged == self.INITIAL
        ledgers = bronze.select(
            F.col("sequence"), F.col("closed_at"), F.col("protocol_version")
        )
        [trow] = transform_transaction(
            decode_transactions(bronze), ledgers
        ).collect()
        assert trow.inclusion_fee_charged == self.INITIAL - self.RESOURCE_FEE
        # the override still governs fee_charged itself
        assert trow.fee_charged == self.RESOURCE_FEE - self.REFUND


class TestSorobanOpDetails:
    """Soroban op details (operation.go:1063-1159) from wire bytes, pinned
    to the reference's OWN vectors (operation_test.go:1848-2050): the
    invoke parameter serializations prepend the contract address + function
    symbol ScVals; create-contract preimage fields; footprint-derived
    ledger_key_hash / contract_id / contract_code_hash with empty-string
    (not null) defaults and an explicit null hash list; SAC
    asset_balance_changes re-derived and VERIFIED against the asset's
    contract id."""

    CODE_HASH = b"\xab" * 32
    DATA_CONTRACT = b"\xcd" * 32

    @pytest.fixture(scope="class")
    def tables(self, spark, tmp_path_factory):
        import hashlib

        from stellar_etl_spark.sources.bronze import (
            decode_ledger_files,
            read_ledger_files,
        )
        from stellar_etl_spark.sources.silver import _sac_contract_id_py
        from stellar_etl_spark.sources.xdr import transaction_hash

        PUB = "Public Global Stellar Network ; September 2015"
        tmp = tmp_path_factory.mktemp("soroban_ops")

        footprint = {
            "read_only": [{"type": 7, "hash": self.CODE_HASH}],
            "read_write": [
                {
                    "type": 6,
                    "contract": {
                        "type": "contract",
                        "contract_id": self.DATA_CONTRACT,
                    },
                    "key": {"symbol": "k"},
                    "durability": 1,
                }
            ],
        }

        def sdata(fp):
            return {
                "footprint": fp,
                "instructions": 100,
                "read_bytes": 1,
                "write_bytes": 1,
                "resource_fee": 100,
            }

        empty_fp = {"read_only": [], "read_write": []}

        # one soroban tx per op, the protocol shape
        zero_contract = {"type": "contract", "contract_id": bytes(32)}
        ops = {
            "invoke": (
                24,
                {
                    "host_function": {
                        "invoke_contract": {
                            "contract_address": zero_contract,
                            "function_name": "test",
                            "args": [{"bool": True}],
                        }
                    },
                    "auth": [],
                },
                footprint,
            ),
            "create": (
                24,
                {
                    "host_function": {
                        "create_contract": {
                            "preimage": {
                                "address": zero_contract,
                                "salt": bytes(32),
                            },
                            "executable": {"wasm_hash": self.CODE_HASH},
                        }
                    },
                    "auth": [],
                },
                empty_fp,
            ),
            "create_v2": (
                24,
                {
                    "host_function": {
                        "create_contract_v2": {
                            "preimage": {
                                "asset": {
                                    "type": "credit_alphanum4",
                                    "code": "USD",
                                    "issuer": B,
                                }
                            },
                            "executable": {"stellar_asset": None},
                            "constructor_args": [{"bool": True}],
                        }
                    },
                    "auth": [],
                },
                empty_fp,
            ),
            "upload": (
                24,
                {
                    "host_function": {"upload_wasm": b"\x00asm"},
                    "auth": [],
                },
                empty_fp,
            ),
            "extend": (25, {"extend_to": 1000}, footprint),
            "restore": (26, {}, footprint),
        }

        usd_sac_id = _sac_contract_id_py(
            {"type": "credit_alphanum4", "code": "USD", "issuer": B}, PUB
        )
        transfer_ev = {
            "contract_id": usd_sac_id,
            "type": 1,
            "topics": [
                {"symbol": "transfer"},
                {"address": {"type": "account", "account_id": A}},
                {"address": {"type": "account", "account_id": B}},
                {"string": f"USD:{GB}".encode()},
            ],
            "data": {"i128": {"hi": 0, "lo": 40_000_000}},
        }
        # same shape but a FORGED contract id -> must be dropped by the
        # SAC verification
        forged_ev = dict(transfer_ev, contract_id=bytes(32))

        envs, procs = [], []
        for i, (name, (t, body, fp)) in enumerate(ops.items()):
            env = _env(
                [{"source": None, "type": t, "body": body}],
                memo={"type": "none"},
                seq_num=100 + i,
            )
            env["tx"]["soroban_data"] = sdata(fp)
            res = {"code": 0, "type": t, "inner_code": 0}
            if t == 24:
                res["return_hash"] = bytes(32)
            soroban_meta = None
            if name == "invoke":
                soroban_meta = {
                    "fees": None,
                    "events": [],
                    "return_value": {"void": None},
                    "diagnostic_events": [
                        {
                            "in_successful_contract_call": True,
                            "event": transfer_ev,
                        },
                        {
                            "in_successful_contract_call": True,
                            "event": forged_ev,
                        },
                    ],
                }
            procs.append(
                {
                    "result": {
                        "transaction_hash": transaction_hash(env, PUB),
                        "result": {
                            "fee_charged": 100,
                            "code": 0,
                            "op_results": [res],
                        },
                    },
                    "fee_changes": [],
                    "meta": {
                        "version": 3,
                        "tx_changes_before": [],
                        "operations": [{"changes": []}],
                        "tx_changes_after": [],
                        "soroban": soroban_meta,
                    },
                }
            )
            envs.append(env)

        h = LedgerHeader(
            ledger_version=22, close_time=1_704_067_500, ledger_seq=20,
            total_coins=10**12,
        )
        raw = encode_ledger_close_meta_v1(
            h, [envs], tx_processing=procs
        )
        (tmp / "20.xdr").write_bytes(raw)
        bronze = decode_ledger_files(read_ledger_files(spark, str(tmp)))

        import json as _json

        from stellar_etl_spark.transforms.operation import transform_operation

        out = transform_operation(
            decode_operations(bronze), decode_transactions(bronze)
        ).collect()
        rows = {}
        for i, name in enumerate(ops):
            [r] = [x for x in out if x.transaction_id == (20 << 32) | ((i + 1) << 12)]
            rows[name] = _json.loads(r.details_json)

        w_code = hashlib.sha256(
            bytes([0, 0, 0, 7]) + self.CODE_HASH
        ).hexdigest()
        return rows, w_code

    def test_invoke_contract_pinned_vectors(self, tables):
        """The exact parameter serializations the reference's own test pins
        (operation_test.go:1861-1892)."""
        d, _ = tables
        inv = d["invoke"]
        assert inv["function"] == (
            "HostFunctionTypeHostFunctionTypeInvokeContract"
        )
        assert inv["type"] == "invoke_contract"
        ZERO_C = "CAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAABSC4"
        assert inv["contract_id"] == ZERO_C
        assert inv["parameters"] == [
            {"type": "Address",
             "value": "AAAAEgAAAAEAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA=="},
            {"type": "Sym", "value": "AAAADwAAAAR0ZXN0"},
            {"type": "B", "value": "AAAAAAAAAAE="},
        ]
        assert inv["parameters_decoded"] == [
            {"type": "Address", "value": ZERO_C},
            {"type": "Sym", "value": "test"},
            {"type": "B", "value": "true"},
        ]
        assert inv["parameters_json"] == [
            "AAAAEgAAAAEAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA==",
            "AAAADwAAAAR0ZXN0",
            "AAAAAAAAAAE=",
        ]
        assert inv["parameters_json_decoded"] == [
            {"address": ZERO_C},
            {"symbol": "test"},
            {"bool": True},
        ]

    def test_invoke_footprint_and_balance_changes(self, tables):
        d, w_code = tables
        inv = d["invoke"]
        assert inv["contract_code_hash"] == self.CODE_HASH.hex()
        # read_only first, then read_write (operation.go:1859-1874)
        assert len(inv["ledger_key_hash"]) == 2
        assert inv["ledger_key_hash"][0] == w_code
        # verified SAC transfer survives; the forged contract id is dropped
        assert inv["asset_balance_changes"] == [
            {
                "amount": "4.0000000",
                "asset_code": "USD",
                "asset_issuer": GB,
                "asset_type": "credit_alphanum4",
                "from": GA,
                "to": GB,
                "type": "transfer",
            }
        ]

    def test_create_contract_address_preimage(self, tables):
        d, _ = tables
        c = d["create"]
        assert c["type"] == "create_contract"
        assert c["from"] == "address"
        assert c["address"] == (
            "CAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAABSC4"
        )
        # empty footprint: "" ids and an EXPLICIT null hash list
        # (operation_test.go:1947-1951)
        assert c["contract_id"] == ""
        assert c["contract_code_hash"] == ""
        assert "ledger_key_hash" in c and c["ledger_key_hash"] is None
        assert "parameters" not in c

    def test_create_contract_v2_asset_preimage_and_ctor_args(self, tables):
        d, _ = tables
        c = d["create_v2"]
        assert c["type"] == "create_contract_v2"
        assert c["from"] == "asset"
        assert c["asset"] == f"USD:{GB}"
        assert c["parameters"] == [{"type": "B", "value": "AAAAAAAAAAE="}]
        assert c["parameters_json_decoded"] == [{"bool": True}]

    def test_upload_wasm_has_no_contract_id_key(self, tables):
        d, _ = tables
        u = d["upload"]
        assert u["type"] == "upload_wasm"
        assert "contract_id" not in u
        assert u["contract_code_hash"] == ""

    def test_extend_and_restore_footprint(self, tables):
        d, w_code = tables
        e = d["extend"]
        assert e["type"] == "extend_footprint_ttl"
        assert e["extend_to"] == 1000
        assert "function" not in e  # only op 24 carries the function key
        # footprint contract id: READ-WRITE first (operation.go:1808-1824)
        from stellar_etl_spark.functions.strkey import (
            VERSION_CONTRACT,
            encode_strkey,
        )

        want_cid = encode_strkey(VERSION_CONTRACT, self.DATA_CONTRACT)
        assert e["contract_id"] == want_cid
        assert e["contract_code_hash"] == self.CODE_HASH.hex()
        assert e["ledger_key_hash"][0] == w_code
        r = d["restore"]
        assert r["type"] == "restore_footprint"
        assert r["contract_id"] == want_cid


class TestInflationPayouts:
    """Inflation (type 9) result payouts must reach body.payouts so
    transform_effects emits one account_credited per payout
    (effects.go:745-755) — the result is the ONLY place payouts exist."""

    def test_payouts_flow_to_effects(self, spark, tmp_path):
        from stellar_etl_spark.sources.bronze import (
            decode_ledger_files,
            read_ledger_files,
        )
        from stellar_etl_spark.sources.silver import (
            decode_operations,
            decode_transactions,
        )
        from stellar_etl_spark.sources.xdr import transaction_hash
        from stellar_etl_spark.transforms.effects import transform_effects

        PUB = "Public Global Stellar Network ; September 2015"
        INFLATION = {"source": None, "type": 9, "body": {}}
        env = _env(ops=[INFLATION], seq_num=31)
        proc = {
            "result": {
                "transaction_hash": transaction_hash(env, PUB),
                "result": {
                    "fee_charged": 100,
                    "code": 0,
                    "op_results": [
                        {
                            "code": 0,
                            "type": 9,
                            "inner_code": 0,
                            "payouts": [
                                {"destination": A, "amount": 11_000_000},
                                {"destination": B, "amount": 22_000_000},
                            ],
                        }
                    ],
                },
            },
            "fee_changes": [],
            "meta": {
                "version": 2,
                "tx_changes_before": [],
                "operations": [{"changes": []}],
                "tx_changes_after": [],
                "soroban": None,
            },
        }
        h = LedgerHeader(
            ledger_version=20, close_time=1_704_067_220, ledger_seq=12,
            total_coins=10**12,
        )
        raw = encode_ledger_close_meta_v0(
            h, [env], tx_processing=[proc]
        )
        store = tmp_path / "store"
        store.mkdir()
        (store / "12.xdr").write_bytes(raw)
        bronze = decode_ledger_files(read_ledger_files(spark, str(store)))
        ops = decode_operations(bronze)
        txs = decode_transactions(bronze)
        effs = transform_effects(ops, txs).collect()
        credited = {
            (r.address, r.details): r
            for r in effs
            if r.type_string == "account_credited"
        }
        assert {a for a, _ in credited} == {GA, GB}
        amounts = sorted(d for _, d in credited)
        assert any("1.1" in d for d in amounts) and any(
            "2.2" in d for d in amounts
        )
