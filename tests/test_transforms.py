"""Table-driven tests for the stellar transforms (reference test model:
internal/transform/*_test.go — hand-built inputs, exact expected fields)."""

from __future__ import annotations

import json

import pytest

import fixtures as fx
from stellar_etl_spark.functions.hashes import farmhash_fingerprint64, fnv64a
from stellar_etl_spark.transforms import (
    transform_account,
    transform_asset,
    transform_claimable_balance,
    transform_contract_code,
    transform_contract_events,
    transform_effects,
    transform_ledger,
    transform_offer,
    transform_offer_normalized,
    transform_operation,
    transform_pool,
    transform_signers,
    transform_token_transfer,
    transform_trade,
    transform_transaction,
    transform_trustline,
    transform_ttl,
)
from stellar_etl_spark.transforms.changes import (
    account_changed_except_signers,
    account_signers_changed,
    route_changes,
    transform_contract_data,
)
from stellar_etl_spark.transforms.transaction import transform_ledger_transaction

USD_ID = farmhash_fingerprint64("USD" + fx.ACCOUNT_B + "credit_alphanum4")
NATIVE_ID = -5706705804583548011


@pytest.fixture(scope="module")
def data(spark):
    return {
        "ledgers": fx.ledgers_df(spark),
        "transactions": fx.transactions_df(spark),
        "operations": fx.operations_df(spark),
        "changes": fx.changes_df(spark),
        "contract_events": fx.contract_events_df(spark),
    }


class TestLedger:
    def test_counts_and_ids(self, data):
        out = {
            r.sequence: r
            for r in transform_ledger(data["ledgers"], data["transactions"]).collect()
        }
        # invalid ledger 5 dropped (negative total_coins)
        assert set(out) == {2, 3, 4}
        l2 = out[2]
        assert l2.id == 2 << 32
        # ledger 2: tx1 ok(1 op), tx2 failed(2 ops), tx3 ok(1 op)
        assert l2.successful_transaction_count == 2
        assert l2.failed_transaction_count == 1
        assert l2.transaction_count == 2
        assert l2.operation_count == 2  # successful txs only
        assert l2.tx_set_operation_count == "4"  # ALL ops, as string
        assert isinstance(l2.tx_set_operation_count, str)

    def test_strict_raises(self, data, spark):
        with pytest.raises(Exception, match="negative"):
            transform_ledger(data["ledgers"], data["transactions"], strict=True).collect()


class TestTransaction:
    def test_projection(self, data):
        out = {
            (r.ledger_sequence, r.application_order): r
            for r in transform_transaction(
                data["transactions"], data["ledgers"]
            ).collect()
        }
        # invalid bounds row (3,3) dropped
        assert (3, 3) not in out
        t = out[(2, 1)]
        assert t.id == (2 << 32) | (1 << 12)
        assert t.memo == "hello" and t.memo_type == "MemoTypeMemoText"
        # memo cleared for type none
        assert out[(3, 2)].memo is None
        # unbounded max: [10,)
        assert out[(2, 3)].time_bounds == "[10,)"
        assert out[(3, 1)].time_bounds == "[5,50)"
        assert out[(3, 1)].ledger_bounds == "[2,9)"

    def test_pre_p21_feebump_soroban_fix(self, data):
        out = {
            (r.ledger_sequence, r.application_order): r
            for r in transform_transaction(
                data["transactions"], data["ledgers"]
            ).collect()
        }
        fb = out[(4, 1)]
        # protocol 19 < 21: fee recomputed as resource_fee - refund, not 999
        assert fb.fee_charged == 900 - 150
        assert fb.fee_account == fx.ACCOUNT_B
        assert fb.new_max_fee == 5000
        assert fb.resource_fee == 900

    def test_ledger_transaction_passthrough(self, data):
        row = transform_ledger_transaction(data["transactions"]).collect()[0]
        assert row.tx_envelope == "ZW52" and row.tx_meta == "bWV0YQ=="


class TestOperation:
    def test_ids_types_details(self, data):
        out = {
            r.id: r
            for r in transform_operation(
                data["operations"], data["transactions"]
            ).collect()
        }
        pay_id = (2 << 32) | (1 << 12) | 1  # op_index 0 → +1 offset
        p = out[pay_id]
        assert p.type_string == "payment"
        assert p.transaction_id == (2 << 32) | (1 << 12)
        d = json.loads(p.details_json)
        assert d["amount"] == 15.0
        # bare asset_* keys (formatPrefix(""), operation.go:360-407)
        assert d["asset_id"] == USD_ID
        assert d["to"] == fx.ACCOUNT_B
        # payment "from" is the op source (operation.go:604-610)
        assert d["from"] == p.source_account
        # default source = tx source; override respected
        assert p.source_account == fx.ACCOUNT_A
        assert out[pay_id + 1].source_account == fx.ACCOUNT_C
        # native asset id constant
        d2 = json.loads(out[pay_id + 1].details_json)
        assert d2["asset_id"] == NATIVE_ID
        assert "asset_code" not in d2  # native has no code/issuer

    def test_sponsor_from_changes(self, data):
        out = {
            r.id: r
            for r in transform_operation(
                data["operations"], data["transactions"]
            ).collect()
        }
        mso = out[(3 << 32) | (1 << 12) | 1]
        assert mso.sponsor == fx.ACCOUNT_C
        assert json.loads(mso.details_json)["price"] == 0.5

    def test_flag_decoding(self, data):
        out = {
            r.id: r
            for r in transform_operation(
                data["operations"], data["transactions"]
            ).collect()
        }
        so = json.loads(out[(3 << 32) | (2 << 12) | 2].details_json)
        # sorted by bit value, mapped to canonical names (operation.go:555-582)
        assert so["set_flags_s"] == ["auth_required", "auth_revocable"]
        assert so["clear_flags_s"] == ["auth_clawback_enabled"]

    def test_detail_fields_pruning(self, data):
        """round-9 optimization knob: detail_fields builds a struct of just
        the requested fields with IDENTICAL per-field values, and the alias
        introspection that powers it stays in sync with the schema."""
        from stellar_etl_spark.transforms.operation import _op_exprs

        full = transform_operation(data["operations"], data["transactions"])
        # _alias_name-extracted pair names == the built struct's field names
        pair_names = [n for n, _ in _op_exprs()[0]]
        schema_names = [
            f.name for f in full.schema["details"].dataType.fields
        ]
        assert pair_names == schema_names

        fields = ["from", "to", "amount", "asset_type", "price_r"]
        pruned = transform_operation(
            data["operations"], data["transactions"], detail_fields=fields
        )
        # pruned struct holds exactly the requested fields, in struct order
        assert [
            f.name for f in pruned.schema["details"].dataType.fields
        ] == [n for n in schema_names if n in fields]
        f_rows = {r.id: r for r in full.collect()}
        p_rows = {r.id: r for r in pruned.collect()}
        assert set(f_rows) == set(p_rows)
        for rid, pr in p_rows.items():
            fr = f_rows[rid]
            assert pr.sponsor == fr.sponsor
            for f in fields:
                assert pr.details[f] == fr.details[f], (rid, f)

    def test_detail_fields_unknown_raises(self, data):
        with pytest.raises(ValueError, match="unknown detail_fields"):
            transform_operation(
                data["operations"],
                data["transactions"],
                detail_fields=["no_such_field"],
            )

    def test_detail_fields_begin_sponsor_kept(self, spark, data):
        """The begin-ops back-scan still resolves when begin_sponsor IS
        requested through the pruning knob."""
        out = {
            r.id: r.details
            for r in transform_operation(
                fx.operation_details_ops_df(spark),
                data["transactions"],
                detail_fields=["sponsored_id", "begin_sponsor"],
            ).collect()
        }
        eid = (8 << 32) | (2 << 12) | 2
        bid = (8 << 32) | (2 << 12) | 1
        assert out[eid]["begin_sponsor"] == fx.ACCOUNT_B
        assert out[bid]["sponsored_id"] == fx.ACCOUNT_C


class TestOperationDetailMaps:
    """Per-type details coverage (operation.go:584-1173): revoke ledger-key
    variants, LP deposit deltas, end-sponsoring back-scan, paths, trustline
    flag names."""

    @pytest.fixture(scope="class")
    def out(self, spark, data):
        return {
            r.id: json.loads(r.details_json)
            for r in transform_operation(
                fx.operation_details_ops_df(spark), data["transactions"]
            ).collect()
        }

    @staticmethod
    def _id(tx, op=0):
        return (8 << 32) | (tx << 12) | (op + 1)

    def test_revoke_trustline_variant(self, out):
        d = out[self._id(1, 0)]
        assert d["trustline_account_id"] == fx.ACCOUNT_B
        assert d["trustline_asset"] == f"USD:{fx.ACCOUNT_B}"
        assert "signer_account_id" not in d

    def test_revoke_signer_variant(self, out):
        d = out[self._id(1, 1)]
        assert d["signer_account_id"] == fx.ACCOUNT_A
        assert d["revoke_signer_key"] == fx.ACCOUNT_B
        assert "trustline_account_id" not in d

    def test_end_sponsoring_back_scan(self, out):
        # the begin op (index 0, source B) sponsored C; C's end op resolves it
        assert out[self._id(2, 1)]["begin_sponsor"] == fx.ACCOUNT_B
        # the begin op itself carries only sponsored_id
        assert out[self._id(2, 0)]["sponsored_id"] == fx.ACCOUNT_C
        assert "begin_sponsor" not in out[self._id(2, 0)]

    def test_lp_deposit_delta(self, out):
        d = out[self._id(3)]
        assert d["liquidity_pool_id"] == "PLD"
        assert d["reserve_a_max_amount"] == 15.0
        assert d["reserve_b_max_amount"] == 30.0
        assert d["min_price"] == 0.5 and d["max_price"] == 2.0
        assert d["min_price_r"] == {"n": 1, "d": 2}
        # realized amounts from the LP change delta
        assert d["reserve_a_deposit_amount"] == 10.0
        assert d["reserve_b_deposit_amount"] == 20.0
        assert d["shares_received"] == 5.0
        assert d["reserve_a_asset_code"] == "USD"
        assert d["reserve_b_asset_type"] == "native"

    def test_path_payment_details(self, out):
        d = out[self._id(4)]
        assert d["source_amount"] == 1.0
        assert d["destination_min"] == "0.8000000"
        assert d["path"] == [
            {"asset_code": "EUR", "asset_issuer": fx.ACCOUNT_C,
             "asset_type": "credit_alphanum4"},
            {"asset_type": "native"},
        ]

    def test_trustline_flag_names(self, out):
        d = out[self._id(5)]
        assert d["set_flags_s"] == ["authorized"]
        assert d["clear_flags_s"] == ["clawback_enabled"]


class TestTrade:
    def test_atoms(self, data):
        trades = transform_trade(data["operations"], data["ledgers"]).collect()
        # 2 valid atoms total: the 0/0 atom skipped, failed-tx op gated out
        assert len(trades) == 2
        offer = next(t for t in trades if t.trade_type == 1)
        assert offer.selling_account_address == fx.ACCOUNT_B
        assert offer.selling_asset_id == USD_ID
        assert offer.buying_asset_id == NATIVE_ID
        assert offer.selling_amount == 6.0 and offer.buying_amount == 3.0
        # price from matching pre-change of offer 42
        assert (offer.price_n, offer.price_d) == (1, 2)
        assert offer.selling_offer_id == 42
        # synthetic buying offer id: TOID-typed bit 62
        op_id = (3 << 32) | (1 << 12) | 1
        assert offer.buying_offer_id == op_id | (1 << 62)

    def test_lp_trade(self, data):
        trades = transform_trade(data["operations"], data["ledgers"]).collect()
        lp = next(t for t in trades if t.trade_type == 2)
        assert lp.selling_liquidity_pool_id == "POOL1"
        assert lp.liquidity_pool_fee == 30
        assert lp.selling_account_address is None
        # LP price = bought/sold amounts (trade.go:85-114)
        assert (lp.price_n, lp.price_d) == (9_000_000, 10_000_000)


class TestAsset:
    def test_sightings_and_first(self, data):
        s = transform_asset(data["operations"]).collect()
        # 3 payments (2 ok + none failed payment) + 2 manage_sell_offer
        assert {r.asset_id for r in s} >= {USD_ID, NATIVE_ID}
        first = transform_asset(data["operations"], first_sighting=True)
        rows = {r.asset_id: r for r in first.collect()}
        assert len(rows) == len({r.asset_id for r in s})
        assert rows[USD_ID].asset_code == "USD"


class TestChangesFamily:
    def test_account(self, data):
        out = {r.account_id: r for r in transform_account(
            data["changes"].where("entry_type = 'account'")).collect()}
        a = out[fx.ACCOUNT_A]
        assert a.balance == 25.0
        assert (a.master_weight, a.threshold_low, a.threshold_medium,
                a.threshold_high) == (1, 0, 2, 3)
        assert a.buying_liabilities == 1.0 and a.selling_liabilities == 0.5
        assert not a.deleted
        # removed account comes from pre with deleted=true
        assert out[fx.ACCOUNT_B].deleted

    def test_signers_sorted_by_weight(self, data):
        rows = transform_signers(
            data["changes"].where("entry_type = 'account' and change_type = 1")
        ).collect()
        # SignerSummary(): the master key (account id @ master weight 1)
        # is itself a signer row (account_signer.go:35)
        assert [(r.signer, r.weight) for r in rows] == [
            (fx.ACCOUNT_A, 1),
            (fx.ACCOUNT_C, 5),
            (fx.ACCOUNT_B, 20),
        ]
        assert rows[0].sponsor is None
        assert rows[1].sponsor == fx.ACCOUNT_B

    def test_trustline_pool_share_branch(self, data):
        out = {r.account_id: r for r in transform_trustline(
            data["changes"].where("entry_type = 'trustline'")).collect()}
        usd = out[fx.ACCOUNT_A]
        # trustline asset ids hash the RAW Go enum type string
        # (trustline.go:57 asset.Type.String()), unlike every other table
        assert usd.asset_type == "credit_alphanum4"
        assert usd.asset_id == farmhash_fingerprint64(
            "USD" + fx.ACCOUNT_B + "AssetTypeAssetTypeCreditAlphanum4"
        )
        # the limit stays RAW stroops (TrustlineLimit: int64(...))
        assert usd.balance == 7.0 and usd.trust_line_limit == 1_000_000_000
        pool = out[fx.ACCOUNT_B]
        assert pool.asset_type == "pool_share"
        # pool-share rows still get an id: farmhash(""+""+raw pool type)
        assert pool.asset_id == farmhash_fingerprint64(
            "AssetTypeAssetTypePoolShare"
        )
        assert pool.liquidity_pool_id == "POOL1"

    def test_offer_pool_cb_ttl_code(self, data):
        offer = transform_offer(
            data["changes"].where("entry_type = 'offer'")).collect()[0]
        assert offer.price == 0.25 and offer.amount == 8.0
        pool = transform_pool(
            data["changes"].where("entry_type = 'liquidity_pool'")).collect()[0]
        assert pool.asset_a_amount == 10.0 and pool.asset_b_id == NATIVE_ID
        cb = transform_claimable_balance(
            data["changes"].where("entry_type = 'claimable_balance'")).collect()[0]
        assert cb.asset_amount == 3.0 and cb.claimants[0].destination == fx.ACCOUNT_B
        ttl = transform_ttl(
            data["changes"].where("entry_type = 'ttl'")).collect()[0]
        assert ttl.live_until_ledger_seq == 999
        code = transform_contract_code(
            data["changes"].where("entry_type = 'contract_code'")).collect()[0]
        assert code.n_instructions == 100

    def test_contract_data_nonce_filter(self, data):
        rows = transform_contract_data(
            data["changes"].where("entry_type = 'contract_data'")).collect()
        assert len(rows) == 1
        assert rows[0].contract_key_type == "ScValTypeScvSymbol"

    def test_config_setting(self, data):
        from stellar_etl_spark.transforms.changes import transform_config_setting

        row = transform_config_setting(
            data["changes"].where("entry_type = 'config_setting'")).collect()[0]
        assert row.ledger_max_instructions == 500_000_000
        assert row.fee_rate_per_instructions_increment == 25

    def test_route_covers_all_entities(self, data):
        routed = route_changes(data["changes"])
        assert set(routed) == {
            "accounts", "account_signers", "trustlines", "offers",
            "liquidity_pools", "claimable_balances", "contract_code",
            "contract_data", "config_settings", "ttls",
        }
        for df in routed.values():
            assert df.count() >= 1

    def test_signer_change_filters(self, spark):
        from stellar_etl_spark.schemas import CHANGES_DDL

        entry_sig = lambda signers: fx._entry(  # noqa: E731
            account_id=fx.ACCOUNT_A, balance=100, seq_num=1, num_subentries=0,
            flags=0, thresholds=[1, 0, 0, 0], signers=signers,
            liabilities=(0, 0))
        rows = [
            # signer-only change: same account fields, different signers
            fx._chrow(2, "account", 1, 0, "k1",
                      pre=entry_sig([(fx.ACCOUNT_B, 1, None)]),
                      post=entry_sig([(fx.ACCOUNT_B, 2, None)])),
            # balance change, signers identical
            (lambda p: fx._chrow(2, "account", 1, 1, "k2", pre=p,
                                 post=fx._entry(
                                     account_id=fx.ACCOUNT_A, balance=999,
                                     seq_num=1, num_subentries=0, flags=0,
                                     thresholds=[1, 0, 0, 0],
                                     signers=[(fx.ACCOUNT_B, 1, None)],
                                     liabilities=(0, 0))))(
                entry_sig([(fx.ACCOUNT_B, 1, None)])),
        ]
        df = spark.createDataFrame(rows, CHANGES_DDL)
        keys = lambda d: {r.ledger_key for r in d.collect()}  # noqa: E731
        assert keys(account_signers_changed(df)) == {"k1"}
        assert keys(account_changed_except_signers(df)) == {"k2"}


class TestEffects:
    def test_detail_types_struct_matches_parsed_json(self, data):
        """detail_types (round-10): details arrives as a typed struct whose
        field values equal parsing the full build's details_json with the
        same schema — the effects_fanout no-JSON query-edge contract."""
        import json

        fields = [("amount", "string"), ("asset_type", "string"),
                  ("asset_code", "string"), ("starting_balance", "string"),
                  ("name", "string"), ("new_seq", "long")]
        full = transform_effects(
            data["operations"], data["transactions"]
        ).collect()
        typed = transform_effects(
            data["operations"], data["transactions"], detail_types=fields
        ).collect()
        assert len(full) == len(typed) > 0
        fm = {r["id"]: r for r in full}
        for r in typed:
            fr = fm[r["id"]]
            for c in ("operation_id", "index", "type", "type_string",
                      "address", "ledger_sequence", "operation_type"):
                assert r[c] == fr[c], (r["id"], c)
            fd = json.loads(fr["details"])
            for name, _typ in fields:
                want = fd.get(name)
                assert r["details"][name] == want, (r["id"], name)

    def test_detail_types_unknown_name_raises(self, data):
        """A detail name no effect builder emits would be an all-null
        field; the build rejects it and names it."""
        with pytest.raises(ValueError, match="amuont"):
            transform_effects(
                data["operations"], data["transactions"],
                detail_types=[("amount", "string"), ("amuont", "string")],
            )
        # a real name whose family the pruned build skips is accepted:
        # only bump_sequence emits new_seq, and payments are all there is
        payments = data["operations"].where("type = 1")
        transform_effects(
            payments, data["transactions"], detail_types=[("new_seq", "long")]
        )

    def test_present_probe_sees_rewritten_path(self, spark, data, tmp_path):
        """The op-type probe runs per call: after the operations parquet at
        one path is rewritten with a new op type, a fresh read of that path
        must emit the new type's effects (a memo keyed on the plan alone
        cannot tell the two file sets apart)."""
        from pyspark.sql import functions as F

        path = str(tmp_path / "operations")
        ops, txs = data["operations"], data["transactions"]

        def effect_types():
            return {
                r["type_string"]
                for r in transform_effects(spark.read.parquet(path), txs)
                .select("type_string").collect()
            }

        ops.where(F.col("type") == 1).write.mode("overwrite").parquet(path)
        assert "account_created" not in effect_types()
        ops.where(F.col("type") == 0).write.mode("overwrite").parquet(path)
        assert "account_created" in effect_types()

    def test_prune_false_matches_pruned_output(self, data):
        """prune=False (the escape hatch for non-static inputs) builds the
        full 52-family expression; on a static batch input it must emit
        exactly the rows the pruned default emits."""
        pruned = transform_effects(
            data["operations"], data["transactions"]
        ).collect()
        full = transform_effects(
            data["operations"], data["transactions"], prune=False
        ).collect()
        key = lambda r: r["id"]  # noqa: E731
        assert sorted(map(tuple, pruned)) == sorted(map(tuple, full))
        assert len(pruned) > 0

    def _by_op(self, data):
        rows = transform_effects(data["operations"], data["transactions"]).collect()
        by_op: dict[int, list] = {}
        for r in rows:
            by_op.setdefault(r.operation_id, []).append(r)
        for v in by_op.values():
            v.sort(key=lambda r: r["index"])
        return by_op

    def test_payment_effects(self, data):
        by_op = self._by_op(data)
        pay = by_op[(2 << 32) | (1 << 12) | 1]
        assert [e.type_string for e in pay] == ["account_credited", "account_debited"]
        assert pay[0].address == fx.ACCOUNT_B
        assert pay[0].id == f"{(2 << 32) | (1 << 12) | 1}-0"
        # amount.String() parity: amounts are 7-dp STRINGS in details
        assert json.loads(pay[0].details)["amount"] == "15.0000000"

    def test_create_account_effects(self, data):
        by_op = self._by_op(data)
        ca = by_op[(2 << 32) | (3 << 12) | 1]
        assert [e.type_string for e in ca] == [
            "account_created", "account_debited", "signer_created",
        ]
        assert json.loads(ca[0].details)["starting_balance"] == "2.0000000"

    def test_trustline_and_claimable_effects(self, data):
        by_op = self._by_op(data)
        created = by_op[(3 << 32) | (1 << 12) | 2]
        removed = by_op[(3 << 32) | (1 << 12) | 3]
        assert created[0].type_string == "trustline_created"
        assert removed[0].type_string == "trustline_removed"
        cb = by_op[(4 << 32) | (1 << 12) | 4]
        assert [e.type_string for e in cb] == [
            "claimable_balance_created",
            "claimable_balance_claimant_created",
            "claimable_balance_claimant_created",
        ]
        assert cb[1].address == fx.ACCOUNT_B and cb[2].address == fx.ACCOUNT_C

    def test_set_options_composite(self, data):
        by_op = self._by_op(data)
        so = by_op[(3 << 32) | (2 << 12) | 2]
        # reference order: home domain, thresholds, flags, inflation dest,
        # signers (effects.go:520-635)
        assert [e.type_string for e in so] == [
            "account_thresholds_updated", "account_flags_updated",
            "signer_created",
        ]
        # set_flags=[2,1] → required+revocable true; clear_flags=[8] → clawback false
        flags = json.loads(so[1].details)
        assert flags == {
            "auth_required_flag": True,
            "auth_revocable_flag": True,
            "auth_clawback_enabled_flag": False,
        }

    def test_failed_tx_emits_nothing(self, data):
        by_op = self._by_op(data)
        assert (3 << 32) | (3 << 12) | 1 not in by_op


class TestStarSchema:
    def test_offer_normalized(self, spark, data):
        from pyspark.sql import functions as F

        offers = (
            data["changes"]
            .where("entry_type = 'offer'")
            .select(
                "ledger_sequence",
                F.col("post.seller_id").alias("seller_id"),
                F.col("post.offer_id").alias("offer_id"),
                F.col("post.selling").alias("selling"),
                F.col("post.buying").alias("buying"),
                F.col("post.amount").alias("amount"),
                F.col("post.price_n").alias("price_n"),
                F.col("post.price_d").alias("price_d"),
            )
        )
        star = transform_offer_normalized(offers)
        markets = star["dim_markets"].collect()
        assert len(markets) == 1
        # sorted pair: "USD:GB..." vs "native:" — lexicographic order
        pair = sorted([f"USD:{fx.ACCOUNT_B}", "native:"])
        assert markets[0].market_id == fnv64a(f"{pair[0]}/{pair[1]}")
        accounts = star["dim_accounts"].collect()
        assert accounts[0].account_id == fnv64a(fx.ACCOUNT_B)
        assert star["fact_offer_events"].count() == 1


class TestContractEvents:
    def test_diagnostic_filtered(self, data):
        rows = transform_contract_events(data["contract_events"]).collect()
        assert all(r.type_string == "ContractEventTypeContract" for r in rows)
        assert all(r.type == 1 for r in rows)
        assert len(rows) == 3

    def test_token_transfer_classification(self, data):
        rows = {r.event_type: r for r in
                transform_token_transfer(data["contract_events"]).collect()}
        # burn row is on a failed call → excluded
        assert set(rows) == {"transfer", "mint"}
        t = rows["transfer"]
        assert t["from"] == fx.ACCOUNT_A and t.to == fx.ACCOUNT_B
        assert t.amount == 4.0 and t.amount_raw == "40000000"
        m = rows["mint"]
        assert m["from"] is None and m.to == fx.ACCOUNT_C


class TestTradeAndPoolEffects:
    def _by_op(self, data):
        rows = transform_effects(data["operations"], data["transactions"]).collect()
        by_op: dict[int, list] = {}
        for r in rows:
            by_op.setdefault(r.operation_id, []).append(r)
        for v in by_op.values():
            v.sort(key=lambda r: r["index"])
        return by_op

    def test_offer_trade_effect_pair(self, data):
        by_op = self._by_op(data)
        mso = by_op[(3 << 32) | (1 << 12) | 1]  # manage_sell_offer with 1 live atom
        # the reference emits the FULL family per atom — buyer+seller rows
        # for each of trade/offer_updated/offer_removed/offer_created
        # (addClaimTradeEffects, effects.go:982-1011) — then the
        # change-driven sponsorship effect (post sponsor set)
        assert [e.type_string for e in mso] == [
            "trade", "trade",
            "offer_updated", "offer_updated",
            "offer_removed", "offer_removed",
            "offer_created", "offer_created",
            "account_sponsorship_created",
        ]
        buyer, seller = mso[0], mso[1]
        assert buyer.address == fx.ACCOUNT_A  # op (tx) source
        assert seller.address == fx.ACCOUNT_B  # resting offer owner
        bd = json.loads(buyer.details)
        sd = json.loads(seller.details)
        # buyer bought what the atom sold and vice versa; the seller's
        # details point back at the buyer (tradeDetails, effects.go:1226)
        assert bd["bought_asset_code"] == "USD" and bd["sold_asset_type"] == "native"
        assert bd["seller"] == fx.ACCOUNT_B
        assert sd["sold_asset_code"] == "USD" and sd["bought_asset_type"] == "native"
        assert sd["seller"] == fx.ACCOUNT_A
        assert sd["sold_amount"] == "6.0000000" and sd["bought_amount"] == "3.0000000"
        assert bd["offer_id"] == 42
        # every family member shares the atom's trade details
        assert json.loads(mso[6].details) == bd
        assert json.loads(mso[7].details) == sd

    def test_lp_trade_effect(self, data):
        by_op = self._by_op(data)
        # path_payment_strict_send: payment effects first, then ONE
        # liquidity_pool_trade addressed to the op source
        # (addClaimLiquidityPoolTradeEffect, effects.go:1013-1031)
        pps = by_op[(3 << 32) | (2 << 12) | 1]
        kinds = [e.type_string for e in pps]
        assert kinds == [
            "account_credited", "account_debited", "liquidity_pool_trade",
        ]
        assert pps[2].address == fx.ACCOUNT_A
        d = json.loads(pps[2].details)
        assert d["liquidity_pool"]["id"] == "POOL1"
        assert set(d) == {"liquidity_pool", "sold", "bought"}
        assert set(d["sold"]) == {"asset", "amount"}

    def test_failed_trade_op_no_effects(self, data):
        by_op = self._by_op(data)
        assert (3 << 32) | (3 << 12) | 1 not in by_op

    def test_sponsorship_state_machine(self, data):
        by_op = self._by_op(data)
        rs = by_op[(4 << 32) | (2 << 12) | 1]  # revoke_sponsorship op
        assert [e.type_string for e in rs] == [
            "account_sponsorship_updated", "account_sponsorship_removed",
        ]
        upd, rem = rs
        assert upd.address == fx.ACCOUNT_A
        d = json.loads(upd.details)
        assert d == {"former_sponsor": fx.ACCOUNT_B, "new_sponsor": fx.ACCOUNT_C}
        assert rem.address == fx.ACCOUNT_B
        assert json.loads(rem.details) == {"former_sponsor": fx.ACCOUNT_C}


class TestExtendedEffects:
    """Change/result-driven effect families (effects.go:197-399, 520-760,
    1033-1513): the breadth milestone of SURVEY §7.2 step 7."""

    @pytest.fixture(scope="class")
    def by_op(self, spark, data):
        rows = transform_effects(
            fx.effects_extended_ops_df(spark), data["transactions"]
        ).collect()
        out: dict[int, list] = {}
        for r in rows:
            out.setdefault(r.operation_id, []).append(r)
        for v in out.values():
            v.sort(key=lambda r: r["index"])
        return out

    @staticmethod
    def _id(tx, op=0):
        return (6 << 32) | (tx << 12) | (op + 1)

    def test_inflation_payouts(self, by_op):
        infl = by_op[self._id(1)]
        assert [e.type_string for e in infl] == [
            "account_credited", "account_credited",
        ]
        assert infl[0].address == fx.ACCOUNT_B
        assert json.loads(infl[0].details) == {
            "amount": "1.0000000", "asset_type": "native",
        }

    def test_set_options_full(self, by_op):
        so = by_op[self._id(2)]
        assert [e.type_string for e in so] == [
            "account_home_domain_updated",
            "account_inflation_destination_updated",
            "signer_removed", "signer_updated", "signer_created",
            "signer_sponsorship_removed",
        ]
        assert json.loads(so[1].details) == {
            "inflation_destination": fx.ACCOUNT_B,
        }
        # A removed, B reweighted to 7, C added at 2 (sorted key order)
        assert json.loads(so[2].details) == {"public_key": fx.ACCOUNT_A}
        assert json.loads(so[3].details) == {
            "public_key": fx.ACCOUNT_B, "weight": 7,
        }
        assert json.loads(so[4].details) == {
            "public_key": fx.ACCOUNT_C, "weight": 2,
        }
        assert json.loads(so[5].details) == {
            "former_sponsor": fx.ACCOUNT_C, "signer": fx.ACCOUNT_B,
        }

    def test_change_trust_pool_share_and_lp_created(self, by_op):
        ct = by_op[self._id(3)]
        assert [e.type_string for e in ct] == [
            "trustline_created", "liquidity_pool_created",
        ]
        d = json.loads(ct[0].details)
        assert d["liquidity_pool_id"] == "PL1"
        assert d["asset_type"] == "liquidity_pool_shares"
        lp = json.loads(ct[1].details)["liquidity_pool"]
        assert lp["id"] == "PL1" and lp["fee_bp"] == 30
        assert lp["reserves"][0]["asset"] == f"USD:{fx.ACCOUNT_B}"

    def test_account_trusts_itself_no_effects(self, by_op):
        assert self._id(4) not in by_op

    def test_claim_claimable_balance(self, by_op):
        cl = by_op[self._id(5)]
        assert [e.type_string for e in cl] == [
            "claimable_balance_claimed", "account_credited",
        ]
        d = json.loads(cl[0].details)
        assert d == {
            "amount": "3.0000000", "balance_id": "cb1",
            "asset": f"USD:{fx.ACCOUNT_B}",
        }

    def test_clawback_order(self, by_op):
        cb = by_op[self._id(6)]
        # reference order: credited(source) then debited(from)
        assert [(e.type_string, e.address) for e in cb] == [
            ("account_credited", fx.ACCOUNT_B),
            ("account_debited", fx.ACCOUNT_C),
        ]

    def test_clawback_claimable_balance(self, by_op):
        cb = by_op[self._id(7)]
        assert [e.type_string for e in cb] == [
            "claimable_balance_clawed_back", "account_credited",
        ]
        assert json.loads(cb[0].details) == {"balance_id": "cb2"}
        d = json.loads(cb[1].details)
        assert d["amount"] == "2.5000000" and d["asset_code"] == "USD"

    def test_lp_revocation(self, by_op):
        rv = by_op[self._id(8)]
        # allow_trust emits TWO trustline_flags_updated effects — the
        # legacy {trustor, asset} one plus the forward-compat flag effect
        # (effects.go:697-729) — before the revocation chain
        assert [e.type_string for e in rv] == [
            "trustline_flags_updated",
            "trustline_flags_updated",
            "claimable_balance_created",
            "claimable_balance_claimant_created",
            "liquidity_pool_revoked",
        ]
        # deauthorize: both flags reported cleared, with the reference's
        # own key spelling (authorized_to_maintain_liabilites)
        flags = json.loads(rv[1].details)
        assert flags["authorized_flag"] is False
        assert flags["authorized_to_maintain_liabilites"] is False
        assert rv[0].address == fx.ACCOUNT_B  # the SOURCE, not the trustor
        assert rv[3].address == fx.ACCOUNT_C
        d = json.loads(rv[4].details)
        assert d["liquidity_pool_id"] == "PL9"
        assert d["shares_revoked"] == "100.0000000"
        assert d["reserves_revoked"] == [{
            "asset": f"USD:{fx.ACCOUNT_B}", "amount": "4.0000000",
            "claimable_balance_id": "cblp",
        }]

    def test_lp_removed(self, by_op):
        wd = by_op[self._id(9)]
        assert [e.type_string for e in wd] == [
            "liquidity_pool_withdrew", "liquidity_pool_removed",
        ]
        assert json.loads(wd[1].details) == {"liquidity_pool_id": "PL9"}

    def test_per_entry_sponsorship_families(self, by_op):
        rs = by_op[self._id(10)]
        assert [e.type_string for e in rs] == [
            "trustline_sponsorship_updated",
            "data_sponsorship_removed",
            "claimable_balance_sponsorship_created",
        ]
        tl = json.loads(rs[0].details)
        assert tl == {
            "former_sponsor": fx.ACCOUNT_B, "new_sponsor": fx.ACCOUNT_C,
            "asset": f"USD:{fx.ACCOUNT_B}",
        }
        assert rs[0].address == fx.ACCOUNT_B
        assert json.loads(rs[1].details) == {
            "former_sponsor": fx.ACCOUNT_C, "data_name": "cfg",
        }
        assert json.loads(rs[2].details) == {
            "sponsor": fx.ACCOUNT_B, "balance_id": "cb9",
        }

    def test_footprint_effects(self, by_op):
        ext = by_op[self._id(11)]
        assert ext[0].type_string == "extend_footprint_ttl"
        assert json.loads(ext[0].details) == {
            "entries": ["kh1", "kh2"], "extend_to": 500,
        }
        rst = by_op[self._id(12)]
        assert rst[0].type_string == "restore_footprint"
        assert json.loads(rst[0].details) == {"entries": ["kh3"]}

    def test_type_ids_match_enum(self, by_op):
        from stellar_etl_spark.transforms.effects import EFFECT_TYPES

        for effects in by_op.values():
            for e in effects:
                assert e.type == EFFECT_TYPES[e.type_string]


class TestEffectExhaustiveness:
    """Every op type emits effects or is documented change/event-driven —
    mirrors TestEffectsCoversAllOperationTypes (effects_test.go:27-83)."""

    # direct effects come only from changes (16-18), claim atoms (3/4/12),
    # or Soroban events (24) — effects.go:105-107 and addManage*OfferEffects
    CHANGE_OR_EVENT_DRIVEN = {3, 4, 12, 16, 17, 18, 24}

    MINIMAL_BODIES = {
        0: dict(account=fx.ACCOUNT_B, starting_balance=1),
        1: dict(from_=fx.ACCOUNT_A, to=fx.ACCOUNT_B, asset=fx.USD, amount=1),
        2: dict(from_=fx.ACCOUNT_A, to=fx.ACCOUNT_B, asset=fx.USD, amount=1),
        5: dict(home_domain="x"),
        6: dict(line=fx.EUR, limit=1),
        7: dict(trustor=fx.ACCOUNT_C, authorize=True),
        8: dict(to=fx.ACCOUNT_B, amount=1),
        9: dict(payouts=[(fx.ACCOUNT_B, 1)]),
        10: dict(data_name="k", data_value="dg=="),
        11: dict(bump_to=1),
        13: dict(from_=fx.ACCOUNT_A, to=fx.ACCOUNT_B, asset=fx.USD, amount=1),
        14: dict(balance_id="b", amount=1, claimants=[]),
        15: dict(balance_id="b", asset=fx.USD, amount=1),
        19: dict(from_=fx.ACCOUNT_C, asset=fx.USD, amount=1),
        20: dict(balance_id="b"),
        21: dict(trustor=fx.ACCOUNT_C, authorize=False),
        22: dict(pool_id="p", shares=1),
        23: dict(pool_id="p", shares=1),
        25: dict(extend_to=1),
        26: dict(),
    }

    @pytest.mark.slow
    def test_every_type_emits_or_documented(self, spark, data):
        from fixtures import _body, _op
        from stellar_etl_spark.schemas import OPERATION_TYPE_NAMES, OPERATIONS_DDL

        rows = [
            _op(7, tx + 1, 0, t, _body(**self.MINIMAL_BODIES.get(t, {})),
                source=fx.ACCOUNT_A)
            for tx, t in enumerate(sorted(OPERATION_TYPE_NAMES))
        ]
        ops = spark.createDataFrame(rows, OPERATIONS_DDL)
        out = transform_effects(ops, data["transactions"]).collect()
        emitted_op_types = {r.operation_type for r in out}
        for t in OPERATION_TYPE_NAMES:
            if t in self.CHANGE_OR_EVENT_DRIVEN:
                continue
            assert t in emitted_op_types, (
                f"op type {t} ({OPERATION_TYPE_NAMES[t]}) emitted no effects"
            )


class TestAll52EffectKinds:
    """Every one of the 52 EFFECT_TYPES values is emitted at least once by
    a synthetic corpus — the full-enum mirror of effects_test.go:27-83
    (round-3 verdict item 2; the op-type test above only proves each op
    TYPE emits, not that every effect KIND is reachable).
    contract_credited/contract_debited come from the SAC event path
    (transform_sac_effects); all 50 others from transform_effects."""

    def _ops_rows(self):
        from fixtures import _body, _change, _op

        A, B, C = fx.ACCOUNT_A, fx.ACCOUNT_B, fx.ACCOUNT_C
        USD, EUR, NAT = fx.USD, fx.EUR, fx.NATIVE
        rows = []
        tx = 0

        def add(t, body, **kw):
            nonlocal tx
            tx += 1
            rows.append(_op(7, tx, 0, t, body, source=A, **kw))

        # account_created(0) + account_debited(3) + signer_created(10)
        add(0, _body(account=B, starting_balance=10_000_000))
        # account_credited(2)
        add(1, _body(from_=A, to=B, asset=USD, amount=1_000_000))
        # account_removed(1)
        add(8, _body(to=B, amount=5, source_amount=5))
        # thresholds(4) home_domain(5) flags(6) inflation_dest(7) +
        # signer_updated(12)/signer_removed(11) via the account-change diff
        add(
            5,
            _body(home_domain="ex.com", low_threshold=1, med_threshold=2,
                  high_threshold=3, inflation_dest=B, set_flags=[1]),
            changes=[_change(
                1, entry_type="account",
                pre={"account_id": A,
                     "signers": [{"key": "S1", "weight": 1, "sponsor": None},
                                 {"key": "S2", "weight": 1, "sponsor": None}]},
                post={"account_id": A,
                      "signers": [{"key": "S1", "weight": 2, "sponsor": None},
                                  {"key": "S3", "weight": 1, "sponsor": None}]},
            )],
        )
        # trustline_created(20) / removed(21) / updated(22 via change)
        add(6, _body(line=EUR, limit=100))
        add(6, _body(line=EUR, limit=0))
        add(
            6, _body(line=EUR, limit=50),
            changes=[_change(1, entry_type="trustline",
                             pre={"account_id": A, "asset": EUR},
                             post={"account_id": A, "asset": EUR})],
        )
        # trustline_flags_updated(26) + the LP-revocation chain:
        # claimable_balance_created(50) + claimant_created(51) +
        # liquidity_pool_revoked(95); the lp pre→null change also walks the
        # entry lifecycle → liquidity_pool_removed(94)
        add(
            21, _body(trustor=C, asset=USD, set_flags=[1]),
            changes=[
                _change(1, entry_type="claimable_balance", pre=None,
                        post={"balance_id": "CB1", "asset": USD, "amount": 5,
                              "claimants": [
                                  {"destination": B, "predicate": "{}"}]}),
                _change(1, entry_type="liquidity_pool",
                        pre={"pool_id": "P1", "total_shares": 10}, post=None),
            ],
        )
        # trade(33) + offer_created(30)/updated(32)/removed(31)
        add(
            3,
            _body(offer_id=1, selling=USD, buying=NAT, price_n=1, price_d=2,
                  amount=10),
            atoms=[("offer", B, 42, None, USD, 10, NAT, 5)],
        )
        # liquidity_pool_trade(92)
        add(
            13,
            _body(from_=A, to=B, send_asset=USD, dest_asset=NAT, amount=5,
                  source_amount=5),
            atoms=[("lp", None, None, "P1", USD, 10, NAT, 5)],
        )
        # data_created(40) / removed(41) / updated(42 via change)
        add(10, _body(data_name="k", data_value="dg=="))
        add(10, _body(data_name="k"))
        add(
            10, _body(data_name="k", data_value="dg=="),
            changes=[_change(1, entry_type="data",
                             pre={"data_name": "k"}, post={"data_name": "k"})],
        )
        # sequence_bumped(43)
        add(11, _body(bump_to=9))
        # claimable_balance_created(50) + claimant_created(51)
        add(14, _body(balance_id="CB2", amount=5,
                      claimants=[{"destination": B, "predicate": "{}"}]))
        # claimable_balance_claimed(52)
        add(15, _body(balance_id="CB2", asset=USD, amount=5))
        # claimable_balance_clawed_back(80)
        add(20, _body(balance_id="CB2"))
        # liquidity_pool_deposited(90) / withdrew(91)
        add(22, _body(pool_id="P1", shares=5))
        add(23, _body(pool_id="P1", shares=5))
        # extend_footprint_ttl(98) / restore_footprint(99)
        add(25, _body(extend_to=100),
            changes=[_change(1, entry_type="ttl", pre=None,
                             post={"key_hash": "H1"})])
        add(26, _body(),
            changes=[_change(1, entry_type="ttl", pre=None,
                             post={"key_hash": "H1"})])
        # entry-sponsorship transitions (60-71) + per-signer sponsorship
        # diffs (72-74), on an op type with no direct effects (t=17)
        add(
            17, _body(),
            changes=[
                _change(1, entry_type="account",
                        pre={"account_id": B, "sponsor": None},
                        post={"account_id": B, "sponsor": A}),
                _change(1, entry_type="account",
                        pre={"account_id": B, "sponsor": A},
                        post={"account_id": B, "sponsor": C}),
                _change(1, entry_type="account",
                        pre={"account_id": B, "sponsor": A},
                        post={"account_id": B, "sponsor": None}),
                _change(1, entry_type="trustline",
                        pre={"account_id": B, "asset": USD, "sponsor": None},
                        post={"account_id": B, "asset": USD, "sponsor": A}),
                _change(1, entry_type="trustline",
                        pre={"account_id": B, "asset": USD, "sponsor": A},
                        post={"account_id": B, "asset": USD, "sponsor": C}),
                _change(1, entry_type="trustline",
                        pre={"account_id": B, "asset": USD, "sponsor": A},
                        post={"account_id": B, "asset": USD, "sponsor": None}),
                _change(1, entry_type="data",
                        pre={"data_name": "d", "sponsor": None},
                        post={"data_name": "d", "sponsor": A}),
                _change(1, entry_type="data",
                        pre={"data_name": "d", "sponsor": A},
                        post={"data_name": "d", "sponsor": C}),
                _change(1, entry_type="data",
                        pre={"data_name": "d", "sponsor": A},
                        post={"data_name": "d", "sponsor": None}),
                _change(1, entry_type="claimable_balance",
                        pre={"balance_id": "CB3", "sponsor": None},
                        post={"balance_id": "CB3", "sponsor": A}),
                _change(1, entry_type="claimable_balance",
                        pre={"balance_id": "CB3", "sponsor": A},
                        post={"balance_id": "CB3", "sponsor": C}),
                _change(1, entry_type="claimable_balance",
                        pre={"balance_id": "CB3", "sponsor": A},
                        post={"balance_id": "CB3", "sponsor": None}),
                _change(1, entry_type="account",
                        pre={"account_id": B, "signers": [
                            {"key": "S1", "weight": 1, "sponsor": None},
                            {"key": "S2", "weight": 1, "sponsor": A},
                            {"key": "S3", "weight": 1, "sponsor": A}]},
                        post={"account_id": B, "signers": [
                            {"key": "S1", "weight": 1, "sponsor": A},
                            {"key": "S2", "weight": 1, "sponsor": B},
                            {"key": "S3", "weight": 1, "sponsor": None}]}),
            ],
        )
        # liquidity_pool_created(93)
        add(
            17, _body(),
            changes=[_change(1, entry_type="liquidity_pool", pre=None,
                             post={"pool_id": "P2", "pool_fee": 30,
                                   "total_shares": 10, "trustline_count": 2,
                                   "asset_a": USD, "asset_b": NAT,
                                   "reserve_a": 1, "reserve_b": 2})],
        )
        return rows

    def test_all_52_effect_kinds_emitted(self, spark, data):
        from fixtures import _cev, CONTRACT_EVENTS_DDL
        from stellar_etl_spark.schemas import OPERATIONS_DDL
        from stellar_etl_spark.transforms import transform_sac_effects
        from stellar_etl_spark.transforms.effects import EFFECT_TYPES

        ops = spark.createDataFrame(self._ops_rows(), OPERATIONS_DDL)
        kinds = {
            r.type_string
            for r in transform_effects(ops, data["transactions"]).collect()
        }
        # contract_credited(96)/debited(97): a SAC transfer between
        # C-addresses — the effect lands on the op source with a
        # ``contract`` detail (effects.go:1339-1360)
        sac = data["contract_events"].unionByName(
            spark.createDataFrame(
                [_cev(5, 1, "e9" * 32, True, True, "contract", ["dA=="],
                      "ZA==", "transfer", "CSENDER1", "CRECEIVER1",
                      7_000_000, "USD:GB")],
                CONTRACT_EVENTS_DDL,
            )
        )
        kinds |= {
            r.type_string
            for r in transform_sac_effects(
                sac, data["transactions"]
            ).collect()
        }
        missing = set(EFFECT_TYPES) - kinds
        assert not missing, f"never-emitted effect kinds: {sorted(missing)}"


class TestSacEffects:
    def test_sac_event_effects(self, spark, data):
        from stellar_etl_spark.transforms import transform_sac_effects

        rows = transform_sac_effects(
            data["contract_events"], data["transactions"]
        ).collect()
        kinds = sorted((r.type_string, r.address) for r in rows)
        # transfer → debited(A) + credited(B); mint → credited(C);
        # burn is on a failed call → excluded
        assert kinds == sorted([
            ("account_debited", fx.ACCOUNT_A),
            ("account_credited", fx.ACCOUNT_B),
            ("account_credited", fx.ACCOUNT_C),
        ])
        transfer = [r for r in rows if r.address == fx.ACCOUNT_A][0]
        d = json.loads(transfer.details)
        assert d["contract_event_type"] == "transfer"
        assert d["amount"] == "4.0000000"  # amount.String parity
        for r in rows:
            assert r.id == f"{r.operation_id}-{r['index']}"


class TestContractDataSAC:
    """SAC enrichment parity (contract_data.go:191-379,
    contract_data_test.go:16): asset recognition with re-derived contract-id
    verification, balance holder + i128 balance assembly."""

    @pytest.fixture(scope="class")
    def sac(self, spark):
        rows = transform_contract_data(fx.sac_changes_df(spark))
        return {r.ledger_entry_key: r for r in rows.collect()}

    def test_verified_alphanum4_asset(self, sac):
        from stellar_etl_spark.functions.strkey import (
            VERSION_ACCOUNT,
            encode_strkey,
        )

        r = sac["sac1"]
        assert r.asset_type == "credit_alphanum4"
        assert r.asset_code == "USDC"
        assert r.asset_issuer == encode_strkey(VERSION_ACCOUNT, fx.SAC_ISSUER_KEY)

    def test_forged_entry_rejected(self, sac):
        r = sac["sac2"]
        assert r.asset_type is None and r.asset_code is None
        assert r.asset_issuer is None

    def test_native_asset_contract(self, sac):
        r = sac["sac3"]
        assert r.asset_type == "native"
        assert r.asset_code is None and r.asset_issuer is None

    def test_balance_entry(self, sac):
        from stellar_etl_spark.functions.strkey import (
            VERSION_CONTRACT,
            encode_strkey,
        )

        r = sac["sac4"]
        assert r.balance == "10000000"
        assert r.balance_holder == encode_strkey(VERSION_CONTRACT, fx.SAC_HOLDER)

    def test_negative_hi_rejected(self, sac):
        assert sac["sac5"].balance is None
        assert sac["sac5"].balance_holder is None

    def test_malformed_value_map_rejected(self, sac):
        assert sac["sac6"].balance is None

    def test_i128_crosses_word_boundary(self, sac):
        # hi=2, lo=-1 (unsigned 2^64-1) → 3*2^64 - 1
        assert sac["sac7"].balance == str(3 * (1 << 64) - 1)

    def test_contract_id_strkey_encoded(self, sac):
        from stellar_etl_spark.functions.strkey import (
            VERSION_CONTRACT,
            encode_strkey,
        )

        assert sac["sac1"].contract_id == encode_strkey(
            VERSION_CONTRACT, fx.USDC_CONTRACT_ID
        )

    def test_full_reference_column_set(self, spark, sac):
        # schema.go:511-532 core columns all present in the routed output
        cols = set(
            transform_contract_data(fx.sac_changes_df(spark)).columns
        )
        assert {
            "contract_id", "contract_key_type", "contract_durability",
            "asset_code", "asset_issuer", "asset_type",
            "balance_holder", "balance", "key", "val",
            "key_decoded", "val_decoded", "contract_data_xdr",
            "ledger_key_hash", "ledger_key_hash_base_64",
            "ledger_sequence", "closed_at", "last_modified_ledger",
            "ledger_entry_key", "sponsor", "deleted",
        } <= cols
