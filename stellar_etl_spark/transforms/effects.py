"""history_effects fan-out (reference: internal/transform/effects.go:23-166).

Shape: per successful-tx operation, build an ARRAY of effect structs with a
``when`` chain keyed on op type (the reference's addXEffects dispatcher,
effects.go:73-135), then ``posexplode`` — the 1→N pattern without any
row-at-a-time code.  Effect id = "{operation_id}-{index}" (effects.go:162);
index is the emission position within the op.

Emission order mirrors the reference exactly:
  1. per-op-type builder (effects.go:73-135) — payments, trust, options,
     merges, claimable balances, clawbacks, pools, footprints, inflation;
  2. trade effects from claim atoms (addIngestTradeEffects, effects.go:965);
  3. per entry change: sponsorship effects for the account / trustline /
     data / claimable_balance families (sponsoringEffectsTable,
     effects.go:197-368) then signer-sponsorship diffs (effects.go:225-285);
  4. per entry change: liquidity-pool created/removed (effects.go:370-399).

Change-driven builders (trustline created/updated/removed, signer diffs,
sponsorship transitions, LP lifecycle) are pure array expressions over the
op's co-indexed ``changes`` list — no shuffle, no Python in the hot path.
SAC/Soroban event effects (contract_credited/debited etc., effects.go:
1319-1430) have a different input grain (contract events, not operations)
and live in :func:`transform_sac_effects`.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stellar_etl_spark.functions.toid import toid

# Effect type ids/strings (schema.go:372-481 enum — complete).
EFFECT_TYPES = {
    "account_created": 0,
    "account_removed": 1,
    "account_credited": 2,
    "account_debited": 3,
    "account_thresholds_updated": 4,
    "account_home_domain_updated": 5,
    "account_flags_updated": 6,
    "account_inflation_destination_updated": 7,
    "signer_created": 10,
    "signer_removed": 11,
    "signer_updated": 12,
    "trustline_created": 20,
    "trustline_removed": 21,
    "trustline_updated": 22,
    "trustline_flags_updated": 26,
    "offer_created": 30,
    "offer_removed": 31,
    "offer_updated": 32,
    "trade": 33,
    "data_created": 40,
    "data_removed": 41,
    "data_updated": 42,
    "sequence_bumped": 43,
    "claimable_balance_created": 50,
    "claimable_balance_claimant_created": 51,
    "claimable_balance_claimed": 52,
    "account_sponsorship_created": 60,
    "account_sponsorship_updated": 61,
    "account_sponsorship_removed": 62,
    "trustline_sponsorship_created": 63,
    "trustline_sponsorship_updated": 64,
    "trustline_sponsorship_removed": 65,
    "data_sponsorship_created": 66,
    "data_sponsorship_updated": 67,
    "data_sponsorship_removed": 68,
    "claimable_balance_sponsorship_created": 69,
    "claimable_balance_sponsorship_updated": 70,
    "claimable_balance_sponsorship_removed": 71,
    "signer_sponsorship_created": 72,
    "signer_sponsorship_updated": 73,
    "signer_sponsorship_removed": 74,
    "claimable_balance_clawed_back": 80,
    "liquidity_pool_deposited": 90,
    "liquidity_pool_withdrew": 91,
    "liquidity_pool_trade": 92,
    "liquidity_pool_created": 93,
    "liquidity_pool_removed": 94,
    "liquidity_pool_revoked": 95,
    "contract_credited": 96,
    "contract_debited": 97,
    "extend_footprint_ttl": 98,
    "restore_footprint": 99,
}

_EFFECT_STRUCT_DDL = (
    "array<struct<type_string:string,type:int,address:string,details_json:string>>"
)


def _effect(kind: str, address: Column, details: Column) -> Column:
    return F.struct(
        F.lit(kind).alias("type_string"),
        F.lit(EFFECT_TYPES[kind]).cast("int").alias("type"),
        address.alias("address"),
        details.alias("details_json"),
    )


def _type_id(kind_col: Column) -> Column:
    pairs = []
    for k, v in EFFECT_TYPES.items():
        pairs.extend([F.lit(k), F.lit(v)])
    return F.element_at(F.create_map(*pairs), kind_col).cast("int")


def _effect_dyn(kind_col: Column, address: Column, details: Column) -> Column:
    """Effect struct whose type is itself a column (change-driven builders)."""
    return F.struct(
        kind_col.alias("type_string"),
        _type_id(kind_col).alias("type"),
        address.alias("address"),
        details.alias("details_json"),
    )


def _detail_ctx(detail_types: tuple[tuple[str, str], ...] | None, seen: set):
    """Details-building context for one _effects_array_expr build: returns
    ``(j, empty_details, details_ddl)``.  Every ``j(**kv)`` call adds its
    keys to ``seen``, so the build knows which detail names it emits.

    Two modes, keyed on ``detail_types``:

    - full (None): ``j(**kv)`` serializes every key to JSON with
      ignoreNullFields — the reference's details_json, byte-identical.
    - struct (a (name, ddl_type) tuple): ``j(**kv)`` emits a typed STRUCT
      of exactly these fields (missing keys null) — no JSON serialization
      at all.  Field values equal what ``from_json(details_json,
      schema)[name]`` returns on the full build: kept values are already
      of the declared type at every emit site (amount strings from
      _amt_str, long new_seq from the long body column), and a
      JSON-absent / null-valued key parses back as null either way.
    """
    if detail_types is not None:

        def j(**kv) -> Column:
            seen.update(kv)
            return F.struct(
                *[
                    (kv[n] if n in kv else F.lit(None)).cast(t).alias(n)
                    for n, t in detail_types
                ]
            )

        ddl = "struct<" + ",".join(f"{n}:{t}" for n, t in detail_types) + ">"
        return j, j(), ddl

    def j(**kv) -> Column:
        seen.update(kv)
        return F.to_json(
            F.struct(*[v.alias(k) for k, v in kv.items()]),
            {"ignoreNullFields": "true"},
        )

    return j, F.lit("{}"), "string"


def _canonical(asset: Column) -> Column:
    """Asset.StringCanonical(): "native" or "CODE:ISSUER"."""
    return F.when(asset["asset_type"] == "native", F.lit("native")).otherwise(
        F.concat_ws(":", asset["asset_code"], asset["asset_issuer"])
    )


def _amt_str(c: Column) -> Column:
    """amount.String() twin: stroops → fixed 7-dp decimal STRING — the
    reference JSON-encodes every effect amount as a string ("1.9826805"),
    never a number (schema.go details, verified against the goldens)."""
    return (
        (c.cast("decimal(20,0)") / F.lit(10_000_000).cast("decimal(8,0)"))
        .cast("decimal(20,7)")
        .cast("string")
    )


@lru_cache(maxsize=32)
def _effects_array_expr(
    changes_type: str,
    atoms_type: str,
    present: frozenset | None = None,
    has_changes: bool = True,
    has_atoms: bool = True,
    detail_types: tuple[tuple[str, str], ...] | None = None,
) -> Column:
    """The full per-operation effects array as ONE unresolved column
    expression.  Building it costs thousands of py4j round trips
    (~seconds of driver time), but the expression only references
    column NAMES — it is reusable across any input DataFrame with the
    operations schema, so it is built once per schema and cached
    (keyed by the simpleString of the changes/claim-atoms types used
    for the null-coalesce casts, plus the pruning context).

    Pruning: ``present`` (the set of op-type ids actually in the input,
    None = assume all), ``has_changes`` / ``has_atoms`` (whether any row
    carries a non-empty changes / claim-atoms array).  A branch whose op
    type cannot occur — or a change/atom scan over provably-empty arrays —
    is simply not built: the emitted rows are IDENTICAL (those branches
    produce empty arrays), but the expression tree shrinks from ~350 KB of
    generated code (beyond JIT's compilable-method size, so it ran
    interpreted) to just the families the data can hit.  transform_effects
    derives the pruning context with one column-pruned probe aggregate.

    ``detail_types`` (None = JSON details): emit details as a typed STRUCT
    of exactly these (name, ddl_type) fields instead of a JSON string —
    kills the serialize-then-parse round trip for callers that consume a
    fixed field set (see _detail_ctx for the value-equivalence argument).
    A ``detail_types`` name that no effect builder emits raises
    ``ValueError``: its field would otherwise be null on every row."""
    seen: set[str] = set()
    expr = _effects_array_expr_impl(
        changes_type, atoms_type, present, has_changes, has_atoms,
        detail_types, seen,
    )
    if detail_types is not None:
        unknown = {n for n, _ in detail_types} - seen
        if unknown and (present is not None or not has_changes or not has_atoms):
            # a pruned build skips whole families: ask the full one
            unknown -= _emitted_detail_names(changes_type, atoms_type)
        if unknown:
            raise ValueError(
                f"no effect emits detail field(s) {sorted(unknown)}"
            )
    return expr


@lru_cache(maxsize=4)
def _emitted_detail_names(changes_type: str, atoms_type: str) -> frozenset:
    """Every detail name the unpruned effects build emits."""
    seen: set[str] = set()
    _effects_array_expr_impl(changes_type, atoms_type, None, True, True, None, seen)
    return frozenset(seen)


def _effects_array_expr_impl(
    changes_type: str,
    atoms_type: str,
    present: frozenset | None,
    has_changes: bool,
    has_atoms: bool,
    detail_types: tuple[tuple[str, str], ...] | None,
    seen: set,
) -> Column:
    _j, _empty_details, _details_ddl = _detail_ctx(detail_types, seen)
    body = F.col("body")
    source = F.coalesce(F.col("source_account"), F.col("_tx_source"))
    t = F.col("type")

    def pr(*type_ids: int) -> bool:
        """True if any of these op types can occur in the input."""
        return present is None or any(x in present for x in type_ids)

    _amt = _amt_str

    def _asset_kv(asset: Column, prefix: str = "") -> dict:
        """addAssetDetails(details, asset, prefix): {prefix}asset_type
        always; code + issuer only for credit assets."""
        non_native = asset["asset_type"] != "native"
        return {
            f"{prefix}asset_type": asset["asset_type"],
            f"{prefix}asset_code": F.when(non_native, asset["asset_code"]),
            f"{prefix}asset_issuer": F.when(
                non_native, asset["asset_issuer"]
            ),
        }

    amount = _amt(body["amount"])
    asset_json = _j(
        amount=amount,
        **_asset_kv(body["asset"]),
    )
    empty = F.array().cast(
        "array<struct<type_string:string,type:int,address:string,"
        f"details_json:{_details_ddl}>>"
    )
    chg = F.coalesce(
        F.col("changes"), F.array().cast(changes_type)
    )

    def _entry(c):
        """Post-preferred entry view (ExtractEntryFromChange pattern)."""
        return F.coalesce(c["post"], c["pre"])

    # ---- trade effects from claim atoms (effects.go:965-1031) -------------
    live_atoms = F.filter(
        F.coalesce(
            F.col("claim_atoms"),
            F.array().cast(atoms_type),
        ),
        lambda a: (a["amount_sold"] != 0) | (a["amount_bought"] != 0),
    )

    def _buyer_details(a):
        """tradeDetails bd (effects.go:1227-1235): the buyer (op source)
        bought what the atom's seller sold."""
        return _j(
            offer_id=a["offer_id"],
            seller=a["seller_id"],
            bought_amount=_amt(a["amount_sold"]),
            sold_amount=_amt(a["amount_bought"]),
            **_asset_kv(a["asset_sold"], "bought_"),
            **_asset_kv(a["asset_bought"], "sold_"),
        )

    def _seller_details(a):
        """tradeDetails sd (effects.go:1237-1244): seller key points back at
        the BUYER (addAccountAndMuxedAccountDetails(sd, buyer, "seller"))."""
        return _j(
            offer_id=a["offer_id"],
            seller=source,
            seller_muxed=F.col("source_muxed"),
            bought_amount=_amt(a["amount_bought"]),
            sold_amount=_amt(a["amount_sold"]),
            **_asset_kv(a["asset_bought"], "bought_"),
            **_asset_kv(a["asset_sold"], "sold_"),
        )

    def _lp_trade_effect(a):
        """addClaimLiquidityPoolTradeEffect (effects.go:1013-1031): ONE
        effect addressed to the op source.  The liquidity_pool sub-object
        carries the pool id; the reserve/fee details need the pool entry
        delta from changes and are filled by the change-driven pass.
        Routed through _j so struct mode handles each key independently."""
        return _effect(
            "liquidity_pool_trade",
            source,
            _j(
                liquidity_pool=F.struct(a["pool_id"].alias("id")),
                sold=F.struct(
                    _canonical(a["asset_sold"]).alias("asset"),
                    _amt(a["amount_sold"]).alias("amount"),
                ),
                bought=F.struct(
                    _canonical(a["asset_bought"]).alias("asset"),
                    _amt(a["amount_bought"]).alias("amount"),
                ),
            ),
        )

    def _trade_family(skip_offer_created: bool) -> Column:
        """addClaimTradeEffects (effects.go:982-1011): per live atom the
        reference emits the full [trade, offer_updated, offer_removed,
        offer_created] family — buyer row then seller row for EACH type,
        all eight sharing the atom's trade details (offer_created is
        skipped for path_payment_strict_send).  LP atoms collapse to one
        liquidity_pool_trade effect."""
        kinds = ["trade", "offer_updated", "offer_removed"]
        if not skip_offer_created:
            kinds.append("offer_created")

        def per_atom(a):
            pair_rows = []
            for k in kinds:
                pair_rows.append(_effect(k, source, _buyer_details(a)))
                pair_rows.append(
                    _effect(k, a["seller_id"], _seller_details(a))
                )
            return F.when(
                a["atom_type"] == "lp", F.array(_lp_trade_effect(a))
            ).otherwise(F.array(*pair_rows))

        return F.flatten(F.transform(live_atoms, per_atom))

    # ---- set_options helpers (effects.go:520-635); built only when a
    # set_options op (t=5) can occur ----------------------------------------
    if pr(5):
        set_flags = F.coalesce(body["set_flags"], F.array().cast("array<int>"))
        clear_flags = F.coalesce(
            body["clear_flags"], F.array().cast("array<int>")
        )

        def _flag_detail(bit: int):
            return (
                F.when(F.array_contains(set_flags, bit), F.lit(True))
                .when(F.array_contains(clear_flags, bit), F.lit(False))
            )

        flags_details = _j(
            auth_required_flag=_flag_detail(1),
            auth_revocable_flag=_flag_detail(2),
            auth_immutable_flag=_flag_detail(4),
            auth_clawback_enabled_flag=_flag_detail(8),
        )
        any_known_flag = F.exists(
            F.array_union(set_flags, clear_flags), lambda b: b.isin(1, 2, 4, 8)
        )

        # signer diffs from account changes (SignerSummary diff,
        # effects.go:569-634); falls back to the op body's signer field when
        # the fixture/source carries no account signer lists.
        def _signer_map(signers):
            return F.map_from_entries(
                F.transform(
                    F.coalesce(
                        signers,
                        F.array().cast(
                            "array<struct<key:string,weight:int,sponsor:string>>"
                        ),
                    ),
                    lambda s: F.struct(s["key"], s["weight"]),
                )
            )

        def _signer_diff(c):
            before, after = (
                _signer_map(c["pre"]["signers"]),
                _signer_map(c["post"]["signers"]),
            )
            before_keys = F.array_sort(F.map_keys(before))
            after_keys = F.array_sort(F.map_keys(after))
            removed_updated = F.flatten(
                F.transform(
                    before_keys,
                    lambda k: F.when(
                        F.try_element_at(after, k).isNull(),
                        F.array(
                            _effect("signer_removed", source, _j(public_key=k))
                        ),
                    )
                    .when(
                        F.try_element_at(after, k) != F.try_element_at(before, k),
                        F.array(
                            _effect(
                                "signer_updated",
                                source,
                                _j(
                                    public_key=k,
                                    weight=F.try_element_at(after, k),
                                ),
                            )
                        ),
                    )
                    .otherwise(empty),
                )
            )
            created = F.flatten(
                F.transform(
                    after_keys,
                    lambda k: F.when(
                        F.try_element_at(before, k).isNull(),
                        F.array(
                            _effect(
                                "signer_created",
                                source,
                                _j(
                                    public_key=k,
                                    weight=F.try_element_at(after, k),
                                ),
                            )
                        ),
                    ).otherwise(empty),
                )
            )
            return F.concat(removed_updated, created)

        body_fallback_signers = (
            F.when(
                body["signer_key"].isNotNull() & (body["signer_weight"] > 0),
                F.array(
                    _effect(
                        "signer_created",
                        source,
                        _j(
                            public_key=body["signer_key"],
                            weight=body["signer_weight"],
                        ),
                    )
                ),
            )
            .when(
                body["signer_key"].isNotNull() & (body["signer_weight"] == 0),
                F.array(
                    _effect(
                        "signer_removed",
                        source,
                        _j(public_key=body["signer_key"]),
                    )
                ),
            )
            .otherwise(empty)
        )
        if has_changes:
            acct_signer_changes = F.filter(
                chg,
                lambda c: (c["entry_type"] == "account")
                & c["pre"].isNotNull()
                & c["post"].isNotNull()
                & (
                    c["pre"]["signers"].isNotNull()
                    | c["post"]["signers"].isNotNull()
                ),
            )
            change_driven_signers = F.flatten(
                F.transform(acct_signer_changes, _signer_diff)
            )
            signer_effects = F.when(
                F.size(acct_signer_changes) > 0, change_driven_signers
            ).otherwise(body_fallback_signers)
        else:
            # no row carries changes → the change-driven arm can never fire
            signer_effects = body_fallback_signers

    # ---- change_trust: change-driven created/updated/removed --------------
    # (effects.go:637-696; first trustline change whose pool-ness matches the
    # op line wins; an op with changes but no matching trustline change emits
    # nothing — the account-trusts-itself regression, effects_test.go:2029).
    if pr(6):
        line_is_pool = F.coalesce(
            body["line"]["asset_type"] == "pool_share", F.lit(False)
        )

        def _tl_is_pool(c):
            e = _entry(c)
            return e["pool_id"].isNotNull() | F.coalesce(
                e["asset"]["asset_type"] == "pool_share", F.lit(False)
            )

        # legacy limit heuristic when the source carries no change list at all
        change_trust_legacy = (
            F.when(
                body["limit"] > 0,
                F.array(
                    _effect(
                        "trustline_created",
                        source,
                        _j(
                            asset_type=body["line"]["asset_type"],
                            asset_code=body["line"]["asset_code"],
                            asset_issuer=body["line"]["asset_issuer"],
                            limit=_amt_str(body["limit"]),
                        ),
                    )
                ),
            )
            .when(
                body["limit"] == 0,
                F.array(
                    _effect(
                        "trustline_removed",
                        source,
                        _j(
                            asset_type=body["line"]["asset_type"],
                            asset_code=body["line"]["asset_code"],
                            asset_issuer=body["line"]["asset_issuer"],
                        ),
                    )
                ),
            )
            .otherwise(empty)
        )
        if has_changes:
            tl_matches = F.filter(
                chg,
                lambda c: (c["entry_type"] == "trustline")
                & (_tl_is_pool(c) == line_is_pool),
            )
            first_tl = F.try_element_at(tl_matches, F.lit(1))
            tl_verb = (
                F.when(first_tl["pre"].isNull(), F.lit("trustline_created"))
                .when(first_tl["post"].isNull(), F.lit("trustline_removed"))
                .otherwise(F.lit("trustline_updated"))
            )
            tl_details = F.when(
                line_is_pool,
                _j(
                    limit=_amt_str(body["limit"]),
                    asset_type=F.lit("liquidity_pool_shares"),
                    liquidity_pool_id=body["pool_id"],
                ),
            ).otherwise(
                _j(
                    limit=_amt_str(body["limit"]),
                    asset_type=body["line"]["asset_type"],
                    asset_code=body["line"]["asset_code"],
                    asset_issuer=body["line"]["asset_issuer"],
                )
            )
            change_trust_driven = F.when(
                first_tl.isNotNull(),
                F.array(_effect_dyn(tl_verb, source, tl_details)),
            ).otherwise(empty)
            change_trust_effects = F.when(
                F.size(chg) == 0, change_trust_legacy
            ).otherwise(change_trust_driven)
        else:
            # size(chg) == 0 on every row → always the legacy arm
            change_trust_effects = change_trust_legacy

    # ---- liquidity-pool revocation (effects.go:1142-1266, simplified) -----
    # allow_trust / set_trust_line_flags revoking pool-share trustlines create
    # claimable balances for the redeemed reserves; emit CB-created effects
    # then liquidity_pool_revoked with the revoked reserves.  Entirely
    # change-driven: with no changes anywhere it is provably empty.
    lp_revocation_possible = pr(7, 21) and has_changes
    cb_created_changes = F.filter(
        chg,
        lambda c: (c["entry_type"] == "claimable_balance")
        & c["pre"].isNull()
        & c["post"].isNotNull(),
    )
    lp_pre_change = F.try_element_at(
        F.filter(
            chg,
            lambda c: (c["entry_type"] == "liquidity_pool") & c["pre"].isNotNull(),
        ),
        F.lit(1),
    )

    def _cb_created_effects(c):
        p = c["post"]
        return F.concat(
            F.array(
                _effect(
                    "claimable_balance_created",
                    source,
                    _j(
                        balance_id=p["balance_id"],
                        asset=_canonical(p["asset"]),
                        amount=_amt_str(p["amount"]),
                    ),
                )
            ),
            F.transform(
                F.coalesce(
                    p["claimants"],
                    F.array().cast(
                        "array<struct<destination:string,predicate:string>>"
                    ),
                ),
                lambda cl: _effect(
                    "claimable_balance_claimant_created",
                    cl["destination"],
                    _j(
                        balance_id=p["balance_id"],
                        asset=_canonical(p["asset"]),
                        amount=_amt_str(p["amount"]),
                    ),
                ),
            ),
        )

    if lp_revocation_possible:
        lp_revoked_effects = F.when(
            (F.size(cb_created_changes) > 0) & lp_pre_change.isNotNull(),
            F.concat(
                F.flatten(F.transform(cb_created_changes, _cb_created_effects)),
                F.array(
                    _effect(
                        "liquidity_pool_revoked",
                        source,
                        _j(
                            liquidity_pool_id=lp_pre_change["pre"]["pool_id"],
                            shares_revoked=_amt_str(
                                lp_pre_change["pre"]["total_shares"]
                                - F.coalesce(
                                    lp_pre_change["post"]["total_shares"],
                                    F.lit(0),
                                )
                            ),
                            reserves_revoked=F.transform(
                                cb_created_changes,
                                lambda c: F.struct(
                                    _canonical(c["post"]["asset"]).alias(
                                        "asset"
                                    ),
                                    _amt_str(c["post"]["amount"]).alias(
                                        "amount"
                                    ),
                                    c["post"]["balance_id"].alias(
                                        "claimable_balance_id"
                                    ),
                                ),
                            ),
                        ),
                    )
                ),
            ),
        ).otherwise(empty)
    else:
        lp_revoked_effects = empty

    # ---- allow_trust / set_trust_line_flags details (effects.go:697-729,
    # 1091-1127) ------------------------------------------------------------
    # allow_trust's AssetCode resolves against the SOURCE as issuer
    # (op.Asset.ToAsset(source)); silver pre-fills body.asset that way.
    allow_trust_base_details = _j(
        trustor=body["trustor"],
        **_asset_kv(body["asset"]),
    )
    auth_flags = F.coalesce(body["authorize_flags"], F.lit(0))  # t=7 only
    # setTrustLineFlagDetails with the reference's own key spelling —
    # "authorized_to_maintain_liabilites" is their typo, preserved for
    # byte-level parity with schema.go / the goldens.
    allow_trust_flag_details = _j(
        trustor=body["trustor"],
        **_asset_kv(body["asset"]),
        authorized_flag=F.when(auth_flags == 1, F.lit(True)).when(
            auth_flags == 0, F.lit(False)
        ),
        authorized_to_maintain_liabilites=F.when(
            auth_flags == 2, F.lit(True)
        ).when(auth_flags == 0, F.lit(False)),
    )
    set_flags_arr = F.coalesce(body["set_flags"], F.array().cast("array<int>"))
    clear_flags_arr = F.coalesce(
        body["clear_flags"], F.array().cast("array<int>")
    )

    def _tl_flag(bit: int) -> Column:
        return F.when(
            F.array_contains(set_flags_arr, bit), F.lit(True)
        ).when(F.array_contains(clear_flags_arr, bit), F.lit(False))

    set_tl_flags_details = _j(
        trustor=body["trustor"],
        **_asset_kv(body["asset"]),
        authorized_flag=_tl_flag(1),
        authorized_to_maintain_liabilites=_tl_flag(2),
        clawback_enabled_flag=_tl_flag(4),
    )

    # ---- clawback_claimable_balance credited side (effects.go:1057-1089) --
    first_removed_cb = F.try_element_at(
        F.filter(
            chg,
            lambda c: (c["entry_type"] == "claimable_balance")
            & c["post"].isNull()
            & c["pre"].isNotNull(),
        ),
        F.lit(1),
    )

    # ---- footprint ops: affected ttl entries (effects.go:1432-1513) -------
    # with no changes anywhere the filter is provably [] — emit the same
    # empty list without the per-row scan
    ttl_entries = (
        F.transform(
            F.filter(
                chg,
                lambda c: (c["entry_type"] == "ttl") & c["post"].isNotNull(),
            ),
            lambda c: c["post"]["key_hash"],
        )
        if has_changes
        else F.array().cast("array<string>")
    )

    # ---- the op-type switch, as a PRUNED branch list: only families whose
    # op type can occur are built (absent branches provably yield empty
    # arrays, so the emitted rows are identical) ----------------------------
    branches: list[tuple[Column, Column]] = []

    def _br(cond: Column, val: Column) -> None:
        branches.append((cond, val))

    # create_account → account_created + account_debited + signer_created
    # (effects.go:401-427)
    if pr(0):
        _br(
            t == 0,
            F.array(
                _effect(
                    "account_created",
                    body["account"],
                    _j(starting_balance=_amt_str(body["starting_balance"])),
                ),
                _effect(
                    "account_debited",
                    source,
                    _j(
                        asset_type=F.lit("native"),
                        amount=_amt_str(body["starting_balance"]),
                    ),
                ),
                _effect(
                    "signer_created",
                    body["account"],
                    _j(weight=F.lit(1), public_key=body["account"]),
                ),
            ),
        )
    # payment → credited(dest) + debited(source) (effects.go:429-445)
    if pr(1):
        _br(
            t == 1,
            F.array(
                _effect("account_credited", body["to"], asset_json),
                _effect(
                    "account_debited",
                    F.coalesce(body["from"], source),
                    asset_json,
                ),
            ),
        )
    # path_payment_strict_receive → credited(dest, op.DestAmount) +
    # debited(source, result.SendAmount) (effects.go:447-472); the trade
    # family appends below
    if pr(2):
        _br(
            t == 2,
            F.array(
                _effect(
                    "account_credited",
                    body["to"],
                    _j(
                        amount=_amt(body["dest_amount"]),
                        **_asset_kv(body["dest_asset"]),
                    ),
                ),
                _effect(
                    "account_debited",
                    source,
                    _j(
                        amount=_amt(body["source_amount"]),
                        **_asset_kv(body["send_asset"]),
                    ),
                ),
            ),
        )
    # path_payment_strict_send → credited(dest, result.DestAmount) +
    # debited(source, op.SendAmount) (effects.go:474-489); silver fills
    # body.amount from the result, body.source_amount from the op
    if pr(13):
        _br(
            t == 13,
            F.array(
                _effect(
                    "account_credited",
                    body["to"],
                    _j(
                        amount=_amt(body["amount"]),
                        **_asset_kv(body["dest_asset"]),
                    ),
                ),
                _effect(
                    "account_debited",
                    source,
                    _j(
                        amount=_amt(body["source_amount"]),
                        **_asset_kv(body["send_asset"]),
                    ),
                ),
            ),
        )
    # account_merge → debited(src, result.sourceAccountBalance) +
    # credited(dest) + removed(src, {}) (effects.go:730-743)
    if pr(8):
        _br(
            t == 8,
            F.array(
                _effect(
                    "account_debited",
                    source,
                    _j(
                        amount=_amt(body["source_amount"]),
                        asset_type=F.lit("native"),
                    ),
                ),
                _effect(
                    "account_credited",
                    F.coalesce(body["account"], body["to"]),
                    _j(
                        amount=_amt(body["source_amount"]),
                        asset_type=F.lit("native"),
                    ),
                ),
                _effect("account_removed", source, _empty_details),
            ),
        )
    # change_trust → created/updated/removed (effects.go:637-696)
    if pr(6):
        _br(t == 6, change_trust_effects)
    # allow_trust → TWO trustline_flags_updated effects, both addressed
    # to the SOURCE (the issuer): the legacy details {trustor, asset}
    # and the forward-compat flag effect (effects.go:697-729)
    if pr(7):
        _br(
            t == 7,
            F.concat(
                F.array(
                    _effect(
                        "trustline_flags_updated",
                        source,
                        allow_trust_base_details,
                    ),
                    _effect(
                        "trustline_flags_updated",
                        source,
                        allow_trust_flag_details,
                    ),
                ),
                lp_revoked_effects,
            ),
        )
    # set_trust_line_flags → one flags effect from the op's set/clear
    # masks (addSetTrustLineFlagsEffects, effects.go:1091-1096)
    if pr(21):
        _br(
            t == 21,
            F.concat(
                F.array(
                    _effect(
                        "trustline_flags_updated",
                        source,
                        set_tl_flags_details,
                    )
                ),
                lp_revoked_effects,
            ),
        )
    # set_options → home domain / thresholds / flags / inflation dest /
    # signer effects, in reference order (effects.go:520-635)
    if pr(5):
        _br(
            t == 5,
            F.concat(
                F.when(
                    body["home_domain"].isNotNull(),
                    F.array(
                        _effect(
                            "account_home_domain_updated",
                            source,
                            _j(home_domain=body["home_domain"]),
                        )
                    ),
                ).otherwise(empty),
                F.when(
                    body["low_threshold"].isNotNull()
                    | body["med_threshold"].isNotNull()
                    | body["high_threshold"].isNotNull(),
                    F.array(
                        _effect(
                            "account_thresholds_updated",
                            source,
                            _j(
                                low_threshold=body["low_threshold"],
                                med_threshold=body["med_threshold"],
                                high_threshold=body["high_threshold"],
                            ),
                        )
                    ),
                ).otherwise(empty),
                F.when(
                    any_known_flag,
                    F.array(_effect("account_flags_updated", source, flags_details)),
                ).otherwise(empty),
                F.when(
                    body["inflation_dest"].isNotNull(),
                    F.array(
                        _effect(
                            "account_inflation_destination_updated",
                            source,
                            _j(inflation_destination=body["inflation_dest"]),
                        )
                    ),
                ).otherwise(empty),
                signer_effects,
            ),
        )
    # inflation → one account_credited per payout (effects.go:745-755)
    if pr(9):
        _br(
            t == 9,
            F.transform(
                F.coalesce(
                    body["payouts"],
                    F.array().cast(
                        "array<struct<destination:string,amount:long>>"
                    ),
                ),
                lambda p: _effect(
                    "account_credited",
                    p["destination"],
                    _j(
                        amount=_amt_str(p["amount"]),
                        asset_type=F.lit("native"),
                    ),
                ),
            ),
        )
    # manage_data → data created/removed/updated (effects.go:757-797): the
    # FIRST data-entry change decides the verb (before==nil → created,
    # after==nil → removed, both → updated); the body's value nullity is the
    # fallback heuristic when the source carries no change list (it cannot
    # distinguish created from updated — change-less fixtures only).
    if pr(10):
        data_details = _j(name=body["data_name"], value=body["data_value"])
        body_verb = F.when(
            body["data_value"].isNotNull(), F.lit("data_created")
        ).otherwise(F.lit("data_removed"))
        if has_changes:
            first_data = F.try_element_at(
                F.filter(chg, lambda c: c["entry_type"] == "data"), F.lit(1)
            )
            data_verb = (
                F.when(first_data.isNull(), body_verb)
                .when(
                    first_data["pre"].isNull() & first_data["post"].isNotNull(),
                    F.lit("data_created"),
                )
                .when(
                    first_data["pre"].isNotNull() & first_data["post"].isNull(),
                    F.lit("data_removed"),
                )
                .otherwise(F.lit("data_updated"))
            )
        else:
            data_verb = body_verb
        _br(
            t == 10,
            F.array(_effect_dyn(data_verb, source, data_details)),
        )
    # bump_sequence → sequence_bumped (effects.go:798-832)
    if pr(11):
        _br(
            t == 11,
            F.array(
                _effect(
                    "sequence_bumped", source, _j(new_seq=body["bump_to"])
                )
            ),
        )
    # create_claimable_balance → created + one claimant effect per claimant
    # (effects.go:833-905)
    if pr(14):
        _br(
            t == 14,
            F.concat(
                F.array(
                    _effect(
                        "claimable_balance_created",
                        source,
                        _j(balance_id=body["balance_id"], amount=amount),
                    )
                ),
                F.transform(
                    body["claimants"],
                    lambda c: _effect(
                        "claimable_balance_claimant_created",
                        c["destination"],
                        _j(balance_id=body["balance_id"], amount=amount),
                    ),
                ),
            ),
        )
    # claim_claimable_balance → claimed{balance_id, asset, amount} +
    # account_credited (effects.go:906-964)
    if pr(15):
        _br(
            t == 15,
            F.concat(
                F.array(
                    _effect(
                        "claimable_balance_claimed",
                        source,
                        _j(
                            amount=amount,
                            balance_id=body["balance_id"],
                            asset=F.when(
                                body["asset"].isNotNull(), _canonical(body["asset"])
                            ),
                        ),
                    )
                ),
                F.when(
                    body["amount"].isNotNull(),
                    F.array(_effect("account_credited", source, asset_json)),
                ).otherwise(empty),
            ),
        )
    # clawback → credited(issuer=source) THEN debited(from)
    # (effects.go:1033-1055 order)
    if pr(19):
        _br(
            t == 19,
            F.array(
                _effect("account_credited", source, asset_json),
                _effect("account_debited", body["from"], asset_json),
            ),
        )
    # clawback_claimable_balance → clawed_back + credited from the removed
    # CB entry (effects.go:1057-1089)
    if pr(20):
        _br(
            t == 20,
            F.concat(
                F.array(
                    _effect(
                        "claimable_balance_clawed_back",
                        source,
                        _j(balance_id=body["balance_id"]),
                    )
                ),
                F.when(
                    first_removed_cb.isNotNull(),
                    F.array(
                        _effect(
                            "account_credited",
                            source,
                            _j(
                                amount=_amt_str(
                                    first_removed_cb["pre"]["amount"]
                                ),
                                asset_type=first_removed_cb["pre"]["asset"][
                                    "asset_type"
                                ],
                                asset_code=first_removed_cb["pre"]["asset"][
                                    "asset_code"
                                ],
                                asset_issuer=first_removed_cb["pre"]["asset"][
                                    "asset_issuer"
                                ],
                            ),
                        )
                    ),
                ).otherwise(empty),
            ),
        )
    # liquidity pool deposit / withdraw (effects.go:1268-1318)
    if pr(22):
        _br(
            t == 22,
            F.array(
                _effect(
                    "liquidity_pool_deposited",
                    source,
                    _j(
                        liquidity_pool_id=body["pool_id"],
                        shares_received=_amt_str(body["shares"]),
                    ),
                )
            ),
        )
    if pr(23):
        _br(
            t == 23,
            F.array(
                _effect(
                    "liquidity_pool_withdrew",
                    source,
                    _j(
                        liquidity_pool_id=body["pool_id"],
                        shares_redeemed=_amt_str(body["shares"]),
                    ),
                )
            ),
        )
    # extend_footprint_ttl / restore_footprint (effects.go:1432-1513)
    if pr(25):
        _br(
            t == 25,
            F.array(
                _effect(
                    "extend_footprint_ttl",
                    source,
                    _j(entries=ttl_entries, extend_to=body["extend_to"]),
                )
            ),
        )
    if pr(26):
        _br(
            t == 26,
            F.array(
                _effect("restore_footprint", source, _j(entries=ttl_entries))
            ),
        )
    # begin/end/revoke sponsoring, manage offers, invoke host fn: direct
    # effects come only from changes / atoms / events (effects.go:105-107)
    chain = None
    for _cond, _val in branches:
        chain = F.when(_cond, _val) if chain is None else chain.when(_cond, _val)
    effects_array = chain.otherwise(empty) if chain is not None else empty

    # trade-capable ops append the per-atom effect family
    # (addIngestTradeEffects; offer_created skipped for strict-send) — built
    # only when a trade-capable op type AND a non-empty atom list can occur
    if has_atoms and pr(2, 3, 4, 12, 13):
        trade_part = F.when(
            t == 13, _trade_family(skip_offer_created=True)
        ).when(
            t.isin(2, 3, 4, 12), _trade_family(skip_offer_created=False)
        ).otherwise(empty)
        effects_array = F.concat(effects_array, trade_part)

    # ---- change-driven sponsorship state machine (effects.go:197-368) -----
    # per entry change: entry-family sponsorship transition, then per-signer
    # sponsorship diffs (account entries only) — mirrors the reference's
    # per-change loop ordering (effects.go:145-150).
    def _entry_sponsorship(c):
        fam = F.coalesce(c["entry_type"], F.lit("account"))
        pre_s, post_s = c["pre"]["sponsor"], c["post"]["sponsor"]
        e = _entry(c)
        holder = F.when(
            fam.isin("account", "trustline"),
            F.coalesce(e["account_id"], source),
        ).otherwise(source)
        is_pool_tl = e["pool_id"].isNotNull() | F.coalesce(
            e["asset"]["asset_type"] == "pool_share", F.lit(False)
        )
        tl_asset = F.when(
            (fam == "trustline") & ~is_pool_tl, _canonical(e["asset"])
        )
        tl_asset_type = F.when(
            (fam == "trustline") & is_pool_tl, F.lit("liquidity_pool")
        )
        tl_pool = F.when((fam == "trustline") & is_pool_tl, e["pool_id"])
        dname = F.when(fam == "data", e["data_name"])
        bid = F.when(fam == "claimable_balance", e["balance_id"])

        def _kind(verb):
            return F.concat(fam, F.lit("_sponsorship_"), F.lit(verb))

        return F.when(
            ~fam.isin("account", "trustline", "data", "claimable_balance"),
            empty,
        ).otherwise(
            F.when(
                pre_s.isNull() & post_s.isNotNull(),
                F.array(
                    _effect_dyn(
                        _kind("created"),
                        holder,
                        _j(
                            sponsor=post_s,
                            asset=tl_asset,
                            asset_type=tl_asset_type,
                            liquidity_pool_id=tl_pool,
                            data_name=dname,
                            balance_id=bid,
                        ),
                    )
                ),
            )
            .when(
                pre_s.isNotNull() & post_s.isNotNull() & (pre_s != post_s),
                F.array(
                    _effect_dyn(
                        _kind("updated"),
                        holder,
                        _j(
                            former_sponsor=pre_s,
                            new_sponsor=post_s,
                            asset=tl_asset,
                            asset_type=tl_asset_type,
                            liquidity_pool_id=tl_pool,
                            data_name=dname,
                            balance_id=bid,
                        ),
                    )
                ),
            )
            .when(
                pre_s.isNotNull() & post_s.isNull(),
                F.array(
                    _effect_dyn(
                        _kind("removed"),
                        holder,
                        _j(
                            former_sponsor=pre_s,
                            asset=tl_asset,
                            asset_type=tl_asset_type,
                            liquidity_pool_id=tl_pool,
                            data_name=dname,
                            balance_id=bid,
                        ),
                    )
                ),
            )
            .otherwise(empty)
        )

    def _sponsor_map(signers):
        return F.map_from_entries(
            F.transform(
                F.filter(
                    F.coalesce(
                        signers,
                        F.array().cast(
                            "array<struct<key:string,weight:int,sponsor:string>>"
                        ),
                    ),
                    lambda s: s["sponsor"].isNotNull(),
                ),
                lambda s: F.struct(s["key"], s["sponsor"]),
            )
        )

    def _signer_sponsorship(c):
        """Per-signer sponsor diffs on account entries (effects.go:225-285)."""
        pre_m = _sponsor_map(c["pre"]["signers"])
        post_m = _sponsor_map(c["post"]["signers"])
        all_keys = F.array_sort(
            F.array_union(F.map_keys(pre_m), F.map_keys(post_m))
        )
        holder = F.coalesce(
            c["post"]["account_id"], c["pre"]["account_id"], source
        )
        return F.when(c["entry_type"] != "account", empty).otherwise(
            F.flatten(
                F.transform(
                    all_keys,
                    lambda k: F.when(
                        F.try_element_at(pre_m, k).isNull(),
                        F.array(
                            _effect(
                                "signer_sponsorship_created",
                                holder,
                                _j(sponsor=F.try_element_at(post_m, k), signer=k),
                            )
                        ),
                    )
                    .when(
                        F.try_element_at(post_m, k).isNull(),
                        F.array(
                            _effect(
                                "signer_sponsorship_removed",
                                holder,
                                _j(
                                    former_sponsor=F.try_element_at(pre_m, k),
                                    signer=k,
                                ),
                            )
                        ),
                    )
                    .when(
                        F.try_element_at(pre_m, k) != F.try_element_at(post_m, k),
                        F.array(
                            _effect(
                                "signer_sponsorship_updated",
                                holder,
                                _j(
                                    former_sponsor=F.try_element_at(pre_m, k),
                                    new_sponsor=F.try_element_at(post_m, k),
                                    signer=k,
                                ),
                            )
                        ),
                    )
                    .otherwise(empty),
                )
            )
        )

    if has_changes:
        effects_array = F.concat(
            effects_array,
            F.flatten(
                F.transform(
                    chg,
                    lambda c: F.concat(
                        _entry_sponsorship(c), _signer_sponsorship(c)
                    ),
                )
            ),
        )

    # ---- liquidity-pool entry lifecycle (effects.go:370-399) --------------
    def _lp_entry_effects(c):
        lp_created_details = _j(
            liquidity_pool=F.struct(
                c["post"]["pool_id"].alias("id"),
                c["post"]["pool_fee"].alias("fee_bp"),
                F.lit("constant_product").alias("type"),
                c["post"]["trustline_count"].alias("total_trustlines"),
                _amt_str(c["post"]["total_shares"]).alias("total_shares"),
                F.array(
                    F.struct(
                        _canonical(c["post"]["asset_a"]).alias("asset"),
                        _amt_str(c["post"]["reserve_a"]).alias("amount"),
                    ),
                    F.struct(
                        _canonical(c["post"]["asset_b"]).alias("asset"),
                        _amt_str(c["post"]["reserve_b"]).alias("amount"),
                    ),
                ).alias("reserves"),
            )
        )
        return F.when(c["entry_type"] != "liquidity_pool", empty).otherwise(
            F.when(
                c["pre"].isNull() & c["post"].isNotNull(),
                F.array(
                    _effect("liquidity_pool_created", source, lp_created_details)
                ),
            )
            .when(
                c["pre"].isNotNull() & c["post"].isNull(),
                F.array(
                    _effect(
                        "liquidity_pool_removed",
                        source,
                        _j(liquidity_pool_id=c["pre"]["pool_id"]),
                    )
                ),
            )
            .otherwise(empty)
        )

    if has_changes:
        effects_array = F.concat(
            effects_array, F.flatten(F.transform(chg, _lp_entry_effects))
        )

    return effects_array


def _present_op_types(operations: DataFrame) -> frozenset:
    """The op-type ids in ``operations``: one pass over its ``type`` column
    per call.  Not memoized — a plan-keyed memo cannot see that a path's
    files were rewritten, and would prune the new types' effects away."""
    prow = operations.agg(F.collect_set("type").alias("_ts")).first()
    return frozenset(int(x) for x in (prow["_ts"] or []))


def transform_effects(
    operations: DataFrame,
    transactions: DataFrame,
    ledgers: DataFrame | None = None,
    prune: bool = True,
    detail_types: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """One row per emitted effect; only successful txs emit (effects.go:55-57).

    ``prune=True`` (the default) runs one column-pruned aggregate over
    ``operations`` FIRST and builds only the effect families that snapshot
    can reach.  This requires ``operations`` to be STATIC between the probe
    action and the main job: a non-deterministic or re-resolved input
    (e.g. a view over files being rewritten) could grow new op types after
    the probe and those ops would silently emit zero effects.  For such
    inputs pass ``prune=False`` (or cache/checkpoint the frame before
    calling) — the full 52-family expression is built unconditionally, the
    same path streaming inputs always take.

    ``detail_types`` (None = JSON details): emit the ``details`` column as
    a typed STRUCT of exactly these (name, ddl_type) fields instead of a
    JSON string — no serialization, no parse-back.  Each field's value
    equals ``from_json(details, "name ddl_type")[name]`` on the full
    build (see _detail_ctx).
    """
    tx_src = transactions.select(
        F.col("ledger_sequence").alias("_ls"),
        F.col("tx_index").alias("_ti"),
        F.col("source_account").alias("_tx_source"),
    )
    ops = operations.where(F.col("tx_successful")).join(
        tx_src,
        (operations.ledger_sequence == tx_src._ls)
        & (operations.tx_index == tx_src._ti),
        "left",
    )
    if ledgers is not None:
        hdr = F.broadcast(
            ledgers.select(
                F.col("sequence").alias("_hseq"),
                F.col("closed_at").alias("_closed_at"),
            )
        )
        ops = ops.join(hdr, ops.ledger_sequence == hdr._hseq, "left")
    else:
        ops = ops.withColumn("_closed_at", F.lit(None).cast("timestamp"))

    # One column-pruned probe derives the pruning context: which op types
    # occur.  The builder then skips families whose type cannot appear,
    # collapsing the generated projection from ~350 KB (beyond JIT's
    # compile threshold → interpreted) to just the reachable families.
    # The probe reads ONLY the narrow ``type`` column (round-9: it used
    # to also scan the wide nested changes / claim-atoms columns for a
    # max(size(...)) emptiness check — a second full read of the table's
    # heaviest columns per call, buying codegen shrinkage only on inputs
    # whose type mix implies those columns but whose arrays are all empty;
    # change/atom scans over empty arrays emit nothing either way, so
    # has_changes/has_atoms now probe-default to True and rows are
    # identical).  Streams can't be probed — they get the full expression.
    if operations.isStreaming or not prune:
        present = None
    else:
        present = _present_op_types(operations)
    has_changes, has_atoms = True, True

    effects_array = _effects_array_expr(
        operations.schema["changes"].dataType.simpleString(),
        operations.schema["claim_atoms"].dataType.simpleString(),
        present,
        has_changes,
        has_atoms,
        None if detail_types is None else tuple(tuple(ft) for ft in detail_types),
    )
    source = F.coalesce(F.col("source_account"), F.col("_tx_source"))

    op_id = toid(F.col("ledger_sequence"), F.col("tx_index"), F.col("op_index") + 1)
    exploded = ops.select(
        op_id.alias("operation_id"),
        F.col("ledger_sequence"),
        F.col("type").alias("operation_type"),
        source.alias("_src"),
        F.col("source_muxed").alias("_src_muxed"),
        F.col("_closed_at"),
        F.posexplode(effects_array).alias("index", "e"),
    )
    return exploded.select(
        F.concat_ws("-", F.col("operation_id"), F.col("index")).alias("id"),
        F.col("operation_id"),
        F.col("index"),
        F.col("e")["type"].alias("type"),
        F.col("e")["type_string"].alias("type_string"),
        F.col("e")["address"].alias("address"),
        # muxed form surfaces when the effect address IS the op's muxed
        # source (effects.go addressMuxed plumbing)
        F.when(
            F.col("e")["address"] == F.col("_src"), F.col("_src_muxed")
        ).alias("address_muxed"),
        F.col("e")["details_json"].alias("details"),
        F.col("_closed_at").alias("closed_at"),
        F.col("ledger_sequence"),
        F.col("operation_type"),
    )


def transform_sac_effects(
    contract_events: DataFrame, transactions: DataFrame
) -> DataFrame:
    """Account/contract credited/debited effects from SAC events
    (addInvokeHostFunctionEffects, effects.go:1319-1430).

    Input grain is the contract-events table (one row per SAC-classified
    event); output is union-compatible with :func:`transform_effects`.
    Transfers debit ``from`` and credit ``to``; mints credit, burns and
    clawbacks debit.  A G-address gets account_credited/debited; any other
    address is a contract — the effect lands on the op source with a
    ``contract`` detail, exactly like the reference.  Effect indexes number
    SAC effects within their transaction in event order (the reference
    interleaves them with op-level effects; we document the offset instead
    of re-deriving it, since the grains differ).
    """
    tx_src = transactions.select(
        F.col("ledger_sequence").alias("_ls"),
        F.col("tx_index").alias("_ti"),
        F.col("source_account").alias("_tx_source"),
    )
    ev = (
        contract_events.where(
            F.col("sac_kind").isNotNull()
            & F.col("tx_successful")
            & F.col("in_successful_contract_call")
        )
        .join(
            tx_src,
            (contract_events.ledger_sequence == tx_src._ls)
            & (contract_events.tx_index == tx_src._ti),
            "left",
        )
    )

    source = F.col("_tx_source")
    kind = F.col("sac_kind")
    amt = _amt_str(F.col("sac_amount"))

    def _is_account(addr):
        return addr.startswith("G")

    def _side(addr, credit: bool):
        effect_kind = F.when(
            _is_account(addr),
            F.lit("account_credited" if credit else "account_debited"),
        ).otherwise(F.lit("contract_credited" if credit else "contract_debited"))
        address = F.when(_is_account(addr), addr).otherwise(source)
        details = F.to_json(
            F.struct(
                F.col("sac_asset").alias("asset"),
                kind.alias("contract_event_type"),
                amt.alias("amount"),
                F.when(~_is_account(addr), addr).alias("contract"),
            ),
            {"ignoreNullFields": "true"},
        )
        return F.struct(
            effect_kind.alias("type_string"),
            _type_id(effect_kind).alias("type"),
            address.alias("address"),
            details.alias("details_json"),
        )

    debit_addr = F.col("sac_from")
    credit_addr = F.col("sac_to")
    effects = (
        F.when(
            kind == "transfer",
            F.array(_side(debit_addr, False), _side(credit_addr, True)),
        )
        .when(kind == "mint", F.array(_side(credit_addr, True)))
        .when(kind.isin("burn", "clawback"), F.array(_side(debit_addr, False)))
        .otherwise(F.array().cast(_EFFECT_STRUCT_DDL))
    )

    # deterministic per-tx event order for effect indexes: anchor on the
    # op position first (the real apply order the table carries), value
    # columns only as the within-op tie-break
    from pyspark.sql.window import Window

    w = Window.partitionBy("ledger_sequence", "tx_index").orderBy(
        "sac_op_index", "contract_id", "sac_kind", "sac_from", "sac_to",
        "sac_amount",
    )
    op_id = toid(
        F.col("ledger_sequence"),
        F.col("tx_index"),
        F.coalesce(F.col("sac_op_index"), F.lit(0)) + 1,
    )
    exploded = (
        ev.withColumn("_ev_idx", F.row_number().over(w) - 1)
        .select(
            op_id.alias("operation_id"),
            F.col("ledger_sequence"),
            F.col("closed_at"),
            F.lit(24).alias("operation_type"),
            F.col("_ev_idx"),
            F.posexplode(effects).alias("side_idx", "e"),
        )
    )
    # DENSE per-operation index over the emitted effects (the window keys
    # on operation_id, which varies with sac_op_index — matching the
    # reference's per-op EffectIndex, effects.go:161; single-effect kinds
    # must not leave gaps: ids are the reference's contiguous numbering)
    wi = Window.partitionBy("operation_id").orderBy("_ev_idx", "side_idx")
    indexed = exploded.withColumn("index", F.row_number().over(wi) - 1)
    return indexed.select(
        F.concat_ws("-", F.col("operation_id"), F.col("index")).alias("id"),
        F.col("operation_id"),
        F.col("index"),
        F.col("e")["type"].alias("type"),
        F.col("e")["type_string"].alias("type_string"),
        F.col("e")["address"].alias("address"),
        # union-compatible with transform_effects' output columns
        F.lit(None).cast("string").alias("address_muxed"),
        F.col("e")["details_json"].alias("details"),
        F.col("closed_at"),
        F.col("ledger_sequence"),
        F.col("operation_type"),
    )
