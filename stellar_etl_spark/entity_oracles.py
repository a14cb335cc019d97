"""DuckDB oracle twins for the entity-transform queries (entity_queries.py).

Each statement re-derives the stellar-shaped inputs with the SAME modular
formulas as transforms/derive.py and re-states the transform's semantics
in ANSI SQL: TOID bit packing, memo/bounds switches, the per-type details
sparsity, sponsor scans, claim-atom fan-out with the last-matching-pre
price, the result-driven effect chains in reference emission order, and
the state-entity projections (pre-for-removed, stroops → real).

Shared formula conventions (must stay in lockstep with derive.py):
  seq = k // 1024 + 2, txi = k % 1024, closed_at = 1704067200 + seq*5,
  protocol = 19 + seq % 4, asset cycle by (x % 3): native / USD / LONGCODE.
"""

_ASSET_TYPE = (
    "CASE {x} % 3 WHEN 0 THEN 'native' WHEN 1 THEN 'credit_alphanum4' "
    "ELSE 'credit_alphanum12' END"
)
_ASSET_CODE = "CASE {x} % 3 WHEN 1 THEN 'USD' WHEN 2 THEN 'LONGCODE' END"
_ASSET_ISSUER = "CASE {x} % 3 WHEN 1 THEN 'ISS1' WHEN 2 THEN 'ISS2' END"

# Change-row contract (derive.py, the two ledger-entry change streams):
# every state-entity row ends with its ledger position, the entry key, the
# sponsor of every 6th entry and the removed flag (change type 2).  Classic
# entries key as 'LK' || eid; Soroban entries as base64('SLK' || eid), a
# valid-base64 key whose decoded bytes the ledger_key_hash columns hash.
_CHANGE_COLS = """  seq AS ledger_sequence,
  1704067200 + seq * 5 AS closed_at_unix,
  seq AS last_modified_ledger,
  {key} AS ledger_entry_key,
  CASE WHEN eid % 6 = 0 THEN 'SP' || CAST(uid AS VARCHAR) END AS sponsor,
  (ct = 2) AS deleted"""
_CLASSIC_CHANGE_COLS = _CHANGE_COLS.format(key="'LK' || CAST(eid AS VARCHAR)")
_SOROBAN_CHANGE_COLS = _CHANGE_COLS.format(
    key="to_base64(encode('SLK' || CAST(eid AS VARCHAR)))"
)

ENTITY_ORACLES: dict[str, str] = {
    # ------------------------------------------------------------------
    "tx_projection": """
WITH f AS (
  SELECT o_orderkey AS k, o_custkey, o_orderstatus,
    o_orderkey // 1024 + 2 AS seq,
    o_orderkey % 1024 AS txi
  FROM orders
), g AS (
  SELECT *,
    CASE WHEN k % 7 = 0 THEN NULL ELSE k % 50 END AS tb_min,
    CASE WHEN k % 7 = 0 THEN NULL WHEN k % 5 = 0 THEN 0
         WHEN k % 11 = 0 THEN (k % 50) - 5 ELSE (k % 50) + 100 END AS tb_max,
    CASE WHEN k % 3 = 0 THEN k % 20 END AS lb_min,
    CASE WHEN k % 3 = 0 THEN
      CASE WHEN k % 6 = 0 THEN 0 ELSE k % 20 + 30 END END AS lb_max,
    19 + (seq % 4) AS protocol,
    (k % 3 = 0) AS is_fee_bump,
    (k % 5 = 0) AS has_soroban,
    500 + k % 1000 AS rfee,
    k % 100 AS refund,
    100 + k % 900 AS maxfee,
    100 + k % 400 AS fee_raw
  FROM f
)
SELECT
  (seq << 32) | (txi << 12) AS id,
  md5(CAST(k AS VARCHAR)) AS transaction_hash,
  seq AS ledger_sequence,
  txi AS application_order,
  'GACC' || CAST(k % 997 AS VARCHAR) AS account,
  CASE WHEN k % 10 = 0 THEN 'MUX' || CAST(k % 997 AS VARCHAR) END AS account_muxed,
  o_custkey AS account_sequence,
  maxfee AS max_fee,
  CASE WHEN protocol < 21 AND is_fee_bump AND has_soroban
       THEN rfee - refund ELSE fee_raw END AS fee_charged,
  (o_orderstatus <> 'F') AS successful,
  1 + k % 5 AS operation_count,
  1704067200 + seq * 5 AS closed_at_unix,
  -- memoObject.Type.String() — the Go enum NAME (transaction.go:89)
  CASE k % 4 WHEN 0 THEN 'MemoTypeMemoNone' WHEN 1 THEN 'MemoTypeMemoText'
    WHEN 2 THEN 'MemoTypeMemoHash' ELSE 'MemoTypeMemoId' END AS memo_type,
  CASE WHEN k % 4 = 0 THEN NULL
       ELSE 'memo-' || CAST(k % 50 AS VARCHAR) END AS memo,
  CASE WHEN tb_min IS NOT NULL THEN
    CASE WHEN tb_max IS NULL OR tb_max = 0
      THEN '[' || CAST(tb_min AS VARCHAR) || ',)'
      ELSE '[' || CAST(tb_min AS VARCHAR) || ',' || CAST(tb_max AS VARCHAR) || ')'
    END END AS time_bounds,
  CASE WHEN lb_min IS NOT NULL THEN
    CASE WHEN lb_max IS NULL OR lb_max = 0
      THEN '[' || CAST(lb_min AS VARCHAR) || ',)'
      ELSE '[' || CAST(lb_min AS VARCHAR) || ',' || CAST(lb_max AS VARCHAR) || ')'
    END END AS ledger_bounds,
  CASE WHEN k % 13 = 0 THEN o_custkey END AS min_account_sequence,
  CASE WHEN k % 17 = 0 THEN k % 1000 END AS min_account_sequence_age,
  CASE WHEN k % 19 = 0 THEN k % 10 END AS min_account_sequence_ledger_gap,
  CASE WHEN is_fee_bump THEN md5('inner' || CAST(k AS VARCHAR)) END
    AS inner_transaction_hash,
  CASE WHEN is_fee_bump THEN 'FEE' || CAST(k % 997 AS VARCHAR) END AS fee_account,
  CASE WHEN is_fee_bump THEN 2 * maxfee END AS new_max_fee,
  CASE WHEN has_soroban THEN rfee ELSE 0 END AS resource_fee,
  CASE WHEN has_soroban THEN k % 10000 ELSE 0 END
    AS soroban_resources_instructions,
  CASE WHEN has_soroban THEN k % 2048 ELSE 0 END
    AS soroban_resources_read_bytes,
  CASE WHEN has_soroban THEN k % 1024 ELSE 0 END
    AS soroban_resources_write_bytes,
  CASE WHEN has_soroban THEN maxfee - rfee ELSE 0 END AS inclusion_fee_bid,
  CASE WHEN has_soroban THEN fee_raw + refund - rfee ELSE 0 END
    AS inclusion_fee_charged,
  CASE WHEN has_soroban THEN refund ELSE 0 END AS resource_fee_refund,
  CASE WHEN has_soroban THEN k % 60 ELSE 0 END
    AS non_refundable_resource_fee_charged,
  CASE WHEN has_soroban THEN k % 40 ELSE 0 END
    AS refundable_resource_fee_charged,
  CASE WHEN has_soroban THEN k % 25 ELSE 0 END AS rent_fee_charged,
  CASE WHEN o_orderstatus <> 'F' THEN 'TransactionResultCodeTxSuccess'
       ELSE 'TransactionResultCodeTxFailed' END AS transaction_result_code
FROM g
WHERE NOT (tb_max IS NOT NULL AND tb_max <> 0 AND tb_max < tb_min)
""",
    # ------------------------------------------------------------------
    "op_details_switch": f"""
-- tx-JOINED columns (transaction_hash, the tx-source fallback) come from
-- a LEFT JOIN to the orders-derived transactions, mirroring the
-- transform's left tx join: an orphan op (no parent order) carries NULL
-- for them — the previous md5(k)/formula shortcut assumed referential
-- integrity the hostile corpus deliberately violates.
-- transaction_successful stays the op-row stamp (derive.py k % 10), NOT a
-- joined field: the transform reads the op's own tx_successful column
WITH base AS (
  SELECT l_orderkey AS k, l_partkey AS pk, l_suppkey AS sk,
    CAST(l_linenumber AS BIGINT) AS ln,
    l_orderkey // 1024 + 2 AS seq, l_orderkey % 1024 AS txi,
    CASE CAST(l_linenumber AS BIGINT) % 6
      WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 3 WHEN 3 THEN 6
      WHEN 4 THEN 10 ELSE 11 END AS t
  FROM lineitem
),
tx AS (
  SELECT o_orderkey // 1024 + 2 AS tseq, o_orderkey % 1024 AS ttxi,
    md5(CAST(o_orderkey AS VARCHAR)) AS tx_hash,
    'GACC' || CAST(o_orderkey % 997 AS VARCHAR) AS tx_source,
  FROM orders
),
b AS (
  SELECT base.*, tx.tx_hash, tx.tx_source
  FROM base LEFT JOIN tx ON base.seq = tx.tseq AND base.txi = tx.ttxi
)
SELECT
  (seq << 32) | (txi << 12) | (ln + 1) AS id,
  (seq << 32) | (txi << 12) AS transaction_id,
  tx_hash AS transaction_hash,
  seq AS ledger_sequence,
  ln + 1 AS application_order,
  CASE WHEN pk % 3 <> 0 THEN 'GOP' || CAST(sk AS VARCHAR)
       ELSE tx_source END AS source_account,
  CAST(t AS BIGINT) AS type,
  CASE t WHEN 0 THEN 'create_account' WHEN 1 THEN 'payment'
    WHEN 3 THEN 'manage_sell_offer' WHEN 6 THEN 'change_trust'
    WHEN 10 THEN 'manage_data' ELSE 'bump_sequence' END AS type_string,
  (k % 10 <> 0) AS transaction_successful,
  CASE WHEN sk % 4 = 0 THEN 'SPN' || CAST(pk AS VARCHAR) END AS sponsor,
  CASE WHEN t = 1 THEN
       CASE WHEN pk % 3 <> 0 THEN 'GOP' || CAST(sk AS VARCHAR)
            ELSE tx_source END END AS d_from,
  CASE WHEN t = 1 THEN 'B' || CAST(sk AS VARCHAR) END AS d_to,
  CASE WHEN t IN (1, 3)
       THEN CAST(pk * 100000 + 3 AS DOUBLE) / 10000000.0 END AS d_amount,
  CASE WHEN t = 1 THEN {_ASSET_TYPE.format(x="pk")}
       WHEN t = 6 THEN {_ASSET_TYPE.format(x="(pk + 2)")} END AS d_asset_type,
  CASE WHEN t = 1 THEN {_ASSET_CODE.format(x="pk")}
       WHEN t = 6 THEN {_ASSET_CODE.format(x="(pk + 2)")} END AS d_asset_code,
  CASE WHEN t = 1 THEN {_ASSET_ISSUER.format(x="pk")}
       WHEN t = 6 THEN {_ASSET_ISSUER.format(x="(pk + 2)")} END AS d_asset_issuer,
  CASE WHEN t = 6 THEN {_ASSET_ISSUER.format(x="(pk + 2)")} END AS d_trustee,
  CASE WHEN t = 6 THEN
       CASE WHEN pk % 3 <> 0 THEN 'GOP' || CAST(sk AS VARCHAR)
            ELSE tx_source END END AS d_trustor,
  CASE WHEN t = 0
       THEN CAST((pk % 1000) * 10000000 + 5 AS DOUBLE) / 10000000.0
       END AS d_starting_balance,
  CASE WHEN t = 0 THEN 'ACC' || CAST(pk AS VARCHAR) END AS d_account,
  CASE WHEN t = 3 THEN pk END AS d_offer_id,
  CASE WHEN t = 3 THEN {_ASSET_TYPE.format(x="pk")} END AS d_selling_asset_type,
  CASE WHEN t = 3 THEN {_ASSET_TYPE.format(x="(pk + 1)")} END AS d_buying_asset_type,
  -- addPriceDetails: ParseFloat(Price.String()) = the 7-dp-rounded rational
  CASE WHEN t = 3 THEN
       CAST((2 * ((ln % 9) + 1) * 10000000 + ((sk % 7) + 1))
            // (2 * ((sk % 7) + 1)) AS DOUBLE) / 10000000.0
       END AS d_price,
  CASE WHEN t = 3 THEN (ln % 9) + 1 END AS d_price_n,
  CASE WHEN t = 3 THEN (sk % 7) + 1 END AS d_price_d,
  CASE WHEN t = 6 THEN CAST(pk * 10 AS DOUBLE) / 10000000.0 END AS d_limit,
  CASE WHEN t = 10 THEN 'k' || CAST(sk % 5 AS VARCHAR) END AS d_data_name,
  CASE WHEN t = 10 AND pk % 2 = 0 THEN 'djE=' END AS d_data_value,
  CASE WHEN t = 11 THEN CAST(pk + 100 AS VARCHAR) END AS d_bump_to
FROM b
""",
    # ------------------------------------------------------------------
    "op_sponsorship_scan": """
-- d_begin_sponsor resolves ONLY when the begin op actually exists in the
-- same tx (the synthetic lineitem does not guarantee a linenumber-1 row
-- per order) — mirroring the transform's array back-scan, which returns
-- null when no begin op precedes the end.
WITH base AS (
  SELECT l_orderkey AS k, CAST(l_linenumber AS BIGINT) AS ln,
    l_orderkey // 1024 + 2 AS seq, l_orderkey % 1024 AS txi,
    MAX(CASE WHEN l_linenumber = 1 THEN 1 ELSE 0 END)
      OVER (PARTITION BY l_orderkey) AS has_begin
  FROM lineitem WHERE l_linenumber <= 3
)
SELECT
  (seq << 32) | (txi << 12) | (ln + 1) AS id,
  CAST(CASE WHEN ln = 1 THEN 16 ELSE 17 END AS BIGINT) AS type,
  CASE WHEN ln = 1 THEN 'begin_sponsoring_future_reserves'
       ELSE 'end_sponsoring_future_reserves' END AS type_string,
  CASE WHEN ln = 1 THEN 'BEG' || CAST(k AS VARCHAR)
       WHEN (ln = 2 AND k % 2 = 0) OR (ln = 3 AND k % 3 = 0)
         THEN 'END' || CAST(k AS VARCHAR)
       ELSE 'OTHER' END AS source_account,
  CASE WHEN ln = 1 THEN 'END' || CAST(k AS VARCHAR) END AS d_sponsored_id,
  CASE WHEN ((ln = 2 AND k % 2 = 0) OR (ln = 3 AND k % 3 = 0))
         AND has_begin = 1
       THEN 'BEG' || CAST(k AS VARCHAR) END AS d_begin_sponsor
FROM base
""",
    # ------------------------------------------------------------------
    "trade_atoms": """
WITH base AS (
  SELECT l_orderkey AS k, l_partkey AS pk, l_suppkey AS sk,
    CAST(l_linenumber AS BIGINT) AS ln, CAST(l_quantity AS BIGINT) AS qty,
    l_orderkey // 1024 + 2 AS seq, l_orderkey % 1024 AS txi
  FROM lineitem WHERE l_orderkey % 10 <> 0 AND l_orderkey % 3 = 1
),
ids AS (
  SELECT *, (seq << 32) | (txi << 12) | (ln + 1) AS op_id,
    1704067200 + seq * 5 AS closed
  FROM base
)
SELECT op_id AS history_operation_id, CAST(0 AS BIGINT) AS trade_order,
  closed AS ledger_closed_at_unix,
  'SELLER' || CAST(sk AS VARCHAR) AS selling_account_address,
  CAST(qty * 1000000 + 1 AS DOUBLE) / 10000000.0 AS selling_amount,
  CAST((pk % 1000 + 1) * 500000 AS DOUBLE) / 10000000.0 AS buying_amount,
  (ln % 9) + 5 AS price_n,
  (sk % 7) + 3 AS price_d,
  CAST(1 AS BIGINT) AS trade_type,
  CAST(NULL AS VARCHAR) AS selling_liquidity_pool_id,
  CAST(NULL AS BIGINT) AS liquidity_pool_fee,
  pk AS selling_offer_id,
  op_id | (CAST(1 AS BIGINT) << 62) AS buying_offer_id
FROM ids
UNION ALL
SELECT op_id, CAST(1 AS BIGINT), closed,
  CAST(NULL AS VARCHAR),
  CAST((pk % 500 + 1) * 200000 AS DOUBLE) / 10000000.0,
  CAST((pk % 300 + 1) * 100000 AS DOUBLE) / 10000000.0,
  (pk % 300 + 1) * 100000,
  (pk % 500 + 1) * 200000,
  CAST(2 AS BIGINT),
  'POOL' || CAST(sk % 10 AS VARCHAR),
  CAST(30 AS BIGINT),
  CAST(NULL AS BIGINT),
  op_id | (CAST(1 AS BIGINT) << 62)
FROM ids WHERE ln % 2 = 1
""",
    # ------------------------------------------------------------------
    "effects_fanout": """
WITH base AS (
  SELECT l_orderkey AS k, l_partkey AS pk, l_suppkey AS sk,
    CAST(l_linenumber AS BIGINT) AS ln,
    l_orderkey // 1024 + 2 AS seq, l_orderkey % 1024 AS txi,
    CASE CAST(l_linenumber AS BIGINT) % 6
      WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 8 WHEN 3 THEN 9
      WHEN 4 THEN 10 ELSE 11 END AS t
  FROM lineitem WHERE l_orderkey % 10 <> 0
),
ops AS (
  SELECT *, (seq << 32) | (txi << 12) | (ln + 1) AS op_id,
    CASE WHEN pk % 5 <> 0 THEN 'GSRC' || CAST(sk AS VARCHAR)
         ELSE 'GACC' || CAST(k % 997 AS VARCHAR) END AS src,
    CASE pk % 3 WHEN 0 THEN 'native' WHEN 1 THEN 'credit_alphanum4'
      ELSE 'credit_alphanum12' END AS a_type,
    CASE pk % 3 WHEN 1 THEN 'USD' WHEN 2 THEN 'LONGCODE' END AS a_code,
    CAST(pk * 100000 + 3 AS DOUBLE) / 10000000.0 AS amt,
    CAST((pk % 1000) * 10000000 + 5 AS DOUBLE) / 10000000.0 AS sb
  FROM base
),
eff AS (
  SELECT op_id, 0 AS idx, 'account_created' AS tstr, 0 AS tid,
    'ACC' || CAST(pk AS VARCHAR) AS addr,
    CAST(NULL AS DOUBLE) AS d_amount, CAST(NULL AS VARCHAR) AS d_asset_type,
    CAST(NULL AS VARCHAR) AS d_asset_code, sb AS d_starting_balance,
    CAST(NULL AS VARCHAR) AS d_name, CAST(NULL AS BIGINT) AS d_new_seq,
    seq, t
  FROM ops WHERE t = 0
  UNION ALL
  SELECT op_id, 1, 'account_debited', 3, src,
    sb, 'native', NULL, NULL, NULL, NULL, seq, t
  FROM ops WHERE t = 0
  UNION ALL
  SELECT op_id, 2, 'signer_created', 10, 'ACC' || CAST(pk AS VARCHAR),
    NULL, NULL, NULL, NULL, NULL, NULL, seq, t
  FROM ops WHERE t = 0
  UNION ALL
  SELECT op_id, 0, 'account_credited', 2, 'B' || CAST(sk AS VARCHAR),
    amt, a_type, a_code, NULL, NULL, NULL, seq, t
  FROM ops WHERE t = 1
  UNION ALL
  SELECT op_id, 1, 'account_debited', 3,
    CASE WHEN pk % 2 = 0 THEN 'A' || CAST(pk AS VARCHAR) ELSE src END,
    amt, a_type, a_code, NULL, NULL, NULL, seq, t
  FROM ops WHERE t = 1
  UNION ALL
  SELECT op_id, 0, 'account_debited', 3, src,
    amt, 'native', NULL, NULL, NULL, NULL, seq, t
  FROM ops WHERE t = 8
  UNION ALL
  SELECT op_id, 1, 'account_credited', 2, 'B' || CAST(sk AS VARCHAR),
    amt, 'native', NULL, NULL, NULL, NULL, seq, t
  FROM ops WHERE t = 8
  UNION ALL
  SELECT op_id, 2, 'account_removed', 1, src,
    NULL, NULL, NULL, NULL, NULL, NULL, seq, t
  FROM ops WHERE t = 8
  UNION ALL
  SELECT op_id, 0, 'account_credited', 2, 'P1u' || CAST(sk AS VARCHAR),
    CAST(pk * 100 AS DOUBLE) / 10000000.0, 'native', NULL, NULL, NULL, NULL,
    seq, t
  FROM ops WHERE t = 9
  UNION ALL
  SELECT op_id, 1, 'account_credited', 2, 'P2u' || CAST(sk AS VARCHAR),
    CAST(pk * 50 + 1 AS DOUBLE) / 10000000.0, 'native', NULL, NULL, NULL, NULL,
    seq, t
  FROM ops WHERE t = 9
  UNION ALL
  SELECT op_id, 0,
    CASE WHEN pk % 2 = 0 THEN 'data_created' ELSE 'data_removed' END,
    CASE WHEN pk % 2 = 0 THEN 40 ELSE 41 END, src,
    NULL, NULL, NULL, NULL, 'k' || CAST(sk % 5 AS VARCHAR), NULL, seq, t
  FROM ops WHERE t = 10
  UNION ALL
  SELECT op_id, 0, 'sequence_bumped', 43, src,
    NULL, NULL, NULL, NULL, NULL, pk + 100, seq, t
  FROM ops WHERE t = 11
)
SELECT CAST(op_id AS VARCHAR) || '-' || CAST(idx AS VARCHAR) AS id,
  op_id AS operation_id, CAST(idx AS BIGINT) AS "index",
  CAST(tid AS BIGINT) AS type, tstr AS type_string, addr AS address,
  seq AS ledger_sequence, CAST(t AS BIGINT) AS operation_type,
  d_amount, d_asset_type, d_asset_code, d_starting_balance, d_name, d_new_seq
FROM eff
""",
    # ------------------------------------------------------------------
    "changes_accounts": f"""
WITH e AS (
  SELECT event_id AS eid, user_id AS uid,
    event_id // 500 + 2 AS seq, event_id % 3 AS ct,
    CASE WHEN event_id % 3 = 2 THEN 1 ELSE 0 END AS b
  FROM events WHERE user_id IS NOT NULL AND event_id % 4 = 0
)
SELECT
  'A' || CAST(uid AS VARCHAR) AS account_id,
  CAST((eid % 1000000000) + b AS DOUBLE) / 10000000.0 AS balance,
  eid AS sequence_number,
  eid % 10 AS num_subentries,
  eid % 4 AS num_sponsored,
  eid % 3 AS num_sponsoring,
  eid % 16 AS flags,
  'd' || CAST(uid % 100 AS VARCHAR) || '.com' AS home_domain,
  CAST(1 AS BIGINT) AS master_weight,
  eid % 3 AS threshold_low,
  CAST(2 AS BIGINT) AS threshold_medium,
  CAST(3 AS BIGINT) AS threshold_high,
  CAST(eid % 1000 AS DOUBLE) / 10000000.0 AS buying_liabilities,
  CAST(eid % 500 AS DOUBLE) / 10000000.0 AS selling_liabilities,
{_CLASSIC_CHANGE_COLS}
FROM e
""",
    # ------------------------------------------------------------------
    "changes_trustlines": f"""
WITH e AS (
  SELECT event_id AS eid, user_id AS uid,
    event_id // 500 + 2 AS seq, event_id % 3 AS ct,
    CASE WHEN event_id % 3 = 2 THEN 1 ELSE 0 END AS b,
    (event_id % 5 = 0) AS pool
  FROM events WHERE user_id IS NOT NULL AND event_id % 4 = 1
)
SELECT
  'TA' || CAST(uid AS VARCHAR) AS account_id,
  CASE WHEN pool THEN 'pool_share'
       WHEN uid % 2 = 0 THEN 'credit_alphanum4'
       ELSE 'credit_alphanum12' END AS asset_type,
  CASE WHEN NOT pool THEN
    CASE WHEN uid % 2 = 0 THEN 'USD' ELSE 'LONGCODE' END END AS asset_code,
  CASE WHEN NOT pool THEN
    CASE WHEN uid % 2 = 0 THEN 'ISS1' ELSE 'ISS2' END END AS asset_issuer,
  CASE WHEN pool THEN 'TLP' || CAST(uid % 10 AS VARCHAR) END AS liquidity_pool_id,
  CAST((eid % 1000000000) + b AS DOUBLE) / 10000000.0 AS balance,
  CAST((eid % 100000000) + 100 AS BIGINT) AS trust_line_limit,
  eid % 16 AS flags,
  CAST(eid % 1000 AS DOUBLE) / 10000000.0 AS buying_liabilities,
  CAST(eid % 500 AS DOUBLE) / 10000000.0 AS selling_liabilities,
{_CLASSIC_CHANGE_COLS}
FROM e
""",
    # ------------------------------------------------------------------
    "changes_offers": f"""
WITH e AS (
  SELECT event_id AS eid, user_id AS uid,
    event_id // 500 + 2 AS seq, event_id % 3 AS ct,
    CASE WHEN event_id % 3 = 2 THEN 1 ELSE 0 END AS b
  FROM events WHERE user_id IS NOT NULL AND event_id % 4 = 2
)
SELECT
  'SEL' || CAST(uid AS VARCHAR) AS seller_id,
  eid AS offer_id,
  CASE uid % 3 WHEN 0 THEN 'native' WHEN 1 THEN 'credit_alphanum4'
    ELSE 'credit_alphanum12' END AS selling_asset_type,
  CASE (uid + 1) % 3 WHEN 0 THEN 'native' WHEN 1 THEN 'credit_alphanum4'
    ELSE 'credit_alphanum12' END AS buying_asset_type,
  CAST((eid % 10000000) + b AS DOUBLE) / 10000000.0 AS amount,
  eid % 9 + 1 AS pricen,
  eid % 7 + 1 AS priced,
  CAST(eid % 9 + 1 AS DOUBLE) / CAST(eid % 7 + 1 AS DOUBLE) AS price,
  eid % 16 AS flags,
{_CLASSIC_CHANGE_COLS}
FROM e
""",
    # ------------------------------------------------------------------
    "changes_pools": f"""
WITH e AS (
  SELECT event_id AS eid, user_id AS uid,
    event_id // 500 + 2 AS seq, event_id % 3 AS ct,
    CASE WHEN event_id % 3 = 2 THEN 1 ELSE 0 END AS b
  FROM events WHERE user_id IS NOT NULL AND event_id % 4 = 3
)
SELECT
  'LP' || CAST(uid % 20 AS VARCHAR) AS liquidity_pool_id,
  'constant_product' AS type,
  CAST(30 AS BIGINT) AS fee,
  eid % 5 + 1 AS trustline_count,
  CAST(eid % 1000000 AS DOUBLE) / 10000000.0 AS pool_share_count,
  CASE WHEN uid % 2 = 0 THEN 'credit_alphanum4'
       ELSE 'credit_alphanum12' END AS asset_a_type,
  CAST((eid % 10000000) + b AS DOUBLE) / 10000000.0 AS asset_a_amount,
  'native' AS asset_b_type,
  CAST(eid % 1000000 AS DOUBLE) / 10000000.0 AS asset_b_amount,
{_CLASSIC_CHANGE_COLS}
FROM e
""",
    # ------------------------------------------------------------------
    "signers_weight_explode": """
WITH e AS (
  SELECT event_id AS eid, user_id AS uid,
    event_id // 500 + 2 AS seq, event_id % 3 AS ct
  FROM events WHERE user_id IS NOT NULL AND event_id % 4 = 0
),
s AS (
  -- SignerSummary(): the master key is a signer row at thresholds[0]
  -- (always 1 in the fixture, > 0 => included)
  SELECT eid, uid, seq, ct,
    'A' || CAST(uid AS VARCHAR) AS skey,
    CAST(1 AS BIGINT) AS weight, CAST(NULL AS VARCHAR) AS ssponsor
  FROM e
  UNION ALL
  SELECT eid, uid, seq, ct,
    'K' || CAST(uid % 50 AS VARCHAR) AS skey,
    CAST(eid % 7 AS BIGINT) AS weight, CAST(NULL AS VARCHAR) AS ssponsor
  FROM e
  UNION ALL
  SELECT eid, uid, seq, ct,
    'K' || CAST((uid + 1) % 50 AS VARCHAR),
    CAST(eid % 5 AS BIGINT), 'SS' || CAST(uid AS VARCHAR)
  FROM e
  UNION ALL
  SELECT eid, uid, seq, ct,
    'K' || CAST((uid + 2) % 50 AS VARCHAR),
    CAST(3 AS BIGINT), CAST(NULL AS VARCHAR)
  FROM e
),
r AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY eid ORDER BY weight, skey) - 1 AS ord
  FROM s
)
SELECT 'A' || CAST(uid AS VARCHAR) AS account_id,
  skey AS signer, weight,
  ssponsor AS sponsor,
  CAST(ord AS BIGINT) AS signer_order,
  seq AS ledger_sequence,
  'LK' || CAST(eid AS VARCHAR) AS ledger_entry_key,
  (ct = 2) AS deleted
FROM r
""",
    # ------------------------------------------------------------------
    "token_transfer_classify": """
WITH base AS (
  SELECT l_orderkey AS k, l_partkey AS pk, l_suppkey AS sk,
    CAST(l_linenumber AS BIGINT) AS ln,
    CAST(l_quantity AS BIGINT) AS qty,
    l_orderkey // 1024 + 2 AS seq, l_orderkey % 1024 AS txi,
    CAST(l_linenumber AS BIGINT) % 4 AS t4
  FROM lineitem WHERE l_orderkey % 10 <> 0
),
ops AS (
  SELECT *,
    CASE t4 WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 8 ELSE 19 END AS t,
    CASE pk % 3 WHEN 1 THEN 'USD' WHEN 2 THEN 'LONGCODE' END AS a_code,
    CASE pk % 3 WHEN 1 THEN 'ISS1' WHEN 2 THEN 'ISS2' END AS a_issuer,
    (pk % 3 = 0) AS a_native,
    COALESCE(
      CASE WHEN t4 = 1 AND k % 9 = 0
           THEN CASE pk % 3 WHEN 1 THEN 'ISS1' WHEN 2 THEN 'ISS2' END
           ELSE 'GACC' || CAST(k % 997 AS VARCHAR) END,
      'GACC' || CAST(k % 997 AS VARCHAR)) AS src,
    CASE WHEN t4 = 1 AND k % 9 = 1
         THEN CASE pk % 3 WHEN 1 THEN 'ISS1' WHEN 2 THEN 'ISS2' END
         ELSE 'GBEN' || CAST(pk % 997 AS VARCHAR) END AS body_to
  FROM base
),
cls AS (
  SELECT *,
    CASE WHEN t = 19 THEN 'clawback'
      WHEN t = 1 AND a_issuer = src
           AND NOT COALESCE(t = 1 AND a_issuer = body_to, FALSE) THEN 'mint'
      WHEN t = 1 AND a_issuer = body_to
           AND NOT COALESCE(t = 1 AND a_issuer = src, FALSE) THEN 'burn'
      ELSE 'transfer' END AS kind,
    CASE WHEN t = 19 THEN 'GHOLD' || CAST(sk % 997 AS VARCHAR)
         ELSE src END AS ev_from,
    CASE WHEN t IN (0, 8) THEN 'GNEW' || CAST(sk % 997 AS VARCHAR)
         WHEN t = 1 THEN body_to END AS ev_to,
    CASE WHEN t = 0 THEN pk * 1000 + 1
         WHEN t = 8 THEN pk * 500 + 3
         ELSE qty * 100000 + 7 END AS amt,
    CASE WHEN t IN (0, 8) THEN TRUE ELSE a_native END AS is_native_ev
  FROM ops
),
op_events AS (
  SELECT
    (seq << 32) | (txi << 12) AS transaction_id,
    (seq << 32) | (txi << 12) | (ln + 1) AS operation_id,
    md5(CAST(k AS VARCHAR)) AS transaction_hash,
    seq AS ledger_sequence,
    1704067200 + seq * 5 AS closed_at_unix,
    kind AS event_topic,
    CASE WHEN is_native_ev THEN 'native'
         ELSE (CASE WHEN LENGTH(a_code) <= 4 THEN 'credit_alphanum4'
               ELSE 'credit_alphanum12' END)
              || ':' || a_code || ':' || a_issuer END AS asset,
    CASE WHEN is_native_ev THEN 'native'
         WHEN LENGTH(a_code) <= 4 THEN 'credit_alphanum4'
         ELSE 'credit_alphanum12' END AS asset_type,
    CASE WHEN is_native_ev THEN NULL ELSE a_code END AS asset_code,
    CASE WHEN is_native_ev THEN NULL ELSE a_issuer END AS asset_issuer,
    CASE WHEN kind <> 'mint' THEN ev_from END AS from_address,
    CASE WHEN kind IN ('transfer', 'mint') THEN ev_to END AS to_address,
    CAST(amt AS VARCHAR) AS amount_raw,
    CAST(amt AS DOUBLE) / 10000000.0 AS amount
  FROM cls
),
fee_events AS (
  SELECT
    ((o_orderkey // 1024 + 2) << 32) | ((o_orderkey % 1024) << 12)
      AS transaction_id,
    CAST(NULL AS BIGINT) AS operation_id,
    md5(CAST(o_orderkey AS VARCHAR)) AS transaction_hash,
    o_orderkey // 1024 + 2 AS ledger_sequence,
    1704067200 + (o_orderkey // 1024 + 2) * 5 AS closed_at_unix,
    'fee' AS event_topic,
    'native' AS asset,
    'native' AS asset_type,
    CAST(NULL AS VARCHAR) AS asset_code,
    CAST(NULL AS VARCHAR) AS asset_issuer,
    'FEE' || CAST(o_orderkey % 997 AS VARCHAR) AS from_address,
    CAST(NULL AS VARCHAR) AS to_address,
    CAST(100 + o_orderkey % 400 AS VARCHAR) AS amount_raw,
    CAST(100 + o_orderkey % 400 AS DOUBLE) / 10000000.0 AS amount
  FROM orders
)
SELECT * FROM op_events UNION ALL SELECT * FROM fee_events
""",
}

SOROBAN_ORACLES: dict[str, str] = {
    # ------------------------------------------------------------------
    "changes_claimable_balances": f"""
WITH e AS (
  SELECT event_id AS eid, user_id AS uid,
    event_id // 500 + 2 AS seq, event_id % 3 AS ct,
    CASE WHEN event_id % 3 = 2 THEN 1 ELSE 0 END AS b
  FROM events WHERE user_id IS NOT NULL AND event_id % 5 = 0
)
SELECT
  md5('CB' || CAST(eid AS VARCHAR)) AS balance_id,
  CASE eid % 3
    WHEN 0 THEN 'CLD' || CAST(uid % 97 AS VARCHAR)
    WHEN 1 THEN 'CLD' || CAST(uid % 97 AS VARCHAR) || ',CLD' || CAST((uid + 1) % 97 AS VARCHAR)
    ELSE 'CLD' || CAST(uid % 97 AS VARCHAR) || ',CLD' || CAST((uid + 1) % 97 AS VARCHAR)
      || ',CLD' || CAST((uid + 2) % 97 AS VARCHAR)
  END AS claimants_list,
  CASE uid % 3 WHEN 0 THEN 'native' WHEN 1 THEN 'credit_alphanum4'
    ELSE 'credit_alphanum12' END AS asset_type,
  CASE uid % 3 WHEN 1 THEN 'USD' WHEN 2 THEN 'LONGCODE' END AS asset_code,
  CASE uid % 3 WHEN 1 THEN 'ISS1' WHEN 2 THEN 'ISS2' END AS asset_issuer,
  CAST((eid % 1000000000) + b AS DOUBLE) / 10000000.0 AS asset_amount,
  eid % 2 AS flags,
{_SOROBAN_CHANGE_COLS}
FROM e
""",
    # ------------------------------------------------------------------
    # SAC verification: genuine contract ids in the derived input are
    # hashlib-precomputed constants (derive.py _hashlib_sac_ids), so the
    # transform's JVM-side HashIDPreimage sha256 (contract_data.go:283-297)
    # is checked against an independent implementation; the oracle grades
    # the verified-vs-forged OUTCOME per row (DuckDB 1.0 sha256 is
    # varchar-only — it cannot hash the NUL-bearing binary preimage).  The
    # i128 balance is assembled in HUGEINT (contract_data.go:366-378).
    "changes_contract_data": f"""
WITH e AS (
  SELECT event_id AS eid, user_id AS uid,
    event_id // 500 + 2 AS seq, event_id % 3 AS ct, event_id % 4 AS sub,
    CASE WHEN event_id % 3 = 2 THEN 1 ELSE 0 END AS b
  FROM events WHERE user_id IS NOT NULL AND event_id % 5 = 1 AND event_id % 4 <> 3
), v AS (
  SELECT *,
    (uid % 5 = 0) AS is_native,
    (sub = 0) AS verified,
    (sub = 2 AND NOT (eid % 11 = 0) AND NOT (eid % 7 = 0)) AS balance_ok,
    CASE WHEN eid % 7 = 0 THEN -1 ELSE eid % 1000 END AS amt_hi,
    (eid * 31) % 1000000007 + b AS amt_lo
  FROM e
)
SELECT
  CASE WHEN sub = 2 THEN 'ScValTypeScvVec'
    ELSE 'ScValTypeScvLedgerKeyContractInstance' END AS contract_key_type,
  CASE WHEN eid % 2 = 0 THEN 'ContractDataDurabilityPersistent'
    ELSE 'ContractDataDurabilityTemporary' END AS contract_durability,
  CASE WHEN verified THEN
    CASE WHEN is_native THEN 'native' ELSE 'credit_alphanum4' END
  END AS asset_type,
  CASE WHEN verified AND NOT is_native
    THEN 'TK' || CAST(uid % 10 AS VARCHAR) END AS asset_code,
  balance_ok AS has_holder,
  CASE WHEN balance_ok THEN CAST(
    CAST(amt_hi AS HUGEINT) * 18446744073709551616 + amt_lo AS VARCHAR)
  END AS balance,
  'S0V5' || CAST(eid AS VARCHAR) AS key,
  '{{"key":' || CAST(eid AS VARCHAR) || '}}' AS key_decoded,
  'VkFM' || CAST(eid AS VARCHAR) AS val,
  '{{"val":' || CAST(eid AS VARCHAR) || '}}' AS val_decoded,
  'Q0RY' || CAST(eid AS VARCHAR) AS contract_data_xdr,
  sha256('SLK' || CAST(eid AS VARCHAR)) AS ledger_key_hash,
  to_base64(encode('SLK' || CAST(eid AS VARCHAR))) AS ledger_key_hash_base_64,
{_SOROBAN_CHANGE_COLS}
FROM v
""",
    "changes_contract_code": f"""
WITH e AS (
  SELECT event_id AS eid, user_id AS uid,
    event_id // 500 + 2 AS seq, event_id % 3 AS ct,
    CASE WHEN event_id % 3 = 2 THEN 1 ELSE 0 END AS b,
    (event_id % 2 = 1) AS v1
  FROM events WHERE user_id IS NOT NULL AND event_id % 5 = 2
)
SELECT
  md5('CH' || CAST(uid % 40 AS VARCHAR)) AS contract_code_hash,
  eid % 2 AS contract_code_ext_v,
  'V0FTTQ==' AS contract_code,
  CASE WHEN v1 THEN eid % 5000 + b END AS n_instructions,
  CASE WHEN v1 THEN eid % 300 END AS n_functions,
  CASE WHEN v1 THEN eid % 50 END AS n_globals,
  CASE WHEN v1 THEN eid % 20 END AS n_table_entries,
  CASE WHEN v1 THEN eid % 40 END AS n_types,
  CASE WHEN v1 THEN eid % 10 END AS n_data_segments,
  CASE WHEN v1 THEN eid % 8 END AS n_elem_segments,
  CASE WHEN v1 THEN eid % 30 END AS n_imports,
  CASE WHEN v1 THEN eid % 25 END AS n_exports,
  CASE WHEN v1 THEN eid % 4096 END AS n_data_segment_bytes,
  sha256('SLK' || CAST(eid AS VARCHAR)) AS ledger_key_hash,
  to_base64(encode('SLK' || CAST(eid AS VARCHAR))) AS ledger_key_hash_base_64,
{_SOROBAN_CHANGE_COLS}
FROM e
""",
    # ------------------------------------------------------------------
    "changes_config_settings": f"""
WITH e AS (
  SELECT event_id AS eid, user_id AS uid,
    event_id // 500 + 2 AS seq, event_id % 3 AS ct, event_id % 3 AS arm,
    CASE WHEN event_id % 3 = 2 THEN 1 ELSE 0 END AS b
  FROM events WHERE user_id IS NOT NULL AND event_id % 5 = 3
)
SELECT
  CAST(CASE arm WHEN 0 THEN 0 WHEN 1 THEN 6 ELSE 11 END AS BIGINT)
    AS config_setting_id,
  CASE WHEN arm = 0 THEN (eid % 65536) + b ELSE 0 END AS contract_max_size_bytes,
  CAST(0 AS BIGINT) AS ledger_max_instructions,
  CAST(0 AS BIGINT) AS tx_max_instructions,
  CAST(0 AS BIGINT) AS fee_read_1kb,
  CAST(0 AS BIGINT) AS ledger_max_tx_count,
  CASE WHEN arm = 2 THEN CAST(eid % 1000 AS VARCHAR) || ',' || CAST(eid % 1000 + 1 AS VARCHAR)
    ELSE '' END AS bucket_window_list,
  CASE WHEN arm = 1 THEN '{{"const":' || CAST(eid % 100 AS VARCHAR) || ',"linear":7}},'
    || '{{"const":' || CAST(eid % 50 AS VARCHAR) || ',"linear":9}}'
    ELSE '' END AS cpu_cost_params_list,
  '' AS mem_cost_params_list,
{_SOROBAN_CHANGE_COLS}
FROM e
""",
    # ------------------------------------------------------------------
    "changes_ttl": f"""
WITH e AS (
  SELECT event_id AS eid, user_id AS uid,
    event_id // 500 + 2 AS seq, event_id % 3 AS ct,
    CASE WHEN event_id % 3 = 2 THEN 1 ELSE 0 END AS b
  FROM events WHERE user_id IS NOT NULL AND event_id % 5 = 4
)
SELECT
  md5('TTL' || CAST(eid AS VARCHAR)) AS key_hash,
  seq + eid % 10000 + b AS live_until_ledger_seq,
{_SOROBAN_CHANGE_COLS}
FROM e
""",
    # ------------------------------------------------------------------
    "contract_events_decode": """
WITH e AS (
  SELECT event_id AS eid, user_id AS uid,
    event_id // 500 + 2 AS seq, event_id % 1024 AS txi
  FROM events WHERE user_id IS NOT NULL AND event_id % 3 = 1
)
SELECT
  (seq << 32) | (txi << 12) AS transaction_id,
  md5('EV' || CAST(eid AS VARCHAR)) AS transaction_hash,
  seq AS ledger_sequence,
  1704067200 + seq * 5 AS closed_at_unix,
  'CONTRACT' || CAST(uid % 50 AS VARCHAR) AS contract_id,
  CAST(1 AS BIGINT) AS type,
  'ContractEventTypeContract' AS type_string,
  (eid % 4 <> 0) AS in_successful_contract_call,
  (eid % 10 <> 0) AS successful,
  CASE uid % 3
    WHEN 0 THEN 'dG9w' || CAST(eid % 5 AS VARCHAR)
    WHEN 1 THEN 'dG9w' || CAST(eid % 5 AS VARCHAR) || ',dG9x' || CAST(uid % 7 AS VARCHAR)
    ELSE 'dG9w' || CAST(eid % 5 AS VARCHAR) || ',dG9x' || CAST(uid % 7 AS VARCHAR) || ',dG9y'
  END AS topics_list,
  CASE uid % 3
    WHEN 0 THEN '{"sym":"t' || CAST(eid % 5 AS VARCHAR) || '"}'
    WHEN 1 THEN '{"sym":"t' || CAST(eid % 5 AS VARCHAR) || '"},{"sym":"u' || CAST(uid % 7 AS VARCHAR) || '"}'
    ELSE '{"sym":"t' || CAST(eid % 5 AS VARCHAR) || '"},{"sym":"u' || CAST(uid % 7 AS VARCHAR) || '"},{"sym":"v"}'
  END AS topics_decoded_list,
  'RFgZ' || CAST(eid AS VARCHAR) AS data,
  '{"v":' || CAST(eid AS VARCHAR) || '}' AS data_decoded,
  'RVZY' || CAST(eid AS VARCHAR) AS contract_event_xdr
FROM e
""",
    # ------------------------------------------------------------------
    "ledger_tx_passthrough": """
WITH f AS (
  SELECT o_orderkey AS k,
    o_orderkey // 1024 + 2 AS seq, o_orderkey % 1024 AS txi
  FROM orders
)
SELECT
  seq AS ledger_sequence,
  txi AS application_order,
  md5(CAST(k AS VARCHAR)) AS transaction_hash,
  'ZW52' AS tx_envelope,
  'cmVz' AS tx_result,
  'bWV0YQ==' AS tx_meta,
  'ZmVl' AS tx_fee_meta,
  'aGlzdA==' AS tx_ledger_history,
  1704067200 + seq * 5 AS closed_at_unix
FROM f
""",
}

ENTITY_ORACLES.update(SOROBAN_ORACLES)

def _fnv_sql(expr: str) -> str:
    """FNV-64a of a VARCHAR expression re-derived in DuckDB: a HUGEINT
    list_reduce fold over the UTF-8 code points (ASCII inputs), sign-folded
    to int64 — bit-exact vs functions/hashes.py fnv64a
    (offer_normalized.go fnv.New64a)."""
    fold = (
        "list_reduce("
        "list_concat([CAST(14695981039346656037 AS HUGEINT)], "
        f"list_transform(range(1, length({expr}) + 1), "
        f"i -> CAST(ascii(substr({expr}, i, 1)) AS HUGEINT))), "
        "(h, c) -> CAST(xor(CAST(h AS UBIGINT), CAST(c AS UBIGINT)) AS HUGEINT)"
        " * 1099511628211 % 18446744073709551616)"
    )
    return (
        f"CAST(CASE WHEN {fold} >= 9223372036854775808 "
        f"THEN {fold} - 18446744073709551616 ELSE {fold} END AS BIGINT)"
    )


# shared derived-offer CTE: same modular formulas as derive.py offers
# (amount raw stroops; repr columns are the "code:issuer" forms)
_STAR_BASE = """
WITH e AS (
  SELECT event_id AS eid, user_id AS uid,
    event_id // 500 + 2 AS seq,
    CASE WHEN event_id % 3 = 2 THEN 1 ELSE 0 END AS b
  FROM events WHERE user_id IS NOT NULL AND event_id % 4 = 2
), o AS (
  SELECT seq AS ledger_sequence,
    'SEL' || CAST(uid AS VARCHAR) AS seller_id,
    eid AS offer_id,
    (eid % 10000000) + b AS amount,
    eid % 9 + 1 AS price_n,
    eid % 7 + 1 AS price_d,
    CASE uid % 3 WHEN 0 THEN 'native:' WHEN 1 THEN 'USD:ISS1'
      ELSE 'LONGCODE:ISS2' END AS sell_repr,
    CASE (uid + 1) % 3 WHEN 0 THEN 'native:' WHEN 1 THEN 'USD:ISS1'
      ELSE 'LONGCODE:ISS2' END AS buy_repr
  FROM e
), s AS (
  SELECT *,
    least(sell_repr, buy_repr) AS base_repr,
    greatest(sell_repr, buy_repr) AS counter_repr,
    least(sell_repr, buy_repr) || '/' || greatest(sell_repr, buy_repr) AS pair,
    CASE WHEN sell_repr <= buy_repr THEN 's' ELSE 'b' END AS action,
    CAST(price_n AS DOUBLE) / price_d AS price,
    CAST(amount AS DOUBLE) / 10000000.0 AS real_amount,
    printf('%d/%f/%f', offer_id,
           CAST(amount AS DOUBLE) / 10000000.0,
           CAST(price_n AS DOUBLE) / price_d) AS offer_repr
  FROM o
)
"""

STAR_ORACLES: dict[str, str] = {
    # fact_offer_events: (ledger_id, offer_instance_id) only
    # (schema.go FactOfferEvent); the instance id is FNV-64a of the
    # "%d/%f/%f" (id, REAL amount, price) preimage (extractDimOffer)
    "offer_star_fact": _STAR_BASE + f"""
SELECT
  ledger_sequence AS ledger_id,
  {_fnv_sql('offer_repr')} AS offer_instance_id
FROM s
""",
    "offer_star_dims": _STAR_BASE + f"""
SELECT
  {_fnv_sql('seller_id')} AS account_id,
  seller_id AS address
FROM (SELECT DISTINCT seller_id FROM s) _dedup(seller_id)
""",
    # dim_offers: the full DimOffer column set (schema.go:317-326) —
    # action, maker id, base/counter REAL amounts
    "offer_star_offers": _STAR_BASE + f"""
SELECT horizon_offer_id, dim_offer_id, market_id, maker_id, action,
       base_amount, counter_amount, price
FROM (
  SELECT
    offer_id AS horizon_offer_id,
    {_fnv_sql('offer_repr')} AS dim_offer_id,
    {_fnv_sql('pair')} AS market_id,
    {_fnv_sql('seller_id')} AS maker_id,
    action,
    real_amount AS base_amount,
    real_amount * price AS counter_amount,
    price,
    ROW_NUMBER() OVER (PARTITION BY {_fnv_sql('offer_repr')}
                       ORDER BY offer_id) AS rn
  FROM s
) WHERE rn = 1
""",
    # dim_markets: sorted base/counter code+issuer split (extractDimMarket)
    "offer_star_markets": _STAR_BASE + f"""
SELECT DISTINCT
  {_fnv_sql('pair')} AS market_id,
  string_split(base_repr, ':')[1] AS base_code,
  string_split(base_repr, ':')[2] AS base_issuer,
  string_split(counter_repr, ':')[1] AS counter_code,
  string_split(counter_repr, ':')[2] AS counter_issuer
FROM s
""",
}

ENTITY_ORACLES.update(STAR_ORACLES)
