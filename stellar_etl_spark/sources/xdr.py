"""Pure-Python XDR (RFC 4506) codec for the Stellar ledger subset the
bronze path needs — no SDK dependency.

The wire format is public and simple: big-endian 4-byte-aligned primitives,
length-prefixed variable arrays, int-tagged unions (Stellar protocol XDR
definitions: Stellar-ledger.x, Stellar-transaction.x, Stellar-types.x).

Scope (reference parity target input/ledgers.go:25-83):

- ``LedgerHeader`` — full struct (every field the ledgers transform reads:
  ledgerVersion, previousLedgerHash, scpValue.closeTime, ledgerSeq,
  totalCoins, feePool, baseFee, baseReserve, maxTxSetSize, skipList, ...).
- ``LedgerCloseMeta`` V0 and V1 — the V0 ``TransactionSet`` vs V1
  ``GeneralizedTransactionSet`` normalization (ledgers.go:33-50): both
  yield the header entry plus the flat transaction-envelope list.
- ``TransactionEnvelope`` — v0 / v1 / fee-bump discriminants, muxed
  accounts, preconditions (none / time / v2), memos, and ALL 27 operation
  bodies (types 0–26: the classic set through clawback/trustline-flags
  plus the Soroban invoke_host_function / extend_footprint_ttl / restore
  arms, with their transaction-ext SorobanTransactionData).  Unknown
  operation types (>26) still raise — XDR cannot skip an unknown union
  arm, and silent misparses are worse.

The post-tx-set stream (txProcessing ledger-entry metas, results, and
upgrade metas) is decoded too — via the entry/result/meta surface in
``sources/xdr_ledger.py`` (SCVal, LedgerEntry, LedgerEntryChanges,
TransactionResult, TransactionMeta V0–V3 incl. Soroban events); the raw
bytes additionally stay byte-preserved in ``lcm_xdr``.

An encoder mirrors every decoder so tests can build real wire bytes and
round-trip them (the reference's generated Go XDR is the behavioral spec).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field


class XdrError(ValueError):
    pass


class Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def _take(self, n: int) -> bytes:
        if self.pos + n > len(self.buf):
            raise XdrError(f"truncated XDR: need {n} at {self.pos}")
        b = self.buf[self.pos : self.pos + n]
        self.pos += n
        return b

    def u32(self) -> int:
        return struct.unpack(">I", self._take(4))[0]

    def i32(self) -> int:
        return struct.unpack(">i", self._take(4))[0]

    def u64(self) -> int:
        return struct.unpack(">Q", self._take(8))[0]

    def i64(self) -> int:
        return struct.unpack(">q", self._take(8))[0]

    def bool(self) -> bool:
        v = self.u32()
        if v not in (0, 1):
            raise XdrError(f"bad bool {v}")
        return v == 1

    def opaque(self, n: int) -> bytes:
        b = self._take(n)
        pad = (-n) % 4
        if pad:
            # RFC 4506 §3: residual bytes are zero — reject nonzero padding
            # like the reference's generated Go XDR does (a nonzero pad is
            # either corruption or a parser desync; also keeps
            # decode→encode byte-canonical for round-trip checks)
            if self._take(pad) != b"\x00" * pad:
                raise XdrError(f"nonzero XDR padding at {self.pos - pad}")
        return b

    def var_opaque(self, max_len: int | None = None) -> bytes:
        n = self.u32()
        if max_len is not None and n > max_len:
            raise XdrError(f"opaque length {n} > {max_len}")
        return self.opaque(n)

    def string(self, max_len: int | None = None) -> str:
        b = self.var_opaque(max_len)
        try:
            return b.decode("utf-8")
        except UnicodeDecodeError as e:
            # corrupted bytes must surface as XdrError, never leak a
            # UnicodeDecodeError past the codec boundary
            raise XdrError(f"invalid utf-8 in XDR string: {e}") from e

    def array(self, fn, max_len: int | None = None) -> list:
        n = self.u32()
        if max_len is not None and n > max_len:
            raise XdrError(f"array length {n} > {max_len}")
        return [fn() for _ in range(n)]

    def optional(self, fn):
        return fn() if self.bool() else None

    def tail(self) -> bytes:
        b = self.buf[self.pos :]
        self.pos = len(self.buf)
        return b


class Writer:
    __slots__ = ("parts",)

    def __init__(self):
        self.parts: list[bytes] = []

    def u32(self, v: int):
        self.parts.append(struct.pack(">I", v))
        return self

    def i32(self, v: int):
        self.parts.append(struct.pack(">i", v))
        return self

    def u64(self, v: int):
        self.parts.append(struct.pack(">Q", v))
        return self

    def i64(self, v: int):
        self.parts.append(struct.pack(">q", v))
        return self

    def bool(self, v: bool):
        return self.u32(1 if v else 0)

    def opaque(self, b: bytes):
        self.parts.append(b)
        pad = (-len(b)) % 4
        if pad:
            self.parts.append(b"\x00" * pad)
        return self

    def var_opaque(self, b: bytes):
        self.u32(len(b))
        return self.opaque(b)

    def string(self, s: str):
        return self.var_opaque(s.encode("utf-8"))

    def optional(self, v, fn):
        if v is None:
            return self.bool(False)
        self.bool(True)
        fn(v)
        return self

    def bytes(self) -> bytes:
        return b"".join(self.parts)


# ---------------------------------------------------------------------------
# Stellar type subset
# ---------------------------------------------------------------------------

# CryptoKeyType (Stellar-types.x)
KEY_TYPE_ED25519 = 0
KEY_TYPE_MUXED_ED25519 = 0x100

# Mainnet network passphrase: its sha256 is the network id that prefixes
# every hashed payload (transaction_hash, contract-id preimages).
PUBLIC_PASSPHRASE = "Public Global Stellar Network ; September 2015"

# EnvelopeType (Stellar-transaction.x)
ENVELOPE_TYPE_TX_V0 = 0
ENVELOPE_TYPE_TX = 2
ENVELOPE_TYPE_TX_FEE_BUMP = 5

# MemoType
MEMO_NONE, MEMO_TEXT, MEMO_ID, MEMO_HASH, MEMO_RETURN = range(5)

# AssetType
ASSET_NATIVE, ASSET_ALPHANUM4, ASSET_ALPHANUM12 = range(3)

# PreconditionType
PRECOND_NONE, PRECOND_TIME, PRECOND_V2 = range(3)


def read_account_id(r: Reader) -> bytes:
    kt = r.u32()
    if kt != KEY_TYPE_ED25519:
        raise XdrError(f"unsupported PublicKey type {kt}")
    return r.opaque(32)


def write_account_id(w: Writer, ed25519: bytes):
    w.u32(KEY_TYPE_ED25519).opaque(ed25519)


def read_muxed_account(r: Reader) -> dict:
    kt = r.u32()
    if kt == KEY_TYPE_ED25519:
        return {"ed25519": r.opaque(32), "id": None}
    if kt == KEY_TYPE_MUXED_ED25519:
        mid = r.u64()
        return {"ed25519": r.opaque(32), "id": mid}
    raise XdrError(f"unsupported MuxedAccount type {kt}")


def write_muxed_account(w: Writer, m: dict):
    if m.get("id") is None:
        w.u32(KEY_TYPE_ED25519).opaque(m["ed25519"])
    else:
        w.u32(KEY_TYPE_MUXED_ED25519).u64(m["id"]).opaque(m["ed25519"])


def _asset_code_str(code: bytes) -> str:
    """NUL-stripped asset code; corrupt (non-utf-8) bytes raise XdrError —
    the codec's only allowed failure type (valid codes are ASCII per
    SEP-11; the decode is the corruption tripwire)."""
    try:
        return code.rstrip(b"\x00").decode()
    except UnicodeDecodeError as e:
        raise XdrError(f"invalid asset code bytes: {e}") from e


def read_asset(r: Reader) -> dict:
    t = r.u32()
    if t == ASSET_NATIVE:
        return {"type": "native"}
    if t == ASSET_ALPHANUM4:
        code = r.opaque(4)
        return {
            "type": "credit_alphanum4",
            "code": _asset_code_str(code),
            "issuer": read_account_id(r),
        }
    if t == ASSET_ALPHANUM12:
        code = r.opaque(12)
        return {
            "type": "credit_alphanum12",
            "code": _asset_code_str(code),
            "issuer": read_account_id(r),
        }
    raise XdrError(f"unsupported asset type {t}")


def write_asset(w: Writer, a: dict):
    if a["type"] == "native":
        w.u32(ASSET_NATIVE)
        return
    n = 4 if a["type"] == "credit_alphanum4" else 12
    w.u32(ASSET_ALPHANUM4 if n == 4 else ASSET_ALPHANUM12)
    w.opaque(a["code"].encode().ljust(n, b"\x00"))
    write_account_id(w, a["issuer"])


def read_price(r: Reader) -> tuple[int, int]:
    return r.i32(), r.i32()


# --- operation bodies (operation union, Stellar-transaction.x) -------------

OP_CREATE_ACCOUNT = 0
OP_PAYMENT = 1
OP_PATH_PAYMENT_STRICT_RECEIVE = 2
OP_MANAGE_SELL_OFFER = 3
OP_CREATE_PASSIVE_SELL_OFFER = 4
OP_SET_OPTIONS = 5
OP_CHANGE_TRUST = 6
OP_ALLOW_TRUST = 7
OP_ACCOUNT_MERGE = 8
OP_INFLATION = 9
OP_MANAGE_DATA = 10
OP_BUMP_SEQUENCE = 11
OP_MANAGE_BUY_OFFER = 12
OP_PATH_PAYMENT_STRICT_SEND = 13
OP_CREATE_CLAIMABLE_BALANCE = 14
OP_CLAIM_CLAIMABLE_BALANCE = 15
OP_BEGIN_SPONSORING = 16
OP_END_SPONSORING = 17
OP_REVOKE_SPONSORSHIP = 18
OP_CLAWBACK = 19
OP_CLAWBACK_CLAIMABLE_BALANCE = 20
OP_SET_TRUST_LINE_FLAGS = 21
OP_LIQUIDITY_POOL_DEPOSIT = 22
OP_LIQUIDITY_POOL_WITHDRAW = 23


def read_claim_predicate(r: Reader) -> dict:
    """Recursive ClaimPredicate union (Stellar-ledger-entries.x)."""
    t = r.u32()
    if t == 0:
        return {"type": "unconditional"}
    if t == 1:
        return {"type": "and", "preds": r.array(lambda: read_claim_predicate(r), 2)}
    if t == 2:
        return {"type": "or", "preds": r.array(lambda: read_claim_predicate(r), 2)}
    if t == 3:
        return {"type": "not", "pred": r.optional(lambda: read_claim_predicate(r))}
    if t == 4:
        return {"type": "before_absolute_time", "abs_before": r.i64()}
    if t == 5:
        return {"type": "before_relative_time", "rel_before": r.i64()}
    raise XdrError(f"bad ClaimPredicate type {t}")


def write_claim_predicate(w: Writer, p: dict):
    t = p["type"]
    if t == "unconditional":
        w.u32(0)
    elif t in ("and", "or"):
        w.u32(1 if t == "and" else 2)
        w.u32(len(p["preds"]))
        for q in p["preds"]:
            write_claim_predicate(w, q)
    elif t == "not":
        w.u32(3)
        w.optional(p["pred"], lambda q: write_claim_predicate(w, q))
    elif t == "before_absolute_time":
        w.u32(4).i64(p["abs_before"])
    elif t == "before_relative_time":
        w.u32(5).i64(p["rel_before"])
    else:
        raise XdrError(f"bad ClaimPredicate type {t}")


def read_claimant(r: Reader) -> dict:
    v = r.u32()
    if v != 0:
        raise XdrError(f"bad Claimant version {v}")
    return {
        "destination": read_account_id(r),
        "predicate": read_claim_predicate(r),
    }


def write_claimant(w: Writer, c: dict):
    w.u32(0)
    write_account_id(w, c["destination"])
    write_claim_predicate(w, c["predicate"])


def read_claimable_balance_id(r: Reader) -> bytes:
    v = r.u32()
    if v != 0:  # CLAIMABLE_BALANCE_ID_TYPE_V0
        raise XdrError(f"bad ClaimableBalanceID type {v}")
    return r.opaque(32)


def _read_signer_key(r: Reader) -> dict:
    t = r.u32()
    if t in (0, 1, 2):  # ed25519 / pre-auth-tx / hash-x
        return {"type": t, "key": r.opaque(32)}
    raise XdrError(f"unsupported SignerKey type {t}")


def read_operation(r: Reader) -> dict:
    source = r.optional(lambda: read_muxed_account(r))
    t = r.u32()
    body: dict = {}
    if t == OP_CREATE_ACCOUNT:
        body = {"destination": read_account_id(r), "starting_balance": r.i64()}
    elif t == OP_PAYMENT:
        body = {
            "destination": read_muxed_account(r),
            "asset": read_asset(r),
            "amount": r.i64(),
        }
    elif t in (OP_PATH_PAYMENT_STRICT_RECEIVE, OP_PATH_PAYMENT_STRICT_SEND):
        body = {
            "send_asset": read_asset(r),
            "send_amount": r.i64(),
            "destination": read_muxed_account(r),
            "dest_asset": read_asset(r),
            "dest_amount": r.i64(),
            "path": r.array(lambda: read_asset(r), 5),
        }
    elif t in (OP_MANAGE_SELL_OFFER, OP_MANAGE_BUY_OFFER):
        body = {
            "selling": read_asset(r),
            "buying": read_asset(r),
            "amount": r.i64(),
            "price": read_price(r),
            "offer_id": r.i64(),
        }
    elif t == OP_CREATE_PASSIVE_SELL_OFFER:
        body = {
            "selling": read_asset(r),
            "buying": read_asset(r),
            "amount": r.i64(),
            "price": read_price(r),
        }
    elif t == OP_SET_OPTIONS:
        body = {
            "inflation_dest": r.optional(lambda: read_account_id(r)),
            "clear_flags": r.optional(r.u32),
            "set_flags": r.optional(r.u32),
            "master_weight": r.optional(r.u32),
            "low_threshold": r.optional(r.u32),
            "med_threshold": r.optional(r.u32),
            "high_threshold": r.optional(r.u32),
            "home_domain": r.optional(lambda: r.string(32)),
            "signer": r.optional(
                lambda: {"key": _read_signer_key(r), "weight": r.u32()}
            ),
        }
    elif t == OP_CHANGE_TRUST:
        # ChangeTrustAsset: Asset tags + pool-share(3) constant-product params
        tag = r.u32()
        if tag == 3:
            lp_t = r.u32()
            if lp_t != 0:  # LIQUIDITY_POOL_CONSTANT_PRODUCT
                raise XdrError(f"bad LiquidityPoolType {lp_t}")
            line = {
                "type": "pool_share",
                "asset_a": read_asset(r),
                "asset_b": read_asset(r),
                "fee": r.i32(),
            }
        else:
            r.pos -= 4
            line = read_asset(r)
        body = {"line": line, "limit": r.i64()}
    elif t == OP_ALLOW_TRUST:
        trustor = read_account_id(r)
        at = r.u32()
        if at not in (ASSET_ALPHANUM4, ASSET_ALPHANUM12):
            # AllowTrustOpAsset union has no native arm
            raise XdrError(f"bad AllowTrust asset type {at}")
        code = r.opaque(4 if at == ASSET_ALPHANUM4 else 12)
        body = {
            "trustor": trustor,
            "asset_code": _asset_code_str(code),
            "authorize": r.u32(),
        }
    elif t == OP_ACCOUNT_MERGE:
        body = {"destination": read_muxed_account(r)}
    elif t == OP_INFLATION:
        body = {}
    elif t == OP_MANAGE_DATA:
        body = {
            "data_name": r.string(64),
            "data_value": r.optional(lambda: r.var_opaque(64)),
        }
    elif t == OP_BUMP_SEQUENCE:
        body = {"bump_to": r.i64()}
    elif t == OP_CREATE_CLAIMABLE_BALANCE:
        body = {
            "asset": read_asset(r),
            "amount": r.i64(),
            "claimants": r.array(lambda: read_claimant(r), 10),
        }
    elif t == OP_CLAIM_CLAIMABLE_BALANCE:
        body = {"balance_id": read_claimable_balance_id(r)}
    elif t == OP_BEGIN_SPONSORING:
        body = {"sponsored_id": read_account_id(r)}
    elif t == OP_END_SPONSORING:
        body = {}
    elif t == OP_REVOKE_SPONSORSHIP:
        from stellar_etl_spark.sources.xdr_ledger import (
            read_ledger_key,
            read_signer_key,
        )

        rt = r.u32()
        if rt == 0:  # LEDGER_ENTRY
            body = {"ledger_key": read_ledger_key(r)}
        elif rt == 1:  # SIGNER
            body = {
                "signer_account_id": read_account_id(r),
                "signer_key": read_signer_key(r),
            }
        else:
            raise XdrError(f"bad RevokeSponsorship type {rt}")
    elif t == OP_CLAWBACK:
        body = {
            "asset": read_asset(r),
            "from": read_muxed_account(r),
            "amount": r.i64(),
        }
    elif t == OP_CLAWBACK_CLAIMABLE_BALANCE:
        body = {"balance_id": read_claimable_balance_id(r)}
    elif t == OP_SET_TRUST_LINE_FLAGS:
        body = {
            "trustor": read_account_id(r),
            "asset": read_asset(r),
            "clear_flags": r.u32(),
            "set_flags": r.u32(),
        }
    elif t == OP_LIQUIDITY_POOL_DEPOSIT:
        body = {
            "pool_id": r.opaque(32),
            "max_amount_a": r.i64(),
            "max_amount_b": r.i64(),
            "min_price": read_price(r),
            "max_price": read_price(r),
        }
    elif t == OP_LIQUIDITY_POOL_WITHDRAW:
        body = {
            "pool_id": r.opaque(32),
            "amount": r.i64(),
            "min_amount_a": r.i64(),
            "min_amount_b": r.i64(),
        }
    elif t == OP_INVOKE_HOST_FUNCTION:
        body = {
            "host_function": _read_host_function(r),
            "auth": r.array(lambda: _read_soroban_auth_entry(r)),
        }
    elif t == OP_EXTEND_FOOTPRINT_TTL:
        ep = r.u32()
        if ep != 0:
            raise XdrError(f"bad ExtensionPoint {ep}")
        body = {"extend_to": r.u32()}
    elif t == OP_RESTORE_FOOTPRINT:
        ep = r.u32()
        if ep != 0:
            raise XdrError(f"bad ExtensionPoint {ep}")
        body = {}
    else:
        raise XdrError(f"unsupported operation type {t}")
    return {"source": source, "type": t, "body": body}


OP_INVOKE_HOST_FUNCTION = 24
OP_EXTEND_FOOTPRINT_TTL = 25
OP_RESTORE_FOOTPRINT = 26


def _read_invoke_contract_args(r: Reader) -> dict:
    from stellar_etl_spark.sources.xdr_ledger import read_sc_address, read_sc_val

    return {
        "contract_address": read_sc_address(r),
        "function_name": r.string(32),
        "args": r.array(lambda: read_sc_val(r)),
    }


def _write_invoke_contract_args(w: Writer, a: dict):
    from stellar_etl_spark.sources.xdr_ledger import (
        write_sc_address,
        write_sc_val,
    )

    write_sc_address(w, a["contract_address"])
    w.string(a["function_name"])
    w.u32(len(a["args"]))
    for v in a["args"]:
        write_sc_val(w, v)


def _read_create_contract_args(r: Reader, v2: bool) -> dict:
    from stellar_etl_spark.sources.xdr_ledger import read_sc_address, read_sc_val

    pt = r.u32()
    if pt == 0:  # from address
        preimage = {"address": read_sc_address(r), "salt": r.opaque(32)}
    elif pt == 1:  # from asset
        preimage = {"asset": read_asset(r)}
    else:
        raise XdrError(f"bad ContractIDPreimage type {pt}")
    ex = r.u32()
    if ex == 0:
        executable = {"wasm_hash": r.opaque(32)}
    elif ex == 1:
        executable = {"stellar_asset": None}
    else:
        raise XdrError(f"bad ContractExecutable {ex}")
    out = {"preimage": preimage, "executable": executable}
    if v2:
        out["constructor_args"] = r.array(lambda: read_sc_val(r))
    return out


def _write_create_contract_args(w: Writer, a: dict, v2: bool):
    from stellar_etl_spark.sources.xdr_ledger import (
        write_sc_address,
        write_sc_val,
    )

    pre = a["preimage"]
    if "asset" in pre:
        w.u32(1)
        write_asset(w, pre["asset"])
    else:
        w.u32(0)
        write_sc_address(w, pre["address"])
        w.opaque(pre["salt"])
    if "wasm_hash" in a["executable"]:
        w.u32(0).opaque(a["executable"]["wasm_hash"])
    else:
        w.u32(1)
    if v2:
        w.u32(len(a["constructor_args"]))
        for v in a["constructor_args"]:
            write_sc_val(w, v)


def _read_host_function(r: Reader) -> dict:
    t = r.u32()
    if t == 0:
        return {"invoke_contract": _read_invoke_contract_args(r)}
    if t == 1:
        return {"create_contract": _read_create_contract_args(r, v2=False)}
    if t == 2:
        return {"upload_wasm": r.var_opaque()}
    if t == 3:
        return {"create_contract_v2": _read_create_contract_args(r, v2=True)}
    raise XdrError(f"bad HostFunction type {t}")


def _write_host_function(w: Writer, f: dict):
    (k, v) = next(iter(f.items()))
    if k == "invoke_contract":
        w.u32(0)
        _write_invoke_contract_args(w, v)
    elif k == "create_contract":
        w.u32(1)
        _write_create_contract_args(w, v, v2=False)
    elif k == "upload_wasm":
        w.u32(2).var_opaque(v)
    elif k == "create_contract_v2":
        w.u32(3)
        _write_create_contract_args(w, v, v2=True)
    else:
        raise XdrError(f"bad HostFunction kind {k}")


# Recursion bound for the self-nesting invocation tree — same rationale as
# xdr_ledger.SC_VAL_MAX_DEPTH: a crafted blob must fail with XdrError, not
# blow the Python stack (real auth trees are a handful of levels deep).
_AUTH_INVOCATION_MAX_DEPTH = 64


def _read_soroban_authorized_invocation(r: Reader, _depth: int = 0) -> dict:
    if _depth > _AUTH_INVOCATION_MAX_DEPTH:
        raise XdrError(
            f"authorized-invocation nesting exceeds {_AUTH_INVOCATION_MAX_DEPTH}"
        )
    t = r.u32()
    if t == 0:
        fn = {"contract_fn": _read_invoke_contract_args(r)}
    elif t == 1:
        fn = {"create_contract": _read_create_contract_args(r, v2=False)}
    elif t == 2:
        fn = {"create_contract_v2": _read_create_contract_args(r, v2=True)}
    else:
        raise XdrError(f"bad SorobanAuthorizedFunction type {t}")
    subs = r.array(
        lambda: _read_soroban_authorized_invocation(r, _depth + 1)
    )
    return {"function": fn, "sub_invocations": subs}


def _write_soroban_authorized_invocation(w: Writer, inv: dict):
    (k, v) = next(iter(inv["function"].items()))
    if k == "contract_fn":
        w.u32(0)
        _write_invoke_contract_args(w, v)
    elif k == "create_contract":
        w.u32(1)
        _write_create_contract_args(w, v, v2=False)
    else:
        w.u32(2)
        _write_create_contract_args(w, v, v2=True)
    w.u32(len(inv["sub_invocations"]))
    for s in inv["sub_invocations"]:
        _write_soroban_authorized_invocation(w, s)


def _read_soroban_auth_entry(r: Reader) -> dict:
    from stellar_etl_spark.sources.xdr_ledger import read_sc_address, read_sc_val

    ct = r.u32()
    if ct == 0:  # source account
        creds = {"source_account": None}
    elif ct == 1:
        creds = {
            "address": read_sc_address(r),
            "nonce": r.i64(),
            "signature_expiration_ledger": r.u32(),
            "signature": read_sc_val(r),
        }
    else:
        raise XdrError(f"bad SorobanCredentials type {ct}")
    return {
        "credentials": creds,
        "root_invocation": _read_soroban_authorized_invocation(r),
    }


def _write_soroban_auth_entry(w: Writer, e: dict):
    from stellar_etl_spark.sources.xdr_ledger import (
        write_sc_address,
        write_sc_val,
    )

    c = e["credentials"]
    if "source_account" in c:
        w.u32(0)
    else:
        w.u32(1)
        write_sc_address(w, c["address"])
        w.i64(c["nonce"]).u32(c["signature_expiration_ledger"])
        write_sc_val(w, c["signature"])
    _write_soroban_authorized_invocation(w, e["root_invocation"])


def write_operation(w: Writer, op: dict):
    w.optional(op.get("source"), lambda m: write_muxed_account(w, m))
    t = op["type"]
    w.u32(t)
    b = op["body"]
    if t == OP_CREATE_ACCOUNT:
        write_account_id(w, b["destination"])
        w.i64(b["starting_balance"])
    elif t == OP_PAYMENT:
        write_muxed_account(w, b["destination"])
        write_asset(w, b["asset"])
        w.i64(b["amount"])
    elif t in (OP_PATH_PAYMENT_STRICT_RECEIVE, OP_PATH_PAYMENT_STRICT_SEND):
        write_asset(w, b["send_asset"])
        w.i64(b["send_amount"])
        write_muxed_account(w, b["destination"])
        write_asset(w, b["dest_asset"])
        w.i64(b["dest_amount"])
        w.u32(len(b["path"]))
        for a in b["path"]:
            write_asset(w, a)
    elif t in (OP_MANAGE_SELL_OFFER, OP_MANAGE_BUY_OFFER):
        write_asset(w, b["selling"])
        write_asset(w, b["buying"])
        w.i64(b["amount"])
        w.i32(b["price"][0]).i32(b["price"][1])
        w.i64(b["offer_id"])
    elif t == OP_CREATE_PASSIVE_SELL_OFFER:
        write_asset(w, b["selling"])
        write_asset(w, b["buying"])
        w.i64(b["amount"])
        w.i32(b["price"][0]).i32(b["price"][1])
    elif t == OP_SET_OPTIONS:
        w.optional(b["inflation_dest"], lambda v: write_account_id(w, v))
        for k in (
            "clear_flags",
            "set_flags",
            "master_weight",
            "low_threshold",
            "med_threshold",
            "high_threshold",
        ):
            w.optional(b[k], w.u32)
        w.optional(b["home_domain"], w.string)
        w.optional(
            b["signer"],
            lambda s: (
                w.u32(s["key"]["type"]),
                w.opaque(s["key"]["key"]),
                w.u32(s["weight"]),
            ),
        )
    elif t == OP_CHANGE_TRUST:
        line = b["line"]
        if line.get("type") == "pool_share":
            w.u32(3).u32(0)
            write_asset(w, line["asset_a"])
            write_asset(w, line["asset_b"])
            w.i32(line["fee"])
        else:
            write_asset(w, line)
        w.i64(b["limit"])
    elif t == OP_ALLOW_TRUST:
        write_account_id(w, b["trustor"])
        n = 4 if len(b["asset_code"]) <= 4 else 12
        w.u32(ASSET_ALPHANUM4 if n == 4 else ASSET_ALPHANUM12)
        w.opaque(b["asset_code"].encode().ljust(n, b"\x00"))
        w.u32(b["authorize"])
    elif t == OP_ACCOUNT_MERGE:
        write_muxed_account(w, b["destination"])
    elif t in (OP_INFLATION, OP_END_SPONSORING):
        pass
    elif t == OP_MANAGE_DATA:
        w.string(b["data_name"])
        w.optional(b["data_value"], w.var_opaque)
    elif t == OP_BUMP_SEQUENCE:
        w.i64(b["bump_to"])
    elif t == OP_CREATE_CLAIMABLE_BALANCE:
        write_asset(w, b["asset"])
        w.i64(b["amount"])
        w.u32(len(b["claimants"]))
        for c in b["claimants"]:
            write_claimant(w, c)
    elif t in (OP_CLAIM_CLAIMABLE_BALANCE, OP_CLAWBACK_CLAIMABLE_BALANCE):
        w.u32(0).opaque(b["balance_id"])
    elif t == OP_BEGIN_SPONSORING:
        write_account_id(w, b["sponsored_id"])
    elif t == OP_REVOKE_SPONSORSHIP:
        from stellar_etl_spark.sources.xdr_ledger import (
            write_ledger_key,
            write_signer_key,
        )

        if "ledger_key" in b:
            w.u32(0)
            write_ledger_key(w, b["ledger_key"])
        else:
            w.u32(1)
            write_account_id(w, b["signer_account_id"])
            write_signer_key(w, b["signer_key"])
    elif t == OP_CLAWBACK:
        write_asset(w, b["asset"])
        write_muxed_account(w, b["from"])
        w.i64(b["amount"])
    elif t == OP_SET_TRUST_LINE_FLAGS:
        write_account_id(w, b["trustor"])
        write_asset(w, b["asset"])
        w.u32(b["clear_flags"]).u32(b["set_flags"])
    elif t == OP_LIQUIDITY_POOL_DEPOSIT:
        w.opaque(b["pool_id"])
        w.i64(b["max_amount_a"]).i64(b["max_amount_b"])
        w.i32(b["min_price"][0]).i32(b["min_price"][1])
        w.i32(b["max_price"][0]).i32(b["max_price"][1])
    elif t == OP_LIQUIDITY_POOL_WITHDRAW:
        w.opaque(b["pool_id"])
        w.i64(b["amount"]).i64(b["min_amount_a"]).i64(b["min_amount_b"])
    elif t == OP_INVOKE_HOST_FUNCTION:
        _write_host_function(w, b["host_function"])
        w.u32(len(b["auth"]))
        for e in b["auth"]:
            _write_soroban_auth_entry(w, e)
    elif t == OP_EXTEND_FOOTPRINT_TTL:
        w.u32(0).u32(b["extend_to"])
    elif t == OP_RESTORE_FOOTPRINT:
        w.u32(0)
    else:
        raise XdrError(f"unsupported operation type {t}")


# --- memo / preconditions ---------------------------------------------------


def read_memo(r: Reader) -> dict:
    t = r.u32()
    if t == MEMO_NONE:
        return {"type": "none"}
    if t == MEMO_TEXT:
        return {"type": "text", "text": r.string(28)}
    if t == MEMO_ID:
        return {"type": "id", "id": r.u64()}
    if t == MEMO_HASH:
        return {"type": "hash", "hash": r.opaque(32)}
    if t == MEMO_RETURN:
        return {"type": "return", "hash": r.opaque(32)}
    raise XdrError(f"bad memo type {t}")


def write_memo(w: Writer, m: dict):
    t = m["type"]
    if t == "none":
        w.u32(MEMO_NONE)
    elif t == "text":
        w.u32(MEMO_TEXT).string(m["text"])
    elif t == "id":
        w.u32(MEMO_ID).u64(m["id"])
    elif t == "hash":
        w.u32(MEMO_HASH).opaque(m["hash"])
    elif t == "return":
        w.u32(MEMO_RETURN).opaque(m["hash"])
    else:
        raise XdrError(f"bad memo type {t}")


def read_time_bounds(r: Reader) -> dict:
    return {"min_time": r.u64(), "max_time": r.u64()}


def read_preconditions(r: Reader) -> dict:
    t = r.u32()
    if t == PRECOND_NONE:
        return {}
    if t == PRECOND_TIME:
        return {"time_bounds": read_time_bounds(r)}
    if t == PRECOND_V2:
        return {
            "time_bounds": r.optional(lambda: read_time_bounds(r)),
            "ledger_bounds": r.optional(
                lambda: {"min_ledger": r.u32(), "max_ledger": r.u32()}
            ),
            "min_seq_num": r.optional(r.i64),
            "min_seq_age": r.u64(),
            "min_seq_ledger_gap": r.u32(),
            "extra_signers": r.array(lambda: _read_signer_key(r), 2),
        }
    raise XdrError(f"bad precondition type {t}")


def write_preconditions(w: Writer, p: dict):
    if not p:
        w.u32(PRECOND_NONE)
        return
    if set(p) == {"time_bounds"} and p["time_bounds"] is not None and "min_seq_age" not in p:
        w.u32(PRECOND_TIME)
        w.u64(p["time_bounds"]["min_time"]).u64(p["time_bounds"]["max_time"])
        return
    w.u32(PRECOND_V2)
    w.optional(
        p.get("time_bounds"),
        lambda tb: w.u64(tb["min_time"]).u64(tb["max_time"]),
    )
    w.optional(
        p.get("ledger_bounds"),
        lambda lb: w.u32(lb["min_ledger"]).u32(lb["max_ledger"]),
    )
    w.optional(p.get("min_seq_num"), w.i64)
    w.u64(p.get("min_seq_age", 0))
    w.u32(p.get("min_seq_ledger_gap", 0))
    signers = p.get("extra_signers", [])
    w.u32(len(signers))
    for s in signers:
        w.u32(s["type"]).opaque(s["key"])


def _read_signatures(r: Reader) -> list[dict]:
    return r.array(
        lambda: {"hint": r.opaque(4), "signature": r.var_opaque(64)}, 20
    )


def _write_signatures(w: Writer, sigs: list[dict]):
    w.u32(len(sigs))
    for s in sigs:
        w.opaque(s["hint"])
        w.var_opaque(s["signature"])


# --- transaction / envelope -------------------------------------------------


def read_soroban_transaction_data(r: Reader) -> dict:
    """SorobanTransactionData (Stellar-transaction.x): resource footprint +
    declared resources + the resource fee bid."""
    ep = r.u32()
    if ep != 0:
        raise XdrError(f"unsupported SorobanTransactionData ext {ep}")
    from stellar_etl_spark.sources.xdr_ledger import read_ledger_key

    read_only = r.array(lambda: read_ledger_key(r))
    read_write = r.array(lambda: read_ledger_key(r))
    return {
        "footprint": {"read_only": read_only, "read_write": read_write},
        "instructions": r.u32(),
        "read_bytes": r.u32(),
        "write_bytes": r.u32(),
        "resource_fee": r.i64(),
    }


def write_soroban_transaction_data(w: Writer, d: dict):
    from stellar_etl_spark.sources.xdr_ledger import write_ledger_key

    w.u32(0)
    for side in ("read_only", "read_write"):
        keys = d["footprint"][side]
        w.u32(len(keys))
        for k in keys:
            write_ledger_key(w, k)
    w.u32(d["instructions"]).u32(d["read_bytes"]).u32(d["write_bytes"])
    w.i64(d["resource_fee"])


def read_transaction_v1(r: Reader) -> dict:
    tx = {
        "source": read_muxed_account(r),
        "fee": r.u32(),
        "seq_num": r.i64(),
        "preconditions": read_preconditions(r),
        "memo": read_memo(r),
        "operations": r.array(lambda: read_operation(r), 100),
        "soroban_data": None,
    }
    ext = r.u32()
    if ext == 1:
        tx["soroban_data"] = read_soroban_transaction_data(r)
    elif ext != 0:
        raise XdrError(f"unsupported Transaction ext {ext}")
    return tx


def write_transaction_v1(w: Writer, tx: dict):
    write_muxed_account(w, tx["source"])
    w.u32(tx["fee"]).i64(tx["seq_num"])
    write_preconditions(w, tx["preconditions"])
    write_memo(w, tx["memo"])
    w.u32(len(tx["operations"]))
    for op in tx["operations"]:
        write_operation(w, op)
    if tx.get("soroban_data") is not None:
        w.u32(1)
        write_soroban_transaction_data(w, tx["soroban_data"])
    else:
        w.u32(0)


def transaction_hash(env: dict, network_passphrase: str) -> bytes:
    """The network transaction hash: sha256(network id ‖ envelope type ‖
    marshaled tx) — stellar-core's signature payload.  V0 envelopes hash as
    their ENVELOPE_TYPE_TX conversion (source promoted to a muxed account,
    time bounds to a TIME precondition); fee bumps hash the OUTER
    FeeBumpTransaction under ENVELOPE_TYPE_TX_FEE_BUMP."""
    import hashlib

    nid = hashlib.sha256(network_passphrase.encode()).digest()
    w = Writer()
    if env["type"] == "fee_bump":
        w.u32(ENVELOPE_TYPE_TX_FEE_BUMP)
        write_muxed_account(w, env["fee_source"])
        w.i64(env["fee"])
        w.u32(ENVELOPE_TYPE_TX)
        write_transaction_v1(w, env["inner"]["tx"])
        _write_signatures(w, env["inner"]["signatures"])
        w.u32(0)
    else:
        w.u32(ENVELOPE_TYPE_TX)
        tx = env["tx"]
        if env["type"] == "v0":
            # v0 → v1 conversion for hashing (TransactionSignaturePayload)
            write_muxed_account(w, {"ed25519": tx["source"]["ed25519"], "id": None})
            w.u32(tx["fee"]).i64(tx["seq_num"])
            tb = (tx["preconditions"] or {}).get("time_bounds")
            if tb is None:
                w.u32(PRECOND_NONE)
            else:
                w.u32(PRECOND_TIME)
                w.u64(tb["min_time"]).u64(tb["max_time"])
            write_memo(w, tx["memo"])
            w.u32(len(tx["operations"]))
            for op in tx["operations"]:
                write_operation(w, op)
            w.u32(0)
        else:
            write_transaction_v1(w, tx)
    return hashlib.sha256(nid + w.bytes()).digest()


def read_transaction_envelope(r: Reader) -> dict:
    t = r.u32()
    if t == ENVELOPE_TYPE_TX_V0:
        tx = {
            "source": {"ed25519": r.opaque(32), "id": None},
            "fee": r.u32(),
            "seq_num": r.i64(),
            "preconditions": (
                {"time_bounds": tb}
                if (tb := r.optional(lambda: read_time_bounds(r))) is not None
                else {}
            ),
            "memo": read_memo(r),
            "operations": r.array(lambda: read_operation(r), 100),
        }
        ext = r.u32()
        if ext != 0:
            raise XdrError(f"unsupported TransactionV0 ext {ext}")
        return {"type": "v0", "tx": tx, "signatures": _read_signatures(r)}
    if t == ENVELOPE_TYPE_TX:
        return {
            "type": "v1",
            "tx": read_transaction_v1(r),
            "signatures": _read_signatures(r),
        }
    if t == ENVELOPE_TYPE_TX_FEE_BUMP:
        fee_source = read_muxed_account(r)
        fee = r.i64()
        inner_t = r.u32()
        if inner_t != ENVELOPE_TYPE_TX:
            raise XdrError(f"fee-bump inner type {inner_t}")
        inner = {
            "type": "v1",
            "tx": read_transaction_v1(r),
            "signatures": _read_signatures(r),
        }
        ext = r.u32()
        if ext != 0:
            raise XdrError(f"unsupported FeeBumpTransaction ext {ext}")
        return {
            "type": "fee_bump",
            "fee_source": fee_source,
            "fee": fee,
            "inner": inner,
            "signatures": _read_signatures(r),
        }
    raise XdrError(f"unsupported envelope type {t}")


def write_transaction_envelope(w: Writer, env: dict):
    if env["type"] == "v0":
        tx = env["tx"]
        w.u32(ENVELOPE_TYPE_TX_V0)
        w.opaque(tx["source"]["ed25519"])
        w.u32(tx["fee"]).i64(tx["seq_num"])
        w.optional(
            (tx["preconditions"] or {}).get("time_bounds"),
            lambda tb: w.u64(tb["min_time"]).u64(tb["max_time"]),
        )
        write_memo(w, tx["memo"])
        w.u32(len(tx["operations"]))
        for op in tx["operations"]:
            write_operation(w, op)
        w.u32(0)
        _write_signatures(w, env["signatures"])
    elif env["type"] == "v1":
        w.u32(ENVELOPE_TYPE_TX)
        write_transaction_v1(w, env["tx"])
        _write_signatures(w, env["signatures"])
    elif env["type"] == "fee_bump":
        w.u32(ENVELOPE_TYPE_TX_FEE_BUMP)
        write_muxed_account(w, env["fee_source"])
        w.i64(env["fee"])
        w.u32(ENVELOPE_TYPE_TX)
        write_transaction_v1(w, env["inner"]["tx"])
        _write_signatures(w, env["inner"]["signatures"])
        w.u32(0)
        _write_signatures(w, env["signatures"])
    else:
        raise XdrError(f"bad envelope kind {env['type']}")


# --- ledger header / close meta --------------------------------------------


@dataclass
class LedgerHeader:
    ledger_version: int = 20
    previous_ledger_hash: bytes = b"\x00" * 32
    tx_set_hash: bytes = b"\x00" * 32
    close_time: int = 0
    upgrades: list[bytes] = field(default_factory=list)
    tx_set_result_hash: bytes = b"\x00" * 32
    bucket_list_hash: bytes = b"\x00" * 32
    ledger_seq: int = 0
    total_coins: int = 0
    fee_pool: int = 0
    inflation_seq: int = 0
    id_pool: int = 0
    base_fee: int = 100
    base_reserve: int = 5_000_000
    max_tx_set_size: int = 1000
    skip_list: tuple = (b"\x00" * 32,) * 4
    # STELLAR_VALUE_SIGNED ext: (node_id ed25519, signature) — preserved so
    # real headers re-encode byte-identically
    close_value_signature: tuple | None = None


def read_ledger_header(r: Reader) -> LedgerHeader:
    h = LedgerHeader()
    h.ledger_version = r.u32()
    h.previous_ledger_hash = r.opaque(32)
    # StellarValue
    h.tx_set_hash = r.opaque(32)
    h.close_time = r.u64()
    h.upgrades = r.array(lambda: r.var_opaque(128), 6)
    sv_ext = r.u32()
    if sv_ext == 1:  # STELLAR_VALUE_SIGNED: LedgerCloseValueSignature
        h.close_value_signature = (read_account_id(r), r.var_opaque(64))
    elif sv_ext != 0:
        raise XdrError(f"bad StellarValue ext {sv_ext}")
    h.tx_set_result_hash = r.opaque(32)
    h.bucket_list_hash = r.opaque(32)
    h.ledger_seq = r.u32()
    h.total_coins = r.i64()
    h.fee_pool = r.i64()
    h.inflation_seq = r.u32()
    h.id_pool = r.u64()
    h.base_fee = r.u32()
    h.base_reserve = r.u32()
    h.max_tx_set_size = r.u32()
    h.skip_list = tuple(r.opaque(32) for _ in range(4))
    ext = r.u32()
    if ext != 0:
        raise XdrError(f"unsupported LedgerHeader ext {ext}")
    return h


def write_ledger_header(w: Writer, h: LedgerHeader):
    w.u32(h.ledger_version)
    w.opaque(h.previous_ledger_hash)
    w.opaque(h.tx_set_hash)
    w.u64(h.close_time)
    w.u32(len(h.upgrades))
    for u in h.upgrades:
        w.var_opaque(u)
    if h.close_value_signature is None:
        w.u32(0)  # StellarValue ext BASIC
    else:
        w.u32(1)
        write_account_id(w, h.close_value_signature[0])
        w.var_opaque(h.close_value_signature[1])
    w.opaque(h.tx_set_result_hash)
    w.opaque(h.bucket_list_hash)
    w.u32(h.ledger_seq)
    w.i64(h.total_coins)
    w.i64(h.fee_pool)
    w.u32(h.inflation_seq)
    w.u64(h.id_pool)
    w.u32(h.base_fee)
    w.u32(h.base_reserve)
    w.u32(h.max_tx_set_size)
    for s in h.skip_list:
        w.opaque(s)
    w.u32(0)  # header ext


def _read_header_entry(r: Reader) -> tuple[bytes, LedgerHeader]:
    entry_hash = r.opaque(32)
    header = read_ledger_header(r)
    ext = r.u32()
    if ext != 0:
        raise XdrError(f"bad LedgerHeaderHistoryEntry ext {ext}")
    return entry_hash, header


def _write_header_entry(w: Writer, entry_hash: bytes, h: LedgerHeader):
    w.opaque(entry_hash)
    write_ledger_header(w, h)
    w.u32(0)


def read_ledger_upgrade(r: Reader) -> dict:
    """LedgerUpgrade union (Stellar-ledger.x): type discriminant + one
    arm — u32 for VERSION/BASE_FEE/MAX_TX_SET_SIZE/BASE_RESERVE/FLAGS/
    MAX_SOROBAN_TX_SET_SIZE, ConfigUpgradeSetKey (2x32 bytes) for CONFIG."""
    t = r.u32()
    if t == 6:  # LEDGER_UPGRADE_CONFIG
        return {
            "type": t,
            "contract_id": r.opaque(32),
            "content_hash": r.opaque(32),
        }
    if t in (1, 2, 3, 4, 5, 7):
        return {"type": t, "value": r.u32()}
    raise XdrError(f"unsupported LedgerUpgrade type {t}")


def write_ledger_upgrade(w: Writer, u: dict):
    w.u32(u["type"])
    if u["type"] == 6:
        w.opaque(u["contract_id"])
        w.opaque(u["content_hash"])
    else:
        w.u32(u["value"])


def parse_ledger_close_meta(raw: bytes, tx_processing: bool = True) -> dict:
    """Decode a LedgerCloseMeta V0/V1: header entry + flattened tx envelopes
    (the ledgers.go:33-50 normalization) and — when ``tx_processing`` —
    the per-tx TransactionResultMeta list (result pair + fee-meta ledger
    changes + apply meta, via sources/xdr_ledger.py).  Bytes after the
    parsed prefix (upgrades / SCP info / eviction lists) stay opaque."""
    r = Reader(raw)
    v = r.u32()
    if v == 0:
        entry_hash, header = _read_header_entry(r)
        # TransactionSet: previousLedgerHash + txs<>
        prev = r.opaque(32)
        envelopes = r.array(lambda: read_transaction_envelope(r))
    elif v == 1:
        ext = r.u32()
        if ext != 0:
            raise XdrError(f"unsupported LedgerCloseMetaExt {ext}")
        entry_hash, header = _read_header_entry(r)
        # GeneralizedTransactionSet v1: phases<TransactionPhase>
        gv = r.u32()
        if gv != 1:
            raise XdrError(f"bad GeneralizedTransactionSet v {gv}")
        prev = r.opaque(32)
        envelopes = []
        for _ in range(r.u32()):  # phases
            phase_v = r.u32()
            if phase_v != 0:
                raise XdrError(f"unsupported TransactionPhase v {phase_v}")
            for _ in range(r.u32()):  # components
                comp_t = r.u32()
                if comp_t != 0:  # TXSET_COMP_TXS_MAYBE_DISCOUNTED_FEE
                    raise XdrError(f"unsupported TxSetComponent {comp_t}")
                r.optional(r.i64)  # baseFee
                envelopes.extend(r.array(lambda: read_transaction_envelope(r)))
    else:
        raise XdrError(f"unsupported LedgerCloseMeta version {v}")

    processing = None
    upgrades_processing: list[dict] = []
    if tx_processing and r.pos < len(raw):
        from stellar_etl_spark.sources.xdr_ledger import (
            read_ledger_entry_changes,
            read_transaction_meta,
            read_transaction_result_pair,
        )

        processing = r.array(
            lambda: {
                "result": read_transaction_result_pair(r),
                "fee_changes": read_ledger_entry_changes(r),
                "meta": read_transaction_meta(r),
            }
        )
        # upgradesProcessing<UpgradeEntryMeta>: entry changes applied by
        # ledger upgrades (protocol bumps, base-fee/reserve changes,
        # Soroban config upgrades) — the reference's LedgerChangeReader
        # streams these AFTER every tx's apply meta
        # (export_ledger_entry_changes).  Absent in the synthetic test
        # encodings (stream ends after txProcessing) -> empty.
        if r.pos < len(raw):
            upgrades_processing = r.array(
                lambda: {
                    "upgrade": read_ledger_upgrade(r),
                    "changes": read_ledger_entry_changes(r),
                }
            )
    return {
        "version": v,
        "entry_hash": entry_hash,
        "header": header,
        "previous_ledger_hash_txset": prev,
        "envelopes": envelopes,
        "tx_processing": processing,
        "upgrades_processing": upgrades_processing,
        "tail": r.tail(),
    }


def _write_tx_processing(w: Writer, processing: list[dict]):
    from stellar_etl_spark.sources.xdr_ledger import (
        write_ledger_entry_changes,
        write_transaction_meta,
        write_transaction_result_pair,
    )

    w.u32(len(processing))
    for p in processing:
        write_transaction_result_pair(w, p["result"])
        write_ledger_entry_changes(w, p["fee_changes"])
        write_transaction_meta(w, p["meta"])


def _write_upgrades_processing(w: Writer, ups: list[dict]):
    from stellar_etl_spark.sources.xdr_ledger import (
        write_ledger_entry_changes,
    )

    w.u32(len(ups))
    for u in ups:
        write_ledger_upgrade(w, u["upgrade"])
        write_ledger_entry_changes(w, u["changes"])


def encode_ledger_close_meta_v0(
    header: LedgerHeader,
    envelopes: list[dict],
    entry_hash: bytes = b"\x11" * 32,
    tx_processing: list[dict] | None = None,
    tail: bytes = b"",
    upgrades_processing: list[dict] | None = None,
) -> bytes:
    w = Writer()
    w.u32(0)
    _write_header_entry(w, entry_hash, header)
    w.opaque(header.previous_ledger_hash)
    w.u32(len(envelopes))
    for e in envelopes:
        write_transaction_envelope(w, e)
    if tx_processing is not None:
        _write_tx_processing(w, tx_processing)
        _write_upgrades_processing(w, upgrades_processing or [])
    return w.bytes() + tail


def encode_ledger_close_meta_v1(
    header: LedgerHeader,
    phases: list[list[dict]],
    entry_hash: bytes = b"\x22" * 32,
    tx_processing: list[dict] | None = None,
    tail: bytes = b"",
    upgrades_processing: list[dict] | None = None,
) -> bytes:
    """V1 with one component per phase (the common shape)."""
    w = Writer()
    w.u32(1)
    w.u32(0)  # LedgerCloseMetaExt v0
    _write_header_entry(w, entry_hash, header)
    w.u32(1)  # GeneralizedTransactionSet v1
    w.opaque(header.previous_ledger_hash)
    w.u32(len(phases))
    for envs in phases:
        w.u32(0)  # TransactionPhase v0
        w.u32(1)  # one component
        w.u32(0)  # TXSET_COMP_TXS_MAYBE_DISCOUNTED_FEE
        w.u32(0)  # baseFee absent
        w.u32(len(envs))
        for e in envs:
            write_transaction_envelope(w, e)
    if tx_processing is not None:
        _write_tx_processing(w, tx_processing)
        _write_upgrades_processing(w, upgrades_processing or [])
    return w.bytes() + tail


def real_lcm_decoder(raw: bytes) -> dict:
    """Bronze decode slot (sources/bronze.py): parse the real XDR prefix and
    surface the header fields the bronze schema carries (results/meta not
    needed at this grain — silver decodes them)."""
    meta = parse_ledger_close_meta(raw, tx_processing=False)
    h = meta["header"]
    return {
        "sequence": h.ledger_seq,
        "closed_at_unix": h.close_time,
        "protocol_version": h.ledger_version,
        "tx_count": len(meta["envelopes"]),
    }
