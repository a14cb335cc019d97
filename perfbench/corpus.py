"""Seeded LedgerCloseMeta corpora for the export benchmark.

Builds one-file-per-ledger XDR directories (the layout ``--ledgers-dir``
reads) with full ``tx_processing`` — result pairs, fee changes, per-op
apply meta and Soroban events — using the package's own encoders
(``sources.xdr.encode_ledger_close_meta_v0/v1``).  Alongside the files it
returns the exact row count every export table and change entity must
have, derived from what was encoded, not from running the program.

Two shapes:

- ``busy``: few ledgers, many transactions each — payments, offers that
  cross resting offers (claim atoms), and Soroban invokes that emit SAC
  transfer events.  The busy_ledgers workload runs on it.
- ``sparse``: many ledgers with 0-2 one-op transactions each; the export
  range covers only the middle of the corpus.  The smoke test runs on it.

The operation mix and sizes are invented, not taken from pubnet
statistics; see SHAPES and the shares below for what each is meant to
stress.

The same ``(shape, seed)`` always gives byte-identical files.

    python3 perfbench/corpus.py --shape busy --seed 1 --out /tmp/ledgers
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
from collections import Counter

PASSPHRASE = "Public Global Stellar Network ; September 2015"
CHANGE_BATCH = 64  # the CLI's default --batch-size
CLOSE_TIME0 = 1_704_067_200
FIRST_SEQ = 1_000

# n_ledgers, tx per ledger (lo, hi), ops per classic tx (lo, hi), export
# range as a share of the corpus (lo, hi).  busy: enough transactions and
# operations per ledger that parsing and decoding, not per-file or per-job
# costs, dominate an export (ROADMAP item 1, parse each ledger once).
# sparse: mostly fixed costs, and ledgers without transactions.
SHAPES = {
    "busy": {"ledgers": 16, "txs": (24, 32), "ops": (1, 4), "range": (0.0, 1.0)},
    "sparse": {"ledgers": 128, "txs": (0, 2), "ops": (1, 1), "range": (0.25, 0.75)},
}

# Transaction kinds by share (invented).  Soroban invokes put contract
# events and v3 meta through the decode; offers crossing 1-3 resting offers
# give trades and removed-offer changes, whose exact counts the output check
# holds the exports to (ROADMAP item 4, no silent loss); payments give the
# account changes that compaction folds per 64-ledger batch.
SOROBAN_SHARE = 0.15
OFFER_SHARE = 0.30  # the rest are payments

# The export tables whose rows the generator predicts.
TABLES = (
    "ledgers transactions ledger_transactions operations trades contract_events"
).split()

# The change entities export_ledger_entry_changes writes (pipelines
# DEFAULT_EXPORT_TYPES).
ENTITIES = (
    "accounts account_signers trustlines offers liquidity_pools "
    "claimable_balances contract_code contract_data config_settings ttls"
).split()


def _sig() -> list[dict]:
    return [{"hint": b"\x01\x02\x03\x04", "signature": b"\xaa" * 64}]


def _account_entry(acct: bytes, balance: int, seq: int, ledger: int,
                   signer: bytes | None) -> dict:
    return {
        "last_modified_ledger": ledger,
        "type": 0,
        "data": {
            "account_id": acct,
            "balance": balance,
            "seq_num": seq,
            "num_subentries": 1 if signer else 0,
            "inflation_dest": None,
            "flags": 0,
            "home_domain": "bench.example",
            "thresholds": [1, 0, 2, 3],
            "signers": [{"key": {"type": 0, "key": signer}, "weight": 2}]
            if signer else [],
            "liabilities": None,
            "num_sponsored": None,
            "num_sponsoring": None,
            "signer_sponsoring_ids": None,
            "seq_ledger": None,
            "seq_time": None,
        },
        "sponsoring_id": None,
        "has_ext_v1": False,
    }


def _offer_entry(seller: bytes, offer_id: int, selling: dict, buying: dict,
                 amount: int, price: tuple[int, int], ledger: int) -> dict:
    return {
        "last_modified_ledger": ledger,
        "type": 2,
        "data": {
            "seller_id": seller,
            "offer_id": offer_id,
            "selling": selling,
            "buying": buying,
            "amount": amount,
            "price": price,
            "flags": 0,
        },
        "sponsoring_id": None,
        "has_ext_v1": False,
    }


class _Builder:
    """The evolving account and offer state the operations draw on."""

    def __init__(self, rng: random.Random, n_accounts: int):
        self.rng = rng
        self.accounts = [rng.randbytes(32) for _ in range(n_accounts)]
        # a third of the accounts carry one extra signer
        self.signer = {
            a: (rng.randbytes(32) if i % 3 == 0 else None)
            for i, a in enumerate(self.accounts)
        }
        self.balance = {a: 10_000_000_000 + rng.randrange(10**9) for a in self.accounts}
        self.seq = {a: (i + 1) << 32 for i, a in enumerate(self.accounts)}
        issuer = self.accounts[0]
        self.assets = [
            {"type": "native"},
            {"type": "credit_alphanum4", "code": "USD", "issuer": issuer},
            {"type": "credit_alphanum4", "code": "EUR", "issuer": issuer},
            {"type": "credit_alphanum12", "code": "BENCHTOKEN", "issuer": issuer},
        ]
        self.next_offer = 1

    # -- ledger-entry changes -------------------------------------------------
    def account_delta(self, acct: bytes, delta: int, ledger: int,
                      bump_seq: bool = False) -> list[dict]:
        """state + updated pair for one account balance change."""
        pre = _account_entry(acct, self.balance[acct], self.seq[acct],
                             ledger - 1, self.signer[acct])
        self.balance[acct] += delta
        if bump_seq:
            self.seq[acct] += 1
        post = _account_entry(acct, self.balance[acct], self.seq[acct],
                              ledger, self.signer[acct])
        return [{"change_type": 3, "entry": pre},
                {"change_type": 1, "entry": post}]

    # -- operations -----------------------------------------------------------
    def payment(self, src: bytes, ledger: int):
        rng = self.rng
        dst = rng.choice(self.accounts)
        while dst == src:
            dst = rng.choice(self.accounts)
        amount = rng.randrange(1, 500) * 100_000
        op = {
            "source": None,
            "type": 1,
            "body": {
                "destination": {"ed25519": dst, "id": None},
                "asset": self.assets[0],
                "amount": amount,
            },
        }
        res = {"code": 0, "type": 1, "inner_code": 0}
        changes = self.account_delta(src, -amount, ledger)
        changes += self.account_delta(dst, amount, ledger)
        return op, res, changes, 0, {src, dst}, set()

    def offer(self, src: bytes, ledger: int):
        """manage_sell_offer that fully crosses 1-3 resting offers; every
        crossed offer is removed (state + removed pair)."""
        rng = self.rng
        selling, buying = rng.sample(self.assets[1:], 1)[0], self.assets[0]
        atoms, changes, offer_ids = [], [], set()
        for _ in range(rng.randint(1, 3)):
            oid = self.next_offer
            self.next_offer += 1
            seller = rng.choice(self.accounts)
            sold = rng.randrange(1, 100) * 1_000_000
            price = (rng.randint(1, 9), rng.randint(1, 9))
            bought = sold * price[0] // price[1] or 1
            atoms.append({
                "atom_type": "order_book",
                "seller_id": seller,
                "offer_id": oid,
                "asset_sold": buying,
                "amount_sold": sold,
                "asset_bought": selling,
                "amount_bought": bought,
            })
            pre = _offer_entry(seller, oid, buying, selling, sold, price,
                               ledger - 1)
            changes.append({"change_type": 3, "entry": pre})
            changes.append({
                "change_type": 2,
                "key": {"type": 2, "seller_id": seller, "offer_id": oid},
            })
            offer_ids.add(oid)
        op = {
            "source": None,
            "type": 3,
            "body": {
                "selling": selling,
                "buying": buying,
                "amount": sum(a["amount_bought"] for a in atoms),
                "price": (1, 1),
                "offer_id": 0,
            },
        }
        res = {
            "code": 0, "type": 3, "inner_code": 0,
            "success": {"offers_claimed": atoms, "effect": 2, "offer": None},
        }
        return op, res, changes, len(atoms), set(), offer_ids

    def invoke(self, src: bytes):
        """One Soroban invoke emitting 1-2 SAC transfer contract events and
        one extra diagnostic event."""
        rng = self.rng
        contract = b"\x07" * 32
        events = []
        for _ in range(rng.randint(1, 2)):
            frm, to = rng.sample(self.accounts, 2)
            events.append({
                "contract_id": contract,
                "type": 1,
                "topics": [
                    {"symbol": "transfer"},
                    {"address": {"type": "account", "account_id": frm}},
                    {"address": {"type": "account", "account_id": to}},
                    {"string": b"native"},
                ],
                "data": {"i128": {"hi": 0, "lo": rng.randrange(1, 10**9)}},
            })
        diag = {
            "contract_id": contract,
            "type": 2,
            "topics": [{"symbol": "fn_call"}],
            "data": {"void": None},
        }
        op = {
            "source": None,
            "type": 24,
            "body": {
                "host_function": {
                    "invoke_contract": {
                        "contract_address": {"type": "contract", "contract_id": contract},
                        "function_name": "transfer",
                        "args": [{"bool": True}],
                    }
                },
                "auth": [],
            },
        }
        res = {"code": 0, "type": 24, "inner_code": 0,
               "return_hash": rng.randbytes(32)}
        soroban = {
            "fees": None,
            "events": events,
            "return_value": {"void": None},
            "diagnostic_events": [
                {"in_successful_contract_call": True, "event": e}
                for e in events + [diag]
            ],
        }
        return op, res, soroban, len(events)


class Corpus:
    """A written corpus: its files, export range and per-ledger tallies."""

    def __init__(self, path: str, first: int, last: int, start: int, end: int,
                 per_ledger: dict, signer_accounts: set):
        self.path = path
        self.first, self.last = first, last
        self.start, self.end = start, end
        self.per_ledger = per_ledger
        self.signer_accounts = signer_accounts

    def expected(self, seqs) -> dict:
        """Exact rows per export table and per change entity over the
        ledgers ``seqs`` that also lie in the export range."""
        counts: Counter = Counter()
        accounts, offers = set(), set()
        for seq in seqs:
            if not self.start <= seq <= self.end:
                continue
            led = self.per_ledger[seq]
            counts.update(led["counts"])
            counts["ledgers"] += 1
            batch = seq // CHANGE_BATCH
            accounts.update((batch, a) for a in led["accounts"])
            offers.update((batch, o) for o in led["offers"])
        counts["ledger_transactions"] = counts["transactions"]
        changes = {e: 0 for e in ENTITIES}
        # compaction keeps one row per (64-ledger batch, ledger key)
        changes["accounts"] = len(accounts)
        # SignerSummary: the master key (weight thresholds[0] = 1) plus the
        # account's explicit signer, if it has one
        changes["account_signers"] = sum(
            1 + (a in self.signer_accounts) for _, a in accounts
        )
        changes["offers"] = len(offers)
        tables = {t: counts[t] for t in TABLES}
        return {"tables": tables, "changes": changes}

    def subset(self, path: str, seqs) -> "Corpus":
        """Copy the files of ``seqs`` to ``path`` as a smaller corpus with
        the same export range."""
        os.makedirs(path, exist_ok=True)
        for seq in seqs:
            shutil.copyfile(os.path.join(self.path, f"{seq}.xdr"),
                            os.path.join(path, f"{seq}.xdr"))
        return Corpus(path, min(seqs), max(seqs), self.start, self.end,
                      {s: self.per_ledger[s] for s in seqs},
                      self.signer_accounts)

    def manifest(self) -> dict:
        return {
            "ledgers": [self.first, self.last],
            "range": [self.start, self.end],
            **self.expected(self.per_ledger),
        }


def build_corpus(out_dir: str, shape: str, seed: int) -> Corpus:
    """Write the corpus for ``shape`` and ``seed`` into ``out_dir``."""
    from stellar_etl_spark.sources.xdr import (
        LedgerHeader,
        encode_ledger_close_meta_v0,
        encode_ledger_close_meta_v1,
        transaction_hash,
    )

    spec = SHAPES[shape]
    rng = random.Random(f"{shape}:{seed}")
    b = _Builder(rng, n_accounts=64)
    n_ledgers = spec["ledgers"]
    first, last = FIRST_SEQ, FIRST_SEQ + n_ledgers - 1
    lo, hi = spec["range"]
    start = first + int(lo * (n_ledgers - 1))
    end = first + int(hi * (n_ledgers - 1))

    per_ledger = {}
    os.makedirs(out_dir, exist_ok=True)
    for seq in range(first, last + 1):
        counts: Counter = Counter()
        accounts, offers = set(), set()
        envs, procs = [], []
        for _ in range(rng.randint(*spec["txs"])):
            src = rng.choice(b.accounts)
            kind = rng.random()
            soroban = None
            accounts.add(src)
            if kind < SOROBAN_SHARE:
                op, res, soroban, n_ev = b.invoke(src)
                ops, results, op_changes = [op], [res], [[]]
                counts["contract_events"] += n_ev
            else:
                ops, results, op_changes = [], [], []
                for _ in range(rng.randint(*spec["ops"])):
                    make = b.offer if kind < SOROBAN_SHARE + OFFER_SHARE else b.payment
                    op, res, chg, n_atoms, acc, offs = make(src, seq)
                    ops.append(op)
                    results.append(res)
                    op_changes.append(chg)
                    accounts |= acc
                    offers |= offs
                    counts["trades"] += n_atoms
            counts["transactions"] += 1
            counts["operations"] += len(ops)
            env = {
                "type": "v1",
                "tx": {
                    "source": {"ed25519": src, "id": None},
                    "fee": 100 * len(ops),
                    "seq_num": b.seq[src] + 1,
                    "preconditions": {"time_bounds": {"min_time": 0, "max_time": 0}},
                    "memo": {"type": "text", "text": f"bench {seq}"},
                    "operations": ops,
                    "soroban_data": {
                        "footprint": {"read_only": [], "read_write": []},
                        "instructions": 100,
                        "read_bytes": 1,
                        "write_bytes": 1,
                        "resource_fee": 100,
                    } if soroban else None,
                },
                "signatures": _sig(),
            }
            fee_changes = b.account_delta(src, -100 * len(ops), seq, bump_seq=True)
            meta = {
                "version": 2,
                "tx_changes_before": [],
                "operations": [{"changes": c} for c in op_changes],
                "tx_changes_after": [],
            }
            if soroban:
                meta.update(version=3, soroban=soroban)
            procs.append({
                "result": {
                    "transaction_hash": transaction_hash(env, PASSPHRASE),
                    "result": {
                        "fee_charged": 100 * len(ops),
                        "code": 0,
                        "op_results": results,
                    },
                },
                "fee_changes": fee_changes,
                "meta": meta,
            })
            envs.append(env)
        h = LedgerHeader(
            ledger_version=21,
            close_time=CLOSE_TIME0 + 5 * (seq - FIRST_SEQ),
            ledger_seq=seq,
            total_coins=10**17,
        )
        raw = (
            encode_ledger_close_meta_v0(h, envs, tx_processing=procs)
            if seq % 2 == 0
            else encode_ledger_close_meta_v1(h, [envs], tx_processing=procs)
        )
        with open(os.path.join(out_dir, f"{seq}.xdr"), "wb") as fh:
            fh.write(raw)
        per_ledger[seq] = {"counts": counts, "accounts": accounts, "offers": offers}

    signer_accounts = {a for a, s in b.signer.items() if s is not None}
    return Corpus(out_dir, first, last, start, end, per_ledger, signer_accounts)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--shape", choices=sorted(SHAPES), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    print(json.dumps(build_corpus(args.out, args.shape, args.seed).manifest()))


if __name__ == "__main__":
    main()
