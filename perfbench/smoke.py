"""Smoke test of the export benchmark itself.

    python3 perfbench/smoke.py

Checks, in about a minute on four cores:

1. the input generators are deterministic: the same seed gives
   byte-identical ledger files (both corpus shapes) and registry tables,
   and the same expected counts; another seed gives other bytes;
2. the output checks catch a dropped row and a wrong printed count, and
   the registry's oracle comparison a dropped row and a changed value;
3. one export over a two-ledger corpus passes the check end to end, and
   fails it once a row is deleted from its output;
4. ``export_transactions`` over the sparse corpus, whose ledger range
   holds ledgers without transactions, writes exactly the expected rows.

Exits 0 when every check passes.
"""

from __future__ import annotations

import contextlib
import filecmp
import io
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from corpus import build_corpus  # noqa: E402
from registry import build_tables, compare  # noqa: E402
from run import check_output, count_rows, prepare_env, stop_jvm  # noqa: E402


def _same_tree(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


def check_determinism(tmp: str) -> list[str]:
    problems = []
    for shape in ("busy", "sparse"):
        one = build_corpus(os.path.join(tmp, f"{shape}-a"), shape, 7)
        two = build_corpus(os.path.join(tmp, f"{shape}-b"), shape, 7)
        other = build_corpus(os.path.join(tmp, f"{shape}-c"), shape, 8)
        if not _same_tree(one.path, two.path):
            problems.append(f"{shape}: seed 7 twice gave different files")
        if one.manifest() != two.manifest():
            problems.append(f"{shape}: seed 7 twice gave different counts")
        if _same_tree(one.path, other.path):
            problems.append(f"{shape}: seeds 7 and 8 gave the same files")
    dirs = [os.path.join(tmp, f"tables-{s}") for s in ("a", "b", "c")]
    for d, seed in zip(dirs, (7, 7, 8)):
        build_tables(d, seed)
    if not _same_tree(dirs[0], dirs[1]):
        problems.append("registry: seed 7 twice gave different tables")
    if _same_tree(dirs[0], dirs[2]):
        problems.append("registry: seeds 7 and 8 gave the same tables")
    return problems


def check_count_check(tmp: str) -> list[str]:
    """A hand-made JSON output: the check passes on it, then must fail
    once a row is dropped or the printed count disagrees."""
    expected = {"tables": {"transactions": 3}}
    out = os.path.join(tmp, "fake")
    part = os.path.join(out, "transactions.jsonl", "part-00000.json")
    os.makedirs(os.path.dirname(part))
    with open(part, "w") as fh:
        fh.write('{"a":1}\n{"a":2}\n{"a":3}\n')
    printed = '{"rows": 3}\n'
    problems = []
    if check_output("export_transactions", out, printed, expected):
        problems.append("count check rejects a correct output")
    if not check_output("export_transactions", out, '{"rows": 2}\n', expected):
        problems.append("count check accepts a wrong printed count")
    with open(part, "w") as fh:
        fh.write('{"a":1}\n{"a":2}\n')
    if not check_output("export_transactions", out, printed, expected):
        problems.append("count check accepts a dropped row")
    return problems


def check_oracle_compare() -> list[str]:
    """The registry's comparison passes equal rows in another order and
    fails a dropped row and a changed value."""
    import pandas as pd

    rows = pd.DataFrame({"id": [1, 2, 3], "amount": [0.5, 1.5, 2.5]})
    problems = []
    if compare(rows, rows.iloc[::-1]):
        problems.append("oracle comparison rejects reordered rows")
    if not compare(rows.iloc[:-1], rows):
        problems.append("oracle comparison accepts a dropped row")
    if not compare(rows.assign(amount=[0.5, 1.5, 2.0]), rows):
        problems.append("oracle comparison accepts a changed value")
    return problems


def _export(corpus, out: str) -> str:
    from stellar_etl_spark.__main__ import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        main(["export_transactions", "--ledgers-dir", corpus.path,
              "--output", out, "--cpus", "2",
              "--start-ledger", str(corpus.start), "--end-ledger", str(corpus.end)])
    return buf.getvalue()


def check_end_to_end(tmp: str) -> list[str]:
    full = build_corpus(os.path.join(tmp, "e2e-full"), "busy", 3)
    seqs = sorted(full.per_ledger)[:2]
    corpus = full.subset(os.path.join(tmp, "e2e"), seqs)
    expected = corpus.expected(seqs)
    out = os.path.join(tmp, "e2e-out")
    printed = _export(corpus, out)
    problems = check_output("export_transactions", out, printed, expected)
    # drop the last row of one non-empty part file
    table = os.path.join(out, "transactions.jsonl")
    part = next(
        os.path.join(table, f) for f in sorted(os.listdir(table))
        if f.startswith("part-") and os.path.getsize(os.path.join(table, f))
    )
    with open(part) as fh:
        lines = fh.readlines()
    with open(part, "w") as fh:
        fh.writelines(lines[:-1])
    if count_rows(table) != expected["tables"]["transactions"] - 1:
        problems.append("row count did not see the deleted row")
    if not check_output("export_transactions", out, printed, expected):
        problems.append("end-to-end check accepts a dropped row")
    return problems


def check_empty_ledgers(tmp: str) -> list[str]:
    corpus = build_corpus(os.path.join(tmp, "sparse"), "sparse", 1)
    out = os.path.join(tmp, "sparse-out")
    try:
        printed = _export(corpus, out)
    except Exception as exc:
        cause = [ln for ln in str(exc).splitlines() if "Error" in ln][-1:]
        return ["export_transactions raises over ledgers without transactions: "
                f"{type(exc).__name__} {' '.join(cause)}"]
    return check_output("export_transactions", out, printed,
                        corpus.expected(corpus.per_ledger))


def main() -> int:
    parent = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(parent, exist_ok=True)
    work = tempfile.mkdtemp(prefix="smoke-", dir=parent)
    try:
        prepare_env(os.path.join(work, "env"), 2, trace=False)
        problems = check_determinism(work)
        problems += check_count_check(work)
        problems += check_oracle_compare()
        problems += check_end_to_end(work)
        problems += check_empty_ledgers(work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(parent)
    for p in problems:
        print(f"FAIL {p}")
    print("smoke: ok" if not problems else f"smoke: {len(problems)} failure(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
