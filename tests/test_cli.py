"""CLI end-to-end: raw LedgerCloseMeta XDR files -> subcommand -> JSONL,
mirroring the reference's golden CLI integration tests (cmd/*_test.go:
build the binary, run a subcommand over a ledger range, inspect output)."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def xdr_dir(tmp_path_factory):
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from bench_decode import build_ledgers

    d = tmp_path_factory.mktemp("cli_xdr")
    build_ledgers(str(d), 6)
    return str(d)


def _cli(args: list[str], **env) -> subprocess.CompletedProcess:
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", **env)
    return subprocess.run(
        [sys.executable, "-m", "stellar_etl_spark", *args],
        capture_output=True, text=True, cwd=REPO, env=env, timeout=300,
    )


def _run(args: list[str]) -> str:
    res = _cli(args)
    assert res.returncode == 0, res.stderr[-2000:]
    return res.stdout


def _printed_rows(stdout: str) -> int:
    return json.loads(stdout.strip().splitlines()[-1])["rows"]


def _rows_written(path: str) -> int:
    """Rows in one Spark JSON or parquet output directory."""
    import pyarrow.parquet as pq

    n = 0
    for f in glob.glob(os.path.join(path, "part-*")):
        if f.endswith(".parquet"):
            n += pq.ParquetFile(f).metadata.num_rows
        else:
            with open(f) as fh:
                n += sum(1 for line in fh if line.strip())
    return n


class TestCli:
    def test_export_ledgers_range_and_extra_fields(self, xdr_dir, tmp_path):
        out = _run([
            "export_ledgers", "--ledgers-dir", xdr_dir,
            "--output", str(tmp_path), "-s", "3", "-e", "5",
            "--extra-fields", "network=testnet",
        ])
        stats = json.loads(out.strip().splitlines()[-1])
        assert stats["rows"] == 3
        rows = []
        for f in glob.glob(str(tmp_path / "ledgers.jsonl" / "part-*")):
            with open(f) as fh:
                rows += [json.loads(l) for l in fh if l.strip()]
        assert {r["sequence"] for r in rows} == {3, 4, 5}
        assert all(r["network"] == "testnet" for r in rows)
        # per-ledger counts computed from the decoded tx set (5 tx x 3 ops)
        assert all(r["tx_set_operation_count"] == "15" for r in rows)

    @pytest.mark.slow
    def test_streamed_changes_equal_batch(self, xdr_dir, tmp_path):
        """--stream (unbounded end=0 mode) over the same XDR dir must
        produce the same per-entity rows as the batch subcommand — one
        code path per micro-batch (input/changes.go:162-180 parity)."""
        batch_out, stream_out = str(tmp_path / "b"), str(tmp_path / "s")
        _run([
            "export_ledger_entry_changes", "--ledgers-dir", xdr_dir,
            "--output", batch_out, "--export-types", "accounts,offers",
        ])
        _run([
            "export_ledger_entry_changes", "--stream", "--ledgers-dir",
            xdr_dir, "--output", stream_out,
            "--export-types", "accounts,offers",
        ])

        def rows(base, entity):
            out = []
            for f in glob.glob(os.path.join(base, entity, "part-*")):
                with open(f) as fh:
                    out += [json.loads(l) for l in fh if l.strip()]
            return sorted(
                out, key=lambda r: (r.get("ledger_sequence"),
                                    str(r.get("ledger_entry_key")))
            )

        for entity in ("accounts", "offers"):
            assert rows(batch_out, entity) == rows(stream_out, entity)

    @pytest.mark.slow
    def test_get_ledger_range_from_times(self, xdr_dir):
        out = _run([
            "get_ledger_range_from_times", "--ledgers-dir", xdr_dir,
            "--start-time", "1704067215", "--end-time", "1704067225",
        ])
        rng = json.loads(out.strip().splitlines()[-1])
        assert (rng["start"], rng["end"]) == (3, 5)

    @pytest.mark.slow
    def test_streamed_transactions_equal_batch(self, xdr_dir, tmp_path):
        """--stream now generalizes to every export subcommand: the
        streaming tail feeds the identical transactions pipeline per
        micro-batch (append mode), so the union of streamed batches must
        equal the batch export row-for-row."""
        batch_out, stream_out = str(tmp_path / "b"), str(tmp_path / "s")
        _run([
            "export_transactions", "--ledgers-dir", xdr_dir,
            "--output", batch_out,
        ])
        _run([
            "export_transactions", "--stream", "--ledgers-dir", xdr_dir,
            "--output", stream_out,
        ])

        def rows(base):
            out = []
            for f in glob.glob(
                os.path.join(base, "transactions.jsonl", "part-*")
            ):
                with open(f) as fh:
                    out += [json.loads(l) for l in fh if l.strip()]
            return sorted(out, key=lambda r: r["id"])

        b, s = rows(batch_out), rows(stream_out)
        assert len(b) > 0
        assert b == s


class TestCliWriteJob:
    """A table export is one write job: the printed row count is observed
    inside it (no post-write count), and silver reads the raw file bytes
    (no bronze header pass)."""

    def test_export_transactions_runs_one_job(self, xdr_dir, tmp_path):
        """Only the write: the ledger header rides on the transaction rows,
        so no ledgers broadcast runs — counted in Spark's event log of the
        CLI process."""
        logs = tmp_path / "eventlog"
        logs.mkdir()
        res = _cli(
            ["export_transactions", "--ledgers-dir", xdr_dir,
             "--output", str(tmp_path / "out")],
            PYSPARK_SUBMIT_ARGS=(
                "--conf spark.eventLog.enabled=true "
                "--conf spark.eventLog.rolling.enabled=false "
                "--conf spark.eventLog.compress=false "
                f"--conf spark.eventLog.dir=file://{logs} pyspark-shell"
            ),
        )
        assert res.returncode == 0, res.stderr[-2000:]
        (log,) = glob.glob(str(logs / "*"))
        with open(log) as fh:
            events = [json.loads(line)["Event"] for line in fh]
        assert events.count("SparkListenerJobStart") == 1

    @pytest.mark.parametrize("flag, dirs", [
        (None, ["transactions.jsonl"]),
        ("--parquet", ["transactions.parquet"]),
        ("--both", ["transactions.jsonl", "transactions.parquet"]),
    ])
    def test_printed_rows_equal_rows_written(self, xdr_dir, tmp_path,
                                             flag, dirs):
        out = _run(
            ["export_transactions", "--ledgers-dir", xdr_dir,
             "--output", str(tmp_path)] + ([flag] if flag else [])
        )
        # 6 ledgers x 5 transactions
        assert _printed_rows(out) == 30
        for d in dirs:
            assert _rows_written(str(tmp_path / d)) == 30

    def test_truncated_envelope_fails_loudly(self, xdr_dir, tmp_path):
        """The CLI decodes no bronze header first, so the silver decode
        itself must reject a ledger cut short inside its envelopes (the
        last 40 bytes sit in the final envelope's signature)."""
        import shutil

        d = tmp_path / "ledgers"
        shutil.copytree(xdr_dir, d)
        victim = d / "4.xdr"
        victim.write_bytes(victim.read_bytes()[:-40])
        res = _cli(["export_transactions", "--ledgers-dir", str(d),
                    "--output", str(tmp_path / "out")])
        assert res.returncode != 0
        assert not glob.glob(str(tmp_path / "out" / "transactions.jsonl"
                                 / "part-*"))


# Installed first on the CLI's PYTHONPATH: every Python process of the run
# (driver and Spark workers) wraps the XDR parser before sources.silver
# binds the name, and appends one byte per call to a per-process file.
_PARSE_HOOK = """
import os

if os.environ.get("PARSE_COUNT_DIR"):
    from stellar_etl_spark.sources import xdr as _xdr

    _parse = _xdr.parse_ledger_close_meta

    def parse_ledger_close_meta(raw, tx_processing=True):
        path = os.path.join(os.environ["PARSE_COUNT_DIR"], f"parses-{os.getpid()}")
        with open(path, "ab") as fh:
            fh.write(b".")
        return _parse(raw, tx_processing)

    _xdr.parse_ledger_close_meta = parse_ledger_close_meta
"""


class TestCliParsesOnce:
    """An export parses each ledger once: the header columns ride on the
    silver rows, and ``--both`` persists the frame across its two writes."""

    @pytest.mark.parametrize("args", [
        ["export_transactions"],
        ["export_trades"],
        ["export_transactions", "--both"],
    ], ids=["transactions", "trades", "transactions-both"])
    def test_one_parse_per_ledger(self, xdr_dir, tmp_path, args):
        hook, counts = tmp_path / "hook", tmp_path / "parses"
        hook.mkdir()
        counts.mkdir()
        (hook / "sitecustomize.py").write_text(_PARSE_HOOK)
        path = [str(hook), REPO, os.environ.get("PYTHONPATH", "")]
        res = _cli(
            [args[0], "--ledgers-dir", xdr_dir,
             "--output", str(tmp_path / "out"), *args[1:]],
            PYTHONPATH=os.pathsep.join(p for p in path if p),
            PARSE_COUNT_DIR=str(counts),
        )
        assert res.returncode == 0, res.stderr[-2000:]
        parses = sum(f.stat().st_size for f in counts.iterdir())
        assert parses == len(glob.glob(os.path.join(xdr_dir, "*.xdr")))


class TestMainInProcess:
    def test_main_keeps_callers_session(self, spark, xdr_dir, tmp_path,
                                        capsys):
        """``main`` called under an active session borrows it: the export
        runs, and the caller's session still runs queries afterwards."""
        from stellar_etl_spark.__main__ import main

        main(["export_transactions", "--ledgers-dir", xdr_dir,
              "--output", str(tmp_path), "--cpus", "4"])
        assert _printed_rows(capsys.readouterr().out) == 30
        assert spark.range(3).count() == 3
