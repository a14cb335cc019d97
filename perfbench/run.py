"""Export benchmark: a CLI export over a seeded ledger corpus, and the
Stellar entity-transform registry over seeded tables.

    python3 perfbench/run.py --workload busy_ledgers --seed 1 --seconds 18 --trace 0

Runs from the root of a source checkout.  One process, one client, closed
loop: the operations run one after another on ``local[N]``.

- ``busy_ledgers``: ``export_transactions`` through the CLI entry point
  ``stellar_etl_spark.__main__.main(argv)``, so dispatch, the post-write
  ``count()`` and the session restart sit inside the timed region.
- ``registry``: queries of ``stellar_etl_spark.queries.QUERIES`` (the
  entity transforms), each built, planned and run to the ``noop`` sink.

A run generates its input from ``--seed`` (perfbench/corpus.py,
perfbench/registry.py), sets up (JVM launch plus a warm-up), then
times a fixed number of passes over the workload's operations and reports
medians.  ``--seconds`` is accepted for the calling convention; the number
of passes does not depend on it, so every run measures the same positions
on the JVM's warm-up curve.
Every operation's output is checked outside its timing: exports against
the generator's exact row counts and the count the CLI printed, queries
against their DuckDB twin in ``stellar_etl_spark.oracles.ORACLES``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics (perfbench/layers.py).  The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``.  Everything the run writes lives under ``.perfbench_work/`` in
the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import io
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The export commands the ledger workload runs, in this order.
COMMANDS = ("export_transactions",)

# passes: timed passes per untraced run; the metrics are medians over
# them.  warm: how many ledger files, evenly spaced, the warm-up pass reads.
WORKLOADS = {
    "busy_ledgers": {"kind": "ledgers", "passes": 2, "warm": 2},
    "registry": {"kind": "registry", "passes": 3},
}

# A run during which the hypervisor ran something else for more than this
# share of the machine's time is flagged as measured in a noisy window.
STEAL_NOISE = 0.05


def cores() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


# -- environment -----------------------------------------------------------


def prepare_env(work: str, n: int, trace: bool) -> None:
    """Point every file Spark, the JVM and the Python workers write into
    ``work`` and give the benchmark its own SPARK_CONF_DIR."""
    conf = os.path.join(work, "conf")
    for d in ("conf", "local", "tmp", "eventlog", "parses", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as fh:
        fh.write(
            f"spark.local.dir {work}/local\n"
            f"spark.driver.defaultJavaOptions {java_opts}\n"
            # switched on per command through a JVM system property
            "spark.eventLog.enabled false\n"
            f"spark.eventLog.dir file://{work}/eventlog\n"
            "spark.eventLog.compress false\n"
            "spark.eventLog.rolling.enabled false\n"
        )
    with open(os.path.join(conf, "log4j2.properties"), "w") as fh:
        fh.write(
            "rootLogger.level = error\n"
            "rootLogger.appenderRef.stderr.ref = console\n"
            "appender.console.type = Console\n"
            "appender.console.name = console\n"
            "appender.console.target = SYSTEM_ERR\n"
            "appender.console.layout.type = PatternLayout\n"
            "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n"
        )
    path = [ROOT]
    if trace:
        path.insert(0, os.path.join(HERE, "hook"))
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(path),
        "SPARK_CONF_DIR": conf,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_WAREHOUSE_DIR": os.path.join(work, "warehouse"),
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_GRAFT_CPUS": str(n),
        "TMPDIR": os.path.join(work, "tmp"),
        "PERFBENCH_PARSE_DIR": os.path.join(work, "parses"),
        "PERFBENCH_PARSE_FLAG": os.path.join(work, "parses", "on"),
    })
    # the registry's derived-input cache writes outside the checkout
    os.environ.pop("SPARK_GRAFT_CACHE_DERIVED", None)


# -- interference probe ------------------------------------------------------


def cpu_probe(threads: int, mib: int = 128) -> float:
    """Wall ms for ``threads`` threads each hashing ``mib`` MiB.  hashlib
    drops the GIL on large buffers, so the threads really run in parallel
    and a busy neighbour on the same cores shows as a slower probe."""
    import hashlib

    buf = b"\x5a" * (1 << 20)

    def work():
        for _ in range(mib):
            hashlib.sha256(buf).digest()

    pool = [threading.Thread(target=work) for _ in range(threads)]
    t0 = time.perf_counter()
    for t in pool:
        t.start()
    for t in pool:
        t.join()
    return (time.perf_counter() - t0) * 1e3


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of the whole machine so far: steal is
    time the hypervisor ran something else while this machine wanted the
    CPU."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def interference(n: int, reps: int = 3) -> dict:
    """One probe sample: single-thread and ``n``-thread ms, each the best
    of ``reps`` so that idle cores waking up do not read as contention,
    and the parallel efficiency (1.0 when ``n`` threads cost no more than
    one)."""
    one = min(cpu_probe(1) for _ in range(reps))
    par = min(cpu_probe(n) for _ in range(reps))
    return {"one_ms": one, "par_ms": par, "efficiency": one / par}


# -- output checks ------------------------------------------------------------


def count_rows(path: str) -> int | None:
    """Rows in a Spark JSON or parquet output directory; None if absent."""
    if not os.path.isdir(path):
        return None
    import pyarrow.parquet as pq

    n = 0
    for f in glob.glob(os.path.join(path, "**", "part-*"), recursive=True):
        if f.endswith(".parquet"):
            n += pq.ParquetFile(f).metadata.num_rows
        elif f.endswith(".json"):
            with open(f, "rb") as fh:
                n += sum(1 for _ in fh)
    return n


def check_output(cmd: str, out: str, stdout: str, expected: dict) -> list[str]:
    """Problems with one command's JSON output; empty when it is correct.
    ``export_<table>`` writes ``<table>.jsonl``."""
    table = cmd.removeprefix("export_")
    want = expected["tables"][table]
    got = count_rows(os.path.join(out, f"{table}.jsonl"))
    if got is None and want == 0:
        got = 0
    problems = [] if got == want else [f"{cmd}: {got} rows written, expected {want}"]
    printed = [
        json.loads(line)["rows"] for line in stdout.splitlines()
        if line.startswith("{") and '"rows"' in line
    ]
    if printed != [got]:
        problems.append(f"{cmd}: CLI printed {printed}, {got} rows written")
    return problems


# -- the ledger workload ------------------------------------------------------


class Ledgers:
    """Export commands through the CLI over one corpus."""

    def __init__(self, work: str, n: int, log):
        self.work, self.n, self.log = work, n, log
        self.commands = COMMANDS

    def run_command(self, cmd: str, corpus) -> tuple[float, bool]:
        """Run one export through the CLI entry point and time it; then,
        untimed, check its output against ``corpus``'s expected rows."""
        from stellar_etl_spark.__main__ import main

        out = os.path.join(self.work, "out", cmd)
        argv = [cmd, "--ledgers-dir", corpus.path, "--output", out,
                "--cpus", str(self.n)]
        buf = io.StringIO()
        t0 = time.perf_counter()
        try:
            with contextlib.redirect_stdout(buf):
                main(argv)
        except (Exception, SystemExit) as exc:  # an operation failure, counted
            traceback.print_exc()
            problems = [f"{cmd}: raised {type(exc).__name__}: {exc}"]
        else:
            problems = None
        dt = time.perf_counter() - t0
        if problems is None:
            problems = check_output(cmd, out, buf.getvalue(),
                                    corpus.expected(corpus.per_ledger))
        for p in problems:
            self.log(f"CHECK FAILED {p}")
        shutil.rmtree(out, ignore_errors=True)
        return dt, not problems

    def run_pass(self, corpus) -> list:
        """One pass over the commands: [(cmd, seconds, ok)]."""
        return [(cmd, *self.run_command(cmd, corpus)) for cmd in self.commands]


def ledger_inputs(work: str, seed: int, warm_files: int):
    """The busy corpus for ``seed`` and a warm-up corpus of ``warm_files``
    of its ledgers, evenly spaced."""
    from corpus import build_corpus

    corpus = build_corpus(os.path.join(work, "corpus"), "busy", seed)
    seqs = sorted(corpus.per_ledger)
    step = len(seqs) // warm_files
    warm = corpus.subset(os.path.join(work, "warm"), seqs[step // 2::step])
    return corpus, warm


# -- statistics -----------------------------------------------------------------


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples above it; the maximum when there are fewer than eleven."""
    xs = sorted(values)
    k = len(xs) - 11
    if k < 0:
        return 100.0, xs[-1]
    return round(100.0 * (k + 1) / len(xs), 1), xs[k]


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


# -- main -------------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description="export benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "stellar_etl_spark", "__main__.py")):
        print(f"perfbench: no stellar_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    def log(msg: str) -> None:
        print(f"perfbench: {msg}", flush=True)

    from corpus import build_corpus
    from layers import jvm_peak_rss_mb, ledger_layers, query_metrics, registry_layers
    from registry import Registry, build_tables

    n = cores()
    kind = WORKLOADS[args.workload]["kind"]
    n_passes = 1 if args.trace else WORKLOADS[args.workload]["passes"]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    registry = None
    try:
        prepare_env(work, n, bool(args.trace))
        os.chdir(work)

        # load generator and interference probe: outside set-up
        t0 = time.perf_counter()
        if kind == "ledgers":
            corpus, warm = ledger_inputs(work, args.seed,
                                         WORKLOADS[args.workload]["warm"])
            log(f"corpus {json.dumps(corpus.manifest())}")
        else:
            data_dir = os.path.join(work, "tables")
            log(f"tables {json.dumps(build_tables(data_dir, args.seed))}")
        generate_s = time.perf_counter() - t0
        log(f"load generator {generate_s:.2f} s; local[{n}] of nproc {os.cpu_count()}")
        probe_before = interference(n)
        ticks_before = cpu_ticks()
        t_setup = time.perf_counter()

        # set-up: JVM launch plus a warm-up, so code generation and worker
        # start-up are paid before timing.  The registry's warm-up is a pass
        # that collects the rows for the oracle check, then one untimed pass
        # as timed: the first pass after collecting still runs ~25% slower.
        if kind == "ledgers":
            ledgers = Ledgers(work, n, log)
            warm_ops = ledgers.run_pass(warm)
        else:
            registry = Registry(data_dir, n, log)
            warm_ops = registry.collect_pass()
            warm_timed = registry.timed_pass()
        setup_s = (time.perf_counter() - t_setup) + (t0 - T_START)

        # the timed passes (one in a traced run, which then times each
        # layer)
        if kind == "ledgers":
            if args.trace:
                ops, metrics = ledger_layers(ledgers, corpus)
                passes = [ops]
                other_ops, other = registry_layers(work, n, args.seed, log)
            else:
                passes = [ledgers.run_pass(corpus) for _ in range(n_passes)]
        else:
            timed = [registry.timed_pass() for _ in range(n_passes)]
            warm_checked, *passes = registry.check([warm_timed] + timed)
            warm_ops += warm_checked
            if args.trace:
                metrics = query_metrics(timed[0][1])
                registry.stop()
                corpus = build_corpus(os.path.join(work, "corpus"), "busy", args.seed)
                other_ops, other = ledger_layers(Ledgers(work, n, log), corpus)
        pass_s = [sum(dt for _, dt, _ in p) for p in passes]
        log(f"passes {[round(s, 3) for s in pass_s]}")
        # one time per operation: its median over the passes
        per_op = {
            name: statistics.median(dt for p in passes for op, dt, _ in p if op == name)
            for name, _, _ in passes[0]
        }
        for name, dt in per_op.items():
            log(f"op {name}: {dt:.3f} s")
        if args.trace:
            # the other workload's operations count as attempted too
            warm_ops += other_ops
            metrics.update(other)
            metrics["trace.run_s"] = (pass_s[0], "s")
            metrics["jvm.peak_rss_mb"] = (jvm_peak_rss_mb(), "MB")
        else:
            pct, tail_s = tail(list(per_op.values()))
            log(f"op_tail_s is p{pct} of {len(per_op)} operations")
            metrics = {
                "setup_s": (setup_s, "s"),
                "run_s": (statistics.median(pass_s), "s"),
                "op_p50_s": (statistics.median(per_op.values()), "s"),
                "op_tail_s": (tail_s, "s"),
            }

        ops = [op for p in passes for op in p]
        ops += warm_ops
        attempted = len(ops)
        failed = sum(not ok for _, _, ok in ops)
        log(f"failed_ops_share {failed / attempted:.4f} ({failed}/{attempted}, "
            "warm-up included)")

        steal, total = (b - a for a, b in zip(ticks_before, cpu_ticks()))
        steal_share = steal / max(1, total)
        log(f"cpu steal {steal_share:.1%} of machine time during set-up and passes")
        probe_after = interference(n)
        for when, p in (("before", probe_before), ("after", probe_after)):
            log(f"interference probe {when}: 1 thread {p['one_ms']:.1f} ms, "
                f"{n} threads {p['par_ms']:.1f} ms, efficiency {p['efficiency']:.2f}")
        if steal_share > STEAL_NOISE:
            log(f"NOISY WINDOW: cpu steal above {STEAL_NOISE:.0%} during the run")
        for name, (value, unit) in metrics.items():
            log(f"{args.workload} {name} = {value:.6g} {unit}")
    finally:
        if registry is not None:
            registry.stop()
        stop_jvm()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
