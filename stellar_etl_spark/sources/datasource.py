"""Custom Spark Python DataSource for the ledger datastore.

The reference's default extraction path is the GCS BufferedStorageBackend:
one compressed LedgerCloseMetaBatch file per ledger, 64 000 files per
partition, prefetched by worker goroutines (reference:
internal/utils/main.go:981-1019, defaults :239-242).  The idiomatic Spark 4
equivalent is a DataSource V2 implemented with the Python DataSource API:

- **planning** happens once on the driver: list the object store, parse the
  ledger sequence from each file name, prune to the requested
  ``[start, end]`` range *before* any byte is read (the moral equivalent of
  partition pruning — the file name is the partition value);
- **reading** is distributed: files are grouped into input partitions of
  ``files_per_task`` and each Spark task opens only its group (the
  reference's ``num-workers``/``buffer-size`` prefetch ring becomes plain
  task parallelism);
- **streaming**: a ``SimpleDataSourceStreamReader`` tails the same listing
  by last-seen sequence — the reference's unbounded ``end=0`` mode
  (README.md:294-296) with exactly-once offsets tracked by Spark.

Usage::

    spark.dataSource.register(LedgerDataSource)
    df = (spark.read.format("stellar_ledgers")
          .option("path", "/data/ledgers")
          .option("start", 2).option("end", 100).load())
    stream = (spark.readStream.format("stellar_ledgers")
              .option("path", "/data/ledgers").load())

The source takes ``sequence`` from the file name and passes the file
bytes through as ``lcm_xdr``, which the silver decoders parse with the
pure-Python XDR parser.  It does not parse the header: ``closed_at``,
``protocol_version`` and ``tx_count`` come from the deterministic stand-in
``sources.bronze.fake_lcm_decoder``, not from the ledger.  The source
plumbing — schema, planning, partitioning, offsets — is real and tested.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

LEDGER_SOURCE_SCHEMA = StructType(
    [
        StructField("sequence", LongType()),
        StructField("closed_at", TimestampType()),
        StructField("protocol_version", LongType()),
        StructField("tx_count", LongType()),
        StructField("lcm_xdr", BinaryType()),
    ]
)

# Default files per input partition; small so local tests parallelize.  The
# reference reads 64 000-file partitions — at that layout one task per a few
# thousand files keeps tasks in the 100 MB..1 GB sweet spot.
DEFAULT_FILES_PER_TASK = 1000


def _list_ledger_files(path: str, start: int, end: int) -> list[tuple[int, str]]:
    """Driver-side planning: name-parse + range-prune the listing.  Returns
    ``(sequence, filepath)`` sorted by sequence.

    Listing uses the local filesystem API (a POSIX path, NFS mount or
    FUSE-mounted bucket); direct ``gs://`` URIs go through the Hadoop
    connector on the parquet/bronze path, not this source.  A missing
    directory is an EMPTY datastore, not an error — the streaming tail
    polls before the producer's first write."""
    if not os.path.isdir(path):
        return []
    out = []
    for name in os.listdir(path):
        stem = name.split(".")[0]
        if not stem.isdigit():
            continue
        seq = int(stem)
        if start <= seq <= end:
            out.append((seq, os.path.join(path, name)))
    out.sort()
    return out


def _decode_file(seq: int, filepath: str):
    """One output row from one ledger file: the sequence from the file name
    (as planned), the other header fields from the shared stand-in
    sources.bronze.fake_lcm_decoder."""
    import datetime as dt

    from stellar_etl_spark.sources.bronze import fake_lcm_decoder

    with open(filepath, "rb") as fh:
        raw = fh.read()
    d = fake_lcm_decoder(raw)
    return (
        seq,
        dt.datetime.fromtimestamp(d["closed_at_unix"], dt.timezone.utc).replace(
            tzinfo=None
        ),
        d["protocol_version"],
        d["tx_count"],
        raw,
    )


@dataclass
class LedgerFilesPartition(InputPartition):
    files: list  # list[tuple[int, str]]


class LedgerBatchReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options["path"]
        self.start = int(options.get("start", 0))
        self.end = int(options.get("end", 0)) or (1 << 31) - 1  # end=0: unbounded
        self.files_per_task = int(
            options.get("files_per_task", DEFAULT_FILES_PER_TASK)
        )

    def partitions(self):
        files = _list_ledger_files(self.path, self.start, self.end)
        if not files:
            return [LedgerFilesPartition([])]
        step = self.files_per_task
        return [
            LedgerFilesPartition(files[i : i + step])
            for i in range(0, len(files), step)
        ]

    def read(self, partition: LedgerFilesPartition):
        for seq, filepath in partition.files:
            yield _decode_file(seq, filepath)


class LedgerStreamReader(SimpleDataSourceStreamReader):
    """Tail the datastore by ledger sequence.  The offset is
    ``{"last_seq": N}``; each micro-batch reads every file with a larger
    sequence.  Spark persists offsets in the checkpoint, giving the
    unbounded mode exactly-once file delivery."""

    DEFAULT_MAX_FILES_PER_BATCH = 10_000

    def __init__(self, options: dict):
        self.path = options["path"]
        self.start = int(options.get("start", 0))
        # cap the backlog one micro-batch may claim: starting a fresh
        # stream over a years-deep datastore must not materialize every
        # file's bytes in one driver-side list (the SimpleDataSourceStream
        # protocol buffers read()'s rows on the driver) — the stream
        # catches up over several batches instead
        self.max_files_per_batch = int(
            options.get("max_files_per_batch", self.DEFAULT_MAX_FILES_PER_BATCH)
        )

    def initialOffset(self):
        return {"last_seq": self.start - 1}

    def read(self, start_offset: dict):
        last = start_offset["last_seq"]
        files = _list_ledger_files(self.path, last + 1, (1 << 31) - 1)
        files = files[: self.max_files_per_batch]
        rows = [_decode_file(seq, fp) for seq, fp in files]
        new_last = files[-1][0] if files else last
        return (iter(rows), {"last_seq": new_last})

    def readBetweenOffsets(self, start_offset: dict, end_offset: dict):
        files = _list_ledger_files(
            self.path, start_offset["last_seq"] + 1, end_offset["last_seq"]
        )
        return iter([_decode_file(seq, fp) for seq, fp in files])


class LedgerDataSource(DataSource):
    """``format("stellar_ledgers")`` — batch range scans and streaming tail
    over a one-file-per-ledger datastore directory."""

    @classmethod
    def name(cls) -> str:
        return "stellar_ledgers"

    def schema(self):
        return LEDGER_SOURCE_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return LedgerBatchReader(self.options)

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return LedgerStreamReader(self.options)

    def writer(self, schema, overwrite: bool):
        return LedgerBatchFileWriter(self.options)


def ledger_tx_udtf():
    """Python UDTF performing the ledger → transactions 1→N fan-out — the
    reference's ``LedgerTransactionReader`` loop (input/transactions.go:23)
    as a lateral table function.

    The explode-on-decoded-arrays path (``posexplode``) is the engine's
    primary shape; this UDTF is the escape hatch for *irreducibly
    procedural* decodes where the row count is unknown until the bytes are
    parsed (exactly the XDR situation).  Registered per-session::

        spark.udtf.register("ledger_txs", ledger_tx_udtf())
        spark.sql("SELECT t.* FROM bronze, LATERAL ledger_txs(sequence, lcm_xdr) t")

    Decode is the deterministic stand-in (tx_count derived from the raw
    bytes, like fake_lcm_decoder); the lateral plumbing is real.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="sequence: long, tx_index: int, tx_hash: string")
    class LedgerTxUDTF:
        def eval(self, sequence: int, lcm_xdr):
            import hashlib

            raw = bytes(lcm_xdr) if lcm_xdr is not None else b""
            n_txs = len(raw) % 16  # fake_lcm_decoder's tx_count rule
            for i in range(n_txs):
                h = hashlib.sha256(raw + i.to_bytes(4, "big")).hexdigest()
                yield (sequence, i, h)

    return LedgerTxUDTF


class LedgerBatchFileWriter(DataSourceWriter):
    """Batch writer producing the reference's ``{start}-{end}-{type}`` batch
    files (cmd/command_utils.go:105-111): each Spark task writes ONE
    newline-delimited JSON file named by the min-max ledger sequence it
    held, then the driver commit records the manifest.  Task retries are
    safe: files are staged under the task's unique id and renamed on task
    success, and an aborted attempt's stage file is ignored by the
    manifest."""

    def __init__(self, options: dict):
        self.path = options["path"]
        self.entity = options.get("entity", "ledgers")

    def write(self, iterator):
        import json as _json
        import os as _os

        from pyspark import TaskContext
        from pyspark.sql.datasource import WriterCommitMessage

        rows, lo, hi = [], None, None
        for row in iterator:
            d = row.asDict()
            seq = d.get("sequence")
            if seq is None:
                raise ValueError(
                    "LedgerBatchFileWriter requires a non-null 'sequence' "
                    "on every row: the {start}-{end} file-naming contract "
                    "is keyed by it"
                )
            lo = seq if lo is None else min(lo, seq)
            hi = seq if hi is None else max(hi, seq)
            d.pop("lcm_xdr", None)  # binary XDR stays in bronze parquet
            if "closed_at" in d and d["closed_at"] is not None:
                d["closed_at"] = d["closed_at"].isoformat()
            rows.append(d)
        if not rows:
            return WriterCommitMessage()
        _os.makedirs(self.path, exist_ok=True)
        name = f"{lo}-{hi}-{self.entity}.txt"
        # Stage under the task ATTEMPT id, then atomically rename: two
        # concurrent attempts of the same task (speculation / retry) each
        # write a distinct temp file and os.replace is atomic within a
        # filesystem, so the final {lo}-{hi}-{entity}.txt is always one
        # attempt's complete output, never an interleave.  A failed attempt
        # leaves only a dot-prefixed .tmp that commit() sweeps.
        ctx = TaskContext.get()
        attempt = ctx.taskAttemptId() if ctx is not None else _os.getpid()
        tmp = _os.path.join(self.path, f".{name}.{attempt}.tmp")
        try:
            with open(tmp, "w") as fh:
                for d in rows:
                    fh.write(_json.dumps(d, sort_keys=True) + "\n")
            _os.replace(tmp, _os.path.join(self.path, name))
        finally:
            if _os.path.exists(tmp):
                _os.unlink(tmp)
        msg = WriterCommitMessage()
        msg.file = name  # type: ignore[attr-defined]
        return msg

    def _sweep_tmp(self):
        import os as _os

        if not _os.path.isdir(self.path):
            return
        for f in _os.listdir(self.path):
            if f.startswith(".") and f.endswith(".tmp"):
                try:
                    _os.unlink(_os.path.join(self.path, f))
                except OSError:
                    pass

    def commit(self, messages):
        import os as _os

        manifest = [m.file for m in messages if getattr(m, "file", None)]
        # {lo}-{hi}-{entity} names must be task-unique: ranges overlapping
        # across tasks mean the input was NOT range-partitioned by
        # sequence, and the colliding os.replace silently discarded one
        # task's rows — fail the job loudly instead of committing a
        # manifest that lies about the output
        dupes = sorted({n for n in manifest if manifest.count(n) > 1})
        if dupes:
            raise ValueError(
                f"batch-file name collision across write tasks: {dupes[:3]} "
                "— partition the input by disjoint sequence ranges "
                "(repartitionByRange('sequence')) before writing"
            )
        _os.makedirs(self.path, exist_ok=True)
        with open(_os.path.join(self.path, "_MANIFEST"), "w") as fh:
            fh.write("\n".join(sorted(manifest)))
            if manifest:
                fh.write("\n")
        self._sweep_tmp()

    def abort(self, messages):
        # Only staged .tmp files can exist for failed attempts; the final
        # names are written by atomic rename, so there is nothing partial
        # at the final path to clean.
        self._sweep_tmp()
