"""Worker-side XDR parse counter for the traced benchmark run.

Python imports ``sitecustomize`` at interpreter start, so with this
directory first on ``PYTHONPATH`` every PySpark worker wraps
``sources.xdr.parse_ledger_close_meta`` before ``sources.silver`` binds the
name at import.  While the file named by ``PERFBENCH_PARSE_FLAG`` exists,
each call appends one byte to a per-process file in
``PERFBENCH_PARSE_DIR``.  The benchmark sums the file sizes between
commands.
"""

import os

_DIR = os.environ.get("PERFBENCH_PARSE_DIR")
_FLAG = os.environ.get("PERFBENCH_PARSE_FLAG")

if _DIR and _FLAG:
    try:
        from stellar_etl_spark.sources import xdr as _xdr
    except ImportError:  # not a worker of this program
        _xdr = None

    if _xdr is not None:
        _parse = _xdr.parse_ledger_close_meta

        def parse_ledger_close_meta(raw, tx_processing=True):
            if os.path.exists(_FLAG):
                path = os.path.join(_DIR, f"parses-{os.getpid()}")
                with open(path, "ab") as fh:
                    fh.write(b".")
            return _parse(raw, tx_processing)

        _xdr.parse_ledger_close_meta = parse_ledger_close_meta
