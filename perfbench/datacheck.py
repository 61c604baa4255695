"""Compare the benchmark's generated tables with a reference copy of the
repository's test data, file by file.

    python3 perfbench/datacheck.py <reference_dir> [sf]

``reference_dir`` holds ``<table>.parquet`` for the ten tables of
``datagen.TABLES`` at scale factor ``sf`` (default 0.1). The benchmark's own
copy (``perfbench/.data/sf<sf>``, made if missing) must be byte for byte the
same file. Prints one line per table and exits with 1 if any differs.
"""

from __future__ import annotations

import hashlib
import os
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from run import DATA_SEED  # noqa: E402


def _sha(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    ref_dir = argv[0]
    sf = float(argv[1]) if len(argv) > 1 else 0.1
    mine_dir = datagen.ensure(os.path.join(HERE, ".data", f"sf{sf:g}"), sf, DATA_SEED)
    bad = 0
    for name in datagen.TABLES:
        mine, ref = (os.path.join(d, f"{name}.parquet") for d in (mine_dir, ref_dir))
        same = _sha(mine) == _sha(ref)
        bad += not same
        rows = pq.ParquetFile(mine).metadata.num_rows
        print(f"{name:<12} {rows:>8} rows  {'identical' if same else 'DIFFERS'}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
