"""The benchmark's input: the repository's read-only test fixtures.

``fixtures/sf0.01`` (the oracle scale) and ``fixtures/sf0.001`` (the smoke
scale) are byte-for-byte copies of the deterministic fixture tables that the
tests and ``naqed_spark.oracle_check`` read (TESTDATA.md, FIXTURES.md): one
single-row-group parquet file per catalog table. ``fixtures/SHA256SUMS``
lists their digests, and ``prepare`` refuses files that differ from it. The
copies live here so that a run reads nothing outside its own checkout.

Two layouts:

- single-split: the fixture directory itself. Every scan plans one input
  partition, the layout the engine is tuned on.
- split: each table rewritten as a directory of ``nproc`` part files that
  hold the same rows in the same order, one row group each, so that every
  scan plans ``nproc`` input partitions, as well-split large input does.
  It is written once under ``perfbench/.work/data`` and reused.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from pathlib import Path

import pyarrow.parquet as pq

FIXTURES = Path(__file__).resolve().parent / "fixtures"
SCALES = ("0.01", "0.001")


def digest() -> str:
    """Names the fixtures' contents."""
    return hashlib.sha256((FIXTURES / "SHA256SUMS").read_bytes()).hexdigest()


def _verify(scale_dir: Path) -> None:
    for line in (FIXTURES / "SHA256SUMS").read_text().splitlines():
        digest, name = line.split()
        if Path(name).parent.name != scale_dir.name:
            continue
        got = hashlib.sha256((FIXTURES / name).read_bytes()).hexdigest()
        if got != digest:
            raise RuntimeError(f"fixture {name} differs from SHA256SUMS")


def prepare(sf: str, split_into: int, work: Path) -> str:
    """The input directory for scale ``sf``: the fixtures themselves when
    ``split_into`` is 1, else their split copy under ``work``."""
    src = FIXTURES / f"sf{sf}"
    _verify(src)
    if split_into == 1:
        return str(src)
    out = work / f"sf{sf}-files{split_into}"
    if (out / "_COMPLETE").exists():
        return str(out)
    shutil.rmtree(out, ignore_errors=True)
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    for f in sorted(src.glob("*.parquet")):
        table = pq.read_table(f)
        os.makedirs(tmp / f.name)
        n = min(split_into, table.num_rows)
        bounds = [table.num_rows * j // n for j in range(n + 1)]
        for j, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
            pq.write_table(table.slice(lo, hi - lo), tmp / f.name / f"part-{j:05d}.parquet",
                           row_group_size=max(1, hi - lo))
    (tmp / "_COMPLETE").touch()
    tmp.rename(out)
    return str(out)
