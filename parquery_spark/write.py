"""Parquet ingest: ``df_to_parquet`` — API parity with the reference writer
(reference: parquery/write.py:57-138).

Accepts pandas, pyarrow, Polars (if installed), and Spark DataFrames; always
writes ZSTD-compressed Parquet; overwrites an existing target
(reference: parquery/write.py:33-54).

Scale notes:

* A **Spark DataFrame** input writes distributedly via
  ``df.write.parquet(..., compression='zstd')`` — each task writes its own
  part file; no driver bottleneck.  When ``single_file=True`` (the
  reference's contract is one file per table) the plan is coalesced to one
  output task — only appropriate for result-sized data.
* Driver-local inputs (pandas/arrow/polars) write via pyarrow directly —
  shipping driver-local data through the JVM and back would add two
  serialization hops for nothing.
* ``chunksize`` is accepted for API parity (reference pandas path writes in
  100k-row slices to bound memory, parquery/write.py:141-204); the pyarrow
  writer here slices equivalently.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq

try:  # optional, as in the reference
    import polars as pl
except ImportError:  # pragma: no cover
    pl = None

try:
    import pandas as pd
except ImportError:  # pragma: no cover
    pd = None


def create_full_filename(filename: str, workdir: str | None = None) -> str:
    """Resolve the output path (reference: parquery/write.py:33-54); the
    write replaces an existing target once the new bytes are complete."""
    return os.path.join(workdir, filename) if workdir else filename


def df_to_parquet(
    df: Any,
    filename: str,
    workdir: str | None = None,
    chunksize: int = 100_000,
    debug: bool = False,
    single_file: bool = True,
) -> str:
    """Write a DataFrame/Table to ZSTD Parquet; returns the output path.

    The bytes go to a hidden sibling directory and are renamed over a file
    target from there, so a concurrent reader sees the old file or the new
    one, never a missing or partial one.  A directory target
    (``single_file=False``) is removed first: that replace is not atomic."""
    full = create_full_filename(filename, workdir)
    head, tail = os.path.split(full)
    tmp = tempfile.mkdtemp(prefix=f".{tail}.", dir=head or ".")
    staged = os.path.join(tmp, tail)
    try:
        if hasattr(df, "sparkSession"):
            # Spark DataFrame → distributed write
            out = df.coalesce(1) if single_file else df
            out.write.parquet(staged, compression="zstd")
            if single_file:
                _promote_single_part(staged, full)
            else:
                _replace(staged, full)
            return full

        if pl is not None and isinstance(df, pl.DataFrame):
            table = df.to_arrow()  # zero-copy (reference: parquery/write.py:126-130)
        elif pd is not None and isinstance(df, pd.DataFrame):
            table = pa.Table.from_pandas(df, preserve_index=False)
        elif isinstance(df, pa.Table):
            table = df
        else:
            raise TypeError(
                f"Unsupported input type for df_to_parquet: {type(df).__name__}"
            )
        with pq.ParquetWriter(staged, table.schema, compression="zstd") as writer:
            for offset in range(0, max(table.num_rows, 1), chunksize):
                writer.write_table(table.slice(offset, chunksize))
        _replace(staged, full)
        return full
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _promote_single_part(directory: str, target: str) -> None:
    """Move the single part file of a Spark output directory to ``target``
    (the reference's unit is one file); else the directory itself."""
    parts = [
        f for f in os.listdir(directory)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]
    _replace(os.path.join(directory, parts[0]) if len(parts) == 1 else directory, target)


def _replace(src: str, dst: str) -> None:
    """``os.replace``, atomic for a file over a file; when either side is a
    directory, ``dst`` is removed first."""
    if os.path.isdir(dst):
        shutil.rmtree(dst)
    elif os.path.isdir(src) and os.path.lexists(dst):
        os.remove(dst)
    os.replace(src, dst)
