"""Data-layout operators: Z-order (Morton) clustering for multi-dimensional
data skipping.

At 100 TB the scan cost of a query is decided before it runs — by how the
writer laid rows into files. Parquet readers skip whole files/row-groups via
min/max statistics, but sorting by one column destroys locality in every
other; interleaving the bits of several bucketized dimensions (the Z-order /
Morton curve, the same discipline as Delta's OPTIMIZE ZORDER BY) keeps
min/max ranges narrow in ALL participating dimensions at once, so filters on
any of them prune files.

Everything here is pure JVM column arithmetic (shift/mask/or — constant
unrolled, whole-stage-codegen) plus one ``repartitionByRange`` on the
Z-key: exactly the shuffle a clustering write must pay, and nothing else.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bucketize(col: Column | str, lo: float, hi: float, bits: int) -> Column:
    """Map a numeric column into an integer bucket in [0, 2^bits): the
    rank-preserving quantization Z-ordering needs. Bounds are clamped, so
    out-of-range values land in the edge buckets (files keep valid stats)."""
    c = F.col(col) if isinstance(col, str) else col
    n = (1 << bits) - 1
    scaled = F.floor((c.cast("double") - lo) / (hi - lo) * (n + 1))
    return F.greatest(F.lit(0), F.least(F.lit(n), scaled)).cast("bigint")


def zorder_key(x: Column, y: Column, bits: int = 16) -> Column:
    """Morton interleave of two non-negative integer columns (x gets the
    even bit positions, y the odd): an unrolled OR of 2·bits shift/mask
    terms — pure codegen arithmetic, no UDF. Inputs must already be
    bucketized into [0, 2^bits) (see :func:`bucketize`)."""
    terms: list[Column] = []
    for b in range(bits):
        terms.append(
            F.shiftleft(F.shiftright(x, b).bitwiseAND(F.lit(1)), 2 * b)
        )
        terms.append(
            F.shiftleft(F.shiftright(y, b).bitwiseAND(F.lit(1)), 2 * b + 1)
        )
    z = terms[0]
    for t in terms[1:]:
        z = z.bitwiseOR(t)
    return z


def zorder_write(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    x_range: tuple[float, float],
    y_range: tuple[float, float],
    n_files: int = 16,
    bits: int = 16,
) -> None:
    """Cluster ``df`` on the Z-curve of (x_col, y_col) and write ``n_files``
    parquet files: ``repartitionByRange`` over the Z-key (range partitioning
    = contiguous curve segments per file) + ``sortWithinPartitions`` (narrow
    row-group stats inside each file). Readers filtering on EITHER column
    then skip most files on footer min/max alone — the effect
    ``tests/test_layout.py`` measures quantitatively."""
    zx = bucketize(F.col(x_col), *x_range, bits=bits)
    zy = bucketize(F.col(y_col), *y_range, bits=bits)
    (
        df.withColumn("__z", zorder_key(zx, zy, bits=bits))
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def optimize_table(
    spark,
    path: str,
    target_file_mb: int = 128,
    zorder: tuple[str, str, tuple[float, float], tuple[float, float]] | None = None,
    min_files_to_compact: int = 4,
) -> dict:
    """OPTIMIZE for a plain-parquet table directory: compact small files to
    ~``target_file_mb`` outputs, optionally Z-order-clustering on two
    columns, committed by manifest (r10 verdict #6 — the shared
    versioned-dir primitive, state/manifest.py).

    Protocol: the compacted data is staged into its final
    ``<path>.v<N>`` sibling dir (unreferenced, hence invisible),
    validated (non-empty parquet listing) BEFORE the commit, then ONE
    manifest PUT commits it and the superseded dir is deleted. A crash
    anywhere leaves the previous commit authoritative: a half-written
    staged dir is unreferenced garbage the retry overwrites, a truncated
    manifest fails its self-checksum and is ignored, and a failed
    validation raises with the original data untouched. Rename-free end
    to end, so the op holds on object storage too.

    READERS resolve the live data dir through
    ``state.manifest.resolve_dir(path)`` (also returned as ``stats["dir"]``);
    a never-optimized flat directory resolves to itself and stays one
    commit as the reader grace window; the second optimize retires it
    (delete-only, after commit). A symlinked ``path`` raises ``ValueError``
    before anything is read or staged.

    Returns {files_before, files_after, bytes, skipped, dir}. No-ops
    (skipped) when the table already has fewer than
    ``min_files_to_compact`` files. At cluster scale, target sizing per
    file keeps row groups aligned with ``spark.sql.files.maxPartitionBytes``
    so scans map 1:1 to tasks.
    """
    import os
    import shutil

    from ..state.manifest import commit_dir, next_dir_version, resolve_dir

    base = path.rstrip("/")
    src = resolve_dir(base)
    files = [
        f
        for f in os.listdir(src)
        if f.endswith(".parquet") or f.endswith(".snappy.parquet")
    ]
    total = sum(os.path.getsize(os.path.join(src, f)) for f in files)
    if len(files) < min_files_to_compact:
        return {
            "files_before": len(files),
            "files_after": len(files),
            "bytes": total,
            "skipped": True,
            "dir": src,
        }
    n_files = max(1, -(-total // (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(src)
    ver, new_dir = next_dir_version(base)
    shutil.rmtree(new_dir, ignore_errors=True)  # crashed attempt's remnant
    if zorder is not None:
        x_col, y_col, x_range, y_range = zorder
        zorder_write(df, new_dir, x_col, y_col, x_range, y_range, n_files=n_files)
    else:
        df.repartition(n_files).write.mode("overwrite").parquet(new_dir)
    # validate BEFORE the commit: a bad write leaves the staged dir
    # unreferenced and the previous commit untouched
    if not any(f.endswith(".parquet") for f in os.listdir(new_dir)):
        raise RuntimeError(f"compaction produced no parquet files in {new_dir}")
    live = commit_dir(base, ver)
    # flat input-dir retirement happens inside commit_dir with a
    # one-commit reader grace window (r11 advice): the first optimize
    # leaves the flat dir readable for in-flight scans; the second commit
    # retires it — and also heals a leak from a crash after an earlier
    # commit, because retirement keys off "a prior manifest commit
    # exists", not off this call's src.
    after = len([f for f in os.listdir(live) if f.endswith(".parquet")])
    return {
        "files_before": len(files),
        "files_after": after,
        "bytes": total,
        "skipped": False,
        "dir": live,
    }
