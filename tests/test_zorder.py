"""Z-order layout (operators/zorder.py): Morton-code correctness vs a
Python reference, and the actual pruning payoff measured from parquet
file statistics — the reason the layout exists."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from etl_challenge_localiza_spark.operators.zorder import (
    morton,
    normalize_16,
    zorder_write,
)


def _py_morton(a: int, b: int, bits: int = 16) -> int:
    z = 0
    for i in range(bits):
        z |= ((a >> i) & 1) << (2 * i)
        z |= ((b >> i) & 1) << (2 * i + 1)
    return z


def test_morton_matches_python_reference(spark):
    rows = [(a, b) for a in [0, 1, 5, 63, 255, 65535] for b in [0, 2, 7, 64, 32767]]
    df = spark.createDataFrame(rows, "a long, b long")
    got = df.select("a", "b", morton(F.col("a"), F.col("b")).alias("z")).collect()
    for r in got:
        assert r["z"] == _py_morton(r["a"], r["b"]), (r["a"], r["b"])


def test_normalize_16_exact_integer_semantics(spark):
    df = spark.createDataFrame([(0,), (31,), (63,)], "x long")
    got = [r["n"] for r in df.select(
        normalize_16(F.col("x"), 0, 63).alias("n")).orderBy("n").collect()]
    assert got == [0, (31 * 65535) // 63, 65535]


def _overlapping_files(path: str, col: str, lo: int, hi: int) -> int:
    """How many parquet files CANNOT be skipped for col BETWEEN lo AND
    hi, judging by their footer min/max — exactly the pruning a scan
    does."""
    n = 0
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        md = pq.ParquetFile(f).metadata
        fmin = min(
            md.row_group(i).column(  # column index by name
                next(
                    j
                    for j in range(md.row_group(i).num_columns)
                    if md.row_group(i).column(j).path_in_schema == col
                )
            ).statistics.min
            for i in range(md.num_row_groups)
        )
        fmax = max(
            md.row_group(i).column(
                next(
                    j
                    for j in range(md.row_group(i).num_columns)
                    if md.row_group(i).column(j).path_in_schema == col
                )
            ).statistics.max
            for i in range(md.num_row_groups)
        )
        if fmax >= lo and fmin <= hi:
            n += 1
    return n


def test_zorder_layout_prunes_second_dimension(spark, tmp_path):
    # 64x64 grid; 16 files. An x-sorted layout gives every file the
    # full y range -> a y-only predicate prunes NOTHING. The z-order
    # layout gives every file a compact y range -> most files skip.
    grid = spark.createDataFrame(
        [(x, y) for x in range(64) for y in range(64)], "x long, y long"
    )
    zpath, xpath = str(tmp_path / "zsorted"), str(tmp_path / "xsorted")
    zorder_write(grid, zpath, morton(F.col("x"), F.col("y")))
    (
        grid.repartitionByRange(16, F.col("x"))
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(xpath)
    )
    z_files = _overlapping_files(zpath, "y", 8, 15)
    x_files = _overlapping_files(xpath, "y", 8, 15)
    assert x_files == 16  # single-dim sort cannot prune the other dim
    assert z_files <= 8, f"z layout should skip most files, read {z_files}"
    # and the z layout still prunes the FIRST dimension too
    assert _overlapping_files(zpath, "x", 8, 15) <= 8
