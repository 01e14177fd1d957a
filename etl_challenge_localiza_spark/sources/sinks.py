"""Sinks: curated CSV exports (S5/S6), JSON metrics (S7), storage layouts.

Reference sinks: DuckDB ``COPY ... TO csv (header, delim ',')``
(flows/pipeline.py:214-215) and a driver-side ``json.dump`` of the DQ
metrics dict (flows/pipeline.py:104-105).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from contextlib import contextmanager
from typing import Any

from pyspark.sql import DataFrame


def write_single_csv(df: DataFrame, path: str, order_by: list | None = None) -> str:
    """Write a DataFrame as ONE headered CSV file at ``path``.

    The reference bakes row order into its exported CSVs
    (flows/pipeline.py:185,209-211). Curated exports are small
    (aggregated / top-k) by construction, so coalesce(1) is safe here
    and ordering survives the single-partition write. Large outputs
    should NOT use this sink — use ``df.write.csv`` with many
    partitions instead (order is a presentation concern, SURVEY.md
    §7.4.3).
    """
    if order_by is not None:
        df = df.orderBy(*order_by)
        # orderBy followed by coalesce(1) keeps the sorted order: the
        # single output task reads the range-partitioned shuffle output
        # in partition order.
    tmp = path + "._spark_tmp"
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    shutil.move(part, path)
    shutil.rmtree(tmp, ignore_errors=True)
    return path


def write_json_metrics(metrics: dict[str, Any], path: str, phase: str | None = None) -> str:
    """S7: persist a DQ metrics dict as indented JSON.

    Metrics are scalar aggregates already collected on the driver, so a
    plain json.dump mirrors flows/pipeline.py:104-105 (including the
    ``default=str`` fallback).
    """
    payload = {"phase": phase, **metrics} if phase is not None else dict(metrics)
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "w") as f:
        json.dump(payload, f, indent=2, default=str)
    return path


def compact_parquet(
    spark, path: str, target_file_bytes: int = 128 * 1024 * 1024
) -> int:
    """Small-file compaction — the standard lakehouse maintenance op
    (streaming/incremental writers leave many KB-scale files; scans
    then pay per-file open + scheduling overhead). Rewrites ``path``
    to ceil(bytes / target_file_bytes) files and returns the new file
    count.

    The rewrite goes through a temp dir because Spark cannot overwrite
    a path it is concurrently reading; the swap keeps the previous
    dataset as ``path + '.bak'`` until the new one is in place, so a
    crash mid-swap never leaves ``path`` empty. Hive-partitioned
    layouts (``key=value`` subdirectories) are refused: a flat rewrite
    would silently turn partition directories into data columns and
    lose the pruning layout — compact each leaf partition instead. At
    warehouse scale this is the compaction side of Delta/Iceberg
    OPTIMIZE; on plain parquet it is the same repartition + rewrite.
    """
    import glob as _glob
    import math
    import os as _os
    import shutil as _shutil

    subdirs = [
        e for e in _os.listdir(path)
        if _os.path.isdir(_os.path.join(path, e)) and "=" in e
    ]
    if subdirs:
        raise ValueError(
            f"compact_parquet: {path} has Hive partition directories "
            f"({subdirs[:3]}...); compact each leaf partition instead of "
            "flattening the layout"
        )
    files = _glob.glob(_os.path.join(path, "*.parquet")) or _glob.glob(
        _os.path.join(path, "part-*")
    )
    total = sum(_os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / target_file_bytes))
    tmp = path.rstrip("/") + "._compact_tmp"
    bak = path.rstrip("/") + "._compact_bak"
    spark.read.parquet(path).repartition(n_out).write.mode("overwrite").parquet(tmp)
    # two renames instead of rmtree-then-rename: if we crash after the
    # first, the data still exists (at .bak); after the second, at path.
    _shutil.rmtree(bak, ignore_errors=True)
    _os.rename(path, bak)
    _os.rename(tmp, path)
    _shutil.rmtree(bak)
    return len(_glob.glob(_os.path.join(path, "part-*.parquet")))


def write_range_clustered(
    df: DataFrame, path: str, cols: list[str], n_files: int = 8
) -> str:
    """Data-skipping layout: range-repartition on ``cols`` and sort
    within each partition before writing parquet.

    Each output file then covers a disjoint range of ``cols``, and its
    parquet footer min/max statistics let any engine (Spark scan
    pruning, DuckDB zone maps, Iceberg/Delta file skipping) eliminate
    whole files for selective predicates — the single-column analog of
    Z-ordering, and the layout step a 100 TB table needs BEFORE queries
    can be fast. repartitionByRange samples the column to build
    balanced range bounds, so skew in ``cols`` does not produce
    lopsided files.
    """
    (
        df.repartitionByRange(n_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


def snapshot_write(spark, df: DataFrame, path: str) -> int:
    """Versioned snapshot write: the poor-man's table format.

    Delta/Iceberg are unavailable in this environment (no packages),
    but their core read-consistency trick — an atomically-swapped
    POINTER to immutable data files — needs nothing beyond a
    filesystem with atomic rename. Layout:

        path/v=N/part-*.parquet   immutable snapshot data
        path/_current             text file holding "N" (the pointer)

    Writers write a NEW v=N+1 directory, then atomically rename a temp
    pointer file over ``_current``. Readers resolve the pointer first,
    then read only that directory — so a reader never sees a half-
    written snapshot (writer crash pre-swap leaves the old version
    live), and old versions remain readable (time travel) until a
    retention job prunes them. This gives snapshot isolation for
    single-writer pipelines; full ACID with concurrent writers needs a
    log + conflict detection — that is exactly the part Delta/Iceberg
    add, documented as out of scope here.

    Returns the new version number.
    """
    cur = os.path.join(path, "_current")
    # next version = 1 + max(pointer, any existing v=N directory): an
    # orphaned directory from a crashed writer is skipped, not reused
    # (its contents are untrusted — retention can prune it later)
    existing = 0
    try:
        for e in os.listdir(path):
            if e.startswith("v=") and e[2:].isdigit():
                existing = max(existing, int(e[2:]))
    except OSError:
        pass
    version = max(snapshot_current_version(path), existing) + 1
    df.write.mode("errorifexists").parquet(os.path.join(path, f"v={version}"))
    tmp = cur + f".tmp.{version}"
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, cur)  # atomic pointer swap
    return version


def snapshot_current_version(path: str) -> int:
    """Resolve the current snapshot pointer (0 = no snapshot yet)."""
    try:
        with open(os.path.join(path, "_current")) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return 0


def snapshot_vacuum(
    path: str,
    keep_last: int = 2,
    pinned: set[int] | None = None,
) -> list[int]:
    """Retention for versioned snapshot tables: prune old versions so
    history stops growing without bound (the plain-parquet analog of
    Delta ``VACUUM`` / Iceberg ``expire_snapshots``).

    Removes every ``v=K`` directory EXCEPT:

    - the current version (the live pointer target — never removed),
    - the ``keep_last``-1 versions below it (time-travel window),
    - any version in ``pinned`` — the caller's contract for readers
      that resolved an old version and are still scanning it; pin the
      version for the reader's lifetime and vacuum cannot touch it.

    Versions ABOVE the pointer are crashed-writer orphans and are also
    removed — safely, because the vacuum runs under the single-writer
    lock (:func:`snapshot_writer_lock`), so no in-progress writer can
    be mid-write into a ``v>current`` directory while we prune it; a
    concurrent committer instead sees :class:`ConcurrentWriterError`
    from its own lock acquisition. Leftover pointer temp files from
    crashed swaps are cleaned opportunistically.

    Returns the sorted list of removed version numbers.
    """
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    pins = set(pinned or ())
    removed: list[int] = []
    with snapshot_writer_lock(path):
        cur = snapshot_current_version(path)
        if cur == 0:
            return []
        keep_floor = cur - keep_last + 1
        for e in os.listdir(path):
            if e.startswith("_current.tmp."):
                try:
                    os.unlink(os.path.join(path, e))
                except OSError:
                    pass
                continue
            if not (e.startswith("v=") and e[2:].isdigit()):
                continue
            v = int(e[2:])
            if v == cur or v in pins:
                continue
            if v > cur or v < keep_floor:
                shutil.rmtree(os.path.join(path, e), ignore_errors=True)
                removed.append(v)
    return sorted(removed)


def snapshot_read(spark, path: str, version: int | None = None) -> DataFrame:
    """Read the current snapshot, or time-travel to ``version``."""
    v = version if version is not None else snapshot_current_version(path)
    if v <= 0:
        raise FileNotFoundError(f"no snapshot at {path}")
    return spark.read.parquet(os.path.join(path, f"v={v}"))


def write_orc(df: DataFrame, path: str, partition_by: list | None = None) -> str:
    """ORC sink — Spark's second native columnar format (built into the
    distribution, unlike Avro/Delta which need external packages).
    Kept API-parallel with the parquet writers so pipelines can switch
    formats per-table; ORC scans support the same predicate pushdown /
    column pruning / partition pruning (pytest asserts the round-trip
    and the pushed filter in the executed plan)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)
    return path


class ConcurrentWriterError(RuntimeError):
    """A second writer attempted to commit to a snapshot table."""


@contextmanager
def snapshot_writer_lock(path: str):
    """Single-writer enforcement for snapshot tables: an exclusive
    ``flock`` on a persistent lock file under the table path. The
    snapshot design is single-writer (the commit-log/conflict-detection
    layer is what Delta/Iceberg add); without detection a second writer
    could race the version numbering and pointer swap — this makes
    that a loud :class:`ConcurrentWriterError` instead of a silent
    corruption.

    Why flock and not an O_EXCL-create + mtime-staleness protocol: the
    kernel ties the lock to the process, so a crashed writer's lock is
    released AUTOMATICALLY — no staleness heuristic, and therefore no
    TOCTOU takeover race (two breakers that both judge a lock stale
    can otherwise unlink/rename each other's freshly created lock and
    BOTH proceed; path-based breaking cannot distinguish the stale
    inode from a fresh one). The round-6 concurrency test drives 8
    contenders at a crashed writer's leftover file and asserts exactly
    one winner.

    The lock file itself is deliberately never unlinked: removing it
    on release reintroduces the classic flock-unlink race (A opens the
    file, B unlinks it and creates a new one, A locks the orphaned
    inode while C locks the new file — two holders). A zero-byte
    ``_writer_lock`` at rest is the correct steady state.

    Scope: flock coordinates writers on ONE host (or a
    correctly-configured NFSv4 mount); multi-host writers need a real
    table format's commit log — documented out of scope.
    """
    import fcntl

    os.makedirs(path, exist_ok=True)
    lock = os.path.join(path, "_writer_lock")
    fd = os.open(lock, os.O_CREAT | os.O_RDWR)
    try:
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError as e:
            raise ConcurrentWriterError(
                f"another writer holds {lock}; snapshot tables are "
                "single-writer — serialize commits or use a table "
                "format with a commit log"
            ) from e
        os.ftruncate(fd, 0)
        os.write(fd, f"pid={os.getpid()} t={time.time():.0f}\n".encode())
        yield
    finally:
        os.close(fd)  # closing the fd releases the flock


def write_xml(df: DataFrame, path: str, row_tag: str = "row") -> str:
    """XML sink (Spark 4 native, the former spark-xml package folded
    into core): one element per row under ``row_tag``, values escaped
    per the XML spec. XML matters as an interchange surface (feeds,
    legacy enterprise exports); columnar formats remain the analytics
    default — same policy note as the CSV sink."""
    df.write.format("xml").option("rowTag", row_tag).mode("overwrite").save(path)
    return path
