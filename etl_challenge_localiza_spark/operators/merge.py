"""Batch MERGE / upsert — the CDC building block (Delta/Iceberg MERGE
INTO, emulated on plain parquet since no table format is available in
this environment; the operator's plan shape is identical).

Semantics (keyed upsert):
- key matched  → take the update row's values
- not matched  → insert the update row
- delete flag  → drop the target row

Plan shape: ONE full-outer join on the key; at scale the join
benefits from both sides being bucketed on the key (zero-exchange,
see ``DataFrameWriter.bucketBy``) — the same layout Delta's
optimized-write keeps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    key: str,
    delete_col: str | None = None,
) -> DataFrame:
    """Return the merged table (target upserted with updates).

    ``delete_col``: optional boolean column on ``updates``; true rows
    delete the matching target key instead of upserting.
    """
    value_cols = [c for c in target.columns if c != key]
    u = updates
    if delete_col is not None:
        # NULL flag means "not a delete" (the common nullable CDC
        # payload), NOT "drop the row": a bare ~col(delete_col) filter
        # would evaluate NULL → NULL and silently lose the row from
        # both branches (round-5 self-review finding)
        is_del = F.coalesce(F.col(delete_col), F.lit(False))
        deletes = u.filter(is_del).select(F.col(key).alias("__delk"))
        u = u.filter(~is_del).drop(delete_col)
        target = target.join(
            deletes, target[key] == deletes["__delk"], "left_anti"
        )
    t = target.select(F.col(key).alias("__tk"), *[F.col(c).alias(f"__t_{c}") for c in value_cols])
    s = u.select(F.col(key).alias("__sk"), *[F.col(c).alias(f"__s_{c}") for c in value_cols])
    joined = t.join(s, t["__tk"] == s["__sk"], "full_outer")
    return joined.select(
        F.coalesce("__sk", "__tk").alias(key),
        *[
            F.when(F.col("__sk").isNotNull(), F.col(f"__s_{c}"))
            .otherwise(F.col(f"__t_{c}"))
            .alias(c)
            for c in value_cols
        ],
    )


def merge_latest(
    target: DataFrame,
    updates: DataFrame,
    key: str,
    order_cols: list[str],
) -> DataFrame:
    """Conditional MERGE: an update wins only when its ``order_cols``
    tuple is strictly greater than the target row's (``WHEN MATCHED AND
    s.ts > t.ts THEN UPDATE`` — the CDC apply-latest-by-timestamp
    rule). Because each key keeps its global argmax, applying updates
    in ANY batch order converges to the same table — the property the
    streaming foreachBatch upsert (streaming.upsert) relies on.

    Same single full-outer-join plan shape as :func:`merge_upsert`.
    """
    value_cols = [c for c in target.columns if c != key]
    t = target.select(
        F.col(key).alias("__tk"), *[F.col(c).alias(f"__t_{c}") for c in value_cols]
    )
    s = updates.select(
        F.col(key).alias("__sk"), *[F.col(c).alias(f"__s_{c}") for c in value_cols]
    )
    joined = t.join(s, t["__tk"] == s["__sk"], "full_outer")
    s_tuple = F.struct(*[F.col(f"__s_{c}") for c in order_cols])
    t_tuple = F.struct(*[F.col(f"__t_{c}") for c in order_cols])
    take_s = F.col("__tk").isNull() | (F.col("__sk").isNotNull() & (s_tuple > t_tuple))
    return joined.select(
        F.coalesce("__sk", "__tk").alias(key),
        *[
            F.when(take_s, F.col(f"__s_{c}"))
            .otherwise(F.col(f"__t_{c}"))
            .alias(c)
            for c in value_cols
        ],
    )


def snapshot_merge(
    spark,
    path: str,
    updates: DataFrame,
    key: str,
    order_cols: list[str] | None = None,
    delete_col: str | None = None,
) -> int:
    """Transactional-read CDC MERGE on plain parquet: compose the
    full-outer-join MERGE with ``sources.sinks.snapshot_write`` so each
    batch of upserts produces a NEW immutable snapshot version behind
    an atomically-swapped pointer — the poor-man's Delta ``MERGE INTO``.

    Reader guarantees (pytest-verified with a concurrent reader thread):
    a reader never observes a half-merged table — it sees the previous
    version until the pointer swap, the new version after, and old
    versions stay time-travel readable. Writer crash before the swap
    leaves the previous version live (the orphan directory is skipped
    by the next writer). Single-writer only — and ENFORCED: a second
    concurrent committer raises :class:`~...sources.sinks.
    ConcurrentWriterError` via the table's writer lock (stale locks
    from crashed writers are broken after an hour). True multi-writer
    ACID needs a commit log + conflict detection — the part
    Delta/Iceberg add on top; documented out of scope.

    ``order_cols`` selects conditional apply-latest semantics
    (:func:`merge_latest`); otherwise last-write-wins
    (:func:`merge_upsert`). First call on an empty path snapshots the
    updates themselves (minus delete rows) as version 1.

    Returns the committed snapshot version.
    """
    from ..sources.sinks import (
        snapshot_current_version,
        snapshot_read,
        snapshot_write,
        snapshot_writer_lock,
    )

    with snapshot_writer_lock(path):
        if snapshot_current_version(path) <= 0:
            first = updates
            if delete_col is not None:
                # NULL = not a delete (see merge_upsert)
                first = first.filter(
                    ~F.coalesce(F.col(delete_col), F.lit(False))
                ).drop(delete_col)
            return snapshot_write(spark, first, path)
        target = snapshot_read(spark, path)
        if order_cols:
            if delete_col is not None:
                raise ValueError(
                    "delete_col is only supported with last-write-wins merge"
                )
            merged = merge_latest(target, updates, key, order_cols)
        else:
            merged = merge_upsert(target, updates, key, delete_col)
        return snapshot_write(spark, merged, path)


def snapshot_diff(
    spark,
    path: str,
    v_old: int,
    v_new: int,
    key: str | list[str],
) -> DataFrame:
    """Row-level diff between two versions of a snapshot table
    (sources.sinks.snapshot_write layout) — the audit/CDC-extraction
    counterpart of Delta's ``table_changes``: given the immutable
    ``v=N`` directories, reconstruct WHAT changed between any two
    retained versions.

    Returns one row per differing key: (change, <key cols>, old_fp,
    new_fp) with change ∈ {'added', 'deleted', 'changed'}; unchanged
    keys are dropped. Row payloads are compared by a map-side sha256
    fingerprint of the non-key columns, built INJECTIVELY: each cell
    is hashed on its own (sha2 of the cell's string form; nulls map
    to the non-hex token '∅'), and the row fingerprint is sha2 over
    the concatenation of those fixed-width per-cell digests in sorted
    column order. Because every cell digest is exactly 64 hex chars
    (and the null token is not), no payload byte — including \\x1f or
    any other separator-looking code point — can shift a cell
    boundary: distinct rows get distinct encodings up to sha256
    collision. Atomic cells use cast-to-string (NaN doubles cast to
    the stable 'NaN', so NaN == NaN for diff purposes — the right
    call for change detection); array/struct cells use to_json, which
    is canonical per fixed schema once maps are excluded. Map-typed
    payload columns — at ANY nesting depth — are rejected with
    ValueError: both cast-to-string and to_json serialize maps in
    insertion order, so identical maps can serialize differently; the
    caller must canonicalize first (e.g. ``map_entries`` sorted by
    key). The full-outer join — the one keyed shuffle — carries only
    (key, 64-hex) tuples, never the payload: at 100 TB the diff costs
    two scans plus a key-width shuffle.
    Duplicate keys within a version pair up via the join like-for-like
    only if unique; snapshot tables written via snapshot_merge are
    keyed-unique by construction.

    Raises ValueError on schema drift between the versions (column
    sets must match — schema evolution is a table-format feature
    documented as out of scope for the plain-parquet snapshot)."""
    from ..sources.sinks import snapshot_read

    old = snapshot_read(spark, path, v_old)
    new = snapshot_read(spark, path, v_new)
    if set(old.columns) != set(new.columns):
        raise ValueError(
            f"schema drift between v{v_old} and v{v_new}: "
            f"{sorted(set(old.columns) ^ set(new.columns))}"
        )
    return diff_frames(old, new, key)


def diff_frames(
    old: DataFrame, new: DataFrame, key: str | list[str]
) -> DataFrame:
    """Row-level diff of two keyed DataFrames — the classification core
    of :func:`snapshot_diff`, usable directly on ANY two versions of a
    keyed frame (CDC extraction without the snapshot directory
    layout). Returns one row per differing key: (change, <key cols>,
    old_fp, new_fp) with change ∈ {'added', 'deleted', 'changed'};
    unchanged keys are dropped. See :func:`snapshot_diff` for the
    injective per-cell sha256 fingerprint construction, the map-type
    rejection rationale, and the scale argument (the one keyed shuffle
    carries (key, 64-hex) tuples, never the payload)."""
    keys = [key] if isinstance(key, str) else list(key)

    def contains_map(dt) -> bool:
        # recursive: a map nested inside a struct/array is just as
        # order-ambiguous as a top-level one (round-7 advisory)
        tn = dt.typeName()
        if tn == "map":
            return True
        if tn == "array":
            return contains_map(dt.elementType)
        if tn == "struct":
            return any(contains_map(f.dataType) for f in dt.fields)
        return False

    def fingerprints(df: DataFrame, alias: str) -> DataFrame:
        others = sorted(c for c in df.columns if c not in keys)
        types = {f.name: f.dataType for f in df.schema.fields}
        bad = [c for c in others if contains_map(types[c])]
        if bad:
            raise ValueError(
                f"map-typed payload columns {bad} (at any nesting "
                "depth) have no canonical string form — canonicalize "
                "(e.g. sorted map_entries) before snapshot_diff"
            )
        # per-cell sha2 digests are fixed-width (64 hex) and the null
        # token '∅' is not hex, so concatenating them is injective:
        # payload bytes can never shift a cell boundary
        def cell(c: str):
            if types[c].typeName() in ("array", "struct"):
                s = F.to_json(F.col(c))
            else:
                s = F.col(c).cast("string")
            return F.coalesce(F.sha2(s, 256), F.lit("∅"))

        joined = F.concat(*[cell(c) for c in others]) if others else F.lit("")
        return df.select(*keys, F.sha2(joined, 256).alias(alias))

    if set(old.columns) != set(new.columns):
        raise ValueError(
            f"schema drift between old and new frames: "
            f"{sorted(set(old.columns) ^ set(new.columns))}"
        )
    o = fingerprints(old, "old_fp")
    n = fingerprints(new, "new_fp")
    j = o.join(n, on=keys, how="full_outer")
    change = (
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("new_fp").isNull(), F.lit("deleted"))
        .when(F.col("old_fp") != F.col("new_fp"), F.lit("changed"))
    )
    return (
        j.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select("change", *keys, "old_fp", "new_fp")
    )


AGG_STATE_COLS = ("n", "total_dec", "vmin", "vmax")


def agg_state(df: DataFrame, key: str, value_col: str) -> DataFrame:
    """Per-key mergeable aggregate state (count / exact decimal sum /
    min / max) — the partial-aggregate tuple a materialized view
    stores. The sum is decimal(18,2) so merging states is EXACTLY
    associative (float partial sums would drift with merge order)."""
    v = F.col(value_col)
    return df.groupBy(key).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(v.cast("decimal(18,2)")).alias("total_dec"),
        F.min(v).alias("vmin"),
        F.max(v).alias("vmax"),
    )


def merge_agg_states(state: DataFrame, delta: DataFrame, key: str) -> DataFrame:
    """Incremental materialized-view maintenance: merge a stored
    per-key aggregate state with a new batch's state — the REFRESH
    INCREMENTAL primitive. Count and exact-decimal sum add; min/max
    combine via null-skipping least/greatest; keys present on only one
    side pass through (full-outer join on the key, the single keyed
    shuffle — at 100 TB both sides are key-partitioned and the delta
    is usually tiny, so AQE broadcasts it).

    Works for any distributive/algebraic aggregate state; holistic
    aggregates (exact median/distinct) need the sketch path
    (hll_sketch_mergeability shows the mergeable-distinct analog)."""
    s = state.select(key, *[F.col(c).alias(f"s_{c}") for c in AGG_STATE_COLS])
    d = delta.select(key, *[F.col(c).alias(f"d_{c}") for c in AGG_STATE_COLS])
    zero = F.lit(0).cast("decimal(18,2)")
    return s.join(d, on=key, how="full_outer").select(
        key,
        (F.coalesce(F.col("s_n"), F.lit(0)) + F.coalesce(F.col("d_n"), F.lit(0)))
        .cast("long")
        .alias("n"),
        (F.coalesce(F.col("s_total_dec"), zero) + F.coalesce(F.col("d_total_dec"), zero))
        .cast("decimal(18,2)")
        .alias("total_dec"),
        F.least(F.col("s_vmin"), F.col("d_vmin")).alias("vmin"),
        F.greatest(F.col("s_vmax"), F.col("d_vmax")).alias("vmax"),
    )
