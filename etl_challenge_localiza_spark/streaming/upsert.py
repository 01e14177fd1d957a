"""foreachBatch incremental upsert — the streaming CDC-apply sink.

The reference is batch-only; this is the standard production shape for
"stream of change events → continuously-maintained latest-state table":
each micro-batch is reduced to one row per key, then conditionally
MERGEd (apply-latest-by-timestamp, operators.merge.merge_latest) into
the accumulating target. Because the merge keeps each key's global
(ts, event_id) argmax, the final table is IDENTICAL for any
micro-batch slicing of the input — which is what makes the operator
oracle-checkable: it must equal the batch latest-event-per-user query.

Scale design: the per-batch work is a keyed window over the batch (small)
plus one full-outer join against the target keyed on user_id. On a real
cluster the versioned-parquet target becomes a Delta/Iceberg table
(MERGE INTO with the same condition) and both sides stay bucketed on the
key so the join is exchange-free (``DataFrameWriter.bucketBy``).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.merge import merge_latest
from ..sources.readers import load_table
from .events_stream import _await_available_now

_COLS = ["user_id", "event_id", "ts", "event_type", "value"]
_ORDER_COLS = ["o_orderkey", "o_totalprice"]


def apply_latest_batch(target: DataFrame | None, batch: DataFrame) -> DataFrame:
    """Reduce a micro-batch to its latest row per user, then merge it
    into ``target`` (None → first batch)."""
    latest = _latest_per_user(batch)
    if target is None:
        return latest
    return merge_latest(target, latest, "user_id", ["ts", "event_id"])


@contextmanager
def _staged_stream(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    cols: list[str],
    n_input_files: int,
    base: str | None = None,
) -> Iterator[tuple[DataFrame, str]]:
    """Stage ``cols`` of ``table`` as ``n_input_files`` parquet files
    and yield (stream, base_dir): a file stream delivering ONE file per
    micro-batch (maxFilesPerTrigger=1) plus the staging dir (sources
    under base/src, checkpoint under base/ckpt — outside the watched
    directory). On exit a staging dir created here is removed; a
    caller's ``base`` is kept.

    When ``base`` is given and already staged, the existing src files
    are REUSED (re-staging would write new file names, which the
    checkpoint's file log would treat as new data — a restart from
    the same checkpoint must see the same file set)."""
    owned = base is None
    if owned:
        base = tempfile.mkdtemp(prefix="stream_stage_")
    try:
        src = os.path.join(base, "src")
        if not os.path.exists(os.path.join(src, "_SUCCESS")):
            load_table(spark, sf_dir, table).select(*cols).repartition(
                n_input_files
            ).write.mode("overwrite").parquet(src)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        )
        yield stream, base
    finally:
        if owned:
            shutil.rmtree(base, ignore_errors=True)


def _read_applied(base: str) -> dict | None:
    """Last committed (batch_id, version) marker, or None before the
    first commit."""
    p = os.path.join(base, "_applied.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _commit_applied(base: str, batch_id: int, version: int) -> None:
    """Atomically (write-temp + os.replace) record that ``batch_id``
    has been fully applied, producing state ``version``."""
    p = os.path.join(base, "_applied.json")
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"batch_id": int(batch_id), "version": int(version)}, f)
    os.replace(tmp, p)


def apply_versioned_batch(sess, base: str, prefix: str, batch_id: int, compute) -> None:
    """EXACTLY-ONCE foreachBatch apply over versioned-parquet state
    (ADVICE r9): Structured Streaming's foreachBatch is at-least-once —
    a failure after the sink write but before the checkpoint commit
    replays the micro-batch with the SAME batch_id, and a naive apply
    would merge the delta twice (cellwise sums double-count, argmax
    upserts bump the version history). The standard recipe (Spark's
    own foreachBatch docs) is to make the apply idempotent on
    batch_id:

    1. replayed batch (batch_id <= last committed) → no-op;
    2. otherwise read state version v, compute, OVERWRITE v+1 (a retry
       of a half-written v+1 rewrites the whole directory from the
       same immutable predecessor — deterministic), and only then
       atomically advance the ``_applied.json`` marker.

    The marker commits AFTER the data write, so every crash point
    replays into the same final state. ``compute(prev)`` receives the
    previous state DataFrame (None on the first batch) and returns the
    next state."""
    m = _read_applied(base)
    if m is not None and batch_id <= m["batch_id"]:
        return  # replayed micro-batch: already fully applied
    v = m["version"] if m is not None else 0
    prev = sess.read.parquet(os.path.join(base, f"{prefix}{v}")) if v > 0 else None
    out = compute(prev)
    out.write.mode("overwrite").parquet(os.path.join(base, f"{prefix}{v + 1}"))
    _commit_applied(base, batch_id, v + 1)
    if v > 1:
        # only the last two versions are ever needed; prune older
        shutil.rmtree(os.path.join(base, f"{prefix}{v - 1}"), ignore_errors=True)


def _final_version(spark: SparkSession, base: str, prefix: str, label: str) -> DataFrame:
    m = _read_applied(base)
    if m is None:
        raise RuntimeError(f"{label} processed no micro-batches")
    return spark.read.parquet(os.path.join(base, f"{prefix}{m['version']}"))


def _run_foreach_batch(stream, base: str, apply_fn, timeout_sec: int, label: str) -> None:
    q = (
        stream.writeStream.foreachBatch(apply_fn)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await_available_now(q, timeout_sec, label)


def _latest_per_user(df: DataFrame) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def run_streaming_upsert_latest(
    spark: SparkSession,
    sf_dir: str,
    timeout_sec: int = 300,
    n_input_files: int = 4,
) -> DataFrame:
    """Stream the events table in ``n_input_files`` micro-batches
    (maxFilesPerTrigger=1) through a foreachBatch conditional-upsert
    sink; return the final latest-event-per-user table.

    The target is maintained as versioned parquet (v1, v2, ...) so each
    batch reads the previous version and writes the next — the plain-
    parquet stand-in for a Delta/Iceberg MERGE INTO target.
    """
    with _staged_stream(
        spark, sf_dir, "events", _COLS, n_input_files
    ) as (stream, base):
        def _apply(batch_df: DataFrame, batch_id: int) -> None:
            apply_versioned_batch(
                batch_df.sparkSession,
                base,
                "v",
                batch_id,
                lambda prev: apply_latest_batch(prev, batch_df),
            )

        _run_foreach_batch(stream, base, _apply, timeout_sec, "foreachBatch upsert")
        # materialize before the staging dir disappears
        return (
            _final_version(spark, base, "v", "streaming upsert")
            .select(*_COLS)
            .localCheckpoint(eager=True)
        )


def run_streaming_snapshot_cdc(
    spark: SparkSession,
    sf_dir: str,
    table_path: str,
    timeout_sec: int = 300,
    n_input_files: int = 4,
) -> DataFrame:
    """Streaming CDC into a VERSIONED table: the composition of the
    foreachBatch apply-latest reducer with ``operators.merge.
    snapshot_merge`` — every micro-batch commits a new immutable
    snapshot version behind the atomic pointer, so concurrent readers
    always see a complete committed state (never a half-applied
    batch), historical versions remain time-travel readable, and a
    crash between batches leaves the last committed version live.

    Replay scope: the stream checkpoint lives with the ephemeral
    staging dir, so "resume from where it stopped" covers query
    restarts WITHIN one invocation only — and within a run, replayed
    micro-batches are skipped on batch_id (the ``_applied.json``
    marker, ADVICE r9), so a foreachBatch retry cannot commit a
    duplicate snapshot version. A whole NEW invocation restages the
    source under fresh paths and replays every batch into the
    still-existing snapshot table — the per-key argmax apply is
    idempotent, so the final state stays correct, but version history
    inflates by one version per replayed batch (bound it with
    ``sources.sinks.snapshot_vacuum``). A production deployment would
    point both the source and ``checkpointLocation`` at durable
    storage next to ``table_path``, which makes cross-run resume real.

    Because the per-key argmax merge is batch-order independent, the
    FINAL version equals the batch latest-event-per-user table under
    any input slicing (pytest-asserted along with per-version
    monotonicity)."""
    from ..operators.merge import snapshot_merge

    with _staged_stream(
        spark, sf_dir, "events", _COLS, n_input_files
    ) as (stream, base):
        def _apply(batch_df: DataFrame, batch_id: int) -> None:
            # within-run replay guard (ADVICE r9): a retried micro-batch
            # would otherwise commit a duplicate snapshot version (final
            # state stays correct — the argmax apply is idempotent — but
            # version history inflates). Marker commits AFTER the merge,
            # so a crash mid-merge replays into at most one extra version.
            m = _read_applied(base)
            if m is not None and batch_id <= m["batch_id"]:
                return
            snapshot_merge(
                batch_df.sparkSession,
                table_path,
                _latest_per_user(batch_df),
                key="user_id",
                order_cols=["ts", "event_id"],
            )
            _commit_applied(base, batch_id, m["version"] + 1 if m else 1)

        _run_foreach_batch(stream, base, _apply, timeout_sec, "snapshot-CDC stream")

    from ..sources.sinks import snapshot_read

    return snapshot_read(spark, table_path).select(*_COLS)


def run_streaming_mv_refresh(
    spark: SparkSession,
    sf_dir: str,
    timeout_sec: int = 300,
    n_input_files: int = 4,
    state_base: str | None = None,
) -> DataFrame:
    """Continuously-maintained STREAMING materialized view: each
    micro-batch reduces to its per-event_type mergeable aggregate
    state (operators.merge.agg_state — count / exact decimal sum /
    min / max) and merges it into the accumulating view with
    merge_agg_states, so the refresh touches the batch plus a
    |types|-sized state table, never the history. Because the decimal
    state merge is exactly associative, the final view equals the
    batch recompute under ANY micro-batch slicing — which is what the
    oracle checks. The view is kept as versioned parquet (the same
    plain-parquet stand-in as the CDC sinks; Delta/Iceberg MERGE at
    production scale).

    ``state_base``: optional persistent state/checkpoint dir — the
    production shape, where a restarted job resumes from the same
    checkpoint and the batch_id marker makes replays exactly-once
    (the torn-commit e2e test drives this path); ownership of the dir
    stays with the caller (no cleanup). Default: private temp dir,
    removed on return."""
    from ..operators.merge import agg_state, merge_agg_states

    with _staged_stream(
        spark, sf_dir, "events", _COLS, n_input_files, base=state_base
    ) as (stream, base):
        def _apply(batch_df: DataFrame, batch_id: int) -> None:
            def compute(prev: DataFrame | None) -> DataFrame:
                delta = agg_state(batch_df, "event_type", "value")
                return (
                    merge_agg_states(prev, delta, "event_type")
                    if prev is not None
                    else delta
                )

            apply_versioned_batch(batch_df.sparkSession, base, "mv", batch_id, compute)

        _run_foreach_batch(stream, base, _apply, timeout_sec, "streaming MV refresh")
        final = _final_version(spark, base, "mv", "streaming MV refresh")
        return final.select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.col("total_dec").cast("double").alias("total_value"),
            "vmin",
            "vmax",
        ).localCheckpoint(eager=True)


def run_streaming_hdr_refresh(
    spark: SparkSession,
    sf_dir: str,
    probes: list[tuple[int, int]] | None = None,
    timeout_sec: int = 300,
    n_input_files: int = 4,
    mantissa_bits: int = 7,
    state_base: str | None = None,
) -> DataFrame:
    """Continuously-maintained STREAMING quantile sketch: each
    micro-batch of orders builds its own HDR cell table
    (operators/sketches.hdr_cells over price cents) and merges it into
    the accumulating sketch by cellwise count sum (merge_hdr_cells) —
    bounded state (≤ (64−b)·2^b cells) regardless of volume, the same
    contract as the streaming CMS refresher but for QUANTILES. Because
    value-binned merge is EXACTLY the whole-corpus build, the final
    sketch — and therefore every quantile answer — is bit-identical
    under ANY micro-batch slicing, which is what the oracle checks
    (the whole-corpus SQL replica must agree on every probe).
    Versioned-parquet state via apply_versioned_batch (exactly-once
    under foreachBatch retry); ``state_base`` as in
    run_streaming_mv_refresh."""
    from pyspark.sql import Window

    from ..operators.sketches import hdr_cells, merge_hdr_cells

    if probes is None:
        probes = [(1, 100), (1, 4), (1, 2), (3, 4), (9, 10), (99, 100)]
    with _staged_stream(
        spark, sf_dir, "orders", _ORDER_COLS, n_input_files, base=state_base
    ) as (stream, base):
        def _apply(batch_df: DataFrame, batch_id: int) -> None:
            def compute(prev: DataFrame | None) -> DataFrame:
                cents = batch_df.select(
                    (F.col("o_totalprice").cast("decimal(14,2)") * 100)
                    .cast("bigint")
                    .alias("v")
                )
                delta = hdr_cells(cents, "v", mantissa_bits)
                return merge_hdr_cells(prev, delta) if prev is not None else delta

            apply_versioned_batch(batch_df.sparkSession, base, "hdr", batch_id, compute)

        _run_foreach_batch(stream, base, _apply, timeout_sec, "streaming HDR refresh")
        cells = _final_version(spark, base, "hdr", "streaming HDR refresh")
        w = Window.orderBy("blo").rowsBetween(Window.unboundedPreceding, 0)
        cum = cells.select("blo", F.sum("cell_n").over(w).alias("cum"))
        n = cells.agg(F.sum("cell_n").cast("long").alias("n"))
        pr = spark.createDataFrame(
            [(int(a), int(b)) for a, b in probes], "num long, den long"
        )
        r = pr.crossJoin(F.broadcast(n)).select(
            "num",
            "den",
            (
                (F.col("num") * F.col("n") + F.col("den") - F.lit(1))
                / F.col("den")
            )
            .cast("long")
            .alias("r"),
        )
        return (
            r.join(F.broadcast(cum), F.col("cum") >= F.col("r"))
            .groupBy("num", "den", "r")
            .agg(F.min("blo").alias("est_cents"))
            .select(
                F.round(F.col("num").cast("double") / F.col("den"), 6).alias("q"),
                F.col("r").alias("target_rank"),
                "est_cents",
            )
            .orderBy("q")
            .localCheckpoint(eager=True)
        )


def run_streaming_ivf_refresh(
    spark: SparkSession,
    sf_dir: str,
    timeout_sec: int = 300,
    n_input_files: int = 4,
    n_centroids: int = 8,
    nprobe: int = 2,
    state_base: str | None = None,
) -> DataFrame:
    """Streaming ANN-INDEX freshness (VERDICT r13 #4): a foreachBatch
    IVF index refresher — micro-batches of new vectors are assigned to
    the PERSISTED coarse quantizer and appended to the
    centroid-partitioned index (the `ivf_index_roundtrip` layout), so
    every later query still reads only its probed bucket directories.
    Completes the streaming story for the similarity family (MV / CMS
    / CDC-latest already have refreshers).

    Design:

    - the codebook is a MODEL, trained offline and persisted once at
      bootstrap (here: the ivf_search_vec0 seed centroids, kept
      oracle-replayable; a production job would persist kmeans_fit
      output — same table shape);
    - each micro-batch runs the zero-shuffle argmin against the loaded
      codebook (operators/similarity.ivf_assign_against) and writes
      its assignments partitioned by (batch, centroid_id) with DYNAMIC
      partition overwrite — a replayed micro-batch (foreachBatch is
      at-least-once) deterministically rewrites ITS OWN partitions and
      nothing else, so the apply is exactly-once WITHOUT a marker
      file: idempotence comes from the layout, the production-grade
      answer for append-shaped streaming sinks;
    - because the codebook is fixed, assignment is a pure per-vector
      function: the final index CONTENT is identical under any
      micro-batch slicing, and the vec-0 probe answered from the
      streamed index must equal the batch `ivf_search_vec0` exactly —
      which is what the oracle checks (pytest additionally pins
      slicing invariance of the raw index rows and restart
      idempotence via a reused state_base).

    At 100 TB: per batch the work is one scan of the batch (the
    codebook broadcasts as a literal); the index grows append-only as
    bucket-partitioned files; queries prune to nprobe directories via
    PartitionFilters (pytest-guarded)."""
    from pyspark.sql import Window

    from ..functions.vectors import cosine
    from ..operators.similarity import euclidean_sq, ivf_assign_against

    with _staged_stream(
        spark,
        sf_dir,
        "embeddings",
        ["vec_id", "label", "embedding"],
        n_input_files,
        base=state_base,
    ) as (stream, base):
        idx_path = os.path.join(base, "index")
        cents_path = os.path.join(base, "centroids")
        emb = load_table(spark, sf_dir, "embeddings")
        if not os.path.exists(os.path.join(cents_path, "_SUCCESS")):
            emb.filter(F.col("vec_id") < n_centroids).select(
                F.col("vec_id").alias("centroid_id"), "embedding"
            ).write.mode("overwrite").parquet(cents_path)
        # model fetch: n_centroids rows
        crows = spark.read.parquet(cents_path).collect()
        cents = F.array(
            *[
                F.struct(
                    F.lit(int(r.centroid_id)).alias("centroid_id"),
                    F.array(*[F.lit(float(x)) for x in r.embedding]).alias("c_emb"),
                )
                for r in sorted(crows, key=lambda r: r.centroid_id)
            ]
        )

        def _apply(batch_df: DataFrame, batch_id: int) -> None:
            (
                ivf_assign_against(batch_df, cents)
                .withColumn("batch", F.lit(int(batch_id)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch", "centroid_id")
                .parquet(idx_path)
            )

        _run_foreach_batch(stream, base, _apply, timeout_sec, "streaming IVF refresh")
        # answer the vec-0 probe purely from the persisted streamed
        # index (the ivf_index_roundtrip read path: probe ids arrive
        # as literals so the bucket filter prunes index PARTITIONS)
        cents_df = spark.read.parquet(cents_path).select(
            "centroid_id", F.col("embedding").alias("c_emb")
        )
        qvec = emb.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("q_embedding")
        )
        probe_ids = [
            int(r["centroid_id"])
            for r in (
                qvec.crossJoin(F.broadcast(cents_df))
                .select(
                    "centroid_id",
                    F.round(F.sqrt(euclidean_sq("q_embedding", "c_emb")), 6).alias(
                        "qdist"
                    ),
                )
                .withColumn(
                    "rn",
                    F.row_number().over(
                        Window.orderBy(F.col("qdist").asc(), F.col("centroid_id").asc())
                    ),
                )
                .filter(F.col("rn") <= nprobe)
                .select("centroid_id")
                .collect()  # bounded model probe, not a data collect
            )
        ]
        cand = (
            spark.read.parquet(idx_path)
            .filter(F.col("centroid_id").isin(probe_ids) & (F.col("vec_id") != 0))
            .select("vec_id")
        )
        return (
            emb.join(cand, "vec_id")
            .crossJoin(F.broadcast(qvec))
            .select(
                "vec_id",
                "label",
                F.round(cosine("embedding", "q_embedding"), 6).alias("cos_sim"),
            )
            .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
            .limit(10)
            .localCheckpoint(eager=True)
        )


def run_streaming_cms_refresh(
    spark: SparkSession,
    sf_dir: str,
    terms: tuple[str, ...] = ("spark", "hash", "join", "quantum"),
    timeout_sec: int = 300,
    n_input_files: int = 4,
    depth: int = 4,
    width: int = 64,
    state_base: str | None = None,
) -> DataFrame:
    """Continuously-maintained STREAMING Count-Min sketch: each
    micro-batch tokenizes its documents, builds its own d×w cell
    table (operators.sketches.cms_cells) and merges it into the
    accumulating sketch by cellwise integer sum
    (merge_cms_cells) — so the refresh state is d×w longs REGARDLESS
    of corpus size or vocabulary, the defining property that makes
    CMS the streaming frequency sketch. Because the cellwise sum is
    exactly associative, the final sketch equals the batch-built
    sketch under ANY micro-batch slicing — the oracle point-queries
    the full-corpus SQL replica and must match exactly, including the
    never-seen probe term (which honestly reads whatever its buckets
    accumulated). Versioned-parquet state, same plain-parquet
    stand-in as the CDC/MV sinks — exactly-once under foreachBatch
    retry via the batch_id marker (apply_versioned_batch).
    ``state_base``: optional persistent state/checkpoint dir (caller-
    owned, restart-resumable — see run_streaming_mv_refresh)."""
    from ..functions.text import tokens as _tokens
    from ..operators.sketches import cms_cells, cms_point_query, merge_cms_cells

    with _staged_stream(
        spark, sf_dir, "documents", ["doc_id", "text"], n_input_files, base=state_base
    ) as (stream, base):
        def _apply(batch_df: DataFrame, batch_id: int) -> None:
            def compute(prev: DataFrame | None) -> DataFrame:
                items = batch_df.select(F.explode(_tokens(F.col("text"))).alias("item"))
                delta = cms_cells(items, "item", depth=depth, width=width)
                return merge_cms_cells(prev, delta) if prev is not None else delta

            apply_versioned_batch(batch_df.sparkSession, base, "cms", batch_id, compute)

        _run_foreach_batch(stream, base, _apply, timeout_sec, "streaming CMS refresh")
        cells = _final_version(spark, base, "cms", "streaming CMS refresh")
        return cms_point_query(
            cells, list(terms), depth=depth, width=width
        ).localCheckpoint(eager=True)


def run_streaming_kmv_refresh(
    spark: SparkSession,
    sf_dir: str,
    k: int = 256,
    timeout_sec: int = 300,
    n_input_files: int = 4,
    state_base: str | None = None,
) -> DataFrame:
    """Continuously-maintained STREAMING distinct-count sketch: each
    micro-batch of orders folds its keys into the bounded KMV bottom-k
    state (operators/sketches.kmv_bottomk) — merge = bottom-k of the
    union of the previous k-row state and the batch's k-row delta,
    which is EXACTLY the bottom-k of all keys seen so far (any hash
    among the running bottom-k is in its own batch's bottom-k), so
    the final sketch — and the DV̂ = (k−1)/U(k) estimate it answers —
    is bit-identical under ANY micro-batch slicing. The distinct-count
    member of the streaming refresher family (CDC-latest / MV / CMS /
    HDR-quantiles / IVF), and the streaming face of
    kmv_distinct_setops: state is k rows of portable md5 integers,
    so the whole-corpus SQL replica value-checks it exactly where the
    HLL-based alternative would be engine-internal. Exactly-once via
    apply_versioned_batch (versioned-parquet state, marker commit
    after write); ``state_base`` as in run_streaming_mv_refresh."""
    from ..operators.sketches import kmv_bottomk

    with _staged_stream(
        spark, sf_dir, "orders", _ORDER_COLS, n_input_files, base=state_base
    ) as (stream, base):
        def _apply(batch_df: DataFrame, batch_id: int) -> None:
            def compute(prev: DataFrame | None) -> DataFrame:
                delta = kmv_bottomk(batch_df, "o_orderkey", k)
                if prev is None:
                    return delta
                return (
                    prev.unionByName(delta)
                    .distinct()
                    .orderBy("h", "key")
                    .limit(k)
                )

            apply_versioned_batch(batch_df.sparkSession, base, "kmv", batch_id, compute)

        _run_foreach_batch(stream, base, _apply, timeout_sec, "streaming KMV refresh")
        sk = _final_version(spark, base, "kmv", "streaming KMV refresh")
        s = sk.agg(
            F.max("h").alias("kth_hash"),
            F.count(F.lit(1)).cast("long").alias("sketch_size"),
        )
        ex = spark.read.parquet(os.path.join(base, "src")).agg(
            F.countDistinct("o_orderkey").cast("long").alias("exact_dv")
        )
        c = F.lit(float(k - 1)) * F.lit(1152921504606846976.0)
        est = F.round(
            F.when(
                F.col("sketch_size") < k, F.col("sketch_size").cast("double")
            ).otherwise(c / F.col("kth_hash").cast("double")),
            6,
        )
        return (
            s.crossJoin(F.broadcast(ex))
            .select(
                F.lit(k).cast("long").alias("k"),
                "sketch_size",
                "kth_hash",
                est.alias("dv_est"),
                "exact_dv",
            )
            .select(
                "*",
                F.round(
                    F.abs(F.col("dv_est") - F.col("exact_dv").cast("double"))
                    / F.col("exact_dv").cast("double"),
                    6,
                ).alias("rel_err"),
            )
            .localCheckpoint(eager=True)
        )
