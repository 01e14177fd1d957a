"""SparkSession factory.

The reference (flows/pipeline.py:222-265) runs a single in-process
pandas+DuckDB flow; the Spark equivalent of its "engine setup" is the
session configuration below. Everything here is chosen for the 100 TB
design stance (SURVEY.md §7.4.8):

- UTC session timezone — the reference parses all timestamps UTC
  (flows/pipeline.py:137,139).
- AQE on (coalesce shuffle partitions, skew-join handling) so plans
  re-optimize at runtime on real statistics.
- shuffle partitions sized to the local core count for tests; on a real
  cluster AQE coalescing makes the initial number a ceiling, not a
  constant cost.
- ANSI off: the reference's semantics are "coerce, never error"
  (errors="coerce" at flows/pipeline.py:84,101,137,144,148); with ANSI
  off a bad cast yields NULL, which matches. Where we want the stricter
  behavior we use try_* functions explicitly, so the code also runs
  fine under ANSI.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)

# Runtime-settable confs applied even to an externally created session
# (e.g. the verification driver's). Static confs like driver memory can
# only apply when we create the session ourselves.
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # coalesce to the advisory partition size instead of maximizing
    # parallelism — the Spark-docs-recommended setting; measured
    # 10-20% faster on the bench queries (small shuffles collapse to
    # few partitions instead of 32 near-empty tasks).
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    # 16 MB advisory post-shuffle partition size as the NO-CONTEXT
    # fallback only: whenever a query entry point knows its sf_dir,
    # tune() overrides this with the dataset-derived value from
    # _advisory_bytes_for (total_input/shuffle_width clamped to
    # [1 MB, 256 MB]) — small inputs keep CPU-dense reduce stages
    # parallel, huge inputs get the guide-recommended 256 MB
    # partitions instead of millions of 16 MB ones.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # allow shuffled-hash join where the planner's size conditions fit
    # (guide §3.1/§9): SHJ skips both sort passes of a sort-merge join;
    # the planner still requires the build side to be small per
    # partition, and AQE skew handling covers SHJ too. Measured
    # (interleaved A/B, sf0.1): capped attribution 0.90→0.75,
    # q21 0.70→0.61, merge_upsert 0.22→0.17; no lane regressed beyond
    # noise. At cluster scale the same conditions gate the choice, so
    # oversized build sides still get sort-merge.
    "spark.sql.join.preferSortMergeJoin": "false",
    # Align Spark's whole-stage-codegen bailout with the JIT's real
    # limit: HotSpot refuses to compile methods over 8000 bytes
    # (-XX:DontCompileHugeMethods), so a fused stage whose produce()
    # exceeds it runs in the BYTECODE INTERPRETER — Spark's default
    # bailout (65535) keeps such stages fused anyway. Found on
    # brp_lsh_ann_pairs: the dedup+joins+64-term-distance stage ran
    # interpreted at ~35 µs/row; with the bailout at 8000 Spark falls
    # back to per-operator codegen (every method JIT-able) — 20.9 s →
    # 3.1 s at sf0.1. Scale-independent: it keys off generated-code
    # size, not data size.
    "spark.sql.codegen.hugeMethodLimit": "8000",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.shuffle.partitions": str(DEFAULT_CPUS),
    # The events table stores TIMESTAMP(NANOS) parquet, which Spark has
    # no native type for; read the raw int64 and convert to micros in
    # sources.readers.load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def shuffle_width(spark: SparkSession) -> int:
    """``spark.sql.shuffle.partitions`` as an int, falling back to
    ``defaultParallelism`` when the conf is unset or non-numeric
    (e.g. ``"auto"`` on AQE-managed clusters) — the guarded lookup
    every explicit-width repartition site shares (r11 advisor:
    bootstrap_ci_mean raised ValueError on a non-numeric conf while
    ranks.grouped_prefix_sum already guarded the same lookup)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        return spark.sparkContext.defaultParallelism


#: cache of dataset-size-derived shuffle-partition choices per sf_dir
#: (one os.walk per directory per process).
_SF_PARTS: dict[str, int] = {}

#: cache of dataset total bytes per sf_dir (shared by the partition
#: and advisory-size derivations; one os.walk per directory).
_SF_BYTES: dict[str, int] = {}


def _total_bytes(sf_dir: str) -> int:
    total = _SF_BYTES.get(sf_dir)
    if total is None:
        total = 0
        try:
            for root, _dirs, files in os.walk(sf_dir):
                for f in files:
                    try:
                        total += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        pass
        except OSError:
            pass
        _SF_BYTES[sf_dir] = total
    return total


def _advisory_bytes_for(sf_dir: str) -> int:
    """Size AQE's advisory post-shuffle partition to the DATASET, not a
    constant (guide §2.2/§9: partition size should track the data;
    a constant tuned for either local mode or the cluster is wrong at
    the other end).

    ``total_input / shuffle_width``, clamped to [1 MB, 256 MB]:

    - small SFs (sf0.1 ≈ 17 MB input): ~1 MB — without this, byte-based
      coalescing collapsed CPU-DENSE small-byte reduce stages (window
      dedup, as-of unions, per-doc aggregates) to ONE task while 31
      cores idled; measured 15-30% exec win across the txn/asof/
      attribution lanes at sf0.1 (OPTIMIZATION_r14.md).
    - cluster scale: the ratio passes through the 256 MB cap — the
      guide's own starting configuration (§9) — so big shuffles get
      FEWER, LARGER partitions than the old fixed 16 MB advisory,
      which at 100 TB would have produced millions of tiny reduce
      partitions (quadratic block growth, §2.2).
    """
    return max(1 << 20, min(256 << 20, _total_bytes(sf_dir) // max(1, _partitions_for(sf_dir))))


def _partitions_for(sf_dir: str) -> int:
    """Size ``spark.sql.shuffle.partitions`` to the dataset, not the
    machine.

    At sf<=0.1 the whole input is ~20 MB; 32-way shuffles of KB-sized
    partitions are pure dispatch overhead across every stage of a
    multi-stage plan. One initial partition per ~4 MB of input, floored
    at 16 and capped at the core count: measured at sf0.1, 8 starves
    reduce-side parallelism on window/join-heavy queries (asof_latest
    +0.7 s) while 32 taxes the 6-stage shingle pipeline with per-task
    overhead (ngram_jaccard +0.7 s); 16 is within noise of the best
    setting for both. At cluster scale the byte count pushes the value
    to the cap and AQE coalescing governs post-shuffle parallelism.
    """
    parts = _SF_PARTS.get(sf_dir)
    if parts is None:
        parts = max(16, min(DEFAULT_CPUS, _total_bytes(sf_dir) // (4 << 20)))
        _SF_PARTS[sf_dir] = parts
    return parts


def tune(spark: SparkSession, sf_dir: str | None = None) -> SparkSession:
    """Apply runtime-mutable confs to an existing session.

    Used at the top of every public query entry point so behavior is
    stable even when the caller (test driver) built its own session.
    When ``sf_dir`` is given, shuffle partitions are sized to the
    dataset (see :func:`_partitions_for`).
    """
    conf = dict(RUNTIME_CONF)
    if sf_dir is not None:
        conf["spark.sql.shuffle.partitions"] = str(_partitions_for(sf_dir))
        conf["spark.sql.adaptive.advisoryPartitionSizeInBytes"] = str(
            _advisory_bytes_for(sf_dir)
        )
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Some confs may be static in exotic deployments; the
            # defaults are acceptable there.
            pass
    return spark


def get_spark(
    app_name: str = "etl-challenge-localiza-spark",
    cpus: int | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    """Create (or fetch) a local SparkSession tuned for this engine.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS, else the machine's CPU
    count. On a real cluster the builder master/memory settings come
    from spark-submit instead; only RUNTIME_CONF matters there.
    """
    cpus = cpus or DEFAULT_CPUS
    driver_memory = driver_memory or os.environ.get("SPARK_DRIVER_MEMORY", "8g")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())
