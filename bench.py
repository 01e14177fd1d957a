"""Benchmark harness: times the headline registry queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query executes to completion through the noop sink (full compute,
no driver-side result transfer), so the measured time is the engine's
distributed work, comparable across runs.

The final stdout line is kept COMPACT (required keys + totals) and
explicitly flushed; full per-query detail (full-call, service-mode,
per-query duck control) is written to a sidecar JSON
($SPARK_GRAFT_BENCH_SIDECAR, default BENCH_detail_c{cpus}_sf{sf}.json
beside this file) BEFORE the line prints — the old single giant line
was twice truncated mid-write in the driver's tail capture, losing the
round-over-round PERF pairing (VERDICT r14 #1).

Three timers per query plus a paired control, all in the JSON:

- exec-only (the headline metric, r1-comparable): distributed
  execution of a freshly built plan.
- full-call: fn() + execution — additionally counts driver-side plan
  construction (py4j, Catalyst analysis, parquet footer listing),
  a per-dispatch ~0.3 s constant that PERF.md shows is invariant to
  shuffle width and amortizes at production exec times.
- service-mode: re-dispatch of the ALREADY-BUILT DataFrame (plan
  object reused, JIT warm) — what a long-lived query service pays per
  request. Reported separately precisely so it cannot game the
  cold-dispatch metrics (VERDICT r11 #7).
- duck_control: the SAME headliners' own oracle SQL run in DuckDB
  (same parquet, same box, same minutes, $SPARK_GRAFT_CPUS threads),
  so the "within 2x of the columnar-engine yardstick" ratio is
  attributable from this artifact alone — a box-speed drift moves
  both engines and leaves the ratio fixed (VERDICT r11 #3).
"""

from __future__ import annotations

import json
import os
import sys
import time


def _duck_control(sf_dir: str, oracle_queries: dict[str, str]) -> dict[str, float]:
    """Best-of-2 DuckDB timing per oracle SQL on the same parquet."""
    import duckdb

    from etl_challenge_localiza_spark.session import DEFAULT_CPUS
    from etl_challenge_localiza_spark.sources.readers import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"create view {t} as select * from '{src}'")
    con.execute(f"set threads to {DEFAULT_CPUS}")
    out: dict[str, float] = {}
    for name, sql in oracle_queries.items():
        # no-transfer drain, symmetric with the Spark noop sink: the
        # MATERIALIZED wrapper forces full computation of every column
        # (count(*) alone would let DuckDB prune work the Spark side
        # pays), while fetch moves one scalar instead of the full
        # result set — row-heavy oracles (pair/top-N) otherwise pay a
        # transfer cost Spark doesn't, flattering the ratio (ADVICE r12)
        wrapped = f"with __bench_q as materialized ({sql}) select count(*) from __bench_q"
        try:
            # EXECUTE once (not just parse/bind — con.sql alone returns a
            # lazy relation, so a wrapper that binds but fails at runtime
            # would otherwise escape the timed loop and abort the whole
            # bench run; ADVICE r13). Doubles as the warm-up run.
            con.sql(wrapped).fetchall()
            run_sql = wrapped
        except Exception:
            run_sql = sql  # rare shapes the wrapper can't nest/execute
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            con.sql(run_sql).fetchall()
            best = min(best, time.perf_counter() - t0)
        out[name] = round(best, 3)
    con.close()
    return out


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")

    from etl_challenge_localiza_spark.registry import QUERIES
    from etl_challenge_localiza_spark.session import DEFAULT_CPUS, get_spark

    spark = get_spark(app_name="bench")

    # warm-up: JVM + codegen + parquet footer caches, not timed
    QUERIES["top10_orders"].fn(spark, sf_dir).collect()

    # best-of-2 per query: the first run of a fresh plan pays one-time
    # codegen/broadcast warm-up that a long-lived cluster amortizes;
    # steady-state throughput is the comparable number.
    timings: dict[str, float] = {}
    timings_full: dict[str, float] = {}
    timings_service: dict[str, float] = {}
    for name, q in QUERIES.items():
        if not q.headline:
            continue
        best = float("inf")
        best_full = float("inf")
        df = None
        for _ in range(2):
            t_full0 = time.perf_counter()
            df = q.fn(spark, sf_dir)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t1 = time.perf_counter()
            best = min(best, t1 - t0)
            best_full = min(best_full, t1 - t_full0)
        # service-mode: re-dispatch the built plan (best of 2)
        svc = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            svc = min(svc, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        timings_full[name] = round(best_full, 3)
        timings_service[name] = round(svc, 3)
        print(
            f"  {name}: {timings[name]:.3f}s (full {timings_full[name]:.3f}s, "
            f"svc {timings_service[name]:.3f}s)",
            file=sys.stderr,
        )

    # paired DuckDB control on the oracle-bearing headliners
    oracle_queries = {
        n: QUERIES[n].oracle for n in timings if QUERIES[n].oracle is not None
    }
    duck = _duck_control(sf_dir, oracle_queries)
    spark_paired = round(sum(timings[n] for n in duck), 3)
    duck_paired = round(sum(duck.values()), 3)
    for n, d in duck.items():
        print(f"  duck {n}: {d:.3f}s", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    duck_control = {
        "spark_exec": spark_paired,
        "duck_exec": duck_paired,
        "ratio": round(spark_paired / duck_paired, 3) if duck_paired else None,
        "n_paired": len(duck),
        "timing": "both no-transfer: spark noop sink / "
        "duck materialized-CTE count",
    }
    # One-line JSON contract hardening (VERDICT r14 #1): the final
    # stdout line carries the driver-required keys (metric/value/unit/
    # queries/sf) plus compact TOTALS only, explicitly flushed; the
    # full per-query detail (full-call, service-mode, per-query duck)
    # goes to a SIDECAR file written BEFORE the line is printed — two
    # of the last three rounds lost their round-over-round PERF pairing
    # to the old single giant line being truncated mid-write in the
    # driver's tail capture. Nothing is dropped: every number the old
    # line carried is in the sidecar, and the headline `queries` map
    # (the r1-comparable exec metric) stays in the line unchanged.
    detail = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "full_call_total": round(sum(timings_full.values()), 3),
        "queries_full": timings_full,
        "service_mode_total": round(sum(timings_service.values()), 3),
        "queries_service": timings_service,
        "duck_control": dict(duck_control, per_query=duck),
        "sf": sf,
    }
    # one default file per (cpus, sf), so runs at another width or
    # scale keep their own detail instead of overwriting it
    sidecar = os.environ.get(
        "SPARK_GRAFT_BENCH_SIDECAR",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            f"BENCH_detail_c{DEFAULT_CPUS}_sf{sf}.json",
        ),
    )
    try:
        with open(sidecar, "w") as f:
            json.dump(detail, f, indent=1)
            f.write("\n")
            f.flush()
            os.fsync(f.fileno())
        print(f"  per-query detail sidecar: {sidecar}", file=sys.stderr)
    except OSError as e:
        print(f"  sidecar write failed ({e}); detail on stderr only", file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "full_call_total": detail["full_call_total"],
                "service_mode_total": detail["service_mode_total"],
                "duck_control": duck_control,
                "sf": sf,
            }
        ),
        flush=True,
    )
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
