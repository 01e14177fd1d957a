"""Output checks and the DuckDB control, all run outside timed regions.

- :func:`check_pipeline` compares one ``run_pipeline`` result (the DQ
  JSON files and both curated CSVs) with what the generator expects.
- :func:`check_headliner` compares a query's rows with its DuckDB
  oracle by the rule ``tests/oracle_harness.compare`` applies: same
  columns, same row count, same order-insensitive values.
- :func:`duck_headliners` and :func:`duck_pipeline` time the same work
  in DuckDB, the control that cancels out box-speed drift.
"""

from __future__ import annotations

import csv
import json
import math
import os
import time
from datetime import datetime, timezone

import duckdb

#: Timed DuckDB passes of the control, after one that warms up and is
#: dropped; the control reports their median.
PASSES = 3

DQ_FILES = {"dq_pre": "dq_metrics_pre.json", "dq_post": "dq_metrics_post.json"}
REGION_CSV = "region_risk_avg.csv"
TOP3_CSV = "top3_recent_sales_by_receiving.csv"


def _close(a: float | None, b: float | None, rel: float = 1e-9) -> bool:
    if a is None or b is None:
        return a is b
    return math.isclose(a, b, rel_tol=rel, abs_tol=1e-12)


def _ts_ms(text: str) -> int:
    dt = datetime.fromisoformat(text)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return round(dt.timestamp() * 1000)


def _dq_problems(phase: str, got: dict, want: dict) -> list[str]:
    out = []
    for key in ("total_rows", "nulls", "rules", "failed_rows_estimate"):
        if got.get(key) != want[key]:
            out.append(f"{phase}.{key}: got {got.get(key)} want {want[key]}")
    if not _close(got.get("conformity_rate"), want["conformity_rate"]):
        out.append(f"{phase}.conformity_rate: got {got.get('conformity_rate')}"
                   f" want {want['conformity_rate']}")
    return out


def check_pipeline(data_dir: str, curated_dir: str, expected: dict) -> list[str]:
    """Problems with one pipeline run's outputs (empty list: correct)."""
    problems: list[str] = []
    for phase, name in DQ_FILES.items():
        with open(os.path.join(data_dir, name)) as f:
            problems += _dq_problems(phase, json.load(f), expected[phase])

    with open(os.path.join(curated_dir, REGION_CSV), newline="") as f:
        region = [(r["location_region"], float(r["avg_risk_score"])) for r in csv.DictReader(f)]
    want = expected["region_risk_avg"]
    if [r for r, _ in region] != [r for r, _ in want] or not all(
        _close(a, b) for (_, a), (_, b) in zip(region, want)
    ):
        problems.append(f"region_risk_avg: got {region[:3]}... want {want[:3]}...")

    with open(os.path.join(curated_dir, TOP3_CSV), newline="") as f:
        top3 = [
            [r["receiving_address"] or None, float(r["amount"]), _ts_ms(r["timestamp"])]
            for r in csv.DictReader(f)
        ]
    candidates = [list(c) for c in expected["top3_candidates"]]
    if [r[1] for r in top3] != expected["top3_amounts"] or any(
        r not in candidates for r in top3
    ):
        problems.append(f"top3_recent_sales: got {top3} want amounts {expected['top3_amounts']}")
    return problems


def duck_connection(sf_dir: str, threads: int) -> duckdb.DuckDBPyConnection:
    """The oracle harness's DuckDB views over ``sf_dir``, on ``threads``
    threads."""
    from tests.oracle_harness import duck_con

    con = duck_con(sf_dir)
    con.execute(f"set threads to {threads}")
    return con


def check_headliner(name: str, df, con: duckdb.DuckDBPyConnection) -> list[str]:
    """Problems with one headliner's rows against its DuckDB oracle."""
    from etl_challenge_localiza_spark.registry import QUERIES
    from tests.oracle_harness import compare

    oracle = QUERIES[name].oracle
    spark_rows = df.toPandas()
    if oracle is None:
        return []  # rows-only query: it ran and produced a frame
    return compare(name, spark_rows, con.sql(oracle).fetchdf())


def duck_headliners(con: duckdb.DuckDBPyConnection, names: list[str]) -> float:
    """Median DuckDB time of one pass over the headliners' oracle SQL,
    fully materialized but not transferred (as the noop sink on the
    Spark side)."""
    from etl_challenge_localiza_spark.registry import QUERIES

    sqls = [
        f"with __q as materialized ({QUERIES[n].oracle}) select count(*) from __q"
        for n in names if QUERIES[n].oracle is not None
    ]
    times = []
    for _ in range(PASSES + 1):
        t0 = time.perf_counter()
        for sql in sqls:
            con.sql(sql).fetchall()
        times.append(time.perf_counter() - t0)
    times = sorted(times[1:])
    return times[len(times) // 2]


#: The reference flow in DuckDB: ingest, DQ pre, clean, DQ post, publish.
_DUCK_PIPELINE = """
create or replace temp table raw as
  select * from read_csv('{csv}', header = true, all_varchar = true);
select count(*), count(*) - count(transaction_type),
       count(*) - count(try_cast(amount as double)),
       count(*) filter (where try_cast(amount as double) < 0) from raw;
create or replace temp table clean as
  select distinct * from (
    select epoch_ms(cast(timestamp as bigint)) as timestamp,
           case when lower(trim(transaction_type)) in ('', 'nan', 'None') then null
                else lower(trim(transaction_type)) end as transaction_type,
           try_cast(amount as double) as amount,
           case when trim(receiving_address) in ('', 'nan', 'None') then null
                else trim(receiving_address) end as receiving_address,
           case when trim(location_region) in ('', 'nan', 'None', '0') then null
                else trim(location_region) end as location_region,
           try_cast(risk_score as double) as risk_score
    from raw)
  where timestamp is not null and transaction_type is not null
    and amount is not null and amount >= 0;
select count(*), count(*) - count(receiving_address), count(*) - count(location_region),
       count(*) - count(risk_score) from clean;
copy clean to '{out}/stg.parquet' (format parquet);
copy (select location_region, avg(risk_score) as avg_risk_score from clean
      where location_region is not null group by 1 order by 2 desc)
  to '{out}/region_risk_avg.csv' (header);
copy (select receiving_address, amount, timestamp from clean
      where transaction_type = 'sale'
      qualify row_number() over (partition by receiving_address
                                 order by timestamp desc) = 1
      order by amount desc limit 3)
  to '{out}/top3.csv' (header);
"""


def duck_pipeline(csv_path: str, out_dir: str, threads: int) -> float:
    """Median DuckDB time of the reference flow over the same CSV."""
    os.makedirs(out_dir, exist_ok=True)
    statements = [
        s.strip() for s in _DUCK_PIPELINE.format(csv=csv_path, out=out_dir).split(";")
        if s.strip()
    ]
    times = []
    con = duckdb.connect()
    try:
        con.execute(f"set threads to {threads}")
        for _ in range(PASSES + 1):
            t0 = time.perf_counter()
            for s in statements:
                con.execute(s).fetchall()
            times.append(time.perf_counter() - t0)
    finally:
        con.close()
    times = sorted(times[1:])
    return times[len(times) // 2]
