"""Seeded inputs for the benchmark.

The tables are fixed: ``data/sf0.01`` is a copy of the engine's seeded
test tables at scale factor 0.01 (TESTDATA.md), the tables the oracle
harness reads at that scale (60,000 lineitems, 10,000 events). The
headliner queries read them as they are; the seed only sets the order
of the queries in each pass.

:func:`write_pipeline_csv` writes the reference pipeline's transactions
CSV. Rows come from ``events`` through the engine's own ``SQL_TXN``
mapping (run in DuckDB), replicated to the requested row count with
epoch-ms timestamps. The seed places dirt at fixed rates and sets the
row order. Alongside the CSV the generator returns what the pipeline
must produce: both DQ profiles and both curated tables, computed in
DuckDB from the rows it left clean.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd

#: The engine's test tables at scale factor 0.01.
SF = 0.01
TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", f"sf{SF}")

#: Fixed dirt rates (share of rows). The pre-gate rule violations are
#: the blank types, the non-numeric amounts and the negative amounts:
#: 0.3% + 0.1% + 0.25% keeps pre-gate conformity near 0.9935, above the
#: engine's 0.98 default, and the cleaned rows conform fully.
DIRT = {
    "type_blank": 0.003,          # '' -> NULL: pre violation, dropped
    "type_sentinel": 0.002,       # 'nan' / ' NaN ': dropped by the cleaner
    "type_none": 0.001,           # 'None' lowercases to 'none' and is kept,
                                  # as in the reference
    "amount_negative": 0.0025,    # pre violation, dropped
    "amount_text": 0.001,         # non-numeric: pre violation, dropped
    "address_sentinel": 0.005,    # '', 'nan', 'None' -> NULL, row kept
    "region_sentinel": 0.01,      # '', '0', 'nan', 'None' -> NULL, row kept
    "risk_text": 0.002,           # non-numeric -> NULL, row kept
    "padded": 0.05,               # padded / mixed-case text, row kept
}
DUP_RATE = 0.005  # whole-row duplicates, removed by the cleaner

CSV_COLUMNS = [
    "timestamp", "transaction_type", "amount",
    "receiving_address", "location_region", "risk_score",
]

_MONTH_MS = 30 * 86_400_000


def _txn_rows() -> pd.DataFrame:
    """``events`` through the engine's ``registry.SQL_TXN`` mapping, with
    the reference's transaction types (``purchase`` is the reference's
    ``sale``, the only type its curated outputs read)."""
    from etl_challenge_localiza_spark.registry import SQL_TXN
    from tests.oracle_harness import duck_con

    con = duck_con(TABLES)
    try:
        return con.sql(
            f"with {SQL_TXN} select epoch_ms(timestamp) as ts_ms,"
            " case transaction_type when 'purchase' then 'sale'"
            " else transaction_type end as transaction_type,"
            " amount, receiving_address, location_region, risk_score"
            " from txn order by event_id"
        ).df()
    finally:
        con.close()


def _fmt_num(x: np.ndarray) -> np.ndarray:
    return np.array([repr(float(v)) for v in x], dtype=object)


def make_pipeline_rows(seed: int, rows: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Return ``(raw, clean)``: the raw CSV rows (all strings, file order)
    and the rows a correct cleaner keeps (typed, deduplicated)."""
    base = _txn_rows()
    reps = -(-rows // len(base))
    rep = np.repeat(np.arange(reps), len(base))[:rows]
    idx = np.tile(np.arange(len(base)), reps)[:rows]
    rng = np.random.default_rng([seed, 2])

    ts = base["ts_ms"].to_numpy()[idx] + rep * _MONTH_MS
    ttype = base["transaction_type"].to_numpy(dtype=object)[idx]
    amount = base["amount"].to_numpy()[idx]
    addr = base["receiving_address"].to_numpy(dtype=object)[idx]
    region = base["location_region"].to_numpy(dtype=object)[idx]
    risk = base["risk_score"].to_numpy()[idx]

    # one dirt kind per row at most, so every rate is exact and the
    # expected outputs follow from the kind alone
    kinds = list(DIRT)
    counts = [int(round(DIRT[k] * rows)) for k in kinds]
    order = rng.permutation(rows)
    kind = np.full(rows, -1)
    pos = 0
    for i, c in enumerate(counts):
        kind[order[pos:pos + c]] = i
        pos += c

    def rows_of(name: str) -> np.ndarray:
        return kind == kinds.index(name)

    def pick(options: list[str], n: int) -> np.ndarray:
        return np.array(options, dtype=object)[rng.integers(0, len(options), n)]

    raw_type = ttype.copy()
    raw_amount = _fmt_num(amount)
    raw_addr = addr.copy()
    raw_region = region.copy()
    raw_risk = _fmt_num(risk)
    clean_type, clean_amount = ttype.copy(), amount.copy()
    clean_addr, clean_region = addr.copy(), region.copy()
    clean_risk = risk.astype(object)

    m = rows_of("type_blank")
    raw_type[m] = ""
    m = rows_of("type_sentinel")
    raw_type[m] = pick(["nan", " NaN "], m.sum())
    m = rows_of("type_none")
    raw_type[m] = "None"
    clean_type[m] = "none"
    m = rows_of("amount_negative")
    raw_amount[m] = _fmt_num(-(amount[m] + 0.01))
    m = rows_of("amount_text")
    raw_amount[m] = pick(["n/a", "abc", "1.2.3"], m.sum())
    m = rows_of("address_sentinel")
    raw_addr[m] = pick(["", "nan", "None"], m.sum())
    clean_addr[m] = None
    m = rows_of("region_sentinel")
    raw_region[m] = pick(["", "0", "nan", "None"], m.sum())
    clean_region[m] = None
    m = rows_of("risk_text")
    raw_risk[m] = pick(["x", "high", "?"], m.sum())
    clean_risk[m] = None
    m = rows_of("padded")
    style = rng.integers(0, 3, m.sum())
    raw_type[m] = np.where(
        style == 0, np.char.upper(ttype[m].astype(str)),
        np.where(style == 1, [f"  {t.title()} " for t in ttype[m]], [f" {t}" for t in ttype[m]]),
    ).astype(object)
    raw_addr[m] = np.array([f" {a}  " for a in addr[m]], dtype=object)
    raw_region[m] = np.array([f"{r} " for r in region[m]], dtype=object)

    dropped = (
        rows_of("type_blank") | rows_of("type_sentinel")
        | rows_of("amount_negative") | rows_of("amount_text")
    )
    raw = pd.DataFrame({
        "timestamp": ts.astype(str).astype(object),
        "transaction_type": raw_type,
        "amount": raw_amount,
        "receiving_address": raw_addr,
        "location_region": raw_region,
        "risk_score": raw_risk,
    })
    clean = pd.DataFrame({
        "ts_ms": ts,
        "transaction_type": clean_type,
        "amount": clean_amount,
        "receiving_address": clean_addr,
        "location_region": clean_region,
        "risk_score": clean_risk,
    })[~dropped].reset_index(drop=True)
    clean["risk_score"] = pd.to_numeric(clean["risk_score"])

    # whole-row duplicates, then a seeded shuffle of the file order
    dups = rng.choice(rows, int(round(DUP_RATE * rows)), replace=False)
    raw = pd.concat([raw, raw.iloc[dups]], ignore_index=True)
    raw = raw.iloc[rng.permutation(len(raw))].reset_index(drop=True)
    return raw, clean


def _dq(raw: pd.DataFrame | None, clean: pd.DataFrame | None) -> dict:
    """The engine's DQ profile of the raw file (``raw``) or of the
    cleaned rows (``clean``), derived from the rows alone."""
    if raw is not None:
        total = len(raw)
        empty = {c: int((raw[c] == "").sum()) for c in CSV_COLUMNS}
        amount = pd.to_numeric(raw["amount"], errors="coerce")
        nulls = dict(empty, amount=int(amount.isna().sum()))
        negative = int((amount < 0).sum())
    else:
        total = len(clean)
        nulls = {
            "timestamp": 0, "transaction_type": 0, "amount": 0,
            "receiving_address": int(clean["receiving_address"].isna().sum()),
            "location_region": int(clean["location_region"].isna().sum()),
            "risk_score": int(clean["risk_score"].isna().sum()),
        }
        negative = 0
    rules = {
        "timestamp_not_null": nulls["timestamp"],
        "transaction_type_not_null": nulls["transaction_type"],
        "amount_not_null": nulls["amount"],
        "amount_non_negative": negative,
    }
    fails = sum(rules.values())
    return {
        "total_rows": total,
        "nulls": nulls,
        "rules": {k: {"violations": v} for k, v in rules.items()},
        "failed_rows_estimate": fails,
        "conformity_rate": max(0.0, 1.0 - fails / (total + 1e-9)),
    }


def expected_outputs(raw: pd.DataFrame, clean: pd.DataFrame) -> dict:
    """What ``run_pipeline`` must produce for ``raw``: both DQ profiles
    and the two curated tables (computed in DuckDB from ``clean``)."""
    clean = clean.drop_duplicates().reset_index(drop=True)
    con = duckdb.connect()
    try:
        con.register("clean", clean)
        region = con.sql(
            "select location_region, avg(risk_score) as avg_risk_score from clean"
            " where location_region is not null group by 1 order by 2 desc"
        ).fetchall()
        # per-address latest sale; every row tied with the third amount
        # is listed so the check accepts any of them
        latest = con.sql(
            "select receiving_address, amount, ts_ms from clean"
            " where transaction_type = 'sale'"
            " qualify row_number() over (partition by receiving_address"
            " order by ts_ms desc) = 1 order by amount desc"
        ).fetchall()
    finally:
        con.close()
    top = latest[:3]
    cut = top[-1][1] if top else None
    candidates = [r for r in latest if cut is not None and r[1] >= cut]
    return {
        "dq_pre": _dq(raw, None),
        "dq_post": _dq(None, clean),
        "region_risk_avg": [list(r) for r in region],
        "top3_amounts": [r[1] for r in top],
        "top3_candidates": [list(r) for r in candidates],
    }


def write_pipeline_csv(path: str, seed: int, rows: int) -> dict:
    """Write the dirty CSV to ``path``; return :func:`expected_outputs`."""
    raw, clean = make_pipeline_rows(seed, rows)
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    raw.to_csv(path, index=False, columns=CSV_COLUMNS, lineterminator="\n")
    return expected_outputs(raw, clean)

