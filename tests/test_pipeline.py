"""End-to-end tests of the reference flow (SURVEY.md §2.7, §3.1)."""

from __future__ import annotations

import csv
import json
import os

import pytest

from etl_challenge_localiza_spark.operators.quality import QualityGateError
from etl_challenge_localiza_spark.plans.pipeline import run_pipeline

HEADER = ["timestamp", "transaction_type", "amount", "Receiving Address", "location_region", "risk_score"]


def _write_csv(path, rows):
    with open(path, "w", newline="") as f:
        csv.writer(f).writerows(rows)
    return path


def _good_rows(n=200):
    rows = [HEADER]
    for i in range(n):
        rows.append(
            [
                str(1_700_000_000 + i * 60),
                ["SALE", " Sale ", "refund", "transfer"][i % 4],
                f"{100 + i}.50",
                f" addr_{i % 10} ",
                ["north", "south", "east", "west", "0"][i % 5],
                str(i % 100),
            ]
        )
    return rows


def test_pipeline_happy_path(spark, tmp_path):
    rows = _good_rows()
    rows.append(["", "sale", "1.0", "a", "north", "1"])  # 1 dirty row (<2%)
    rows.append(rows[1])  # exact duplicate → deduped
    src = _write_csv(tmp_path / "txn.csv", rows)
    res = run_pipeline(
        spark, str(src), data_dir=str(tmp_path / "data"), curated_dir=str(tmp_path / "cur")
    )
    assert res.failed_gate is None
    assert res.dq_pre["conformity_rate"] > 0.98
    assert res.dq_post["conformity_rate"] == 1.0  # cleaning removes all violations
    # curated CSV ordered desc by avg_risk_score (flows/pipeline.py:185)
    with open(res.outputs["region_risk_avg"]) as f:
        rdr = list(csv.DictReader(f))
    avgs = [float(r["avg_risk_score"]) for r in rdr]
    assert avgs == sorted(avgs, reverse=True)
    assert "0" not in {r["location_region"] for r in rdr}  # "0" → null → filtered
    with open(res.outputs["top3_recent_sales_by_receiving"]) as f:
        top = list(csv.DictReader(f))
    assert len(top) == 3
    amounts = [float(r["amount"]) for r in top]
    assert amounts == sorted(amounts, reverse=True)
    # metrics JSON persisted with phase field (flows/pipeline.py:105)
    m = json.load(open(tmp_path / "data" / "dq_metrics_pre.json"))
    assert m["phase"] == "pre_clean" and m["total_rows"] == len(rows) - 1


def test_pipeline_pre_gate_snapshot_and_fail(spark, tmp_path):
    rows = [HEADER[:3]] + [["", "", "-1"]] * 10 + [["1700000000", "sale", "5"]] * 10
    src = _write_csv(tmp_path / "bad.csv", rows)
    with pytest.raises(QualityGateError, match="PRE"):
        run_pipeline(spark, str(src), data_dir=str(tmp_path / "d"), curated_dir=str(tmp_path / "c"))
    # snapshot published even on failure (flows/pipeline.py:236-247)
    assert os.path.exists(tmp_path / "d" / "raw_snapshot.parquet")
    assert not os.path.exists(tmp_path / "c" / "region_risk_avg.csv")


def test_pipeline_post_gate_publishes_then_raises(spark, tmp_path):
    # post-clean data is violation-free by construction, so force the
    # post gate with a threshold > 1 (same publish-then-raise path the
    # reference takes at flows/pipeline.py:256-261).
    src = _write_csv(tmp_path / "ok.csv", _good_rows(50))
    with pytest.raises(QualityGateError, match="POST"):
        run_pipeline(
            spark,
            str(src),
            data_dir=str(tmp_path / "d"),
            curated_dir=str(tmp_path / "c"),
            min_conformity_post=1.1,
        )
    assert os.path.exists(tmp_path / "c" / "region_risk_avg.csv")  # still published


def test_pipeline_gate_failures_release_caches(spark, tmp_path):
    """Both fan-out caches (raw and clean) are released when either
    gate raises, not only on the happy path."""
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    bad = [HEADER[:3]] + [["", "", "-1"]] * 10 + [["1700000000", "sale", "5"]] * 10
    src = _write_csv(tmp_path / "bad.csv", bad)
    with pytest.raises(QualityGateError, match="PRE") as pre:
        run_pipeline(spark, str(src), data_dir=str(tmp_path / "d1"), curated_dir=str(tmp_path / "c1"))
    assert pre.value.result.failed_gate == "pre"
    assert cache_manager.isEmpty()

    src = _write_csv(tmp_path / "ok.csv", _good_rows(50))
    with pytest.raises(QualityGateError, match="POST") as post:
        run_pipeline(
            spark,
            str(src),
            data_dir=str(tmp_path / "d2"),
            curated_dir=str(tmp_path / "c2"),
            min_conformity_post=1.1,
        )
    assert post.value.result.failed_gate == "post"
    assert cache_manager.isEmpty()

def test_pipeline_missing_input(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        run_pipeline(spark, str(tmp_path / "nope.csv"), data_dir=str(tmp_path / "d"), curated_dir=str(tmp_path / "c"))


def test_pipeline_empty_input(spark, tmp_path):
    src = _write_csv(tmp_path / "empty.csv", [HEADER])
    res = run_pipeline(spark, str(src), data_dir=str(tmp_path / "d"), curated_dir=str(tmp_path / "c"))
    assert res.dq_pre["total_rows"] == 0
    assert res.dq_pre["conformity_rate"] == 1.0  # §7.4.7
    with open(res.outputs["region_risk_avg"]) as f:
        assert f.read().strip() == "location_region,avg_risk_score"


def test_csv_quarantine_splits_malformed_rows(spark, tmp_path):
    """Malformed CSV lines (broken quoting) land in the quarantine
    channel verbatim; clean rows parse; nothing is silently dropped."""
    from etl_challenge_localiza_spark.sources.readers import read_csv_with_quarantine

    p = tmp_path / "in.csv"
    p.write_text(
        "timestamp,transaction_type,amount\n"
        "1700000000,sale,10.5\n"
        '1700000001,"unclosed quote,20.0\n'
        "1700000002,refund,7.5\n"
    )
    good, quarantine = read_csv_with_quarantine(
        spark,
        str(p),
        "timestamp string, transaction_type string, amount string",
    )
    assert good.count() == 2
    assert {r["transaction_type"] for r in good.collect()} == {"sale", "refund"}
    bad = quarantine.collect()
    assert len(bad) == 1
    assert "unclosed quote" in bad[0]["raw_line"]
