"""The seeded inputs: the same seed gives a byte-identical CSV, the dirt
rates are fixed, and the pipeline input passes both quality gates of
the engine with exactly the outputs the generator expects."""

import filecmp

import checks
import gen
import pytest

ROWS = 20_000


def test_same_seed_same_bytes(tmp_path):
    exp_a = gen.write_pipeline_csv(str(tmp_path / "a.csv"), 7, ROWS)
    exp_b = gen.write_pipeline_csv(str(tmp_path / "b.csv"), 7, ROWS)
    assert filecmp.cmp(tmp_path / "a.csv", tmp_path / "b.csv", shallow=False)
    assert exp_a == exp_b


def test_other_seed_other_bytes(tmp_path):
    gen.write_pipeline_csv(str(tmp_path / "a.csv"), 7, ROWS)
    gen.write_pipeline_csv(str(tmp_path / "b.csv"), 8, ROWS)
    assert not filecmp.cmp(tmp_path / "a.csv", tmp_path / "b.csv", shallow=False)


def test_fixed_dirt_rates_keep_both_gates_open():
    from etl_challenge_localiza_spark.operators.quality import (
        MIN_CONFORMITY_POST,
        MIN_CONFORMITY_PRE,
    )

    raw, clean = gen.make_pipeline_rows(7, ROWS)
    assert len(raw) == ROWS + round(gen.DUP_RATE * ROWS)
    exp = gen.expected_outputs(raw, clean)
    pre, post = exp["dq_pre"], exp["dq_post"]
    violations = round(ROWS * (gen.DIRT["type_blank"] + gen.DIRT["amount_negative"]
                               + gen.DIRT["amount_text"]))
    assert abs(pre["failed_rows_estimate"] - violations) <= violations * gen.DUP_RATE * 4 + 2
    assert MIN_CONFORMITY_PRE < pre["conformity_rate"] < 1.0
    assert post["conformity_rate"] == 1.0 >= MIN_CONFORMITY_POST
    assert pre["nulls"]["transaction_type"] > 0 and post["nulls"]["location_region"] > 0
    assert len(exp["top3_amounts"]) == 3 and len(exp["region_risk_avg"]) > 1


def test_pipeline_passes_both_gates_with_the_expected_outputs(tmp_path):
    pytest.importorskip("pyspark")
    from etl_challenge_localiza_spark.plans.pipeline import run_pipeline
    from etl_challenge_localiza_spark.session import get_spark

    csv_path = str(tmp_path / "t.csv")
    expected = gen.write_pipeline_csv(csv_path, 7, ROWS)
    spark = get_spark(cpus=2)
    data, curated = str(tmp_path / "data"), str(tmp_path / "curated")
    try:
        result = run_pipeline(spark, csv_path, data, curated)
    finally:
        spark.stop()
    assert result.failed_gate is None
    assert checks.check_pipeline(data, curated, expected) == []
