"""End-to-end ETL flow (SURVEY.md §2.7 C1-C6, §3.1).

Reference: the Prefect ``main()`` flow (flows/pipeline.py:222-265):
ingest → DQ pre → gate (raw snapshot + fail) → clean → DQ post → gate
(publish-then-fail) → publish. Prefect added only run-telemetry
(docker-compose.yml:17); plain driver control flow is the Spark
equivalent — actions fire exactly at the two gates and the sinks.

Scale note (SURVEY.md §3.4): the raw frame is consumed twice (DQ-pre
action, clean stage) and the clean frame twice (DQ-post action,
publish), so both are cached at those fan-out points; at cluster scale
swap ``cache()`` for ``persist(DISK_ONLY)`` or a staging-table write if
executors can't hold the batch.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..operators.analytics import last_sale_per_address, region_risk_avg, top3_recent_sales
from ..operators.cleaning import clean_transactions
from ..operators.quality import (
    MIN_CONFORMITY_POST,
    MIN_CONFORMITY_PRE,
    QualityGateError,
    check_gate,
    dq_profile,
)
from ..sources.readers import read_transactions_csv
from ..sources.sinks import write_json_metrics, write_single_csv


@dataclass
class PipelineResult:
    dq_pre: dict
    dq_post: dict | None = None
    outputs: dict[str, str] = field(default_factory=dict)
    failed_gate: str | None = None


def run_pipeline(
    spark: SparkSession,
    input_csv: str | None = None,
    data_dir: str = "./data",
    curated_dir: str = "./curated",
    min_conformity_pre: float | None = None,
    min_conformity_post: float | None = None,
) -> PipelineResult:
    """The C1-C6 flow. Raises QualityGateError on gate failure with the
    same publish side-effects as the reference:

    - pre-gate failure: raw snapshot parquet is written first
      (flows/pipeline.py:236-247);
    - post-gate failure: curated outputs are STILL published
      (flows/pipeline.py:256-261).
    """
    from ..session import tune

    tune(spark)
    input_csv = input_csv or os.getenv("INPUT_CSV", "./input/df_fraud_credit.csv")
    pre_thresh = MIN_CONFORMITY_PRE if min_conformity_pre is None else min_conformity_pre
    post_thresh = MIN_CONFORMITY_POST if min_conformity_post is None else min_conformity_post
    os.makedirs(data_dir, exist_ok=True)
    os.makedirs(curated_dir, exist_ok=True)

    # C6: missing input → clear failure (flows/pipeline.py:226-229).
    # Spark raises AnalysisException lazily; probe eagerly for parity.
    if not os.path.exists(input_csv):
        raise FileNotFoundError(
            f"Input not found at {input_csv}. Place the CSV or set INPUT_CSV."
        )

    df_raw = read_transactions_csv(spark, input_csv).cache()
    df_clean = None
    try:
        dq_pre = dq_profile(df_raw)
        write_json_metrics(dq_pre, os.path.join(data_dir, "dq_metrics_pre.json"), phase="pre_clean")
        result = PipelineResult(dq_pre=dq_pre)

        try:
            check_gate(dq_pre, pre_thresh, "PRE")
        except QualityGateError as err:
            snap = os.path.join(data_dir, "raw_snapshot.parquet")
            df_raw.write.mode("overwrite").parquet(snap)
            result.outputs["raw_snapshot"] = snap
            result.failed_gate = "pre"
            err.result = result  # expose artifacts to the caller, as the
            raise  # reference does by leaving files on disk

        df_clean = clean_transactions(df_raw).cache()

        dq_post = dq_profile(df_clean)
        write_json_metrics(
            dq_post, os.path.join(data_dir, "dq_metrics_post.json"), phase="post_clean"
        )
        result.dq_post = dq_post

        def publish() -> None:
            stg = os.path.join(data_dir, "stg_transactions.parquet")
            df_clean.write.mode("overwrite").parquet(stg)
            result.outputs["stg_transactions"] = stg
            rra = region_risk_avg(df_clean)
            result.outputs["region_risk_avg"] = write_single_csv(
                rra, os.path.join(curated_dir, "region_risk_avg.csv")
            )
            top3 = top3_recent_sales(last_sale_per_address(df_clean))
            result.outputs["top3_recent_sales_by_receiving"] = write_single_csv(
                top3, os.path.join(curated_dir, "top3_recent_sales_by_receiving.csv")
            )

        try:
            check_gate(dq_post, post_thresh, "POST")
        except QualityGateError as err:
            publish()  # publish-then-raise (flows/pipeline.py:256-261)
            result.failed_gate = "post"
            err.result = result
            raise

        publish()
        return result
    finally:
        # release both fan-out caches on every exit, gate failures
        # included; the derived frame goes first so Spark never
        # re-plans it against an uncached parent
        if df_clean is not None:
            df_clean.unpersist()
        df_raw.unpersist()


def main() -> int:
    """CLI entry mirroring the reference's ``python flows/pipeline.py``
    (flows/pipeline.py:267-268): env-configured input, gates fail the
    process with a non-zero exit."""
    import sys

    from ..session import get_spark

    spark = get_spark(app_name="local_etl_case")
    try:
        run_pipeline(spark)
    except FileNotFoundError as e:
        print(str(e), file=sys.stderr)
        return 1
    except QualityGateError as e:
        print(str(e), file=sys.stderr)
        return 2
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
