"""Capture .explain("formatted") for headline registry queries into
<out_dir>/<query>.txt (guide §1: record the plan shape before and after
every optimization so claims are checkable without running Spark).

Expression ids (``#123``) and ``plan_id=N`` tags are stripped: they
number the session's expressions, not the plan's shape, so ``diff -r``
of two checkouts' outputs shows only real plan changes.

Usage:
    python -m tools.capture_plans OUT_DIR            # all headliners
    python -m tools.capture_plans OUT_DIR q1 q2 ...  # a subset
Tables come from $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
"""

from __future__ import annotations

import os
import re
import sys

#: session-scoped ids in explain text: ``col#123`` and ``plan_id=4``.
_SESSION_IDS = re.compile(r"(#|plan_id=)\d+")


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    out_dir = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)

    from etl_challenge_localiza_spark.registry import QUERIES
    from etl_challenge_localiza_spark.session import get_spark

    spark = get_spark(app_name="capture_plans")
    todo = names or [n for n, q in QUERIES.items() if q.headline]
    for name in todo:
        df = QUERIES[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(_SESSION_IDS.sub(r"\1", plan))
        print(f"wrote {path} ({len(plan)} chars)", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
