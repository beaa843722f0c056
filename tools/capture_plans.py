"""Capture .explain("formatted") for bench/declared queries into
plans/<tag>/<query>_<suffix>.txt (r16 optimization-round evidence).

Usage:
    python tools/capture_plans.py before [query ...]
    python tools/capture_plans.py after  [query ...]

Default query set: the bench headline queries. Plans are captured
against $SPARK_GRAFT_SF_DIR (default sf0.1) without executing the
noop sink, so capture is cheap; queries whose construction itself
runs jobs (gate builders) still pay that build once.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from bench import BENCH_QUERIES  # noqa: E402
from trial_submission_studio_spark import get_spark  # noqa: E402


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or list(BENCH_QUERIES)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        REPO, "plans", os.environ.get("SPARK_GRAFT_PLANS_TAG", "r17")
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="capture_plans")
    qs = dict(entrymod.queries())
    for name in names:
        fn = qs.get(name) or getattr(entrymod, name)
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
