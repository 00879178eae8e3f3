"""Capture `.explain("formatted")` output for registry queries.

Usage:
    python tests/plan_capture.py SUFFIX q65 q98 ...

Writes plans/$SPARK_GRAFT_PLAN_DIR/<name>_<SUFFIX>.txt (default r17)
for each query name (prefix match on the registry key, e.g. "q65"
matches "q65_llm_corpus_pipeline").
Plans are captured AFTER a `.collect()` of the frame so AQE's final
plan is what lands in the file (repo rule: capture plans after
collect). The sf dir comes from $SPARK_GRAFT_SF_DIR (default sf0.1).
"""

from __future__ import annotations

import os
import sys

# This checkout's package, for the driver and for the Python workers
# the session starts (they inherit PYTHONPATH).
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
)

from e_commerce_data_pipeline_spark.plans.queries import QUERIES  # noqa: E402
from e_commerce_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    suffix = sys.argv[1]
    prefixes = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        ROOT, "plans", os.environ.get("SPARK_GRAFT_PLAN_DIR", "r17")
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    for name, spec in QUERIES.items():
        if not any(name == p or name.startswith(p + "_") for p in prefixes):
            continue
        spark.catalog.clearCache()
        df = spec.fn(spark, sf_dir)
        df.collect()  # AQE finalizes the plan only after execution
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
