"""Capture `.explain("formatted")` output for registry queries.

Usage:
    python tests/plan_capture.py SUFFIX q65 q98 ...

Writes plans/$SPARK_GRAFT_PLAN_DIR/<name>_<SUFFIX>.txt (default r17)
for each query name (prefix match on the registry key, e.g. "q65"
matches "q65_llm_corpus_pipeline").
Plans are captured AFTER a `.collect()` of the frame so AQE's final
plan is what lands in the file (repo rule: capture plans after
collect). The sf dir comes from $SPARK_GRAFT_SF_DIR (default sf0.1).

Each query is built, collected and captured twice. AQE can settle a
query on another plan from one run to the next (it flips the sides of
a small join, or a stage between broadcast and shuffle), so when the
two captures differ once their expression and plan ids are set aside,
the second is written as <name>_<SUFFIX>.unstable.txt and the tool
says so: a before/after diff of such a query proves nothing by itself.
"""

from __future__ import annotations

import os
import re
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
        plans = []
        for _ in range(2):
            spark.catalog.clearCache()
            df = spec.fn(spark, sf_dir)
            df.collect()  # AQE finalizes the plan only after execution
            plans.append(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            ))
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plans[0])
        print(f"wrote {path} ({len(plans[0])} chars)")
        if _ids_dropped(plans[0]) != _ids_dropped(plans[1]):
            path = os.path.join(out_dir, f"{name}_{suffix}.unstable.txt")
            with open(path, "w") as f:
                f.write(plans[1])
            print(f"UNSTABLE {name}: second capture differs, wrote {path}")
    spark.stop()


def _ids_dropped(plan: str) -> str:
    """The plan text without the ids a rebuild renumbers: expression
    ids (#12, #12L), exchange/subquery plan ids (plan_id=34), RDD ids
    (MapPartitionsRDD[56]) and lambda variable suffixes (lambda x_7)."""
    return re.sub(
        r"#\d+L?|plan_id=\d+|(?<=RDD\[)\d+|(?<=lambda )(\w+?_)\d+",
        lambda m: m.group(1) or "",
        plan,
    )


if __name__ == "__main__":
    main()
