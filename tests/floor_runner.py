"""Isolated min-of-4 floor session for the fifteen round-12 ambient
movers (r8 rule) — bench-identical protocol: tuned get_spark session,
sf0.001 warm pass per query, System.gc before each timed query,
clearCache between runs, all three anchor probes both halves.
"""

import os
import sys

# This checkout's package, for the driver and for the Python workers
# the session starts (they inherit PYTHONPATH).
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
)

import bench  # noqa: E402
from e_commerce_data_pipeline_spark.plans.queries import QUERIES  # noqa: E402
from e_commerce_data_pipeline_spark.session import get_spark  # noqa: E402

MOVERS = [
    # q98 and q59 first (the only >=1.9 s rows), then by r12 reading
    "q98_tfidf_cosine_pairs",
    "q59_embedding_near_dup",
    "q109_bpe_pair_counts",
    "q67_gopher_quality_signals",
    "q70_top_trigrams_per_lang",
    "q64_token_entropy",
    "q01_pricing_summary",
    "q03_top_building_orders",
    "q08_top_parts_per_brand",
    "q42_supplier_above_avg",
    "q47_ship_latency",
    "q94_bracket_revenue",
    "q95_promo_part_suppliers",
    "q111_zipf_slope",
    "q116_session_paths",
]

RUNS = int(sys.argv[1]) if len(sys.argv) > 1 else 4
NAMES = sys.argv[2].split(",") if len(sys.argv) > 2 else MOVERS


def main():
    sf_dir = "/root/testdata/sf0.1"
    warm = "/root/testdata/sf0.001"
    spark = get_spark("floor-runner")
    spark.sparkContext.setLogLevel("ERROR")
    for name in NAMES:
        QUERIES[name].fn(spark, warm).collect()
    spark.catalog.clearCache()
    a = bench._anchor_probe(spark, sf_dir)
    print("anchor start:", a, flush=True)
    for name in NAMES:
        best, rows = bench._timed_min(
            spark, QUERIES[name].fn, sf_dir, runs=RUNS, gc=True
        )
        print(f"FLOOR {name}: {best:.3f}s ({len(rows)} rows)", flush=True)
    b = bench._anchor_probe(spark, sf_dir)
    print("anchor end:", b, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
