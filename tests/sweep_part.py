"""Driver-style verify sweep over a slice of the query registry.

Usage: python tests/sweep_part.py START END — runs queries()[START:END]
(by registry order) at sf0.01 against the DuckDB oracle exactly the way
the external driver does (bare conf, not the package's get_spark()).
The session is local[$SPARK_GRAFT_CPUS], else the host's core count.
Part of the .claude/skills/verify recipe; slicing keeps each part
inside a 10-minute shell timeout on a contended host.
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
sys.path.insert(0, os.path.join(ROOT, "tests"))

from pyspark.sql import SparkSession  # noqa: E402

from e_commerce_data_pipeline_spark.session import default_parallelism  # noqa: E402


def main(start: int, end: int) -> int:
    cpus = default_parallelism()
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    import __spark_entry__ as ep
    from oracle_diff import run_oracle, _norm_rows

    sf = "/root/testdata/sf0.01"
    qs, oracles = ep.queries(), ep.oracle_sql()
    names = list(qs)[start:end]
    if start == 0:
        print("ENTRY rows:", len(ep.entry(spark).collect()))
    fails = []
    for name in names:
        try:
            sdf = qs[name](spark, sf).toPandas()
            if name not in oracles:
                print("NO-ORACLE", name, "rows=", len(sdf), flush=True)
                continue
            odf = run_oracle(oracles[name], sf)
            s = _norm_rows(
                list(sdf.columns), sdf.itertuples(index=False, name=None)
            )
            o = _norm_rows(
                list(odf.columns), odf.itertuples(index=False, name=None)
            )
            ok = sorted(sdf.columns) == sorted(odf.columns) and s == o
        except Exception as exc:  # noqa: BLE001
            print("ERR ", name, repr(exc)[:200], flush=True)
            fails.append(name)
            continue
        print(("OK  " if ok else "FAIL"), name, len(sdf), flush=True)
        if not ok:
            fails.append(name)
    print(f"FAILURES[{start}:{end}]:", fails or "none")
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main(int(sys.argv[1]), int(sys.argv[2])))
