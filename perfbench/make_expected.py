"""Regenerate ``expected.json``: per scale factor, the result hash of
each benchmark query's DuckDB oracle over the data in ``data/``.

Each query also runs once in Spark first, because some oracles read
artifacts the Spark side writes to the oracle scratch dir; the Spark
hash is compared too and any mismatch is printed and fails the script,
so a committed hash is always one both engines agree on.

    python3 perfbench/make_expected.py
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
from checks import result_hash  # noqa: E402


def main() -> int:
    run_dir = harness.isolate("make-expected")
    import duckdb

    import query_workloads as qw
    from e_commerce_data_pipeline_spark.catalog import TABLES
    from e_commerce_data_pipeline_spark.plans.queries import QUERIES

    wanted = {qw.SCALE: qw.OLAP_STAR, "0.001": qw.OLAP_STAR}  # 0.001: the self-test's scale
    spark = harness.start_session()
    out, bad = {}, []
    try:
        for sf, shorts in wanted.items():
            d = harness.sf_dir(sf)
            con = duckdb.connect()
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')"
                )
            for name in qw.registry_names(shorts):
                _, _, cols, rows, err = qw.run_query(spark, name, sf)
                cur = con.execute(QUERIES[name].oracle)
                o_cols = [c[0] for c in cur.description]
                o_hash = result_hash(o_cols, cur.fetchall())
                s_hash = result_hash(cols, rows) if err is None else err
                ok = s_hash == o_hash
                print(("OK  " if ok else "DIFF"), f"sf{sf}", name, len(rows), flush=True)
                if not ok:
                    bad.append(f"sf{sf}:{name}")
                out.setdefault(sf, {})[name] = o_hash
    finally:
        harness.stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    if bad:
        print("spark != oracle:", bad, file=sys.stderr)
        return 1
    harness.write_json(harness.BENCH_DIR / "expected.json", out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
