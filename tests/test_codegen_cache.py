"""The session keeps generated code compiled across queries.

Spark caches compiled whole-stage and expression classes in an LRU of
``spark.sql.codegen.cache.maxEntries`` entries (default 100). A query
set that generates more distinct classes than that evicts and
recompiles on every pass; ``get_spark`` sizes the cache to the
engine's measured class count so it does not."""

from __future__ import annotations

from bench import _codegen_compiles


def test_first_of_101_distinct_queries_is_still_compiled(spark):
    # Spark writes primitive literals into the generated source, so each
    # query below compiles its own classes (two each): 101 of them are
    # more than twice what the default cache holds.
    def query(i):
        return spark.range(0, 4, 1, 1).selectExpr(f"id * {i} + {i} AS v")

    first = query(0).collect()
    for i in range(1, 101):
        query(i).collect()
    before = _codegen_compiles(spark)
    assert query(0).collect() == first
    assert _codegen_compiles(spark) == before
