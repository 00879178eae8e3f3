"""Snapshot reconciliation via bucket checksums — the anti-entropy /
table-diff pattern (a flattened one-level Merkle tree, the shape Dynamo
-style replica sync and warehouse audit jobs use): prove two huge
snapshots equal, or localize WHERE they differ, without ever joining
the full tables row-to-row.

vs ``cdc.snapshot_diff`` (q108): that operator is the REPORT — it
full-outer joins the complete (key, fingerprint) collapse of both
sides, shuffling every key, which is right when most rows changed
(a backfill audit). This one is the SYNC primitive: when the sides
are nearly identical (replicas, a resumed ingest), the checksum
phase proves most buckets clean for a shuffle of n_buckets summary
rows, and only the dirty sliver pays the join.

Phase 1 hashes every row to a (bucket, signature) pair and folds each
bucket to one XOR checksum + count per side — two linear scans whose
shuffle is ``n_buckets`` rows per map partition, corpus-independent.
Phase 2 joins ONLY the rows whose bucket checksums disagree: with d
dirty buckets the row-level full-outer join touches ~d/n_buckets of
each table, so a near-identical 100 TB pair reconciles for the cost of
two scans plus a sliver. (The same two-phase shape recurses for a real
multi-level Merkle tree; one level is enough to demonstrate and test
the algebra.)

Checksums are ``bit_xor`` of 60-bit md5-prefix row signatures:
XOR is commutative/associative (order- and partition-insensitive),
overflow-free at any bucket size (unlike an integer SUM, which wraps
at ~2^4 rows of 60-bit sigs), and mirrored exactly by DuckDB's
``bit_xor``. XOR cannot see a row repeated an EVEN number of times —
the per-bucket COUNT catches the odd/even-count cases and exact-dup
rows are out of scope (callers dedup first; see operators/dedup.py).

Portability contract: ``sig_cols`` must already render identically as
strings in any engine — integers/strings are safe; callers pass
money as fixed-point cents and timestamps as formatted strings (the
repo-wide discipline), never raw doubles/timestamps.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NULL_MARK = "__NULL__"


def _sig(key: Column, cols: list[Column]) -> Column:
    """60-bit md5-prefix signature of the canonical row rendering."""
    rendered = F.concat_ws(
        "|",
        F.lit("recon"),
        key.cast("string"),
        *[F.coalesce(c.cast("string"), F.lit(NULL_MARK)) for c in cols],
    )
    return F.conv(F.substring(F.md5(rendered), 1, 15), 16, 10).cast("long")


def _bucket(key: Column, n_buckets: int) -> Column:
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("reconb:"), key.cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    return (h % n_buckets).cast("int")


def bucket_checksums(
    df: DataFrame,
    key_col: str,
    sig_cols: list[Column],
    n_buckets: int = 64,
) -> DataFrame:
    """One (bucket, n_rows, checksum) row per non-empty bucket: the
    fixed-size summary a replica ships instead of its data."""
    key = F.col(key_col)
    return (
        df.select(
            _bucket(key, n_buckets).alias("bucket"),
            _sig(key, sig_cols).alias("sig"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor("sig").alias("checksum"),
        )
    )


def anti_entropy_diff(
    a: DataFrame,
    b: DataFrame,
    key_col: str,
    sig_cols_a: list[Column],
    sig_cols_b: list[Column],
    n_buckets: int = 64,
) -> DataFrame:
    """Row-level differences between snapshots ``a`` and ``b``,
    localized through the bucket-checksum phase: returns one row per
    differing key — status 'deleted' (in a only), 'inserted' (in b
    only) or 'modified' (same key, different signature). Keys equal on
    both sides never leave their scan: clean buckets are pruned by the
    broadcast dirty-bucket semi-join before the row join, and inside a
    dirty bucket equal rows null out in the full-outer compare."""
    key = F.col(key_col)
    ca = bucket_checksums(a, key_col, sig_cols_a, n_buckets)
    cb = bucket_checksums(b, key_col, sig_cols_b, n_buckets)
    dirty = (
        ca.withColumnRenamed("n_rows", "na").withColumnRenamed("checksum", "xa")
        .join(
            cb.withColumnRenamed("n_rows", "nb").withColumnRenamed(
                "checksum", "xb"
            ),
            "bucket",
            "full",
        )
        .filter(
            (F.coalesce("na", F.lit(0)) != F.coalesce("nb", F.lit(0)))
            | (F.coalesce("xa", F.lit(0)) != F.coalesce("xb", F.lit(0)))
        )
        .select("bucket")
    )
    ra = (
        a.select(
            key.alias("ka"),
            _bucket(key, n_buckets).alias("bucket"),
            _sig(key, sig_cols_a).alias("sa"),
        )
        .join(F.broadcast(dirty), "bucket")
        .drop("bucket")
    )
    rb = (
        b.select(
            key.alias("kb"),
            _bucket(key, n_buckets).alias("bucket"),
            _sig(key, sig_cols_b).alias("sb"),
        )
        .join(F.broadcast(dirty), "bucket")
        .drop("bucket")
    )
    return (
        ra.join(rb, ra["ka"] == rb["kb"], "full")
        .withColumn(
            "status",
            F.when(F.col("kb").isNull(), F.lit("deleted"))
            .when(F.col("ka").isNull(), F.lit("inserted"))
            .when(F.col("sa") != F.col("sb"), F.lit("modified")),
        )
        .filter(F.col("status").isNotNull())
        .select(F.coalesce("ka", "kb").alias(key_col), "status")
    )
