"""CDC changelog application (SURVEY J3).

The reference declares before/after images with INSERT/UPDATE/DELETE
ops ordered by LSN (/root/reference/data/schemas/events.py:201-222) but
never applies them. Here: latest-by-key reduction via a ranking window.

LSN ordering (SURVEY §7 hard-part c): the reference LSN is a Postgres
style string '0/1A2B3C4D' — lexicographic order is wrong across the
slash boundary, so we parse both hex halves to a sortable (high, low)
pair; ties fall back to event time then event_id.

Scale: the window partitions by product_id (high cardinality) — state
is one row per key per partition after the shuffle; AQE handles skewed
hot products. For continuous application at 100 TB the same expression
runs inside foreachBatch as a MERGE against the snapshot table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def lsn_sort_key(lsn: Column | str) -> Column:
    """'0/1A2B3C4D' -> sortable bigint (high32 << 32 | low32)."""
    c = F.col(lsn) if isinstance(lsn, str) else lsn
    high = F.conv(F.split(c, "/").getItem(0), 16, 10).cast("long")
    low = F.conv(F.split(c, "/").getItem(1), 16, 10).cast("long")
    return high * F.lit(4294967296) + low


def apply_cdc(
    changelog: DataFrame,
    key_col: str = "product_id",
    ts_col: str = "timestamp",
) -> DataFrame:
    """Reduce a CDC changelog to the current-state snapshot.

    Keeps the latest change per key (by LSN, then event time, then
    event_id); DELETE tombstones drop the key; surviving rows take the
    ``after`` image flattened to columns.
    """
    keyed = changelog.withColumn("__key", F.coalesce(
        F.col(f"after.{key_col}"), F.col(f"before.{key_col}")
    )).withColumn("__lsn_key", lsn_sort_key("lsn"))
    w = Window.partitionBy("__key").orderBy(
        F.desc("__lsn_key"), F.desc(ts_col), F.desc("event_id")
    )
    latest = keyed.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
    return (
        latest.filter(F.col("operation") != "DELETE")
        .select(
            F.col("__key").alias(key_col),
            F.col("after.product_name").alias("product_name"),
            F.col("after.sku").alias("sku"),
            F.col("after.stock_quantity").alias("stock_quantity"),
            F.col("after.reorder_level").alias("reorder_level"),
            F.col("after.warehouse_id").alias("warehouse_id"),
            F.col(ts_col).alias("as_of_ts"),
            F.col("lsn").alias("as_of_lsn"),
        )
    )


def stock_asof_join(
    orders: DataFrame,
    changelog: DataFrame,
    key_col: str = "product_id",
) -> DataFrame:
    """J7 as-of join: stock level at each order's event time.

    Window formulation (SURVEY §4.3): union order rows with CDC rows,
    sort by key+time, carry the last known stock forward with
    ``last(..., ignorenulls)`` — one shuffle, no range join explosion,
    scales as a sort-merge over the union.
    """
    cdc_rows = changelog.select(
        F.coalesce(F.col(f"after.{key_col}"), F.col(f"before.{key_col}")).alias(key_col),
        F.col("timestamp").alias("ts"),
        F.lit(1).alias("is_cdc"),
        F.col("after.stock_quantity").alias("stock_quantity"),
        F.lit(None).cast("string").alias("order_event_id"),
    )
    order_rows = orders.select(
        F.explode(F.expr("items.product_id")).alias(key_col),
        F.col("timestamp").alias("ts"),
        F.lit(0).alias("is_cdc"),
        F.lit(None).cast("int").alias("stock_quantity"),
        F.col("event_id").alias("order_event_id"),
    )
    unioned = cdc_rows.unionByName(order_rows)
    # CDC rows sort before order rows at the same instant (is_cdc desc)
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col("ts"), F.desc("is_cdc"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_stock = unioned.withColumn(
        "stock_at_time", F.last("stock_quantity", ignorenulls=True).over(w)
    )
    return with_stock.filter(F.col("is_cdc") == 0).select(
        "order_event_id", key_col, F.col("ts").alias("order_ts"), "stock_at_time"
    )


def scd2_intervals(
    changes: DataFrame,
    key_col: str,
    attr_col: str,
    ts_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Build a slowly-changing-dimension type-2 history from a change
    stream: collapse consecutive rows with an unchanged attribute,
    then derive half-open validity intervals [valid_from, valid_to)
    per key — ``valid_to`` is NULL for the current version. This is
    the warehouse-side complement of ``apply_cdc`` (which keeps only
    latest-by-key): SCD2 keeps every version so facts can join the
    dimension AS OF their event time (reference analog: the CDC
    envelope's before/after images, consumer/event_consumer.py).

    Returns (key, version_no, attr, valid_from, valid_to).

    Scale shape: two windows over the same (key, ts, tiebreak) order —
    one shuffle by key, both windows reuse the sort; state per key is
    a single row (lag/lead/row_number are streaming frames). Change
    streams are naturally keyed, so skew follows key heat, not data
    volume.
    """
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    collapsed = (
        changes.withColumn("__prev", F.lag(attr_col).over(w))
        .filter(F.col("__prev").isNull() | (F.col("__prev") != F.col(attr_col)))
        .drop("__prev")
    )
    return collapsed.select(
        F.col(key_col),
        F.row_number().over(w).cast("long").alias("version_no"),
        F.col(attr_col),
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w).alias("valid_to"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str] | tuple[str, ...],
    compare_cols: list[str] | tuple[str, ...] | None = None,
) -> DataFrame:
    """Row-level diff of two snapshots of the same logical table — the
    backfill/reprocessing audit primitive ("what did the new pipeline
    run change?"): FULL OUTER join on the business key plus an md5
    fingerprint over the compared columns.

    Returns one row per key present in either side:
    ``(*key_cols, diff_status)`` with status in
    added | removed | changed | unchanged.

    Scale shape: each side collapses to (key, fingerprint) BEFORE the
    join — the full-outer shuffles two narrow frames however wide the
    snapshots are; the fingerprint is one codegen md5 per row. Null
    columns are distinguished from empty strings by a \\x00 sentinel
    and \\x1f separators (no false 'unchanged' from concat
    ambiguity).
    """
    keys = list(key_cols)
    compare = list(
        compare_cols
        if compare_cols is not None
        else [c for c in new.columns if c not in keys]
    )

    def fingerprint(df):
        return F.md5(
            F.concat_ws(
                "\x1f",
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                    for c in compare
                ],
            )
        )

    o = old.select(*keys, fingerprint(old).alias("__old_fp"))
    n = new.select(*keys, fingerprint(new).alias("__new_fp"))
    status = (
        F.when(F.col("__old_fp").isNull(), "added")
        .when(F.col("__new_fp").isNull(), "removed")
        .when(F.col("__old_fp") != F.col("__new_fp"), "changed")
        .otherwise("unchanged")
    )
    return (
        o.join(n, keys, "full")
        .select(*keys, status.alias("diff_status"))
    )
