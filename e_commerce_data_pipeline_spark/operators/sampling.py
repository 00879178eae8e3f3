"""Deterministic splitting, sampling, and shuffling for training-data
pipelines.

A 100 TB corpus can't use ``df.randomSplit`` / ``df.sample`` for
train/val/test assignment: those are seed+partition-layout dependent
(the same row lands in a different split when the file count changes)
and unrepeatable across engines. Every operator here instead derives
its randomness from a cryptographic hash of a stable row key, so:

- assignment is a pure function of the row (layout/cluster independent),
- re-runs, backfills, and other engines (the DuckDB oracle) agree,
- new data joins splits with the same proportions without reshuffling
  old assignments — the property that keeps eval sets frozen while a
  crawl grows.

All hashes run as native column expressions (md5 + conv — JVM
codegen); nothing crosses into Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_HASH_DENOM = float(1 << 32)
# pack_sequences hashes ids with this salt for both its packing order
# and its group assignment.
_PACK_SALT = "pack"


def hash_uniform(key: Column, salt: str = "") -> Column:
    """Deterministic uniform [0, 1) from a row key: the first 8 hex
    chars of md5(salt:key) as a 32-bit integer fraction. Portable to
    any engine with md5 (the oracle reproduces it nibble-for-nibble).
    """
    h = F.md5(F.concat(F.lit(f"{salt}:"), key.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") / F.lit(_HASH_DENOM)


def hash_split(
    df: DataFrame,
    key_col: str,
    split_col: str = "split",
) -> DataFrame:
    """Assign each row to train / val / test (0.8 / 0.1 / 0.1) by hashed
    key: the row's uniform draw walks the cumulative ranges. One hash
    per row, no shuffle — the split column is computed inside the scan
    stage.
    """
    u = hash_uniform(F.col(key_col), "split")
    return df.withColumn(
        split_col,
        F.when(u < F.lit(0.8), "train")
        .when(u < F.lit(0.9), "val")
        .otherwise("test"),
    )


def stratified_sample(
    df: DataFrame,
    group_col: str,
    n_per_group: int,
    key_col: str,
) -> DataFrame:
    """Exactly min(n, |group|) rows per group, chosen by hash order.

    Deterministic rank: rows sort by (hash_uniform(key), key) within
    the group — a repeatable "random" order — and the first n survive.
    One window shuffle on group_col; at scale groups are the natural
    partitioning so this is the minimal movement for an exact-count
    sample (approximate fractions could stay shuffle-free via
    ``hash_uniform < frac``, but exact counts need the rank).
    """
    w = Window.partitionBy(group_col).orderBy(
        hash_uniform(F.col(key_col), "sample"), F.col(key_col)
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= n_per_group)
        .drop("__rk")
    )


def source_mix(
    df: DataFrame,
    source_col: str,
    weights: dict[str, float],
    key_col: str,
) -> DataFrame:
    """Down-sample to a target source composition (the "70% web / 20%
    code / 10% books" data-mixing op).

    The largest total consistent with the weights is bounded by the
    scarcest source: scale = min over s of count_s / weight_s, and
    each source keeps floor(weight_s * scale) rows, chosen in
    deterministic hash order. Sources absent from ``weights`` are
    dropped.

    The per-source counts are a groupBy().collect() — one row per
    source name, driver-safe at any corpus size — and the quotas ship
    back as a literal map, so the sample itself is one window rank
    per source partition.
    """
    counts = {
        r["src"]: r["n"]
        for r in df.select(F.col(source_col).alias("src"))
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    missing = [s for s in weights if s not in counts]
    if missing:
        raise ValueError(f"weights reference absent sources: {missing}")
    scale = min(counts[s] / w for s, w in weights.items())
    quotas = {s: int(w * scale) for s, w in weights.items()}
    quota_map = F.create_map(
        *[F.lit(x) for kv in quotas.items() for x in kv]
    )
    w = Window.partitionBy(source_col).orderBy(
        hash_uniform(F.col(key_col), "mix"), F.col(key_col)
    )
    return (
        df.withColumn("__quota", quota_map[F.col(source_col)])
        .filter(F.col("__quota").isNotNull())
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= F.col("__quota"))
        .drop("__quota", "__rk")
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    budget: int = 2048,
    n_groups: int = 256,
) -> DataFrame:
    """Assign documents to fixed-token-budget training rows (sequence
    packing) — deterministically and in parallel.

    Docs hash into ``n_groups`` independent packing groups; within a
    group they are ordered by (hash_uniform, id) and packed next-fit:
    a pack closes when the next doc would overflow ``budget``. Pack
    ids are globally unique (group * 2^32 + seq). A doc larger than
    the budget gets its own pack — truncation is the tokenizer's
    decision downstream, not the packer's.

    Scale shape: packing is sequential *within* a group (the greedy
    fold is order-dependent, so it runs as a per-group applyInPandas
    loop) but embarrassingly parallel *across* groups; size n_groups
    so a group's (id, n_tokens) pairs fit an Arrow batch — the doc
    payloads themselves are NOT shuffled here, only ids and counts,
    and the assignment joins back to content by id. Determinism comes
    from the hash order, not partition layout, so re-runs repack
    identically.
    """
    import pandas as pd

    out_schema = f"{id_col} long, pack_id long, pack_slot int, pack_fill int"

    def pack_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["__u", id_col]).reset_index(drop=True)
        group = int(pdf["__grp"].iloc[0])
        rows, pack_seq, fill, slot = [], 0, 0, 0
        for doc_id, n_tok in zip(pdf[id_col], pdf[token_col]):
            n_tok = int(n_tok)
            if fill > 0 and fill + n_tok > budget:
                pack_seq, fill, slot = pack_seq + 1, 0, 0
            rows.append((doc_id, (group << 32) | pack_seq, slot, fill + n_tok))
            fill += n_tok
            slot += 1
        out = pd.DataFrame(rows, columns=[id_col, "pack_id", "pack_slot", "pack_fill"])
        # pack_fill should report the FINAL fill of each pack
        out["pack_fill"] = out.groupby("pack_id")["pack_fill"].transform("max")
        return out

    keyed = df.select(
        F.col(id_col),
        F.col(token_col),
        hash_uniform(F.col(id_col), _PACK_SALT).alias("__u"),
        F.pmod(F.xxhash64(F.col(id_col).cast("string"), F.lit(_PACK_SALT)), F.lit(n_groups))
        .cast("int")
        .alias("__grp"),
    )
    return keyed.groupBy("__grp").applyInPandas(pack_group, out_schema)


def deterministic_shuffle(
    df: DataFrame, key_col: str
) -> DataFrame:
    """Global hash-order sort — the training-data "shuffle" that's
    reproducible run-to-run and engine-to-engine.

    Spark implements the orderBy as a range repartition (sampled
    bounds) + per-partition sort; downstream writes preserve the
    order per output file. Interleaving quality is the same as a
    random permutation because md5 bits are independent of any data
    ordering.
    """
    return df.orderBy(hash_uniform(F.col(key_col), "shuffle"), F.col(key_col))


def cluster_balanced_sample(
    assigned: DataFrame,
    per_cluster: int,
    id_col: str = "vec_id",
    cluster_col: str = "cluster",
) -> DataFrame:
    """Semantic-diversity subsampling: keep a deterministic hash-ranked
    quota of rows from EVERY cluster of an embedding-space partition
    (the cluster-balanced selection behind SemDeDup-style corpus
    curation — dense regions are downsampled hard, sparse regions are
    kept whole, so the sample preserves coverage instead of mirroring
    the corpus' density skew).

    Returns ``(id_col, cluster_col, rk, cluster_size)`` for the kept
    rows. Ranking is ``hash_uniform("csample":id)`` with the id as
    tie-break — reproducible across runs, layouts, and engines.

    Scale shape: one hash-shuffle on the cluster key; the window sees
    each cluster's rows once (no global sort). A hot mega-cluster is
    the known failure mode of per-key windows — mitigate upstream by
    raising the codebook size so clusters stay bounded (k ~ corpus/1M),
    which is also what sampling quality wants.
    """
    w = Window.partitionBy(cluster_col).orderBy(
        hash_uniform(F.col(id_col), "csample").asc(), F.col(id_col).asc()
    )
    wc = Window.partitionBy(cluster_col)
    return (
        assigned.select(
            id_col,
            cluster_col,
            F.row_number().over(w).cast("long").alias("rk"),
            F.count(F.lit(1)).over(wc).cast("long").alias("cluster_size"),
        )
        .filter(F.col("rk") <= per_cluster)
    )


def dsir_importance(
    docs: DataFrame,
    is_target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance weighting for data selection (Xie et al.
    2023, "Data Selection for Language Models via Importance
    Resampling"): score every document by how much more likely its
    tokens are under a small target distribution (e.g. one trusted
    source) than under the raw crawl, then keep/resample the
    top-weighted documents. The classic feature space is hashed
    n-grams; unigrams over the engine tokenizer keep the oracle
    portable while exercising the identical plan shape.

    weight(doc) = sum_tokens [ln p_target(tok) - ln p_raw(tok)] with
    add-1 smoothing over the raw vocabulary, so tokens unseen in the
    target subset contribute a finite negative weight.

    Float discipline: both smoothed probabilities are ratios of exact
    integers, so each distinct token's log-ratio is quantized ONCE to
    integer micro-units; per-document weights are exact integer
    sums — order-independent across engines.

    Scale shape: ONE token explode feeds both distributions (the
    target count is a conditional sum in the same partial aggregate,
    not a second scan); the vocabulary table carries one row per
    distinct token; corpus totals are a 1-row broadcast; scoring
    re-joins the token stream on the token key (linear, AQE handles
    stop-token skew). Nothing collects to the driver.

    Returns ``(id_col, is_target, n_tokens, sum_w_micro, avg_w_micro)``
    for every document with >=1 token.
    """
    from .text import tokens
    from .util import spread as _spread

    tok = (
        _spread(docs)
        .select(
            F.col(id_col),
            is_target.cast("boolean").alias("is_target"),
            tokens(text_col).alias("__toks"),
        )
        .select(id_col, "is_target", F.explode("__toks").alias("tok"))
        .cache()
    )
    cnt = tok.groupBy("tok").agg(
        F.count(F.lit(1)).alias("c_raw"),
        F.sum(F.col("is_target").cast("long")).alias("c_tgt"),
    )
    tot = cnt.agg(
        F.sum("c_raw").alias("t_raw"),
        F.sum("c_tgt").alias("t_tgt"),
        F.count(F.lit(1)).alias("v"),
    )
    lw = cnt.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.round(
            (
                F.log((F.col("c_tgt") + 1) / (F.col("t_tgt") + F.col("v")))
                - F.log((F.col("c_raw") + 1) / (F.col("t_raw") + F.col("v")))
            )
            * 1_000_000
        )
        .cast("long")
        .alias("w_micro"),
    )
    out = (
        tok.join(lw, "tok")
        .groupBy(id_col, "is_target")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("w_micro").alias("sum_w_micro"),
        )
        .select(
            id_col,
            "is_target",
            "n_tokens",
            "sum_w_micro",
            (F.col("sum_w_micro") / (F.lit(1.0) * F.col("n_tokens"))).alias(
                "avg_w_micro"
            ),
        )
    )
    return out


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col,
    n: int,
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis-Spirakis 2006): each row draws an exponential race
    key ``-ln(u) / w`` from its hashed uniform ``u`` and weight ``w``;
    the n smallest keys are the sample. Inclusion probability is
    proportional to weight, and — like everything in this module —
    the draw is a pure function of the row key, so layout changes,
    re-runs, and other engines reproduce the exact sample.

    ``weight_col`` may be any positive numeric column expression
    (quality scores, token counts, DSIR importance weights — the
    standard "sample the corpus proportional to quality" step).

    Scale shape: ONE scan; the n-smallest selection compiles to
    TakeOrderedAndProject (per-partition top-n, then a driver merge of
    #partitions x n rows) — no global sort shuffle.
    """
    w = weight_col if isinstance(weight_col, Column) else F.col(weight_col)
    # u in (0,1): +0.5 on the 32-bit draw keeps ln() finite on both
    # engines without changing the distribution
    h = F.md5(F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string")))
    u = (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long") + F.lit(0.5)
    ) / F.lit(_HASH_DENOM)
    race = -F.log(u) / w.cast("double")
    return (
        df.withColumn("__race", race)
        .orderBy(F.asc("__race"), F.asc(key_col))
        .limit(n)
        .drop("__race")
    )


def negative_samples(
    positives: DataFrame,
    user_col: str,
    item_col: str,
    n_items: int,
    k: int = 3,
    n_cand: int = 8,
    salt: str = "neg",
) -> DataFrame:
    """Deterministic negative sampling for contrastive/recsys training
    rows: for each user in ``positives``, pick ``k`` items the user has
    NOT interacted with, uniformly over a contiguous item-id universe
    ``[1, n_items]``.

    Candidates are hash-generated per (user, slot): item =
    1 + hash32(salt:user:slot) mod n_items — a pure row function, so
    the sample is layout/engine independent (every operator in this
    module shares the property). Collisions with the user's positive
    set are removed by an anti-join and the first ``k`` surviving
    slots (slot order) are kept; ``n_cand`` slots give headroom —
    with positives-per-user << n_items, P[fewer than k survive] is
    negligible, and short groups surface as < k rows rather than
    wrong rows.

    Scale shape: candidates are |users| x n_cand rows built by a
    map-side sequence explode (no join to the item table); the
    anti-join shuffles on (user, item) — the same key layout the
    positives already have — and the final per-user slot rank is a
    bounded window over <= n_cand rows per user.
    """
    users = positives.select(F.col(user_col).alias("u")).distinct()
    cand = users.select(
        "u", F.explode(F.sequence(F.lit(0), F.lit(n_cand - 1))).alias("slot")
    )
    h = F.md5(
        F.concat(
            F.lit(f"{salt}:"),
            F.col("u").cast("string"),
            F.lit(":"),
            F.col("slot").cast("string"),
        )
    )
    item = (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % F.lit(n_items) + 1
    ).alias("item")
    cand = cand.select("u", "slot", item)
    pos = positives.select(
        F.col(user_col).alias("u"), F.col(item_col).alias("item")
    ).distinct()
    neg = cand.join(pos, ["u", "item"], "left_anti")
    w = Window.partitionBy("u").orderBy("slot")
    return (
        neg.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            F.col("u").alias(user_col),
            F.col("item").alias(item_col),
            F.col("slot").cast("int").alias("slot"),
        )
    )
