"""Shared operator utilities."""

from __future__ import annotations

import inspect
from dataclasses import dataclass

from pyspark.sql import DataFrame

# Decimal places every similarity (and centroid norm) is rounded to
# before it is ranked or output: both engines agree at 6 dp (CLAUDE.md).
ROUND_DP = 6


def spread(df: DataFrame) -> DataFrame:
    """Repartition compute-heavy inputs to the session's parallelism.

    A small parquet file arrives as ONE partition; per-row hashing or
    vector math over it would run on one core. At real scale the scan
    splits naturally and this round-robin is a near-no-op relative to
    the compute it feeds.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def series_udf(fn, return_type):
    """``pandas_udf(fn, return_type)`` as a scalar Series -> Series UDF.

    pandas_udf picks the UDF kind from ``fn``'s type hints, and under
    ``from __future__ import annotations`` those are strings it cannot
    resolve; so every parameter and the return are annotated
    ``pd.Series`` here, read off ``fn``'s signature."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    hints = dict.fromkeys(inspect.signature(fn).parameters, pd.Series)
    fn.__annotations__ = {**hints, "return": pd.Series}
    return pandas_udf(fn, return_type)


@dataclass(frozen=True)
class ScaleProfile:
    """The resolved scale knobs for one corpus size — see
    ``scale_profile``. Each ``*_kwargs`` method returns exactly the
    keyword arguments the corresponding operator family accepts, so
    a caller composes at scale with::

        prof = scale_profile(n_docs=..., n_vecs=..., doc_span=...,
                             doc_groups=...)
        embedding_near_dup(emb, dim=64, **prof.lsh_kwargs())
        train_centroids(emb, **prof.ivf_kwargs())
        fs_linkage_pairs(..., **prof.er_kwargs())   # via block_width
        tfidf_cosine_pairs_auto(docs, **prof.tfidf_kwargs())
    """

    n_planes: int | None = None
    n_tables: int | None = None
    n_centroids: int | None = None
    block_width: int | None = None
    max_token_df: int | None = None
    er_offset_pass: bool = False

    def lsh_kwargs(self) -> dict:
        """For ``dedup.embedding_near_dup`` (and any hyperplane-LSH
        blocker): plane count ~ log2(n / 128) with the
        RECALL-co-scaled table count — never auto planes at a pinned
        table count (the r15 recall table: that decays the 0.9-band
        0.88 -> 0.69; co-scaling holds 0.973)."""
        if self.n_planes is None:
            return {}
        return {"n_planes": self.n_planes, "n_tables": self.n_tables}

    def ivf_kwargs(self) -> dict:
        """For ``ivf.train_centroids`` / SemDeDup index builds:
        ~sqrt(n) lists."""
        if self.n_centroids is None:
            return {}
        return {"n_centroids": self.n_centroids}

    def er_kwargs(self) -> dict:
        """For the numeric-blocking entity-resolution family
        (q161/q172-class callers taking ``block_width`` and
        ``offset_pass``). When the profile was built with
        ``er_min_gap`` the width floors at 2*gap and the
        width/2-offset second blocking pass is switched on — the
        combination GUARANTEES every true pair whose attribute gap
        is <= er_min_gap shares a bucket (round-16 parity
        measurement, PERF.md)."""
        if self.block_width is None:
            return {}
        kw = {"block_width": self.block_width}
        if self.er_offset_pass:
            kw["offset_pass"] = True
        return kw

    def tfidf_kwargs(self) -> dict:
        """For ``similarity.tfidf_cosine_pairs``-family callers: the
        lossy absolute stop-token cap when one was given, else the
        EXACT All-Pairs prefix filter (``prefix=True``) — the two
        measured escapes from the unguarded sum(df^2) blowup (60.1x
        at the 10x probe; capped 1.15x, prefix 22.2x there but 26.5x
        FASTER on Zipf-vocabulary corpora, and lossless)."""
        if self.max_token_df is not None:
            # the measured 1.15x regime is cap WITHOUT the prefix
            # filter (brute pairing over the capped vocabulary) —
            # keep the profile on the measured configuration
            return {"max_token_df": self.max_token_df, "prefix": False}
        return {"prefix": True}


def scale_profile(
    n_docs: int | None = None,
    n_vecs: int | None = None,
    *,
    doc_span: int | None = None,
    doc_groups: int = 1,
    stop_token_df: int | None = None,
    er_min_gap: int | None = None,
) -> ScaleProfile:
    """One call that wires every measured scale knob (round 16; the
    knobs themselves were measured individually in rounds 14-15 —
    PERF.md scale-probe sections). The per-operator autos stay the
    source of truth; this is the composition layer, so a pipeline
    built from several heavy operators does not have to discover
    five docstrings to survive a 100x corpus:

    - ``n_planes`` ~ log2(n_vecs / 128)
      (``dedup.auto_lsh_planes``; 10x probe: 12.0 -> 3.9 s) with
      ``n_tables`` recall-co-scaled (``dedup.auto_lsh_tables``; holds
      the 0.9-band at 0.973 where planes-only decays it to 0.69),
    - ``n_centroids`` ~ sqrt(n_vecs) (``ivf.auto_nlist``; SemDeDup
      10x ratio 13.08x -> 2.46x),
    - ``block_width`` ~ 60 * span * groups / n_docs
      (``fuzzy.auto_block_width``; ER 10x ratios 14.0x -> 3.95x and
      53.9x -> 7.55x),
    - tf-idf pairs: ``prefix=True`` (exact All-Pairs filter) by
      default, or the ``stop_token_df`` ABSOLUTE cap passed through
      as ``max_token_df`` (10x ratio 60.1x -> 1.15x). The cap has no
      corpus-derived auto rule on purpose: "stop token" is a
      corpus-semantics judgement (the measured cap was sf0.1's own
      max global df), so the lossy path stays an explicit choice.

    ``er_min_gap`` is the entity-resolution recall contract (round
    16): "true matches may differ by up to this many units of the
    blocking attribute" — the width floors at 2*gap and the
    width/2-offset second blocking pass switches on, guaranteeing
    every such pair a shared bucket. Gap coverage is a property of
    the MATCHING SEMANTICS, not of corpus size (the round-16 parity
    measurement: most pinned-32 edges on the 10x corpus link docs
    3-31 chars apart — invisible to any occupancy-derived narrow
    width), so it has no auto rule and stays caller-stated.

    IDENTITY POINTS (pinned in tests/test_scale_profile.py): at the
    sf0.1 corpus this returns exactly the operators' historical
    defaults — n_planes=4 (2,000 vectors), n_centroids=44,
    block_width=32 (5,000 docs, span 533, 5 langs) — so profiles are
    a no-op where the pinned oracle configs already fit the data.
    Every oracle-gated query keeps its pinned literals; the profile
    is for users composing these operators on THEIR corpora.
    """
    from .dedup import auto_lsh_planes, auto_lsh_tables
    from .fuzzy import auto_block_width
    from .ivf import auto_nlist

    n_planes = n_tables = n_centroids = block_width = None
    if n_vecs is not None:
        n_planes = auto_lsh_planes(n_vecs)
        n_tables = auto_lsh_tables(n_planes)
        n_centroids = auto_nlist(n_vecs)
    if n_docs is not None and doc_span is not None:
        block_width = auto_block_width(
            n_docs, doc_span, doc_groups, min_gap=er_min_gap
        )
    return ScaleProfile(
        n_planes=n_planes,
        n_tables=n_tables,
        n_centroids=n_centroids,
        block_width=block_width,
        max_token_df=stop_token_df,
        er_offset_pass=er_min_gap is not None,
    )


def scale_profile_for(
    docs: DataFrame | None = None,
    emb: DataFrame | None = None,
    *,
    numeric_col: str = "n_chars",
    group_col: str = "lang",
    **kwargs,
) -> ScaleProfile:
    """``scale_profile`` with the corpus statistics measured from the
    frames themselves: one tiny agg over ``docs`` (count, span of the
    numeric blocking attribute, distinct group keys) and one count
    over ``emb``. Two driver round-trips total — negligible next to
    the operators the profile parameterizes."""
    from pyspark.sql import functions as F

    n_docs = doc_span = None
    doc_groups = 1
    if docs is not None:
        row = docs.agg(
            F.count(F.lit(1)).alias("n"),
            (F.max(numeric_col) - F.min(numeric_col)).alias("span"),
            F.countDistinct(group_col).alias("g"),
        ).collect()[0]
        n_docs, doc_span = int(row["n"]), int(row["span"])
        doc_groups = int(row["g"])
    n_vecs = emb.count() if emb is not None else None
    return scale_profile(
        n_docs=n_docs,
        n_vecs=n_vecs,
        doc_span=doc_span,
        doc_groups=doc_groups,
        **kwargs,
    )
