"""Benchmark decontamination: flag training documents that share
n-gram shingles with an evaluation/benchmark set.

The standard LLM-corpus hygiene step (the reference pipeline has no
analog; this is part of the training-data surface this engine adds):
before training, any document overlapping the eval benchmarks must be
dropped or the eval is contaminated. Detection is n-gram overlap — the
method used by GPT-3/PaLM/Llama dataset reports (typically 8-13 token
n-grams; the synthetic corpus here is short, so tests use n=5).

Scale shape: the eval set is SMALL (thousands of docs) while the
corpus is the 100-TB side. Eval shingles therefore broadcast —
``F.broadcast`` on the exploded (eval_id, shingle) frame — so the
corpus scan never shuffles: each corpus partition streams its shingles
past the in-memory eval index, and only matching (doc, eval) rows
continue to the overlap count. No corpus-sized shuffle exists in the
plan until the final per-doc aggregation over *matches only*.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import doc_shingles


def ngram_contamination(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_overlap: int = 1,
) -> DataFrame:
    """Per contaminated corpus doc: how many eval docs it overlaps and
    how strongly.

    Returns (id_col, n_eval_matches, total_shared, max_shared) for
    corpus docs sharing >= ``min_overlap`` distinct n-gram shingles
    with at least one eval doc. A (corpus doc, eval doc) pair counts as
    a match when they share >= ``min_overlap`` distinct shingles;
    ``total_shared`` sums shared-shingle counts over matched eval docs.
    """
    ev = F.broadcast(
        doc_shingles(eval_df, id_col, text_col, n).withColumnRenamed(
            "id", "eval_id"
        )
    )
    cs = doc_shingles(corpus, id_col, text_col, n)
    overlap = (
        cs.join(ev, "shingle")
        .groupBy("id", "eval_id")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_overlap)
    )
    return (
        overlap.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_eval_matches"),
            F.sum("shared").alias("total_shared"),
            F.max("shared").alias("max_shared"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_eval_matches",
            F.col("total_shared").cast("long").alias("total_shared"),
            F.col("max_shared").cast("long").alias("max_shared"),
        )
    )


def embedding_contamination(
    corpus_emb: DataFrame,
    eval_emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Eval-set leakage detection in EMBEDDING space: flag corpus
    vectors whose max cosine against any eval vector reaches
    ``threshold`` (catches paraphrases that n-gram decontamination
    misses — the semantic-dedup step of modern corpus reports).

    Scale shape mirrors ``ngram_contamination``: the eval side is
    small by contract, so its (id, unit-vector) matrix is collected to
    the driver and closed over by an Arrow kernel — the 100-TB corpus
    side is ONE mapInPandas scan with no join and no shuffle at all;
    each batch is a float64 matmul against the in-memory eval matrix.
    Returns (id_col, nearest_eval_id, sim) for flagged rows only.

    Determinism: math runs in float64 (the q46/IVF discipline — agrees
    with a double-precision engine to ~1e-15, so the rounded sim and
    the first-max nearest-eval tie-break reproduce cross-engine); eval
    vectors are ordered by id so ``np.argmax`` first-max equals the
    (sim DESC, eval_id ASC) SQL ordering.
    """
    import numpy as np

    rows = eval_emb.select(id_col, vec_col).collect()
    rows.sort(key=lambda r: r[id_col])
    eval_ids = np.array([r[id_col] for r in rows], dtype=np.int64)
    E = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
    E /= np.linalg.norm(E, axis=1, keepdims=True)

    out_schema = f"{id_col} long, nearest_eval_id long, sim double"

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            X /= np.linalg.norm(X, axis=1, keepdims=True)
            S = X @ E.T
            best = np.argmax(S, axis=1)  # first-max == smallest eval id
            sim = S[np.arange(len(S)), best]
            out = pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "nearest_eval_id": eval_ids[best],
                    "sim": sim,
                }
            )
            # conservative in-kernel cut (keeps the scan's output tiny
            # at scale); the EXACT threshold applies JVM-side on the
            # rounded sim — np.round is half-even, Spark/DuckDB round
            # half-away, so rounding must NOT happen here
            yield out[out["sim"] >= threshold - 1e-7]

    from .util import ROUND_DP
    from .util import spread as _spread

    flagged = _spread(corpus_emb.select(id_col, vec_col)).mapInPandas(
        score, out_schema
    )
    return flagged.withColumn("sim", F.round("sim", ROUND_DP)).filter(
        F.col("sim") >= threshold
    )
