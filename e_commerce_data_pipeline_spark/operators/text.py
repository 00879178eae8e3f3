"""Text-analysis operators over document tables (north-star U4).

All operators are pure column expressions (JVM-side, whole-stage
codegen) — no Python UDFs. At 100 TB these scale linearly with the
scan: no shuffles except the final aggregations, filters/projections
push down into the parquet scan.

Operators:
- ``tokens`` / ``token_count``: whitespace tokenization (the BPE-ish
  regex variant is ``token_count_bpe``)
- ``language_features`` / ``guess_is_english``: n-gram/stopword
  heuristic language signals
- ``doc_quality_score``: length / punctuation / diversity scoring
  (reference analog: quality_score P13,
  /root/reference/data/quality/expectations.py:94,134,159)
- ``fingerprint_exact`` / ``fingerprint_bag``: md5 of normalized text,
  and an order-insensitive bag-of-tokens fingerprint
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .util import series_udf

# Stopwords usable as cheap English signals; kept tiny so the heuristic
# is explainable and SQL-portable.
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "for")

WS = r"\s+"
# BPE-ish pre-tokenizer: runs of letters, runs of digits, or a single
# non-alnum non-space symbol — approximates byte-pair pre-splitting.
BPE_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def norm_text(col: Column | str) -> Column:
    """lower + collapse whitespace + trim: canonical text form."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), WS, " "))


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of the normalized text ([] for empty docs)."""
    n = norm_text(col)
    return F.when(F.length(n) == 0, F.array().cast("array<string>")).otherwise(
        F.split(n, " ")
    )


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def token_count_bpe(col: Column | str) -> Column:
    """Count of BPE-ish pre-tokens (letter runs / digit runs / symbols)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_RE), 0))


def distinct_token_ratio(col: Column | str) -> Column:
    t = tokens(col)
    return F.when(F.size(t) == 0, F.lit(0.0)).otherwise(
        F.size(F.array_distinct(t)).cast("double") / F.size(t)
    )


def stopword_hits(col: Column | str) -> Column:
    """How many distinct stopwords appear in the document (0..len(set))."""
    t = F.array_distinct(tokens(col))
    hits = [F.array_contains(t, w).cast("int") for w in EN_STOPWORDS]
    out = hits[0]
    for h in hits[1:]:
        out = out + h
    return out


def guess_is_english(col: Column | str) -> Column:
    """Heuristic language ID: >= 2 distinct English stopwords."""
    return stopword_hits(col) >= 2


def punct_ratio(col: Column | str) -> Column:
    """Fraction of non-space chars that are not lowercase-alnum."""
    n = norm_text(col)
    no_space = F.regexp_replace(n, " ", "")
    alnum = F.regexp_replace(no_space, r"[^a-z0-9]", "")
    return F.when(F.length(no_space) == 0, F.lit(0.0)).otherwise(
        (F.length(no_space) - F.length(alnum)).cast("double") / F.length(no_space)
    )


def doc_quality_score(col: Column | str) -> Column:
    """Composite quality in {0, .25, .5, .75, 1}: four binary features.

    Integer-scored (sum of int quarters / 4.0) so the value is exactly
    representable and cross-engine stable.
    """
    quarters = (
        F.length(norm_text(col)).between(100, 10_000).cast("int")
        + (token_count(col) >= 20).cast("int")
        + (punct_ratio(col) < 0.1).cast("int")
        + (distinct_token_ratio(col) > 0.3).cast("int")
    )
    return quarters.cast("double") / F.lit(4.0)


def fingerprint_exact(col: Column | str) -> Column:
    """md5 of normalized text: exact-duplicate key."""
    return F.md5(norm_text(col))


def fingerprint_bag(col: Column | str) -> Column:
    """Order-insensitive fingerprint: md5 over the sorted distinct
    token set — robust to token reshuffling (rolling-hash analog)."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(tokens(col))), " "))


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 40,
    stride: int = 20,
) -> DataFrame:
    """Split documents into overlapping fixed-token chunks (the
    training-data windowing op). One narrow pass: tokenize once, build
    chunk start offsets with ``sequence``, slice per chunk, explode.

    Emits (id, chunk_no, chunk_text, n_tokens); the final partial chunk
    is kept (n_tokens <= chunk_tokens).
    """
    t = F.col("__toks")
    n = F.size(t)
    # starts: 0, stride, 2*stride, ... while start < n
    n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
        F.floor((n - 1) / F.lit(stride)).cast("int") + 1
    )
    # drop trailing windows fully contained in the previous chunk
    n_chunks = F.least(
        n_chunks,
        F.when(
            n <= chunk_tokens, F.lit(1)
        ).otherwise(F.ceil((n - chunk_tokens) / F.lit(stride)).cast("int") + 1),
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.alias("chunk_no"),
            F.array_join(
                F.slice(t, i * stride + 1, chunk_tokens), " "
            ).alias("chunk_text"),
            F.least(F.lit(chunk_tokens), n - i * stride).alias("n_tokens"),
        ),
    )
    return (
        df.select(F.col(id_col), tokens(text_col).alias("__toks"))
        .filter(F.size("__toks") > 0)
        .select(F.col(id_col), F.explode(chunks).alias("c"))
        .select(
            id_col,
            F.col("c.chunk_no").cast("int").alias("chunk_no"),
            F.col("c.chunk_text").alias("chunk_text"),
            F.col("c.n_tokens").cast("int").alias("n_tokens"),
        )
    )


def gopher_signals(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher/C4-style per-document quality signals for corpus
    filtering, all integer-valued so thresholds apply by integer
    cross-multiplication (no float comparisons anywhere):

    - ``n_tokens`` / ``n_distinct_tokens``: document length and
      vocabulary size
    - ``n_chars_nospace``: summed token length (mean word length =
      n_chars_nospace / n_tokens, tested as ``3*n <= chars <= 10*n``)
    - ``top_token_count``: count of the most frequent unigram (the
      repetition detector — word-salad and boilerplate both trip it)
    - ``n_trigrams`` / ``n_dup_trigrams``: total and duplicated
      token-trigram counts (the duplicate-n-gram-fraction signal)
    - ``stop_hits``: distinct stopword hits (language/naturalness)
    - ``keep``: the composite Gopher-style gate

    Shape: the array-expression signals are one narrow projection off
    the scan; ``top_token_count`` explodes tokens once and partial-
    aggregates (doc_id, token) counts map-side before one shuffle, then
    reduces to one row per doc — joined back on doc_id. Both sides
    shuffle-partition on doc_id; at 100 TB the explode stream dominates
    and stays linear.
    """
    t = F.col("__toks")
    tg = shingles_of_tokens(t, 3)
    dt = F.array_distinct(t)
    stop_hits = None
    for w in EN_STOPWORDS:
        h = F.array_contains(dt, w).cast("long")
        stop_hits = h if stop_hits is None else stop_hits + h
    per_doc = (
        df.select(F.col(id_col), tokens(text_col).alias("__toks"))
        .select(
            id_col,
            F.size(t).cast("long").alias("n_tokens"),
            F.size(dt).cast("long").alias("n_distinct_tokens"),
            # norm text is tokens joined by single spaces, so summed
            # token length = total length - (n_tokens - 1) separators
            F.when(F.size(t) == 0, F.lit(0))
            .otherwise(
                F.length(F.array_join(t, " ")) - (F.size(t) - F.lit(1))
            )
            .cast("long")
            .alias("n_chars_nospace"),
            F.size(tg).cast("long").alias("n_trigrams"),
            (F.size(tg) - F.size(F.array_distinct(tg)))
            .cast("long")
            .alias("n_dup_trigrams"),
            stop_hits.alias("stop_hits"),
        )
    )
    top = (
        df.select(F.col(id_col).alias("__id"), F.explode(tokens(text_col)).alias("tok"))
        .groupBy("__id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("__id")
        .agg(F.max("c").alias("top_token_count"))
        .withColumnRenamed("__id", id_col)
    )
    out = per_doc.join(top, id_col, "left").withColumn(
        "top_token_count", F.coalesce("top_token_count", F.lit(0))
    )
    keep = (
        out.n_tokens.between(10, 1000)
        & (out.n_chars_nospace >= 3 * out.n_tokens)
        & (out.n_chars_nospace <= 10 * out.n_tokens)
        & (10 * out.top_token_count <= 3 * out.n_tokens)
        & (10 * out.n_dup_trigrams <= 3 * F.greatest(out.n_trigrams, F.lit(1)))
    )
    return out.withColumn("keep", keep)


def shingles_of_tokens(tokens_col, n: int):
    """Local import indirection for dedup.shingles_of (avoids a module
    cycle: dedup imports tokens from here)."""
    from .dedup import shingles_of

    return shingles_of(tokens_col, n)


REDACTION_PATTERNS = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:\+?\d[\s-]?){7,15}\b", "<PHONE>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (r"\b(?:\d[ -]*?){13,16}\b", "<CARD>"),
)


def redact_pii(col: Column | str) -> Column:
    """Training-data scrubbing: regex redaction of emails / phone
    numbers / SSNs / card numbers, applied in order. Pure regexp_replace
    chain — stays in codegen, linear in the scan."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, token in REDACTION_PATTERNS:
        c = F.regexp_replace(c, pat, token)
    return c


def redaction_count(col: Column | str) -> Column:
    """How many redactions would apply (for corpus audit rollups)."""
    c = F.col(col) if isinstance(col, str) else col
    total = F.lit(0)
    for pat, _ in REDACTION_PATTERNS:
        total = total + F.size(F.regexp_extract_all(c, F.lit(pat), 0))
    return total


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document unigram language-model score — the cheap stand-in
    for the KenLM-perplexity quality filter of CCNet/RedPajama: train a
    unigram LM on the corpus itself (token counts / total), then score
    each document by the sum/mean log-probability of its tokens. Low
    scores flag gibberish; implausibly high scores flag boilerplate.

    Float discipline: each distinct token's ``ln(count/total)`` is
    quantized once to integer micro-units; per-document scores are then
    EXACT integer sums (order-independent across engines), and the mean
    is a single division of two exact integers. One row per document
    with >=1 token: ``(id_col, n_tokens, sum_lp_micro, avg_lp_micro)``.

    Scale shape: token counts partial-aggregate map-side (one row per
    distinct token shuffles); the corpus total is a one-row broadcast;
    scoring re-joins the token stream to the count table on the token
    key (linear, AQE skew-split handles stop-token heat). Nothing
    collects to the driver.
    """
    from .util import spread as _spread

    tok = (
        _spread(df)
        .select(F.col(id_col), tokens(text_col).alias("__toks"))
        .select(id_col, F.explode("__toks").alias("tok"))
        .cache()
    )
    cnt = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = cnt.agg(F.sum("c").alias("total"))
    lp = cnt.crossJoin(F.broadcast(total)).select(
        "tok",
        F.round(F.log(F.col("c") / F.col("total")) * 1000000)
        .cast("long")
        .alias("lp_micro"),
    )
    return (
        tok.join(lp, "tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lp_micro").alias("sum_lp_micro"),
        )
        .select(
            id_col,
            "n_tokens",
            "sum_lp_micro",
            (F.col("sum_lp_micro") / (F.col("n_tokens") * F.lit(1.0))).alias(
                "avg_lp_micro"
            ),
        )
    )


def bigram_lm_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document BIGRAM language-model score with add-one
    smoothing — one rung up the n-gram ladder from
    ``unigram_logprob`` and the closer analog of the CCNet/RedPajama
    KenLM perplexity filter: token-order gibberish that unigram
    frequency can't see (shuffled words, stitched fragments) scores
    low here. Model: P(b | a) = (c(a,b) + 1) / (c(a) + V), with c(a)
    the prefix count (Σ_b c(a,b)) and V the corpus vocabulary size.

    Float discipline (same as unigram_logprob): each distinct pair's
    ln P is quantized ONCE to integer micro-units, per-document
    scores are exact integer sums, and the mean is one division of
    two exact integers. One row per document with >= 2 tokens:
    ``(id_col, n_bigrams, sum_lp_micro, avg_lp_micro)``.

    Scale shape: the pair stream is one explode (materialized
    ``__toks`` below the Generate — the no-CSE-inside-HOF rule);
    pair counts partial-aggregate map-side; prefix counts derive
    from the pair-count table (never a second corpus pass); V is a
    one-row broadcast; scoring re-joins the pair stream on the
    (a, b) key. Nothing collects to the driver.
    """
    from .util import spread as _spread

    tok = _spread(df).select(F.col(id_col), tokens(text_col).alias("__toks"))
    pairs = (
        tok.filter(F.size("__toks") >= 2)
        .select(
            id_col,
            F.explode(
                F.expr(
                    "transform(sequence(1, size(__toks) - 1), "
                    "i -> struct(element_at(__toks, i) AS a, "
                    "element_at(__toks, i + 1) AS b))"
                )
            ).alias("p"),
        )
        .select(id_col, "p.a", "p.b")
        .cache()
    )
    cnt = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    vocab = (
        tok.select(F.explode("__toks").alias("t"))
        .agg(F.countDistinct("t").alias("v"))
    )
    pre = cnt.groupBy("a").agg(F.sum("c_ab").alias("c_a"))
    lp = (
        cnt.join(pre, "a")
        .crossJoin(F.broadcast(vocab))
        .select(
            "a",
            "b",
            F.round(
                F.log((F.col("c_ab") + 1) / (F.col("c_a") + F.col("v")))
                * 1000000
            )
            .cast("long")
            .alias("lp_micro"),
        )
    )
    return (
        pairs.join(lp, ["a", "b"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("lp_micro").alias("sum_lp_micro"),
        )
        .select(
            id_col,
            "n_bigrams",
            "sum_lp_micro",
            (F.col("sum_lp_micro") / (F.col("n_bigrams") * F.lit(1.0))).alias(
                "avg_lp_micro"
            ),
        )
    )


def compression_ratio_udf():
    """Arrow-batched pandas UDF: ``len(zlib(text)) / len(text)`` per
    document — the classic compression-ratio quality signal (used by
    C4/RefinedWeb-style filters: boilerplate and repeated spans
    compress far below ~0.4; high-entropy gibberish sits near 1.0).

    zlib is stdlib, so unlike the codec-gated multimodal kernels this
    runs for real everywhere. DEFLATE output is fully determined by
    (input, level 6, strategy) for a fixed zlib build, but is NOT
    portable across engines/builds — so this ships as a
    pytest-verified operator, not an oracle-gated query.
    """
    import zlib

    def _ratio(s):
        def one(t):
            if t is None:
                return None
            raw = t.encode("utf-8")
            if not raw:
                return 1.0
            return len(zlib.compress(raw, 6)) / len(raw)

        return s.map(one)

    return series_udf(_ratio, "double")


def compression_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc compression-ratio quality signal with the byte length
    it was computed over: ``(id_col, n_bytes, zlib_ratio)``. Kernel
    cost is linear in bytes; batches stream through Arrow, nothing
    but two scalars per doc crosses back to the JVM."""
    return df.select(
        F.col(id_col),
        F.octet_length(text_col).cast("long").alias("n_bytes"),
        compression_ratio_udf()(F.col(text_col)).alias("zlib_ratio"),
    )


def _apply_bpe_merge(sym_col: Column, a: str, b: str) -> Column:
    """Greedy left-to-right merge of adjacent (a, b) symbol pairs in
    one aggregate fold: append each symbol unless it completes the
    pair with the previously emitted one, in which case the pair is
    replaced by the merged symbol. Matches the classic BPE
    non-overlapping replace ('aaa' + merge(a,a) -> ['aa','a'])."""
    merged = a + b
    return F.aggregate(
        sym_col,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.lit(merged)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def train_bpe_merges(
    docs: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
):
    """Byte-pair-encoding merge training (Sennrich et al. 2016) — the
    tokenizer-construction step of an LLM data pipeline, distributed
    the way IVF's Lloyd loop is: the corpus collapses ONCE to a
    (word, freq) table that stays distributed; each round counts
    weighted adjacent symbol pairs with map-side partial aggregation,
    collects only the single argmax pair to the driver (ties break
    (count DESC, pair ASC) so training is deterministic), and applies
    the merge as a native fold over the symbol arrays. Driver traffic
    per round is ONE row — corpus-size independent.

    Word frequencies use the same pre-tokenizer as q88
    (letter runs / digit runs / single symbols). Returns
    ``(merges, vocab_df)``: the ordered merge list
    ``[(a, b, pair_count), ...]`` and the final distributed
    (symbol, count) vocabulary.
    """
    words = (
        docs.select(
            F.explode(
                F.expr(
                    f"regexp_extract_all({text_col}, "
                    "'[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)"
                )
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    syms = words.select(
        "freq",
        F.expr(
            "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
        ).alias("syms"),
    ).cache()
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pair_struct = F.expr(
            "transform(sequence(1, size(syms) - 1), "
            "i -> struct(element_at(syms, i) AS a, "
            "element_at(syms, i + 1) AS b))"
        )
        top = (
            syms.filter(F.size("syms") >= 2)
            .select("freq", F.explode(pair_struct).alias("p"))
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.desc("c"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["c"] < 2:
            break
        a, b, c = top[0]["a"], top[0]["b"], int(top[0]["c"])
        merges.append((a, b, c))
        # localCheckpoint (not cache): each round's plan nests the
        # previous round's fold expression, so an un-truncated lineage
        # grows geometrically with n_merges — by ~20 rounds merely
        # RENDERING the plan tree OOMs an 8g driver. Checkpointing
        # materializes the round AND cuts the lineage, keeping every
        # round's plan one fold deep.
        nxt = syms.select(
            "freq", _apply_bpe_merge(F.col("syms"), a, b).alias("syms")
        ).localCheckpoint(eager=True)
        syms.unpersist()
        syms = nxt
    vocab = (
        syms.select("freq", F.explode("syms").alias("symbol"))
        .groupBy("symbol")
        .agg(F.sum("freq").alias("count"))
    )
    return merges, vocab


def bpe_encode_corpus(
    docs: DataFrame, merges, text_col: str = "text", group_cols=()
) -> DataFrame:
    """Corpus-scale BPE TOKENIZATION with a trained merge list — the
    throughput half of the tokenizer (``train_bpe_merges`` builds the
    merge table; this applies it to every document, the step an LLM
    data pipeline actually runs at 100 TB).

    Scale shape: the corpus collapses ONCE to the distinct
    (word, freq) vocabulary (alnum pre-tokens, the same splitter as
    training), so each distinct word is encoded exactly once no
    matter how often it recurs — encode cost is O(|vocab|), not
    O(corpus), and the merge list is a plan constant (broadcast by
    value inside the generated code, never a join). The greedy
    left-to-right BPE merge is applied as a chain of LITERAL string
    replaces over a sentinel-wrapped symbol string ('hello' ->
    '<h><e><l><l><o>'; merge (a, b) = replace('<a><b>' -> '<ab>')):
    left-to-right non-overlapping replace IS the classic BPE merge
    fold ('aaa' + merge(a,a) -> ['aa','a'], matching
    ``_apply_bpe_merge``), and a replace chain stays in whole-stage
    codegen — no UDF, no HOF lambda, no per-element re-evaluation.
    Sentinels '<'/'>' cannot collide because the vocabulary is
    alphanumeric by construction.

    Returns the encoded vocabulary: ``(*group_cols, w, freq, toks)``
    with ``toks`` the word's BPE token array; corpus-level token
    statistics derive by exploding ``toks`` weighted by ``freq``.
    ``group_cols`` scopes the vocabulary (e.g. per language for a
    fertility report) — encoding still happens once per distinct
    (group, word).
    """
    for a, b in merges:
        if not (a + b).isalnum():
            raise ValueError(f"merge symbols must be alphanumeric: {(a, b)}")
    g = list(group_cols)
    words = (
        docs.select(
            *g,
            F.explode(
                F.expr(
                    f"regexp_extract_all({text_col}, "
                    "'[a-zA-Z]+|[0-9]+', 0)"
                )
            ).alias("w"),
        )
        .groupBy(*g, "w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    s = F.regexp_replace(F.col("w"), F.lit("(.)"), F.lit("<$1>"))
    for a, b in merges:
        s = F.replace(s, F.lit(f"<{a}><{b}>"), F.lit(f"<{a}{b}>"))
    enc = words.select(*g, "w", "freq", s.alias("s"))
    # materialize the encoded string before slicing/splitting so the
    # replace chain is evaluated once per word in its own Project
    body = enc.select(
        *g, "w", "freq", F.expr("substring(s, 2, length(s) - 2)").alias("body")
    )
    return body.select(
        *g, "w", "freq", F.split(F.col("body"), "><").alias("toks")
    )


def boilerplate_ngrams(
    df: DataFrame,
    n: int = 4,
    min_df: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_keep_pct: int = 30,
) -> DataFrame:
    """Cross-document boilerplate span filtering (CCNet / RefinedWeb
    style): an n-gram that recurs in >= ``min_df`` distinct documents
    is boilerplate (headers, footers, template spans), and a document
    whose distinct-shingle stream is more than ``max_keep_pct``%
    boilerplate is dropped. This is the CROSS-corpus repetition
    signal; ``gopher_signals`` covers the within-document one.

    Shape: one explode of per-doc DISTINCT shingles -> doc-frequency
    as a window count over the shingle-keyed shuffle (one pass over
    the exploded stream, no cache, no join-back), then a reduce to
    one row per doc. Two shuffles total,
    both on keys whose cardinality grows with corpus size (no
    all-pairs, no skew pole: a shingle's df is bounded by the corpus,
    and AQE splits hot shingles). All outputs are integers; the gate
    is an integer cross-multiplication (100 * n_boiler <=
    max_keep_pct * n_shingles), so no float compare diverges between
    engines.
    """
    # materialize the token array BEFORE the shingle lambda: each of
    # the n element accesses inside the transform would otherwise
    # re-evaluate the full tokenizer expression per shingle position
    # (no CSE inside HOF lambdas) — measured 25x on this query
    sh = df.select(F.col(id_col), tokens(text_col).alias("__toks")).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(shingles_of_tokens(F.col("__toks"), n))
        ).alias("shingle"),
    )
    # document frequency as a window count over the shingle shuffle
    # (round 17, the ngram_jaccard_pairs house pattern): the old
    # cache + groupBy + join-back paid a cache build of the exploded
    # stream plus a second shuffle of it for the verdict join; the
    # window shuffles the stream once and needs no cache — measured
    # -33.6% at min (interleaved A/B, every block), identical rows
    per_doc = (
        sh.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("df") >= min_df).cast("long")).alias("n_boiler"),
        )
    )
    all_docs = df.select(id_col)
    out = (
        all_docs.join(per_doc, id_col, "left")
        .withColumn("n_shingles", F.coalesce("n_shingles", F.lit(0)).cast("long"))
        .withColumn("n_boiler", F.coalesce("n_boiler", F.lit(0)).cast("long"))
    )
    return out.withColumn(
        "keep",
        100 * F.col("n_boiler") <= F.lit(max_keep_pct) * F.col("n_shingles"),
    )


def char_ngrams_arrow(n: int = 3):
    """Arrow pandas UDF: normalized string -> array<string> of all
    char n-grams (duplicates kept, [] when shorter than n). A
    HOF-transform form runs one interpreted substr call PER GRAM
    (~µs each — the q136 hot loop measured 2.75M calls); this batches
    whole Arrow record batches into a Python slice loop, the same
    discipline dense vector math already uses. Python slicing counts
    code points, as Spark substr does."""
    import pandas as pd

    def _grams(s):
        return pd.Series(
            [
                [t[i : i + n] for i in range(len(t) - n + 1)]
                if t is not None and len(t) >= n
                else []
                for t in s
            ]
        )

    return series_udf(_grams, "array<string>")


def langid_ngram_classify(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    n: int = 3,
    top_k: int = 20,
    train_frac: float = 0.5,
) -> DataFrame:
    """Char-n-gram language identification (the fastText/CLD heuristic
    family, north-star "language-ID (n-gram heuristic)"): TRAIN =
    deterministic hash split of the corpus; per-language profile =
    top_k char n-grams by occurrence count (count desc, gram asc);
    CLASSIFY every held-out doc by distinct-overlap with each
    profile (score desc, lang asc tiebreak, every language scored via
    a small cross join so zero-overlap docs still classify).

    Returns the per-doc verdict: (doc_id, lang, pred_lang, score).

    Scale shape: profiling explodes train-doc grams once into a
    (lang, gram) partial-agg groupBy; profiles are langs*top_k rows —
    broadcast to the classify join, so the held-out side streams
    through one explode + broadcast-join + per-doc argmax window with
    no corpus-sized shuffle on the gram key.
    """
    from ..operators.sampling import hash_uniform

    is_train = hash_uniform(F.col(id_col), "langid") < train_frac
    # normalized text materializes BEFORE gram extraction; grams come
    # from the Arrow batch extractor, not the interpreted HOF lambda
    # (the one hot loop VERDICT r4 flagged — ~2x on the classify scan)
    grams = F.explode(char_ngrams_arrow(n)(F.col("__nt"))).alias("gram")
    profile = (
        df.filter(is_train)
        .select(F.col(lang_col).alias("p_lang"), norm_text(text_col).alias("__nt"))
        .select("p_lang", grams)
        .groupBy("p_lang", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("p_lang").orderBy(F.desc("c"), F.asc("gram"))
            ),
        )
        .filter(F.col("rk") <= top_k)
        .select("p_lang", "gram")
    )
    test = df.filter(~is_train)
    test_grams = test.select(
        F.col(id_col), norm_text(text_col).alias("__nt")
    ).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(char_ngrams_arrow(n)(F.col("__nt")))
        ).alias("gram"),
    )
    overlap = (
        test_grams.join(F.broadcast(profile), "gram")
        .groupBy(id_col, "p_lang")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    langs = df.select(F.col(lang_col).alias("p_lang")).distinct()
    scored = (
        test.select(id_col, lang_col)
        .crossJoin(F.broadcast(langs))
        .join(overlap, [id_col, "p_lang"], "left")
        .withColumn("score", F.coalesce("hits", F.lit(0)).cast("long"))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("p_lang"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            id_col,
            lang_col,
            F.col("p_lang").alias("pred_lang"),
            "score",
        )
    )


def phrase_search(
    docs: DataFrame,
    phrase: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact phrase search through a POSITIONAL inverted index — the
    retrieval primitive BM25's bag-of-words scoring (similarity.
    bm25_topk) cannot express: "hash join" must match those tokens
    ADJACENT and in order, not merely co-present.

    One posexplode builds (doc, token, position) postings, filtered
    map-side to the phrase's tokens via a broadcast (token,
    phrase_index) join — corpus postings for other tokens never leave
    their scan. The classic anchor trick then finds occurrences
    without a per-phrase-length join chain: a posting matching
    phrase_index i at position p votes for anchor p - i, and an
    anchor with all len(phrase) DISTINCT indices present is an exact
    occurrence (a token repeated inside the phrase votes for several
    anchors; COUNT(DISTINCT idx) still only completes where every
    slot matched). So the plan is explode -> broadcast join ->
    ONE groupBy((doc, anchor)) -> per-doc rollup, independent of
    phrase length.

    Returns (id_col, n_occurrences, first_pos) for matching docs.
    """
    ph = [(t, i) for i, t in enumerate(phrase)]
    spark = docs.sparkSession
    ph_df = spark.createDataFrame(ph, "tok string, idx int")
    post = (
        # __toks materializes in its own Project BELOW the explode —
        # never explode a computed array inline (the tokenizer would
        # re-evaluate per element / leak into synthesized filters;
        # see the InferFiltersFromGenerate + lambda-CSE notes)
        docs.select(F.col(id_col).alias("id"), tokens(text_col).alias("__toks"))
        .select("id", F.posexplode("__toks").alias("pos", "tok"))
        .join(F.broadcast(ph_df), "tok")
        .select("id", (F.col("pos") - F.col("idx")).alias("anchor"), "idx")
    )
    occ = (
        post.groupBy("id", "anchor")
        .agg(F.countDistinct("idx").alias("n_idx"))
        .filter(
            (F.col("n_idx") == len(phrase)) & (F.col("anchor") >= 0)
        )
    )
    return occ.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.min("anchor").cast("long").alias("first_pos"),
    ).select(F.col("id").alias(id_col), "n_occurrences", "first_pos")


# --------------------------------------------------------------------------
# Raw-web corpus hygiene (round 11): HTML -> text, URL canonicalization,
# Unicode normalization. Step-0 operators of a C4/CCNet/RefinedWeb-class
# pipeline — everything upstream of the quality gates above.
# --------------------------------------------------------------------------

# Core entity set, decoded in ORDER: the amp forms strictly LAST so a
# double-encoded entity ("&amp;lt;") decodes to the literal "&lt;",
# never to "<" — the standard single-pass decode semantics.
HTML_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#34;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&nbsp;", " "),
    ("&#160;", " "),
)

# Both amp spellings decode in ONE final regexp pass: Java replaceAll
# resumes scanning AFTER each match and never rescans replacement
# text, so "&amp;#38;" -> "&#38;" AND "&#38;amp;" -> "&amp;" — exact
# single-pass HTML semantics. (Decoding them in two sequential passes
# double-decodes whichever composition runs second: the round-11
# chain turned "&#38;amp;" into "&".)
_AMP_RE = "&(amp|#38);"

# Regex tag model shared by every regex-based extractor: a tag opens
# with '<' + letter / '!' / '/'; a '>' inside a QUOTED attribute value
# ends it early (documented contract — full attribute-aware parsing
# needs a real HTML parser, out of the codegen surface). A bare '<'
# followed by anything else ("a < b") is text and survives.
_HTML_TAG_RE = r"(?i)</?[a-z!][^>]*>"


def html_to_text(col: Column | str, entities: str = "core") -> Column:
    """HTML -> text extraction — the step-0 of every raw-web LLM
    corpus (C4 / CCNet / RefinedWeb strip markup before any quality
    gate). With ``entities="core"`` (default) the whole chain is pure
    ``regexp_replace`` — whole-stage codegen, linear in the scan, no
    UDF, no shuffle.

    Chain order (each step is one codegen regexp):
      1. unwrap ``<![CDATA[...]]>`` (its payload is text, not markup)
      2. drop ``<script>``/``<style>`` ELEMENTS wholesale — their
         payload is code, and it legally contains bare ``<``/``>``/
         ``&`` ((?is): tag-name case and multi-line bodies)
      3. drop comments ``<!-- ... -->`` (multi-line, may embed tags)
      4. drop remaining tags (``_HTML_TAG_RE`` — incl. DOCTYPE,
         unclosed and self-closing forms; attribute quoting caveat
         documented above)
      5. decode entities:
         - ``entities="core"``: the 10-entry core set as codegen
           regexps, both amp spellings in ONE final pass (single-pass
           decode semantics for every double-encoded composition)
         - ``entities="full"``: the complete HTML5 table — named
           (``&mdash;``...), decimal and hex numerics — via the
           Arrow ``html_unescape_udf`` kernel (stdlib
           ``html.unescape``); breaks codegen for this projection
           only, the documented engine-external-kernel pattern
      6. collapse whitespace + trim

    Order matters everywhere: CDATA before the tag pass (the marker
    itself would half-match as a tag), script/style/comments before
    tags (their bodies may embed tag-like text), entities strictly
    after tags (decoded ``&lt;`` must NOT create new "tags").
    """
    if entities not in ("core", "full"):
        raise ValueError(f"unknown entities mode {entities!r}")
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, r"(?s)<!\[CDATA\[(.*?)\]\]>", r"$1")
    c = F.regexp_replace(c, r"(?is)<script\b[^>]*>.*?</script\s*>", "")
    c = F.regexp_replace(c, r"(?is)<style\b[^>]*>.*?</style\s*>", "")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", "")
    c = F.regexp_replace(c, _HTML_TAG_RE, "")
    if entities == "full":
        c = html_unescape_udf()(c)
    else:
        for ent, ch in HTML_ENTITIES:
            c = F.regexp_replace(c, ent, ch)
        c = F.regexp_replace(c, _AMP_RE, "&")
    return F.trim(F.regexp_replace(c, WS, " "))


def html_unescape_udf():
    """Arrow-batched full HTML5 entity decode — the complete named
    table (``&mdash;``, ``&eacute;``, the 2000+ entry list), decimal
    ``&#NNN;`` and hex ``&#xHH;`` numeric references, and the spec's
    missing-semicolon legacy forms — via stdlib ``html.unescape``
    (single-pass semantics by construction: replacement text is never
    rescanned). Spark has no builtin, so this is the documented
    engine-external kernel (the ``unicode_normalize_udf`` precedent);
    deterministic for a given CPython version's entity table."""
    import html as _html

    def _unescape(s):
        return s.map(lambda t: None if t is None else _html.unescape(t))

    return series_udf(_unescape, "string")


def html_tag_stats(col: Column | str) -> Column:
    """Markup-volume census: count of '<' characters in the raw HTML.
    After entity encoding, text-side '<' is ``&lt;`` — so every
    remaining '<' opens markup; cheap, exact, and engine-portable
    (length difference, no regex dialect in sight)."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.length(c) - F.length(F.regexp_replace(c, "<", ""))).cast(
        "long"
    )


# CCNet-class tracking-parameter blocklist (query keys stripped by
# canonicalize_url). Prefix match for the utm_ family, exact for the
# click-id params.
URL_TRACKING_PREFIXES = ("utm_",)
URL_TRACKING_KEYS = ("gclid", "fbclid", "msclkid", "ref", "igshid")


# RFC 3986 unreserved characters, keyed by UPPERCASE hex octet: the
# percent-escapes a canonicalizer safely decodes (%41 -> 'A', %7E ->
# '~'); every other escape keeps its '%' but uppercases the hex
# digits (%2f -> %2F), per the RFC's case-normalization rule. A pure
# map literal, broadcast into codegen as a constant.
_UNRESERVED_HEX = {
    f"{b:02X}": chr(b)
    for b in (
        *range(0x30, 0x3A),  # 0-9
        *range(0x41, 0x5B),  # A-Z
        *range(0x61, 0x7B),  # a-z
        0x2D, 0x2E, 0x5F, 0x7E,  # - . _ ~
    )
}


def percent_normalize(col: Column | str) -> Column:
    """RFC 3986 percent-encoding normalization: decode unreserved
    escapes (``%41`` -> ``A``, ``%7e`` -> ``~``), uppercase the hex
    of every remaining valid escape (``%2f`` -> ``%2F``), and leave
    invalid sequences (``%zz``, trailing ``%``) byte-identical.
    Idempotent: decoded output contains no unreserved escapes, kept
    escapes are already uppercase, invalid spans never change.

    Split-on-'%' + transform HOF: each tail element starts with the
    two chars after a '%'. HOF lambdas are interpreted per element
    (house rule), but URLs carry O(1) escapes, so the cost is bounded
    — same budget as the query-param filter below. Decoding only
    unreserved octets can never synthesize a reserved delimiter
    (``/?#&=@:``), so the result is safe to parse afterwards.

    DECISION (round 13) — multi-byte UTF-8 escapes stay ENCODED:
    ``%C3%A9`` does not fold to ``é``, by design, so ``.../caf%C3%A9``
    and ``.../café`` remain distinct dedup keys. Decoding reserved or
    non-ASCII octets is lossy territory: (a) RFC 3986 §2.2 makes
    reserved-octet escaping SEMANTIC (``%2F`` in a path segment is
    data, ``/`` is structure — decoding merges distinct resources),
    and (b) non-ASCII octet runs are only meaningful under a charset
    assumption (``%E9`` is ``é`` in latin-1 pages, an invalid UTF-8
    prefix otherwise), so a universal decode corrupts exactly the
    long-tail URLs it would try to canonicalize. The conservative
    normal form — decode unreserved only, uppercase the rest — is
    what both sides of a dedup pair reach deterministically, which is
    all a dedup key needs. The cross-key miss (a crawler that emits
    ``café`` raw where another percent-encodes it) is accepted and
    pinned in tests/test_text_hygiene.py::
    test_percent_normalize_multibyte_stays_encoded.
    """
    c = F.col(col) if isinstance(col, str) else col
    parts = F.split(c, "%")
    head = F.element_at(parts, 1)
    tail = F.slice(parts, 2, F.greatest(F.size(parts) - 1, F.lit(0)))
    hexmap = F.create_map(
        *[F.lit(x) for kv in _UNRESERVED_HEX.items() for x in kv]
    )

    def _fix(p):
        hx = F.upper(F.substring(p, 1, 2))
        rest = F.substr(p, F.lit(3))
        return F.when(
            p.rlike("^[0-9A-Fa-f]{2}"),
            F.concat(
                F.coalesce(
                    F.element_at(hexmap, hx), F.concat(F.lit("%"), hx)
                ),
                rest,
            ),
        ).otherwise(F.concat(F.lit("%"), p))

    # fast path: a string without '%' is already normal — skip the
    # split/transform machinery entirely (the overwhelmingly common
    # case in real corpora and 9 of 11 q194 arms)
    return F.when(
        ~c.contains("%"), c
    ).otherwise(F.concat(head, F.array_join(F.transform(tail, _fix), "")))


def idna_host_udf(uts46: bool = False):
    """Arrow-batched IDN host fold — Unicode hostnames to their
    punycode (ACE) form via stdlib ``encodings.idna`` (IDNA 2003
    ToASCII with nameprep, which also case-folds), so ``bücher.example``
    and ``xn--bcher-kva.example`` collapse to ONE dedup key. ASCII
    batches short-circuit: one vectorized non-ASCII regex scan per
    batch (the pandas ``str.contains`` mask), and only the non-ASCII
    subset — vanishingly small in real corpora — touches the codec
    per element. Hosts the codec rejects (empty labels, >63-char
    labels) pass through unchanged — this operator folds, it does
    not validate. Idempotent: folded output is ASCII, so a second
    pass is the fast path. Spark has no builtin, so this is the
    documented engine-external kernel (the ``unicode_normalize_udf``
    precedent); deterministic for a given CPython version's IDNA
    tables.

    DECISION (round 13) — IDNA 2003, not UTS-46/IDNA 2008, and
    documented as such rather than silently approximated. Stdlib
    ``encodings.idna`` implements IDNA 2003 (nameprep); modern
    browsers fold per UTS-46, which diverges on the deviation set:
    ``ß`` (U+00DF) maps to ``ss`` under IDNA 2003 / UTS-46
    transitional but encodes as its own label under IDNA 2008 /
    UTS-46 non-transitional (``straße.example`` ->
    ``strasse.example`` here vs ``xn--strae-oqa.example`` in
    Chrome/Firefox), and ZWJ/ZWNJ (U+200C/D) are DELETED by nameprep
    but CONTEXTJ-valid in IDNA 2008 (Persian/Sinhala labels). For
    the ASCII-dominant dedup-key surface this skews only those
    deviation labels — toward MERGING (2003 folds more), never
    splitting, which is the safe direction for a dedup key. The
    ``ß`` divergence is pinned in tests/test_text_hygiene.py::
    test_idna_2003_eszett_divergence_pinned.

    ``uts46=True`` (round 15 — the flag the round-13 decision
    reserved, implemented once the environment gained the
    third-party ``idna`` package): folds per UTS-46
    NON-TRANSITIONAL + IDNA 2008, the modern-browser behavior —
    ``straße.example`` -> ``xn--strae-oqa.example`` (ß kept as its
    own label), CONTEXTJ-valid ZWNJ in Persian/Sinhala labels
    PRESERVED in the ACE form, CONTEXTJ-invalid joiners rejected by
    the codec and therefore passed through unchanged (this operator
    folds, it does not validate — same contract as the 2003 path).
    Default stays IDNA 2003: the q194 oracle mirrors it, and 2003's
    extra merging is the safe dedup direction. Gated by import-try:
    requesting ``uts46=True`` without the package raises
    ImportError at plan-build time, never inside an executor."""
    if uts46:
        try:
            import idna as _idna
        except ImportError as exc:  # pragma: no cover - env-dependent
            raise ImportError(
                "idna_host_udf(uts46=True) needs the third-party "
                "'idna' package (UTS-46 + IDNA 2008); the default "
                "uts46=False stdlib IDNA 2003 path has no dependency"
            ) from exc

        def _fold_one(t):
            try:
                return _idna.encode(t, uts46=True).decode("ascii")
            except (_idna.IDNAError, UnicodeError):
                return t
    else:
        def _fold_one(t):
            try:
                return t.encode("idna").decode("ascii")
            except UnicodeError:
                return t

    def _fold(s):
        # vectorized pre-filter: one regex scan marks the non-ASCII
        # rows; ASCII rows (and nulls) are returned untouched and
        # only the marked subset pays the per-element codec call
        mask = s.str.contains(r"[^\x00-\x7f]", regex=True, na=False)
        if not mask.any():
            return s
        out = s.copy()
        out[mask] = out[mask].map(_fold_one)
        return out

    return series_udf(_fold, "string")


def canonicalize_url(
    col: Column | str, idna_hosts: bool = False, uts46: bool = False
) -> Column:
    """URL canonicalization (CCNet-class): the dedup key a raw-web
    pipeline groups by before host-level stats. Pure column
    expressions, idempotent by construction:

      - scheme and host lowercase
      - default port stripped (``:80`` for http, ``:443`` for https)
      - fragment dropped (query matched strictly BEFORE any ``#`` —
        a ``?`` inside the fragment is never promoted to a query)
      - percent-encoding normalized (``percent_normalize``: decode
        unreserved escapes, uppercase remaining hex) over path+query
      - tracking params dropped (``utm_*`` prefixes + click-id keys)
      - remaining query params sorted bytewise (stable dedup key for
        param-order permutations)
      - empty path -> ``/``; empty query -> no ``?``
      - with ``idna_hosts=True``, Unicode hosts fold to punycode via
        the ``idna_host_udf`` Arrow kernel (one Arrow round trip of
        the host component per row — default OFF keeps the operator
        pure codegen; ASCII hosts short-circuit inside the kernel)

    Non-http(s) or scheme-less strings pass through UNCHANGED — the
    operator canonicalizes well-formed web URLs, it does not validate
    them (that is ``validation.validate_clicks``'s job). So do URLs
    with userinfo (``user:pw@host``) or bracketed IPv6 authorities
    (``[::1]:8080``): the naive host/port split would mangle both,
    and neither is a dedup-key surface.

    HOF-cost note: the query-param ``split`` and the
    ``percent_normalize`` split are computed expressions used as HOF
    args, so they re-evaluate per element access (the round-6 CSE
    rule) — NOT materialized here, because a column function cannot
    add a Project; the cost is bounded (query strings and escape
    counts are O(URL length)), and query sites that explode
    downstream must still materialize the RESULT column below any
    Generate per the house discipline.
    """
    c = F.col(col) if isinstance(col, str) else col
    scheme = F.lower(F.regexp_extract(c, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    authority = F.regexp_extract(c, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    # userinfo and bracketed-IPv6 URLs pass through UNCHANGED (the
    # round-11 self-review fix, extended to '[' per round-12 advice)
    is_web = (
        scheme.isin("http", "https")
        & ~authority.contains("@")
        & ~authority.contains("[")
    )
    host = F.lower(F.regexp_extract(authority, r"^([^:]*)", 1))
    if idna_hosts:
        # the kernel's input expression is evaluated ONCE into the
        # Arrow batch (UDF args are a plain projection — no HOF
        # re-evaluation concern), and ASCII hosts return untouched;
        # uts46 passes through to the fold (round 15)
        host = idna_host_udf(uts46=uts46)(host)
    port = F.regexp_extract(authority, r":(\d+)$", 1)
    default_port = F.when(scheme == "http", F.lit("80")).otherwise(F.lit("443"))
    port_part = F.when(
        (port == "") | (port == default_port), F.lit("")
    ).otherwise(F.concat(F.lit(":"), port))
    # percent-normalize PER COMPONENT, parsing from the raw string:
    # unreserved decodes cannot create '/?#&=' so parse-then-normalize
    # equals normalize-then-parse — and keeping the whole-URL
    # normalization OUT of the param HOFs' array args avoids the
    # round-6 re-evaluation blowup (the array arg of filter/sort
    # re-evaluates per element access; a per-URL split+transform
    # there cost ~2x on the q194 bench row)
    path = F.regexp_extract(
        c, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1
    )
    path_part = percent_normalize(
        F.when(path == "", F.lit("/")).otherwise(path)
    )
    # anchor to the pre-fragment span: [^#?]* forbids crossing '#'
    # before the '?', so 'http://h/p#x?y' has NO query (round-12
    # advice fix — the old r"\?([^#]*)" promoted the fragment tail)
    query = F.regexp_extract(c, r"^[^#?]*\?([^#]*)", 1)
    # normalize each param BEFORE the tracking filter (an encoded
    # utm%5Fsource decodes to utm_source and is filtered correctly)
    # and before the bytewise sort (so the sort key is the normalized
    # form — idempotent on a second pass). percent_normalize's inner
    # computations reference only the lambda variable, which is a
    # plain slot read — no cross-element re-evaluation of outer work.
    params = F.transform(
        F.split(query, "&"), lambda p: percent_normalize(p)
    )
    kept = F.array_sort(
        F.filter(
            params,
            lambda p: (F.length(p) > 0)
            & ~F.lower(F.regexp_extract(p, r"^([^=]*)", 1)).rlike(
                "^(" + "|".join(URL_TRACKING_PREFIXES) + ")"
            )
            & ~F.lower(F.regexp_extract(p, r"^([^=]*)", 1)).isin(
                *URL_TRACKING_KEYS
            ),
        )
    )
    query_part = F.when(
        F.size(kept) == 0, F.lit("")
    ).otherwise(F.concat(F.lit("?"), F.array_join(kept, "&")))
    canon = F.concat(
        scheme, F.lit("://"), host, port_part, path_part, query_part
    )
    return F.when(is_web, canon).otherwise(c)


def url_host(col: Column | str) -> Column:
    """Lowercased host of a web URL ('' for non-URLs) — the grouping
    key for host-level corpus stats. Userinfo and bracketed-IPv6
    authorities return '' (mirrors canonicalize_url's passthrough:
    the naive split would report 'user' for ``http://user:pw@h/``,
    which is worse for a grouping key than abstaining)."""
    c = F.col(col) if isinstance(col, str) else col
    authority = F.regexp_extract(c, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    return F.when(
        authority.contains("@") | authority.contains("["), F.lit("")
    ).otherwise(F.lower(F.regexp_extract(authority, r"^([^:]*)", 1)))


# Control characters stripped by corpus hygiene: C0 minus \t\n\r,
# plus DEL. Kept as a codegen regexp (no UDF).
_CTRL_RE = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"


def strip_controls(col: Column | str) -> Column:
    """Remove C0 control characters (except tab/newline/CR) and DEL —
    standard corpus hygiene before tokenization."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, _CTRL_RE, "")


def control_char_count(col: Column | str) -> Column:
    """How many control characters ``strip_controls`` would remove."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.length(c) - F.length(F.regexp_replace(c, _CTRL_RE, ""))).cast(
        "long"
    )


def unicode_normalize_udf(form: str = "NFC"):
    """Arrow-batched Unicode normalization (NFC/NFKC/NFD/NFKD) —
    Spark has no builtin, so this is the documented engine-external
    kernel (the ``compression_ratio_udf`` precedent). stdlib
    ``unicodedata``, deterministic for a given Unicode version;
    normalization is idempotent (``norm(norm(x)) == norm(x)``) and
    NFC(NFKC(x)) == NFKC(x), both pytest-pinned."""
    import unicodedata

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")

    def _norm(s):
        return s.map(
            lambda t: None if t is None else unicodedata.normalize(form, t)
        )

    return series_udf(_norm, "string")
