"""Edge-case tests for text operators: empty/whitespace docs, token
counting semantics, fingerprint invariance."""

from __future__ import annotations

from pyspark.sql import functions as F

from e_commerce_data_pipeline_spark.operators import text as T
from e_commerce_data_pipeline_spark.operators.dedup import exact_dedup, shingles


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "Hello,  World!  "),
            (2, ""),
            (3, "   "),
            (4, "the quick brown fox and the lazy dog in a field"),
            (5, "hello world"),
            (6, "WORLD   hello"),
            (7, "a b"),
        ],
        "doc_id int, text string",
    )


def test_token_count_edges(spark):
    rows = {
        r["doc_id"]: r["n"]
        for r in _docs(spark).select("doc_id", T.token_count("text").alias("n")).collect()
    }
    assert rows[1] == 2  # 'hello,' 'world!'
    assert rows[2] == 0 and rows[3] == 0  # empty / whitespace-only
    assert rows[4] == 11


def test_bpe_token_count_splits_symbols(spark):
    rows = {
        r["doc_id"]: r["n"]
        for r in _docs(spark)
        .select("doc_id", T.token_count_bpe("text").alias("n"))
        .collect()
    }
    assert rows[1] == 4  # hello , world !
    assert rows[2] == 0


def test_bag_fingerprint_order_insensitive(spark):
    fps = {
        r["doc_id"]: r["fp"]
        for r in _docs(spark)
        .select("doc_id", T.fingerprint_bag("text").alias("fp"))
        .collect()
    }
    assert fps[5] == fps[6]  # same token bag, different order/case/spacing
    assert fps[5] != fps[7]


def test_exact_fingerprint_normalizes_whitespace_and_case(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "hello worlds")],
        "doc_id int, text string",
    )
    groups = exact_dedup(df)
    n = {r["canonical_id"]: r["n_copies"] for r in groups.collect()}
    assert n[1] == 2 and n[3] == 1


def test_stopword_hits_and_english_guess(spark):
    df = _docs(spark)
    rows = {
        r["doc_id"]: (r["h"], r["g"])
        for r in df.select(
            "doc_id",
            T.stopword_hits("text").alias("h"),
            T.guess_is_english("text").alias("g"),
        ).collect()
    }
    assert rows[4][0] >= 4 and rows[4][1]  # the/and/in/a
    assert rows[5][0] == 0 and not rows[5][1]
    assert rows[2][0] == 0


def test_shingles_short_docs(spark):
    df = spark.createDataFrame([(1, "a b"), (2, "a b c"), (3, "a b c d")], "doc_id int, text string")
    rows = {
        r["doc_id"]: r["sh"]
        for r in df.select("doc_id", shingles("text", 3).alias("sh")).collect()
    }
    assert rows[1] == []  # shorter than n -> no shingles
    assert rows[2] == ["a b c"]
    assert rows[3] == ["a b c", "b c d"]


def test_quality_score_quartiles(spark):
    good = "the quick brown fox jumps over the lazy dog " * 5  # long, wordy
    df = spark.createDataFrame(
        [(1, good), (2, "!!! ??? ###"), (3, "")], "doc_id int, text string"
    )
    rows = {
        r["doc_id"]: r["q"]
        for r in df.select("doc_id", T.doc_quality_score("text").alias("q")).collect()
    }
    assert rows[1] >= 0.75
    assert rows[2] <= 0.5
    assert rows[3] in (0.0, 0.25)  # empty: only the punct check can pass
    assert all(q * 4 == int(q * 4) for q in rows.values())  # exact quarters


def test_chunking_windows_and_strides(spark):
    from e_commerce_data_pipeline_spark.operators.text import chunk_documents

    toks = " ".join(f"t{i}" for i in range(100))
    df = spark.createDataFrame(
        [(1, toks), (2, "a b c"), (3, "")], "doc_id int, text string"
    )
    chunks = chunk_documents(df, chunk_tokens=40, stride=20)
    rows = sorted(
        (r["doc_id"], r["chunk_no"], r["n_tokens"]) for r in chunks.collect()
    )
    # doc 1: 100 tokens -> starts 0,20,40,60 -> 4 chunks (start 80 fully
    # inside the 60..100 window is dropped)
    assert [(d, c) for d, c, _ in rows if d == 1] == [(1, 0), (1, 1), (1, 2), (1, 3)]
    assert [n for d, _, n in rows if d == 1] == [40, 40, 40, 40]
    # doc 2: shorter than one chunk -> single partial chunk
    assert [(c, n) for d, c, n in rows if d == 2] == [(0, 3)]
    # doc 3: empty -> no chunks
    assert not [r for r in rows if r[0] == 3]
    # overlap property: consecutive chunks share stride tokens
    texts = {
        r["chunk_no"]: r["chunk_text"].split(" ")
        for r in chunks.filter(F.col("doc_id") == 1).collect()
    }
    assert texts[0][20:] == texts[1][:20]


def test_pii_redaction(spark):
    from e_commerce_data_pipeline_spark.operators.text import (
        redact_pii,
        redaction_count,
    )

    rows = [
        (1, "contact john.doe@example.com or call 555-123-4567 now"),
        (2, "ssn 123-45-6789 card 4111 1111 1111 1111"),
        (3, "clean text with no identifiers"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    out = {
        r["id"]: (r["red"], r["n"])
        for r in df.select(
            "id",
            redact_pii("text").alias("red"),
            redaction_count("text").alias("n"),
        ).collect()
    }
    assert "<EMAIL>" in out[1][0] and "@" not in out[1][0]
    assert "<PHONE>" in out[1][0] or "<SSN>" in out[1][0]
    assert "6789" not in out[2][0] and "4111" not in out[2][0]
    assert out[3] == ("clean text with no identifiers", 0)
    assert out[1][1] >= 2 and out[2][1] >= 2


def test_two_stage_near_dup_pipeline(spark):
    """MinHash candidates -> exact Jaccard verify: near-identical docs
    must surface; verified pairs must carry true Jaccard >= threshold."""
    from e_commerce_data_pipeline_spark.operators.dedup import (
        near_dup_pairs,
        ngram_jaccard_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = [
        (1, base),
        (2, base + " ok"),                  # near-dup of 1
        (3, base.replace("quick", "slow")), # near-dup of 1
        (4, "completely different words about spark and parquet files here"),
        (5, "another unrelated document mentioning joins and shuffles only"),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in near_dup_pairs(df, threshold=0.5).collect()
    }
    assert (1, 2) in got
    # exact-jaccard agreement on the pairs LSH surfaced
    exact = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.01).collect()
    }
    for pair, j in got.items():
        assert j >= 0.5
        assert abs(exact[pair] - j) < 1e-12
    # unrelated docs never pair
    assert not any(4 in p or 5 in p for p in got)


def test_decimal_sum_matches_fixed_point(spark):
    from decimal import Decimal

    from e_commerce_data_pipeline_spark.functions import decimal_sum, fixed_sum

    values = [123.45, 0.01, 99999.99, 42.42, 0.07] * 200
    df = spark.createDataFrame([(v,) for v in values], "v double")
    row = df.agg(
        fixed_sum("v", 100, "fp"), decimal_sum("v", "dec", scale=2)
    ).collect()[0]
    want = sum(Decimal(f"{v:.2f}") for v in values)
    assert Decimal(f"{row['fp']:.2f}") == want
    assert row["dec"] == want


def test_cosine_pairs_blocked_max_block_rows_guard(spark):
    """The round-16 quadratic guard: a block exceeding
    max_block_rows raises AT EXECUTION with an actionable message
    (the wall-masked-quadratic class the r15 probe measured on q28 —
    9.79x wall, 104x pairs at 10x); under the bound the output is
    identical to the unguarded operator; None disables the guard."""
    import pytest as _pytest

    from e_commerce_data_pipeline_spark.operators.similarity import (
        cosine_pairs_blocked,
    )

    rows = [
        (i, "big" if i < 4 else "small", [1.0, float(i % 2)])
        for i in range(6)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, lbl string, embedding array<double>"
    )
    guarded = cosine_pairs_blocked(
        emb, "lbl", threshold=-1.0, max_block_rows=3
    )
    with _pytest.raises(Exception, match="max_block_rows"):
        guarded.collect()
    ok = sorted(
        map(
            tuple,
            cosine_pairs_blocked(
                emb, "lbl", threshold=-1.0, max_block_rows=4
            ).collect(),
        )
    )
    off = sorted(
        map(
            tuple,
            cosine_pairs_blocked(
                emb, "lbl", threshold=-1.0, max_block_rows=None
            ).collect(),
        )
    )
    assert ok == off and len(ok) == 6 + 1  # C(4,2) + C(2,2)


def test_embedding_near_dup_contained_in_bruteforce(spark, sf_dir):
    """LSH-blocked embedding near-dup returns a subset of the exact
    cosine>=threshold pairs, with identical sims on the pairs it
    surfaces, and planted exact duplicates always collide."""
    from e_commerce_data_pipeline_spark.catalog import load_table
    from e_commerce_data_pipeline_spark.operators.dedup import embedding_near_dup
    from e_commerce_data_pipeline_spark.operators.similarity import (
        cosine_pairs_blocked,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    got = {
        (r["a_id"], r["b_id"]): r["sim"]
        for r in embedding_near_dup(emb, dim=64, threshold=0.35).collect()
    }
    # exact all-pairs baseline via a single shared block
    exact = {
        (r["a_id"], r["b_id"]): r["sim"]
        for r in cosine_pairs_blocked(
            emb.withColumn("blk", F.lit(1)), block_col="blk", threshold=0.35
        ).collect()
    }
    assert got, "blocking surfaced no pairs at all"
    assert set(got) <= set(exact)
    for pair, sim in got.items():
        assert sim >= 0.35
        assert abs(exact[pair] - sim) < 1e-12
    # an exact duplicate vector shares every bucket in every table
    dup = emb.limit(1).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    dup_id = dup.collect()[0]["vec_id"]
    with_dup = emb.select("vec_id", "embedding").union(dup)
    pairs2 = embedding_near_dup(with_dup, dim=64, threshold=0.99)
    assert any(
        r["b_id"] == dup_id and abs(r["sim"] - 1.0) < 1e-9
        for r in pairs2.collect()
    )


def test_gopher_signals_hand_checked(spark):
    from e_commerce_data_pipeline_spark.operators.text import gopher_signals

    docs = spark.createDataFrame(
        [
            # 12 natural tokens, no repetition beyond 'the' x2
            (1, "the quick brown fox jumps over the lazy dog near a river"),
            # heavy repetition: top token 6/12 = 50% -> fails repetition
            (2, "spam spam spam spam spam spam one two three four five six"),
            # too short (< 10 tokens)
            (3, "just a few words here"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gopher_signals(docs).collect()}
    r1 = out[1]
    assert r1["n_tokens"] == 12 and r1["n_distinct_tokens"] == 11
    assert r1["top_token_count"] == 2
    assert r1["n_trigrams"] == 10 and r1["n_dup_trigrams"] == 0
    assert r1["n_chars_nospace"] == sum(
        len(w) for w in "the quick brown fox jumps over the lazy dog near a river".split()
    )
    assert r1["stop_hits"] == 2  # 'the', 'a'
    assert r1["keep"]
    assert out[2]["top_token_count"] == 6 and not out[2]["keep"]
    assert not out[3]["keep"]
    r4 = out[4]
    assert r4["n_tokens"] == 0 and r4["n_chars_nospace"] == 0
    assert r4["top_token_count"] == 0 and not r4["keep"]


def test_ngram_contamination_exact_overlap(spark):
    from e_commerce_data_pipeline_spark.operators.decontam import (
        ngram_contamination,
    )

    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # contains eval 4-grams "alpha beta gamma delta" and
            # "beta gamma delta epsilon" -> 2 shared shingles
            (1, "intro alpha beta gamma delta epsilon outro"),
            # one shared 4-gram only
            (2, "x alpha beta gamma delta y z"),
            # no overlap
            (3, "totally unrelated text with many different words"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in ngram_contamination(corpus, ev, n=4, min_overlap=1).collect()
    }
    assert set(got) == {1, 2}
    assert got[1]["n_eval_matches"] == 1 and got[1]["total_shared"] == 2
    assert got[2]["total_shared"] == 1 and got[2]["max_shared"] == 1
    # raising min_overlap drops the single-shingle match
    got2 = {
        r["doc_id"]
        for r in ngram_contamination(corpus, ev, n=4, min_overlap=2).collect()
    }
    assert got2 == {1}


def test_ngram_contamination_broadcasts_eval_side(spark):
    from e_commerce_data_pipeline_spark.operators.decontam import (
        ngram_contamination,
    )

    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [(1, "intro alpha beta gamma delta epsilon outro")],
        "doc_id long, text string",
    )
    df = ngram_contamination(corpus, ev, n=4)
    df.collect()
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan


def test_fuzzy_name_pairs_blocking_and_distance(spark):
    from e_commerce_data_pipeline_spark.operators.fuzzy import fuzzy_name_pairs

    df = spark.createDataFrame(
        [
            (1, "red widget"),
            (2, "red widget"),   # duplicate row: distinct-first must dedup
            (3, "rad widget"),   # distance 1 from 'red widget'
            (4, "blue widget"),  # distance 3 from 'red widget'
            (5, "red gizmo"),    # different block (noun) -> never compared
        ],
        "id long, name string",
    )
    got = {
        (r["name_a"], r["name_b"]): r["distance"]
        for r in fuzzy_name_pairs(df, "name", max_distance=1).collect()
    }
    assert got == {("rad widget", "red widget"): 1}
    got3 = {
        (r["name_a"], r["name_b"]): r["distance"]
        for r in fuzzy_name_pairs(df, "name", max_distance=4).collect()
    }
    assert ("blue widget", "red widget") in got3
    assert got3[("blue widget", "red widget")] == 4
    # cross-block pair is absent even at a permissive distance
    assert not any("gizmo" in a or "gizmo" in b for a, b in got3)


def test_span_dup_stats_identical_and_short_docs(spark):
    from e_commerce_data_pipeline_spark.operators.dedup import span_dup_stats

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),  # 3 spans, all shared w/ 2
            (2, "alpha beta gamma delta epsilon"),
            (3, "zeta eta theta iota kappa"),  # unique spans
            (4, "too short"),  # < span_n tokens -> 0 spans
        ],
        "doc_id int, text string",
    )
    rows = {
        r["doc_id"]: r for r in span_dup_stats(df, span_n=3).collect()
    }
    assert rows[1]["n_spans"] == 3 and rows[1]["dup_frac_micro"] == 1_000_000
    assert rows[2]["dup_frac_micro"] == 1_000_000
    assert rows[3]["n_shared_spans"] == 0 and rows[3]["dup_frac_micro"] == 0
    assert rows[4]["n_spans"] == 0 and rows[4]["dup_frac_micro"] == 0


def test_unigram_logprob_hand_checked(spark):
    import math

    from e_commerce_data_pipeline_spark.operators.text import unigram_logprob

    # corpus: 4 tokens total; 'a' x3 (p=3/4), 'b' x1 (p=1/4)
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a"), (3, "")],
        "doc_id int, text string",
    )
    rows = {r["doc_id"]: r for r in unigram_logprob(df).collect()}
    lp_a = round(math.log(3 / 4) * 1_000_000)
    lp_b = round(math.log(1 / 4) * 1_000_000)
    assert rows[1]["n_tokens"] == 3
    assert rows[1]["sum_lp_micro"] == 2 * lp_a + lp_b
    assert rows[2]["sum_lp_micro"] == lp_a
    assert 3 not in rows  # empty doc contributes no tokens


def test_incremental_near_dups_only_cross_side_pairs(spark):
    from e_commerce_data_pipeline_spark.operators.dedup import (
        incremental_near_dups,
    )

    base = "the quick brown fox jumps over the lazy dog tonight"
    corpus = spark.createDataFrame(
        [(1, base), (2, base), (10, "completely different words here entirely")],
        "doc_id int, text string",
    )
    batch = spark.createDataFrame(
        [(100, base), (101, "unrelated content nothing shared at all")],
        "doc_id int, text string",
    )
    pairs = incremental_near_dups(corpus, batch, threshold=0.5).collect()
    got = {(r["new_id"], r["corpus_id"]) for r in pairs}
    # the duplicate batch doc matches BOTH corpus copies; the
    # corpus-internal (1,2) dup pair is NOT re-reported
    assert got == {(100, 1), (100, 2)}
    for r in pairs:
        assert r["jaccard"] == 1.0


def test_tfidf_cosine_pairs_semantics(spark):
    from e_commerce_data_pipeline_spark.operators.similarity import (
        tfidf_cosine_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "red widget gear", "en"),
            (2, "red widget gear", "en"),  # identical -> sim 1.0
            (3, "blue bolt spring", "en"),  # token-disjoint from 1/2
            (4, "red widget gear", "fr"),  # identical but other block
        ],
        "doc_id long, text string, lang string",
    )
    pairs = {
        (r["a_id"], r["b_id"]): r
        for r in tfidf_cosine_pairs(
            docs, threshold=0.0, block_col="lang"
        ).collect()
    }
    assert set(pairs) == {(1, 2)}  # no cross-block, no token-disjoint
    assert pairs[(1, 2)]["sim"] == 1.0
    assert pairs[(1, 2)]["n_shared"] == 3

    # stop-token cut: "red" in every doc of the block is droppable
    docs2 = spark.createDataFrame(
        [
            (1, "red aa"),
            (2, "red bb"),
            (3, "red cc"),
        ],
        "doc_id long, text string",
    )
    all_pairs = tfidf_cosine_pairs(docs2, threshold=-1.0).collect()
    cut_pairs = tfidf_cosine_pairs(
        docs2, threshold=-1.0, max_token_df=2
    ).collect()
    assert len(all_pairs) == 3  # every pair shares "red"
    assert cut_pairs == []  # cut removes the stop token -> no shared keys


def test_tfidf_prefix_filter_is_lossless(spark):
    """The All-Pairs prefix-filtered variant returns EXACTLY the
    brute inverted-index join's pairs — same ids, same n_shared,
    same 6dp sims — across thresholds, blocking, the stop-token cut,
    and an adversarial corpus (near-dup chains, stop-token-only
    docs, single-token docs, idf-0 universal tokens that would NaN
    the bound without the n2>0 guard)."""
    from e_commerce_data_pipeline_spark.operators.similarity import (
        tfidf_cosine_pairs,
        tfidf_cosine_pairs_prefix,
    )

    vocab = ["aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"]
    rows = []
    for i in range(40):
        # universal stop token 'zz' in EVERY doc (idf 0), plus a
        # deterministic mix that yields near-dup chains and partial
        # overlaps at several similarity levels
        toks = ["zz"] + [vocab[(i + j * j) % len(vocab)] for j in range(1 + i % 5)]
        if i % 7 == 0:
            toks += ["rare%d" % (i // 7)]  # df-1 tokens
        rows.append((i, " ".join(toks), "b%d" % (i % 2)))
    rows.append((100, "zz", "b0"))       # stop-token-only doc (n2=0)
    rows.append((101, "solo", "b1"))     # single-token doc
    rows.append((102, "solo", "b1"))     # its exact dup
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    def key(rws):
        return sorted((r["a_id"], r["b_id"], r["n_shared"], r["sim"]) for r in rws)

    for kwargs in (
        dict(threshold=0.35),
        dict(threshold=0.8),
        dict(threshold=0.35, block_col="lang"),
        dict(threshold=0.5, max_token_df=20),
        dict(threshold=0.01),
    ):
        brute = key(tfidf_cosine_pairs(docs, **kwargs).collect())
        fast = key(tfidf_cosine_pairs_prefix(docs, **kwargs).collect())
        assert fast == brute, (kwargs, len(fast), len(brute))
        assert brute, kwargs  # the corpus must actually exercise it
    # the filter genuinely prunes: prefix-side postings < all postings
    # is implied by the exact-dup pair surviving at threshold 1.0
    top = key(tfidf_cosine_pairs_prefix(docs, threshold=1.0).collect())
    assert (101, 102, 1, 1.0) in top


def test_tfidf_prefix_filter_lossless_hypothesis(spark):
    """Hypothesis-driven losslessness sweep (derandomized, house
    rule): random small corpora over a tiny alphabet — maximum
    token-sharing pressure, ties everywhere — must produce identical
    brute/prefix outputs at random thresholds."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from e_commerce_data_pipeline_spark.operators.similarity import (
        tfidf_cosine_pairs,
        tfidf_cosine_pairs_prefix,
    )

    tok = st.sampled_from(["aa", "bb", "cc", "dd", "ee"])

    @settings(
        max_examples=10,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        st.lists(
            st.lists(tok, min_size=1, max_size=6),
            min_size=2,
            max_size=12,
        ),
        st.sampled_from([0.05, 0.3, 0.5, 0.8, 0.95]),
    )
    def run(doc_toks, threshold):
        docs = spark.createDataFrame(
            [(i, " ".join(ts)) for i, ts in enumerate(doc_toks)],
            "doc_id long, text string",
        )
        brute = sorted(
            map(tuple, tfidf_cosine_pairs(docs, threshold=threshold).collect())
        )
        fast = sorted(
            map(
                tuple,
                tfidf_cosine_pairs_prefix(
                    docs, threshold=threshold
                ).collect(),
            )
        )
        assert fast == brute, (doc_toks, threshold)

    run()


def test_winnow_fingerprint_guarantee_and_pairs(spark):
    from e_commerce_data_pipeline_spark.operators.dedup import (
        winnow_candidate_pairs,
        winnow_fingerprints,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    docs = spark.createDataFrame(
        [
            (1, f"one two {shared} three four"),
            (2, f"{shared} five six seven eight nine ten"),
            (3, "completely different words with no overlap here at all"),
            (4, "tiny doc"),  # < k tokens -> no grams
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(docs, k=4, w=5)
    by_doc = {
        i: {r["fp_hash"] for r in rows}
        for i, rows in (
            (i, [r for r in fps.collect() if r["id"] == i]) for i in (1, 2, 3)
        )
    }
    # winnowing guarantee: docs 1 and 2 share an 8-token run
    # (>= w + k - 1 = 8) -> they MUST share a fingerprint hash
    assert by_doc[1] & by_doc[2]
    assert not (by_doc[1] & by_doc[3])
    assert 4 not in {r["id"] for r in fps.collect()}

    # identical docs -> identical fingerprint sets, max shared count
    docs2 = spark.createDataFrame(
        [(1, shared + " tail one"), (2, shared + " tail one")],
        "doc_id long, text string",
    )
    pairs = winnow_candidate_pairs(docs2, k=4, w=5, min_shared=1).collect()
    assert len(pairs) == 1 and pairs[0]["a_id"] == 1 and pairs[0]["b_id"] == 2
    f2 = winnow_fingerprints(docs2, k=4, w=5)
    sets = {}
    for r in f2.collect():
        sets.setdefault(r["id"], set()).add((r["fp_hash"], r["fp_pos"]))
    assert sets[1] == sets[2]
    assert pairs[0]["n_shared_fp"] == len({h for h, _ in sets[1]})

    # density: selected fingerprints are a strict subset of grams
    long_doc = spark.createDataFrame(
        [(1, " ".join(f"w{i % 13}" for i in range(60)))],
        "doc_id long, text string",
    )
    n_fp = winnow_fingerprints(long_doc, k=4, w=5).count()
    assert 0 < n_fp < 57  # 57 grams; winnowing must thin them


def test_winnow_overflows_loudly_past_position_capacity(spark, monkeypatch):
    """Docs with more k-grams than the 2^_WIN_POS_BITS position
    encoding must raise, not silently corrupt the packed min-key.
    Shrink the capacity so a 20-gram doc trips the guard."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from e_commerce_data_pipeline_spark.operators import dedup

    monkeypatch.setattr(dedup, "_WIN_POS_BITS", 4)  # capacity: 16 grams
    doc = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(23)))],  # 20 4-grams > 16
        "doc_id long, text string",
    )
    with pytest.raises(SparkRuntimeException, match="winnow_fingerprints"):
        dedup.winnow_fingerprints(doc, k=4, w=5).collect()
    # at-capacity docs still work
    ok = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(19)))],  # 16 grams == cap
        "doc_id long, text string",
    )
    assert dedup.winnow_fingerprints(ok, k=4, w=5).count() > 0


def test_compression_signals_separate_repetition_from_entropy(spark):
    from e_commerce_data_pipeline_spark.operators.text import (
        compression_signals,
    )

    rep = "spam ham " * 200
    # deterministic high-entropy text (md5 hex chained)
    import hashlib

    parts, h = [], b"seed"
    for _ in range(100):
        h = hashlib.md5(h).digest()
        parts.append(h.hex())
    rnd = " ".join(parts)
    docs = spark.createDataFrame(
        [(1, rep), (2, rnd), (3, None), (4, "")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in compression_signals(docs).collect()}
    assert rows[1]["zlib_ratio"] < 0.1  # repetition collapses
    assert rows[2]["zlib_ratio"] > 0.5  # entropy doesn't
    assert rows[3]["zlib_ratio"] is None and rows[3]["n_bytes"] is None
    assert rows[4]["zlib_ratio"] == 1.0 and rows[4]["n_bytes"] == 0
    assert rows[1]["n_bytes"] == len(rep.encode())


def test_quantized_topk_bounds_and_recall(spark, sf_dir):
    from e_commerce_data_pipeline_spark.catalog import load_table
    from e_commerce_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        quantized_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    qt = quantized_topk(emb, q, k=5).collect()
    # integer dots of 64-dim int8 unit vectors are bounded by dim*127^2
    assert all(abs(r["dot_q"]) <= 64 * 127 * 127 for r in qt)
    exact = cosine_topk(emb, q, k=5).collect()
    by_q_quant = {}
    for r in qt:
        by_q_quant.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    by_q_exact = {}
    for r in exact:
        by_q_exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    # int8 quantization should preserve most of the exact top-5
    hits = sum(
        len(by_q_quant[k] & by_q_exact[k]) for k in by_q_exact
    )
    assert hits >= 0.6 * sum(len(v) for v in by_q_exact.values())


def _bpe_reference(word_freqs, n_merges, min_pair_count=2):
    """Pure-Python BPE with identical greedy fold + tie-break."""
    syms = {w: [list(w), f] for w, f in word_freqs.items()}
    merges = []
    for _ in range(n_merges):
        counts = {}
        for s, f in syms.values():
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + f
        if not counts:
            break
        (a, b), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if c < min_pair_count:
            break
        merges.append((a, b, c))
        for entry in syms.values():
            s = entry[0]
            out = []
            for x in s:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            entry[0] = out
    vocab = {}
    for s, f in syms.values():
        for x in s:
            vocab[x] = vocab.get(x, 0) + f
    return merges, vocab


def test_bpe_training_matches_reference(spark):
    from e_commerce_data_pipeline_spark.operators.text import (
        train_bpe_merges,
    )

    texts = [
        "low lower lowest low low",
        "new newer newest new newer",
        "wide wider widest",
        "low new",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges, vocab_df = train_bpe_merges(docs, n_merges=8)
    # reference word freqs from the same pre-tokenizer (words only here)
    wf = {}
    for t in texts:
        for w in t.split():
            wf[w] = wf.get(w, 0) + 1
    ref_merges, ref_vocab = _bpe_reference(wf, 8)
    assert merges == ref_merges
    vocab = {r["symbol"]: r["count"] for r in vocab_df.collect()}
    assert vocab == ref_vocab
    # the dominant pattern 'low'/'new' must have merged into one token
    assert any(a + b in ("lo", "low", "ne", "new") for a, b, _ in merges)


def test_pca_top_component_matches_numpy(spark, sf_dir):
    import numpy as np

    from e_commerce_data_pipeline_spark.catalog import load_table
    from e_commerce_data_pipeline_spark.operators.similarity import (
        pca_top_component,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    pc1 = np.array(pca_top_component(emb, dim=64))
    assert abs(np.linalg.norm(pc1) - 1.0) < 1e-9
    # reference: full eigendecomposition of the numpy covariance of
    # the SAME quantized vectors
    X = np.stack(
        [
            np.round(np.array(r["embedding"], dtype=np.float64) * 1e6)
            for r in emb.collect()
        ]
    )
    C = np.cov(X, rowvar=False, bias=True)
    w, V = np.linalg.eigh(C)
    ref = V[:, -1]
    align = abs(float(pc1 @ ref))
    assert align > 0.999, align


def test_bm25_ranks_tf_up_and_length_down(spark):
    """BM25 axioms on a controlled corpus: more query-term occurrences
    rank higher; equal tf but longer doc ranks lower (length
    normalization); docs without any query term never appear."""
    from e_commerce_data_pipeline_spark.operators.similarity import bm25_topk

    rows = [
        ("d_hi_tf", "hash hash hash join pad pad"),
        ("d_lo_tf", "hash pad pad pad pad pad"),
        ("d_short", "hash join pad"),
        ("d_long", "hash join " + "pad " * 40),
        ("d_none", "pad pad pad pad"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = bm25_topk(df, ["hash", "join"], k=10)
    got = {r.doc_id: (r.rk, r.n_terms_hit, r.score_micro) for r in out.collect()}
    assert "d_none" not in got and len(got) == 4
    assert got["d_hi_tf"][2] > got["d_lo_tf"][2]  # tf saturating but monotone
    assert got["d_short"][2] > got["d_long"][2]  # length normalization
    assert got["d_hi_tf"][1] == 2 and got["d_lo_tf"][1] == 1
    # rk is dense 1..4 with the declared tiebreak
    assert sorted(v[0] for v in got.values()) == [1, 2, 3, 4]


def test_phrase_search_adjacency_order_and_repeats(spark):
    from e_commerce_data_pipeline_spark.operators.text import phrase_search

    rows = [
        ("d1", "hash join beats nested loop hash join"),  # 2 occurrences
        ("d2", "join hash"),  # wrong order
        ("d3", "hash only and join far apart"),  # co-present, not adjacent
        ("d4", "prefix hash join"),  # 1 at pos 1
        ("d5", ""),  # empty doc
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r.doc_id: (r.n_occurrences, r.first_pos) for r in phrase_search(df, ["hash", "join"]).collect()}
    assert got == {"d1": (2, 0), "d4": (1, 1)}

    # repeated token inside the phrase: anchors still need BOTH slots
    df2 = spark.createDataFrame([("r1", "the the the"), ("r2", "the cat the")], "doc_id string, text string")
    got2 = {r.doc_id: (r.n_occurrences, r.first_pos) for r in phrase_search(df2, ["the", "the"]).collect()}
    assert got2 == {"r1": (2, 0)}


def test_fs_linkage_rare_agreement_outweighs_common(spark):
    """Fellegi-Sunter axioms: agreeing on a rare field scores higher
    than agreeing on a near-constant one; missing fields contribute 0
    and show '?'; constant/all-unique fields stay finite (clamps)."""
    from e_commerce_data_pipeline_spark.operators.fuzzy import fs_linkage_pairs

    # 'com' is near-constant (u high -> weak evidence); 'rare' has
    # distinct values except one repeated pair (u tiny -> strong)
    rows = [
        (1, "b", "x", "r1"),
        (2, "b", "x", "r1"),   # agrees with 1 on rare+common
        (3, "b", "x", "r3"),
        (4, "b", "x", "r4"),
        (5, "b", "x", None),   # missing rare
        (6, "b", "y", "r6"),
        (7, "b", "x", "r7"),
        (8, "b", "x", "r8"),
    ]
    df = spark.createDataFrame(rows, "id long, blk string, com string, rare string")
    out = {(r.a_id, r.b_id): (r.pattern, r.score_micro)
           for r in fs_linkage_pairs(df, "id", "blk", ["com", "rare"], k=100).collect()}
    assert out[(1, 2)][0] == "11"
    # all pairs exist (one block of 8 -> 28 pairs)
    assert len(out) == 28
    # rare-agreement pair beats every pair that only agrees on common
    only_common = [v for k, v in out.items() if v[0] == "10"]
    assert out[(1, 2)][1] > max(s for _, s in only_common)
    # missing field renders '?' and contributes 0: (1,5) scores on com
    # alone, so it must sit strictly between com-agree+rare-disagree
    # and rare-agree pairs
    assert out[(1, 5)][0] == "1?"
    assert out[(1, 5)][1] > max(s for _, s in only_common)
    assert out[(1, 5)][1] < out[(1, 2)][1]
    # and every score is finite int (clamps held despite near-constant com)
    assert all(isinstance(s, int) for _, s in out.values())


def test_auto_block_width():
    """auto_block_width holds expected block occupancy flat: width
    ~ 1/n (the round-15 scale-probe knob for q172's fixed-width
    quadratic blocking). Pinned: the sf0.1 documents corpus shape
    (n=5000, span=533, 5 langs) returns the historical 32, the 10x
    probe corpus returns 3, degenerate inputs floor at 1."""
    from e_commerce_data_pipeline_spark.operators.fuzzy import (
        auto_block_width,
    )

    assert auto_block_width(5000, 533, 5) == 32
    assert auto_block_width(50000, 533, 5) == 3
    # occupancy identity: (n/groups) / (span/width) ~ target
    for n in (10_000, 100_000, 1_000_000):
        w = auto_block_width(n, 1000, 4, target_occupancy=50.0)
        occ = (n / 4) / (1000 / w)
        assert w == 1 or 25.0 <= occ <= 100.0, (n, w, occ)
    # floors: empty corpus, zero span, huge corpus -> exact-value key
    assert auto_block_width(0, 533) == 1
    assert auto_block_width(5000, 0) == 1
    assert auto_block_width(10**9, 533, 5) == 1
    # min_gap (round 16): the recall contract floors width at 2*gap
    # (paired with the offset pass it guarantees every gap<=min_gap
    # pair a shared bucket); a no-op when occupancy already gives
    # a wider width
    assert auto_block_width(10**9, 533, 5, min_gap=8) == 16
    assert auto_block_width(50000, 533, 5, min_gap=8) == 16
    assert auto_block_width(5000, 533, 5, min_gap=8) == 32
    assert auto_block_width(5000, 533, 5, min_gap=0) == 32


def test_fs_linkage_offset_pass_recovers_boundary_pairs(spark):
    """The width/2-offset second blocking pass (round 16, the
    standard remedy for auto_block_width's boundary-split trade):
    records at n_chars 31 and 33 straddle the width-32 boundary
    (buckets 0|1) but share offset bucket (n+16) div 32 = 1, so the
    pair appears ONLY with block_col2; pairs sharing both keys score
    once (dedup before scoring); pairs sharing neither stay absent;
    and with no straddling pairs the passes agree exactly."""
    from pyspark.sql import functions as F

    from e_commerce_data_pipeline_spark.operators.fuzzy import (
        fs_linkage_pairs,
    )

    rows = [
        (1, 31, "s1", "tok_a"),
        (2, 33, "s1", "tok_a"),  # boundary-straddling true pair
        (3, 40, "s2", "tok_b"),
        (4, 41, "s2", "tok_b"),  # same bucket both passes
        (5, 200, "s3", "tok_c"),  # far from everything
    ]
    w = 32
    d = spark.createDataFrame(
        rows, "id long, n_chars int, src string, tok string"
    ).select(
        "id",
        F.expr(f"n_chars div {w}").cast("string").alias("blk"),
        F.expr(f"(n_chars + {w // 2}) div {w}").cast("string").alias("blk2"),
        "src",
        "tok",
    )
    one_pass = {
        (r.a_id, r.b_id)
        for r in fs_linkage_pairs(d, "id", "blk", ["src", "tok"], k=100)
        .collect()
    }
    assert (3, 4) in one_pass and (1, 2) not in one_pass
    two_pass = fs_linkage_pairs(
        d, "id", "blk", ["src", "tok"], k=100, block_col2="blk2"
    ).collect()
    keys = [(r.a_id, r.b_id) for r in two_pass]
    assert len(keys) == len(set(keys))  # dedup before scoring held
    assert set(keys) >= one_pass | {(1, 2)}
    assert not any(5 in k for k in keys)
    # scores of pairs present in both configurations are identical
    one_scores = {
        (r.a_id, r.b_id): (r.pattern, r.score_micro)
        for r in fs_linkage_pairs(d, "id", "blk", ["src", "tok"], k=100)
        .collect()
    }
    two_scores = {
        (r.a_id, r.b_id): (r.pattern, r.score_micro) for r in two_pass
    }
    for key in one_scores:
        assert two_scores[key] == one_scores[key], key
    # no boundary straddlers -> both configurations agree exactly
    d2 = d.filter(F.col("id") > 2)
    agree_one = sorted(
        fs_linkage_pairs(d2, "id", "blk", ["src", "tok"], k=100).collect()
    )
    agree_two = sorted(
        fs_linkage_pairs(
            d2, "id", "blk", ["src", "tok"], k=100, block_col2="blk2"
        ).collect()
    )
    assert agree_one == agree_two


def test_offset_block_guarantee_hypothesis():
    """Derandomized hypothesis proof-by-fuzz of the round-16 offset
    contract: with width = 2*gap, ANY pair of integer values at most
    `gap` apart shares either the base bucket (v div w) or the
    offset bucket ((v + w div 2) div w). (The two straddle intervals
    are disjoint subsets of one width-length window, which contains
    exactly one multiple of w — so at most one pass can split the
    pair.) This is the guarantee auto_block_width(min_gap=...) +
    fs_linkage_pairs(block_col2=...) sells."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None, derandomize=True)
    @given(
        st.integers(min_value=0, max_value=10_000),
        st.integers(min_value=1, max_value=64),
        st.integers(min_value=0, max_value=64),
    )
    def run(x, gap, delta):
        if delta > gap:
            return
        w = 2 * gap
        y = x + delta
        same_base = x // w == y // w
        same_off = (x + w // 2) // w == (y + w // 2) // w
        assert same_base or same_off, (x, y, gap)

    run()


def test_fs_linkage_offset_pass_gap_recall_hypothesis(spark):
    """Derandomized Spark differential (house rule: every new
    operator gets one): random small corpora with random n_chars —
    fs_linkage_pairs at width 2*gap WITH the offset pass must
    contain, with identical pattern+score, every pair the
    brute single-block join finds whose attribute gap <= gap; and
    it must never invent a pair the brute join lacks."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from e_commerce_data_pipeline_spark.operators.fuzzy import (
        fs_linkage_pairs,
    )

    @settings(
        max_examples=5,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=200),  # n_chars
                st.sampled_from(["s1", "s2"]),
                st.sampled_from(["ta", "tb", "tc"]),
            ),
            min_size=2,
            max_size=12,
        ),
        st.sampled_from([1, 3, 8]),
    )
    def run(rows, gap):
        w = 2 * gap
        d = spark.createDataFrame(
            [(i, nc, s, t) for i, (nc, s, t) in enumerate(rows)],
            "id long, n_chars int, src string, tok string",
        ).select(
            "id",
            "n_chars",
            F.expr(f"n_chars div {w}").cast("string").alias("blk"),
            F.expr(f"(n_chars + {w // 2}) div {w}")
            .cast("string")
            .alias("blk2"),
            F.lit("all").alias("one"),
            "src",
            "tok",
        )
        nchars = {i: nc for i, (nc, _, _) in enumerate(rows)}
        brute = {
            (r.a_id, r.b_id): (r.pattern, r.score_micro)
            for r in fs_linkage_pairs(
                d, "id", "one", ["src", "tok"], k=None, min_score_micro=None
            ).collect()
        }
        got = {
            (r.a_id, r.b_id): (r.pattern, r.score_micro)
            for r in fs_linkage_pairs(
                d,
                "id",
                "blk",
                ["src", "tok"],
                k=None,
                min_score_micro=None,
                block_col2="blk2",
            ).collect()
        }
        for key, val in brute.items():
            if abs(nchars[key[0]] - nchars[key[1]]) <= gap:
                assert got.get(key) == val, (key, gap)
        assert set(got) <= set(brute)
        for key, val in got.items():
            assert brute[key] == val, key

    run()


def bpe_reference_encode(word: str, merges) -> list:
    """Pure-Python greedy BPE encode (test reference): apply each
    merge in order, left-to-right non-overlapping, over the symbol
    list — the semantics ``bpe_encode_corpus`` mirrors with string
    replaces and ``_apply_bpe_merge`` mirrors as an aggregate fold."""
    syms = list(word)
    for a, b in merges:
        out: list = []
        for sym in syms:
            if out and out[-1] == a and sym == b:
                out[-1] = a + b
            else:
                out.append(sym)
        syms = out
    return syms


def test_bpe_encode_corpus_matches_reference(spark):
    """The replace-chain encode (q179's operator) agrees with the
    pure-Python greedy fold — including the 'aaa' non-overlap case —
    and composes with train_bpe_merges output."""
    from e_commerce_data_pipeline_spark.operators.text import (
        bpe_encode_corpus,
        train_bpe_merges,
    )

    # hand-picked merges exercising chained + overlapping semantics
    merges = [("a", "a"), ("l", "o"), ("lo", "w"), ("e", "r")]
    texts = [
        "aaa aaaa low lower lowest",
        "baaab lower low errer",
        "w lo low 123 12",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    enc = {
        r["w"]: (r["freq"], list(r["toks"]))
        for r in bpe_encode_corpus(docs, merges).collect()
    }
    import re

    wf: dict = {}
    for t in texts:
        for w in re.findall(r"[a-zA-Z]+|[0-9]+", t):
            wf[w] = wf.get(w, 0) + 1
    assert set(enc) == set(wf)
    for w, (freq, toks) in enc.items():
        assert freq == wf[w], w
        assert toks == bpe_reference_encode(w, merges), w
    # the classic non-overlap case
    assert enc["aaa"][1] == ["aa", "a"]
    assert enc["aaaa"][1] == ["aa", "aa"]
    assert enc["lowest"][1][:1] == ["low"]
    # trained merges flow straight into the encoder
    trained, _ = train_bpe_merges(docs, n_merges=4)
    pairs = [(a, b) for a, b, _c in trained]
    enc2 = {
        r["w"]: list(r["toks"])
        for r in bpe_encode_corpus(docs, pairs).collect()
    }
    for w, toks in enc2.items():
        assert toks == bpe_reference_encode(w, pairs), (w, pairs)
    # non-alnum merge symbols are refused (sentinel safety)
    import pytest

    with pytest.raises(ValueError):
        bpe_encode_corpus(docs, [("<", "a")]).collect()


def test_bigram_lm_scores_hand_checked(spark):
    """q182's operator against a pure-Python replay of the same
    add-one bigram model on a 4-doc corpus (lower+whitespace
    tokenizer, prefix counts, micro-quantized ln P)."""
    import math

    from e_commerce_data_pipeline_spark.operators.text import (
        bigram_lm_scores,
    )

    texts = ["the cat sat", "the cat ran", "cat the cat", "solo", ""]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in bigram_lm_scores(docs).collect()}
    # reference model
    toks = [t.lower().split() for t in texts]
    pairs = [(w[i], w[i + 1]) for w in toks for i in range(len(w) - 1)]
    c_ab: dict = {}
    for p in pairs:
        c_ab[p] = c_ab.get(p, 0) + 1
    c_a: dict = {}
    for (a, _b), c in c_ab.items():
        c_a[a] = c_a.get(a, 0) + c
    v = len({w for ws in toks for w in ws})
    lp = {
        p: round(math.log((c + 1) / (c_a[p[0]] + v)) * 1000000)
        for p, c in c_ab.items()
    }
    for i, ws in enumerate(toks):
        doc_pairs = [(ws[j], ws[j + 1]) for j in range(len(ws) - 1)]
        if not doc_pairs:
            assert i not in got  # <2 tokens: no row
            continue
        s = sum(lp[p] for p in doc_pairs)
        assert got[i]["n_bigrams"] == len(doc_pairs)
        assert got[i]["sum_lp_micro"] == s
        assert got[i]["avg_lp_micro"] == s / len(doc_pairs)
    # order sensitivity: same unigrams, scrambled order -> lower score
    docs2 = spark.createDataFrame(
        [(0, "the cat sat the cat sat the cat sat"),
         (1, "sat the the cat cat sat sat cat the")],
        "doc_id long, text string",
    )
    r = {x["doc_id"]: x["avg_lp_micro"] for x in bigram_lm_scores(docs2).collect()}
    assert r[0] > r[1]
