"""Behavioral tests for the LLM-pipeline operators: dedup, similarity
search, text analysis, multimodal plumbing — on controlled inputs where
the expected results are computable by hand."""

from __future__ import annotations

import math
import os
import re

import pytest
from pyspark.sql import functions as F

from wikitrender_spark.functions import similarity as S
from wikitrender_spark.functions import text as T
from wikitrender_spark.operators import ann, dedup, multimodal


def docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_poly_hash_reference_values(spark):
    # h('ab') = (0*31+97)*31 + 98 mod 1000003 = 3105
    df = spark.range(1).select(
        T.poly_hash(F.lit("ab")).alias("ab"),
        T.poly_hash(F.lit("")).alias("empty"),
    )
    row = df.head()
    assert row["ab"] == (97 * 31 + 98) % 1_000_003
    assert row["empty"] == 0


def test_token_count_and_quality_bounds(spark):
    d = docs_df(spark, ["the quick brown fox", "", "  spaced   out  "])
    rows = d.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n"),
        T.quality_score(F.col("text")).alias("q"),
    ).collect()
    by_id = {r["doc_id"]: r for r in rows}
    assert by_id[0]["n"] == 4
    assert by_id[1]["n"] == 0
    assert by_id[2]["n"] == 2
    assert all(0.0 <= r["q"] <= 1.0 for r in rows)


def test_exact_dedup(spark):
    d = docs_df(spark, ["same text", "same text", "other"])
    groups = {
        r["keeper_doc_id"]: r["n_copies"]
        for r in dedup.exact_dedup_groups(d).collect()
    }
    assert groups == {0: 2, 2: 1}


def test_ngram_jaccard_identical_docs(spark):
    text = "a b c d e f g h"
    d = docs_df(spark, [text, text, "x y z w v u t s"])
    pairs = dedup.ngram_jaccard_pairs(d, 0.99).collect()
    assert len(pairs) == 1
    assert (pairs[0]["doc_a"], pairs[0]["doc_b"]) == (0, 1)
    assert pairs[0]["jaccard"] == 1.0


def test_lsh_finds_identical_docs(spark):
    text = "a b c d e f g h i j"
    d = docs_df(spark, [text, text, "completely different words here now ok"])
    cands = {(r["doc_a"], r["doc_b"]) for r in dedup.lsh_candidate_pairs(d).collect()}
    assert (0, 1) in cands
    dups = dedup.near_duplicates(d).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in dups} == {(0, 1)}


def test_simhash_close_for_similar_docs(spark):
    d = docs_df(
        spark,
        [
            "alpha beta gamma delta epsilon zeta eta theta",
            "alpha beta gamma delta epsilon zeta eta iota",
            "one two three four five six seven eight",
        ],
    )
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash_fingerprints(d).collect()}
    def ham(a, b):
        return bin(a ^ b).count("1")
    assert ham(sh[0], sh[1]) <= ham(sh[0], sh[2])
    assert all(0 <= v < 2**16 for v in sh.values())


def emb_df(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    )


def test_cosine_exact(spark):
    df = emb_df(spark, [[1, 0, 0, 0], [0.5, 0, 0, 0], [0, 1, 0, 0]])
    a = S.to_double(F.col("a.embedding"))
    b = S.to_double(F.col("b.embedding"))
    r = (
        df.alias("a")
        .crossJoin(df.alias("b"))
        .filter((F.col("a.vec_id") == 0) & (F.col("b.vec_id") > 0))
        .select(F.col("b.vec_id").alias("v"), S.cosine(a, b).alias("cos"))
        .collect()
    )
    by_id = {r_["v"]: r_["cos"] for r_ in r}
    assert by_id[1] == pytest.approx(1.0)
    assert by_id[2] == pytest.approx(0.0)


def test_brute_force_topk_orders_by_similarity(spark):
    base = [1.0] + [0.0] * 63
    near = [1.0, 0.1] + [0.0] * 62
    far = [0.0, 1.0] + [0.0] * 62
    df = emb_df(spark, [base, near, far])
    rows = ann.brute_force_topk(df, [0], k=2).collect()
    assert [r["neighbor_id"] for r in sorted(rows, key=lambda r: r["rank"])] == [1, 2]


def test_lsh_bucket_determinism(spark):
    df = emb_df(spark, [[0.5] * 64, [0.5] * 64, [-0.5] * 64])
    b = {r["vec_id"]: r["bucket"] for r in ann.lsh_buckets(df).collect()}
    assert b[0] == b[1]  # identical vectors, identical bucket
    assert 0 <= b[0] < 2**ann.N_PLANES


def test_multimodal_feature_extraction(spark):
    d = docs_df(spark, ["hello world", "another document body"])
    media = multimodal.documents_as_media(d)
    feats = {r["media_id"]: r for r in multimodal.extract_features(media).collect()}
    assert feats[0]["n_bytes"] == len("hello world")
    assert len(feats[0]["feature"]) == 8
    assert feats[0]["width"] == 16 + len("hello world") % 64
    # checksum matches the portable 31-polynomial
    h = 0
    for ch in "hello world":
        h = (h * 31 + ord(ch)) % 1_000_003
    assert feats[0]["checksum"] == h


def test_frame_sample(spark):
    media = spark.createDataFrame(
        [(1, "video", bytearray(b"xx"), (None, None, None, 25))],
        multimodal.MEDIA_SCHEMA,
    )
    frames = [r["frame_idx"] for r in multimodal.frame_sample(media, 10).collect()]
    assert frames == [0, 10, 20]


def test_fake_decode_is_stub_guarded():
    with pytest.raises(NotImplementedError):
        multimodal._decode_image_real(b"bytes")


def _emb_df(spark, vecs, labels=None):
    labels = labels or [i % 2 for i in range(len(vecs))]
    return spark.createDataFrame(
        [(i, [float(x) for x in v], int(l)) for i, (v, l) in enumerate(zip(vecs, labels))],
        "vec_id long, embedding array<float>, label int",
    )


def test_ivf_cells_assign_nearest_centroid(spark):
    # two well-separated clusters along axes 0 and 1; labels seed the cells
    vecs = [[1.0, 0.1], [0.9, 0.0], [0.1, 1.0], [0.0, 0.9]]
    emb = _emb_df(spark, vecs, labels=[0, 0, 1, 1])
    cents = ann.ivf_centroids(emb)
    cells = {r["vec_id"]: r["cell"] for r in ann.ivf_cells(emb, cents).collect()}
    assert cells == {0: 0, 1: 0, 2: 1, 3: 1}


def test_ivf_topk_matches_bruteforce_on_separable_data(spark):
    # all vectors land in probed cells -> IVF == brute force exactly
    vecs = [[1.0, 0.0], [0.9, 0.1], [0.8, 0.2], [0.0, 1.0], [0.1, 0.9], [0.2, 0.8]]
    emb = _emb_df(spark, vecs, labels=[0, 0, 0, 1, 1, 1])
    bf = sorted(map(tuple, ann.brute_force_topk(emb, [0], k=5).collect()))
    ivf = sorted(map(tuple, ann.ivf_topk(emb, [0], k=5, nprobe=2).collect()))
    assert ivf == bf


def test_embedding_near_duplicates_finds_clones(spark):
    vecs = [[1.0, 0.0, 0.0], [1.0, 0.001, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
    emb = _emb_df(spark, vecs)
    pairs = {(r["vec_a"], r["vec_b"]): r["sim"]
             for r in ann.embedding_near_duplicates(emb, threshold=0.9).collect()}
    assert set(pairs) == {(0, 1)}
    assert pairs[(0, 1)] > 0.999


def test_documents_as_video_frame_counts(spark):
    d = docs_df(spark, ["x" * 10, "y" * 130])
    media = multimodal.documents_as_video(d)
    rows = {r["media_id"]: r for r in media.collect()}
    assert rows[0]["meta"]["n_frames"] == 18      # 8 + 10 % 120
    assert rows[1]["meta"]["n_frames"] == 8 + 130 % 120
    sampled = multimodal.frame_sample(media, every_n=10).collect()
    per = {}
    for r in sampled:
        per.setdefault(r["media_id"], []).append(r["frame_idx"])
    assert sorted(per[0]) == [0, 10]              # frames 0..17 step 10
    assert sorted(per[1]) == [0, 10]              # frames 0..17 step 10


def test_approx_distinct_within_error_bound(spark):
    from pyspark.sql import functions as F

    from wikitrender_spark.plans.relational_queries import q_approx_segments
    from wikitrender_spark.schemas import load_table

    rows = q_approx_segments(spark, "/root/testdata/sf0.01").collect()
    assert rows
    # the oracle-checked column: 3*rsd bound must hold for every segment
    assert all(r["within_bound"] for r in rows)
    # independent numeric check: rebuild the raw estimate locally and
    # assert it lands within a generous 10% of exact (rsd=0.02 -> 5 sigma)
    est = {
        r["c_mktsegment"]: (r["exact"], r["approx"])
        for r in load_table(spark, "/root/testdata/sf0.01", "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.count_distinct("c_custkey").alias("exact"),
            F.approx_count_distinct("c_custkey", 0.02).alias("approx"),
        )
        .collect()
    }
    for exact, approx in est.values():
        assert abs(approx - exact) <= max(5, 0.10 * exact)


def test_duplicate_clusters_transitive(spark):
    # a~b and b~c near-identical -> one cluster keyed by min doc_id, even
    # if a~c would not pair directly; d unrelated -> absent (singleton)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = docs_df(spark, [base, base + " x", base + " x y", "totally different text here now ok"])
    labels = {r["doc_id"]: r["cluster_id"]
              for r in dedup.duplicate_clusters(docs, threshold=0.5).collect()}
    assert labels.get(0) == 0 and labels.get(1) == 0 and labels.get(2) == 0
    assert 3 not in labels


def test_token_chunks_windows(spark):
    from wikitrender_spark.operators import chunking

    text = " ".join(f"w{i}" for i in range(100))
    d = docs_df(spark, [text, ""])
    rows = chunking.token_chunks(d, size=64, overlap=16).collect()
    per = sorted((r["chunk_idx"], r["n_tokens"]) for r in rows if r["doc_id"] == 0)
    # starts stop below n - overlap = 84: a window at 96 would contain no
    # new tokens (all inside chunk 1's coverage) and must not be emitted
    assert per == [(0, 64), (1, 52)]               # starts 0, 48
    assert not [r for r in rows if r["doc_id"] == 1]  # empty doc: no chunks


def test_token_chunks_rejects_bad_params(spark):
    from wikitrender_spark.operators import chunking

    d = docs_df(spark, ["a b c"])
    with pytest.raises(ValueError):
        chunking.token_chunks(d, size=16, overlap=16)
    with pytest.raises(ValueError):
        chunking.token_chunks(d, size=0, overlap=0)


def test_duplicate_clusters_raises_on_nonconvergence(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = docs_df(spark, [base, base + " x", base + " x y"])
    with pytest.raises(RuntimeError):
        dedup.duplicate_clusters(docs, threshold=0.5, max_iters=0)


def test_repetition_ratios_hand_computed(spark):
    """tx_repetition signals on docs where the answer is computable by
    hand: 'a a a a' has 1 distinct token of 4 (ttr 0.25), 3 bigrams all
    identical (dup 2/3), 2 trigrams identical (dup 1/2); a no-repeat doc
    scores 1.0 / 0.0 / 0.0; short/empty docs degrade to 0-ratios."""
    d = docs_df(spark, ["a a a a", "w x y z", "solo", ""])
    hashed = d.select(
        "doc_id", T.token_hashes(F.col("text")).alias("th")
    )
    base = hashed.select(
        "doc_id",
        F.size("th").alias("n"),
        F.round(T.dup_ngram_ratio(T.bigrams_from_hashes(F.col("th"))), 6).alias(
            "dup_bg"
        ),
        F.round(T.dup_ngram_ratio(T.shingles_from_hashes(F.col("th"))), 6).alias(
            "dup_tg"
        ),
        F.round(
            F.size(F.array_distinct("th")).cast("double")
            / F.greatest(F.size("th"), F.lit(1)),
            6,
        ).alias("ttr"),
    )
    rows = {r["doc_id"]: r for r in base.collect()}
    assert rows[0]["ttr"] == 0.25
    assert rows[0]["dup_bg"] == round(2 / 3, 6)
    assert rows[0]["dup_tg"] == 0.5
    assert rows[1]["ttr"] == 1.0
    assert rows[1]["dup_bg"] == 0.0 and rows[1]["dup_tg"] == 0.0
    assert rows[2]["n"] == 1 and rows[2]["dup_bg"] == 0.0
    assert rows[3]["n"] == 0 and rows[3]["dup_bg"] == 0.0


def test_decontamination_flags_hand_computed(spark):
    """Docs sharing all/none of their trigram shingles with the eval doc
    (doc_id % 97 == 0 -> doc 0) get overlap 1.0 / 0.0; short docs with no
    shingles report zeros, never NULLs."""
    from wikitrender_spark.operators import dedup

    texts = {
        0: "alpha beta gamma delta",      # eval slice (doc 0)
        1: "alpha beta gamma delta",      # clone of eval -> contaminated
        2: "one two three four five",     # disjoint -> clean
        3: "too short",                   # no shingles -> zeros
    }
    d = spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {r["doc_id"]: r for r in dedup.decontamination_flags(d).collect()}
    assert set(rows) == {1, 2, 3}         # eval doc excluded from output
    assert rows[1]["overlap_frac"] == 1.0 and rows[1]["contaminated"]
    assert rows[2]["overlap_frac"] == 0.0 and not rows[2]["contaminated"]
    assert rows[3]["n_shingles"] == 0 and rows[3]["overlap_frac"] == 0.0
    assert not rows[3]["contaminated"]


def test_vocab_top_k_ids(spark):
    """tx_vocab on a corpus where the frequency order is hand-computable;
    ties break lexicographically and ids are 1-based in rank order."""
    from wikitrender_spark.plans import pipeline_queries as P

    d = docs_df(spark, ["b a b c b a", "a c"])
    counts = (
        d.select(F.explode(T.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("n"), F.asc("token"))
    top = (
        counts.orderBy(F.desc("n"), F.asc("token")).limit(P.VOCAB_K)
        .select("token", "n", F.row_number().over(w).alias("vocab_id"))
        .collect()
    )
    got = [(r["token"], r["n"], r["vocab_id"]) for r in top]
    assert got == [("a", 3, 1), ("b", 3, 2), ("c", 2, 3)]


def test_split_assignment_deterministic_and_proportional(spark):
    """tx_split: assignment is a pure function of doc_id (re-running
    reproduces the exact split), covers every doc exactly once, and the
    90/5/5 mix holds within a few points at corpus size."""
    from wikitrender_spark.plans.pipeline_queries import q_split

    sf = "/root/testdata/sf0.01"
    a = {r["doc_id"]: r["split"] for r in q_split(spark, sf).collect()}
    b = {r["doc_id"]: r["split"] for r in q_split(spark, sf).collect()}
    assert a == b and len(a) == 500
    shares = {s: sum(1 for v in a.values() if v == s) / len(a)
              for s in ("train", "val", "test")}
    assert abs(shares["train"] - 0.90) < 0.05
    assert abs(shares["val"] - 0.05) < 0.03
    assert abs(shares["test"] - 0.05) < 0.03


# --- boundary-splitting sequence packing (tx_pack_split) ---------------------


def test_pack_split_invariants(spark):
    from wikitrender_spark.plans import pipeline_queries as PQ

    sf = "/root/testdata/sf0.001"
    split = PQ.q_pack_split(spark, sf).cache()
    pack = PQ.q_pack(spark, sf)

    # slice lengths per doc sum to the doc's token count
    per_doc = split.groupBy("doc_id").agg(
        F.sum("slice_len").alias("tot"), F.min("slice_start").alias("first_off")
    )
    toks = pack.select("doc_id", "n_tokens", "pack_id")
    joined = per_doc.join(toks, "doc_id")
    bad = joined.filter(
        (F.col("tot") != F.col("n_tokens")) | (F.col("first_off") != 0)
    ).count()
    assert bad == 0

    # every slice fits the budget and is non-empty
    B = PQ.PACK_TOKEN_BUDGET
    assert (
        split.filter(
            (F.col("slice_len") <= 0)
            | (F.col("slice_len") > B)
            | (F.col("slice_start") < 0)
        ).count()
        == 0
    )

    # packs are exactly full except each (lang, source) partition's last
    fill = split.groupBy("lang", "source", "pack_id").agg(
        F.sum("slice_len").alias("fill")
    )
    last = fill.groupBy("lang", "source").agg(F.max("pack_id").alias("last_pack"))
    nonlast_bad = (
        fill.join(last, ["lang", "source"])
        .filter((F.col("pack_id") != F.col("last_pack")) & (F.col("fill") != B))
        .count()
    )
    assert nonlast_bad == 0

    # a doc's first slice lands in the pack q_pack assigns it to
    first_slice = split.groupBy("doc_id").agg(F.min("pack_id").alias("first_pack"))
    mismatch = (
        first_slice.join(pack.filter(F.col("n_tokens") > 0), "doc_id")
        .filter(F.col("first_pack") != F.col("pack_id"))
        .count()
    )
    assert mismatch == 0
    split.unpersist()


def test_dedup_lineage_small(spark):
    # docs 0,1 identical (exact dup); 2 unique
    d = docs_df(spark, ["same text here", "same text here", "completely different"])
    rows = dedup.dedup_lineage(d).collect()
    exact_rows = [r for r in rows if r["reason"] == "exact"]
    assert [(r["doc_id"], r["keeper_doc_id"]) for r in exact_rows] == [(1, 0)]
    for r in rows:
        assert r["keeper_doc_id"] < r["doc_id"]


def test_minhash_estimator_selection_bias_contract(spark):
    """On LSH-selected candidates the signature estimator must be
    upward-biased on average (the pairs were selected because bands
    collided) while exact verification stays unbiased by construction —
    the measured argument for near_duplicates scoring with exact
    Jaccard. Envelope kept loose against testdata regeneration."""
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    rows = dedup.minhash_estimate_pairs(docs).collect()
    assert rows, "no candidate pairs to measure"
    errs = [r["err"] for r in rows]
    mean_signed = sum(errs) / len(errs)
    mean_abs = sum(abs(e) for e in errs) / len(errs)
    assert mean_signed >= -0.05, f"selection bias should be upward, got {mean_signed:.3f}"
    assert mean_abs <= 0.5, f"estimator error envelope blown: {mean_abs:.3f}"
    # exact column must agree with the ground-truth jaccard relation
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.near_duplicates(docs, threshold=0.0).collect()
    }
    for r in rows:
        assert exact[(r["doc_a"], r["doc_b"])] == r["jaccard"]


# --- round-4 late additions: boilerplate / rarity / tf-idf / semantic dedup --


def test_common_shingle_stats_hand_computed(spark):
    """Boilerplate fraction: the shared trigram 'a b c' occurs in 3 docs
    (>= BOILER_MIN_DOCS) so each carrier counts 1 common of 2 shingles;
    the isolated doc counts 0; a 2-token doc has no shingles at all."""
    d = docs_df(spark, ["a b c d", "a b c e", "a b c f", "x y z w", "a b"])
    rows = {r["doc_id"]: r for r in dedup.common_shingle_stats(d).collect()}
    assert len(rows) == 5
    for i in (0, 1, 2):
        assert (rows[i]["n_shingles"], rows[i]["n_common"]) == (2, 1)
        assert rows[i]["common_frac"] == pytest.approx(0.5)
    assert (rows[3]["n_shingles"], rows[3]["n_common"]) == (2, 0)
    assert rows[3]["common_frac"] == 0.0
    assert (rows[4]["n_shingles"], rows[4]["n_common"]) == (0, 0)
    assert rows[4]["common_frac"] == 0.0


def test_rarity_scores_hand_computed(spark):
    """dense_rank ties share a rank: a and b both occur twice (rank 1),
    c once (rank 2); doc0 = all rank-1 tokens, doc1 mixes 1 and 2."""
    from wikitrender_spark.plans.pipeline_queries import rarity_scores

    d = docs_df(spark, ["b a b", "a c"])
    rows = {r["doc_id"]: r for r in rarity_scores(d).collect()}
    assert rows[0]["n_tokens"] == 3
    assert rows[0]["mean_rank"] == pytest.approx(1.0)
    assert rows[1]["mean_rank"] == pytest.approx(1.5)
    # tiny vocab: nothing ranks beyond RARITY_COMMON_RANKS
    assert rows[0]["rare_frac"] == 0.0 and rows[1]["rare_frac"] == 0.0


def test_tfidf_terms_hand_computed(spark):
    """Linear idf over N=2 docs: score = tf * N / df; score ties break
    lexicographically by term."""
    from wikitrender_spark.plans.pipeline_queries import tfidf_terms

    d = docs_df(spark, ["a a b", "a c"])
    rows = tfidf_terms(d).collect()
    got = {
        (r["doc_id"], r["term"]): (r["tf"], r["df"], r["score"], r["rank"])
        for r in rows
    }
    assert got[(0, "a")] == (2, 2, pytest.approx(2.0), 1)
    assert got[(0, "b")] == (1, 1, pytest.approx(2.0), 2)
    assert got[(1, "c")] == (1, 1, pytest.approx(2.0), 1)
    assert got[(1, "a")] == (1, 2, pytest.approx(1.0), 2)


def test_semantic_dedup_within_cell_keepers(spark):
    """Two separable cells; the lower-id member of each close pair is the
    keeper, kept rows are their own keeper."""
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),
            (1, [0.999, 0.01], 0),
            (2, [0.0, 1.0], 1),
            (3, [0.01, 0.999], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    rows = {r["vec_id"]: r for r in ann.semantic_dedup(emb).collect()}
    assert {v: rows[v]["is_kept"] for v in rows} == {
        0: True, 1: False, 2: True, 3: False,
    }
    assert {v: rows[v]["keeper_id"] for v in rows} == {0: 0, 1: 0, 2: 2, 3: 2}
    assert rows[1]["cell"] == rows[0]["cell"]
    assert rows[3]["cell"] == rows[2]["cell"]


def test_kmeans_refine_converged_clusters_zero_shift(spark):
    """When label-seeded cells are already the nearest-centroid
    assignment, one Lloyd step reproduces the same centroids: shift 0."""
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),
            (1, [0.9, 0.1], 0),
            (2, [0.0, 1.0], 1),
            (3, [0.1, 0.9], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    rows = {r["cell"]: r for r in ann.kmeans_refine(emb).collect()}
    assert set(rows) == {0, 1}
    for c in rows:
        assert rows[c]["n_members"] == 2
        assert rows[c]["shift"] == pytest.approx(0.0)


def test_filter_funnel_monotone_and_matches_clean_corpus(spark):
    """The funnel must decrease monotonically and its last stage must
    equal tx_clean_corpus's cardinality (same stages, same thresholds)."""
    from wikitrender_spark.plans.pipeline_queries import (
        q_clean_corpus,
        q_filter_funnel,
    )

    sf = "/root/testdata/sf0.001"
    rows = sorted(
        q_filter_funnel(spark, sf).collect(), key=lambda r: r["stage_idx"]
    )
    counts = [r["n_docs"] for r in rows]
    assert len(counts) == 5
    assert all(a >= b for a, b in zip(counts, counts[1:])), counts
    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert counts[0] == n_docs
    assert counts[-1] == q_clean_corpus(spark, sf).count()


def test_range_search_matches_bruteforce_within_radius(spark):
    """Range search returns exactly the brute-force pairs at or above the
    radius, with bit-identical sims."""
    emb = emb_df(spark, [[1.0, 0.0], [0.9, 0.1], [0.0, 1.0], [-1.0, 0.0]])
    got = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in ann.range_search(emb, [0], threshold=0.5).collect()
    }
    bf = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in ann.brute_force_topk(emb, [0], k=10).collect()
        if r["sim"] >= 0.5
    }
    assert got == bf
    assert set(got) == {(0, 1)}


def test_mix_sample_applies_weights_deterministically(spark):
    """Every keep decision must be recomputable from (doc_id,
    sample_weight) alone, and a re-run reproduces the sample exactly."""
    from wikitrender_spark.plans.pipeline_queries import (
        MIX_SAMPLE_BASE,
        MIX_SAMPLE_MULT,
        MIX_SAMPLE_OFFSET,
        q_mix_sample,
    )

    sf = "/root/testdata/sf0.001"
    rows = q_mix_sample(spark, sf).collect()
    assert rows
    for r in rows:
        bucket = (r["doc_id"] * MIX_SAMPLE_MULT + MIX_SAMPLE_OFFSET) % 1000003 % 1000
        assert r["bucket"] == bucket
        expect = bucket / 1000.0 < min(r["sample_weight"] * MIX_SAMPLE_BASE, 1.0)
        assert r["keep"] == expect, r
    again = {r["doc_id"]: r["keep"] for r in q_mix_sample(spark, sf).collect()}
    assert again == {r["doc_id"]: r["keep"] for r in rows}


# --- real netpbm decode / resize / feature kernels ---------------------------


def _p6_2x2() -> bytes:
    # red, green / blue, white
    return (
        b"P6\n2 2\n255\n"
        + bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255])
    )


def test_decode_netpbm_p6_and_p5():
    from wikitrender_spark.operators.multimodal import decode_netpbm

    w, h, img = decode_netpbm(_p6_2x2())
    assert (w, h) == (2, 2)
    assert img.shape == (2, 2, 3)
    assert list(img[0, 0]) == [255, 0, 0]
    assert list(img[1, 1]) == [255, 255, 255]

    # P5 grayscale with a header comment between tokens
    p5 = b"P5\n# a comment\n2 1\n255\n" + bytes([0, 255])
    w, h, img = decode_netpbm(p5)
    assert (w, h, img.shape) == (2, 1, (1, 2, 1))
    assert [int(img[0, 0, 0]), int(img[0, 1, 0])] == [0, 255]


def test_decode_netpbm_rejects_bad_input():
    from wikitrender_spark.operators.multimodal import decode_netpbm

    with pytest.raises(ValueError):
        decode_netpbm(b"JFIFnotppm")
    with pytest.raises(ValueError):
        decode_netpbm(b"P6\n2 2\n255\n" + bytes([1, 2, 3]))  # truncated


def test_resize_nearest_quadrants():
    from wikitrender_spark.operators.multimodal import (
        decode_netpbm,
        resize_nearest,
    )

    _, _, img = decode_netpbm(_p6_2x2())
    thumb = resize_nearest(img, 4, 4)
    assert thumb.shape == (4, 4, 3)
    assert list(thumb[0, 0]) == [255, 0, 0]      # top-left quadrant = red
    assert list(thumb[0, 3]) == [0, 255, 0]      # top-right = green
    assert list(thumb[3, 0]) == [0, 0, 255]      # bottom-left = blue
    assert list(thumb[3, 3]) == [255, 255, 255]  # bottom-right = white


def test_image_features_hand_computed():
    from wikitrender_spark.operators.multimodal import (
        decode_netpbm,
        image_features,
        resize_nearest,
    )

    _, _, img = decode_netpbm(_p6_2x2())
    feats = image_features(resize_nearest(img, 16, 16))
    # each channel averages (255+0+0+255)/4-ish = 127.5 -> 0.5
    assert feats[0] == pytest.approx(0.5)
    assert feats[1] == pytest.approx(0.5)
    assert feats[2] == pytest.approx(0.5)
    # luminance: three pixels at 85 (bin 1), one at 255 (bin 4)
    assert feats[3:] == [
        pytest.approx(0.0),
        pytest.approx(0.75),
        pytest.approx(0.0),
        pytest.approx(0.0),
        pytest.approx(0.25),
    ]


def test_extract_features_real_decode_path(spark):
    """A netpbm payload in the media table flows through the REAL
    decode -> resize -> feature pipeline inside mapInPandas; a text
    payload in the same batch takes the fake path."""
    media = spark.createDataFrame(
        [
            (1, "image", bytearray(_p6_2x2()), (None, None, None, None)),
            (2, "text", bytearray(b"hello"), (None, None, None, None)),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    rows = {r["media_id"]: r for r in multimodal.extract_features(media).collect()}
    assert (rows[1]["width"], rows[1]["height"]) == (2, 2)
    assert rows[1]["feature"][0] == pytest.approx(0.5)
    # fake path: width derived from payload length, not image content
    assert rows[2]["width"] == 16 + 5 % 64


def test_decode_netpbm_rejects_zero_dimensions():
    """Review finding: zero-dim headers must fail loudly in the decoder,
    not crash later in resize/features with an unrelated numpy error."""
    from wikitrender_spark.operators.multimodal import decode_netpbm

    with pytest.raises(ValueError):
        decode_netpbm(b"P5\n0 0\n255\n")
    with pytest.raises(ValueError):
        decode_netpbm(b"P6\n3 0\n255\n")


def test_decode_any_respects_kind():
    """Review finding: dispatch requires kind=='image' — a text payload
    whose bytes happen to start with a netpbm magic must take the fake
    path (mm_media_features' oracle assumes it)."""
    from wikitrender_spark.operators.multimodal import decode_any, fake_decode

    trap = b"P5 looks like a header but is text"
    assert decode_any(trap, "text") == fake_decode(trap)
    # and a real image-kind payload still decodes for real
    w, h, _ = decode_any(_p6_2x2(), "image")
    assert (w, h) == (2, 2)


def test_wav_roundtrip_and_features_hand_computed(spark):
    """documents_as_wav builds a real RIFF container; decode_wav parses
    it back to the exact (code-80)*256 samples; audio_features' RMS /
    crossings / peak match a direct recomputation."""
    import math

    from wikitrender_spark.operators.multimodal import (
        WAV_CODE_PIVOT,
        WAV_N_SAMPLES,
        WAV_SAMPLE_RATE,
        audio_features,
        decode_wav,
        documents_as_wav,
    )

    d = docs_df(spark, ["ab"])
    media = documents_as_wav(d)
    payload = bytes(media.collect()[0]["payload"])
    rate, samples = decode_wav(payload)
    assert rate == WAV_SAMPLE_RATE
    assert len(samples) == WAV_N_SAMPLES
    expect = [(ord(c) - WAV_CODE_PIVOT) * 256 for c in "ab".ljust(WAV_N_SAMPLES)]
    assert list(samples) == expect

    row = audio_features(media).collect()[0]
    ss = sum(v * v for v in expect)
    assert row["rms"] == pytest.approx(round(math.sqrt(ss / 128.0), 6))
    # one sign change: 'b' (positive) -> first space (negative)
    assert row["zero_crossings"] == 1
    assert row["peak"] == 12288
    assert row["n_samples"] == WAV_N_SAMPLES


def test_decode_wav_rejects_bad_input():
    from wikitrender_spark.operators.multimodal import decode_wav

    with pytest.raises(ValueError):
        decode_wav(b"OGGSnotawav" + b"\x00" * 64)
    with pytest.raises(ValueError):
        decode_wav(b"RIFF\x00\x00\x00\x00WAVEjunk" + b"\x00" * 64)


def test_y4m_roundtrip_and_frame_features(spark):
    """documents_as_y4m builds a real YUV4MPEG2 stream; decode_y4m
    recovers the exact frame planes; per-frame checksum/mean match a
    direct recomputation."""
    from wikitrender_spark.operators.multimodal import (
        Y4M_FRAMES,
        Y4M_HEIGHT,
        Y4M_WIDTH,
        _checksum,
        decode_y4m,
        documents_as_y4m,
        video_frame_features,
    )

    text = "abcdefghij"
    d = docs_df(spark, [text])
    media = documents_as_y4m(d)
    payload = bytes(media.collect()[0]["payload"])
    w, h, frames = decode_y4m(payload)
    assert (w, h, len(frames)) == (Y4M_WIDTH, Y4M_HEIGHT, Y4M_FRAMES)
    n = Y4M_WIDTH * Y4M_HEIGHT
    padded = text.ljust(n * Y4M_FRAMES)
    assert frames[0].tobytes() == padded[:n].encode()
    assert frames[7].tobytes() == b" " * n  # tail frames are pure padding

    rows = {r["frame_idx"]: r for r in video_frame_features(media).collect()}
    assert len(rows) == Y4M_FRAMES
    fb = padded[:n].encode()
    assert rows[0]["checksum"] == _checksum(fb)
    assert rows[0]["y_mean"] == pytest.approx(
        round((sum(fb) / n) / 255.0, 6)
    )
    assert rows[7]["y_mean"] == pytest.approx(round((32.0 / 255.0), 6))


def test_decode_y4m_rejects_bad_input():
    from wikitrender_spark.operators.multimodal import decode_y4m

    with pytest.raises(ValueError):
        decode_y4m(b"NOTY4M\nFRAME\n" + b"\x00" * 16)
    with pytest.raises(ValueError):  # non-mono colorspace
        decode_y4m(b"YUV4MPEG2 W4 H4 C420\nFRAME\n" + b"\x00" * 24)
    with pytest.raises(ValueError):  # truncated plane
        decode_y4m(b"YUV4MPEG2 W4 H4 Cmono\nFRAME\n" + b"\x00" * 7)


def test_decode_wav_truncated_header_raises_valueerror():
    """Review finding: truncated headers must raise the documented
    ValueError, not let struct.error escape the corrupt-input contract."""
    from wikitrender_spark.operators.multimodal import decode_wav

    with pytest.raises(ValueError):
        decode_wav(b"RIFF\x00\x00\x00\x00WAVEfmt ")  # header cut short


def test_wav_and_y4m_encoders_handle_non_ascii(spark):
    """Review findings: byte-range non-ASCII saturates (WAV) / encodes
    as latin-1 (Y4M) instead of wrapping or corrupting frame offsets;
    codepoints above 255 fail loudly in both encoders."""
    from wikitrender_spark.operators.multimodal import (
        decode_wav,
        decode_y4m,
        documents_as_wav,
        documents_as_y4m,
    )

    # 'Ð' = 208: (208-80)*256 = 32768 -> saturated to int16 max
    d = docs_df(spark, ["Ðab"])
    rate, samples = decode_wav(bytes(documents_as_wav(d).collect()[0]["payload"]))
    assert samples[0] == 32767

    w, h, frames = decode_y4m(
        bytes(documents_as_y4m(d).collect()[0]["payload"])
    )
    assert frames[0].tobytes()[:3] == b"\xd0ab"  # one char = one luma byte

    bad = docs_df(spark, ["Δelta"])  # Greek Delta, codepoint 916
    with pytest.raises(Exception):
        documents_as_wav(bad).collect()
    with pytest.raises(Exception):
        documents_as_y4m(bad).collect()


def test_corpus_stats_random_crosscheck(spark):
    """Third-implementation cross-check on a seeded random corpus:
    rarity, tf-idf, and boilerplate recomputed in plain Python (an
    implementation independent of both Spark and the DuckDB oracle) and
    compared exactly, including empty and sub-shingle docs."""
    import random

    from wikitrender_spark.plans.pipeline_queries import (
        RARITY_COMMON_RANKS,
        TFIDF_TOP_TERMS,
        rarity_scores,
        tfidf_terms,
    )

    rng = random.Random(20260814)
    vocab = [f"w{i}" for i in range(12)]
    texts = [""] + ["w0"] + ["w0 w1"] + [
        " ".join(rng.choice(vocab) for _ in range(rng.randrange(3, 40)))
        for _ in range(57)
    ]
    d = docs_df(spark, texts)
    toks = [t.split() for t in texts]

    # --- rarity ---
    counts: dict[str, int] = {}
    for ts in toks:
        for t in ts:
            counts[t] = counts.get(t, 0) + 1
    by_n = sorted(set(counts.values()), reverse=True)
    rank_of_n = {n: i + 1 for i, n in enumerate(by_n)}
    frank = {t: rank_of_n[n] for t, n in counts.items()}
    got = {r["doc_id"]: r for r in rarity_scores(d).collect()}
    for i, ts in enumerate(toks):
        assert got[i]["n_tokens"] == len(ts)
        if ts:
            assert got[i]["mean_rank"] == round(
                sum(frank[t] for t in ts) / len(ts), 6
            )
            assert got[i]["rare_frac"] == round(
                sum(1 for t in ts if frank[t] > RARITY_COMMON_RANKS) / len(ts), 6
            )
        else:
            assert got[i]["mean_rank"] == 0.0 and got[i]["rare_frac"] == 0.0

    # --- tf-idf ---
    n_docs = len(texts)
    df_: dict[str, int] = {}
    for ts in toks:
        for t in set(ts):
            df_[t] = df_.get(t, 0) + 1
    rows = tfidf_terms(d).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, ts in enumerate(toks):
        if not ts:
            assert i not in by_doc
            continue
        tf = {t: ts.count(t) for t in set(ts)}
        scored = sorted(
            ((round(tf[t] * n_docs / df_[t], 6), t) for t in tf),
            key=lambda p: (-p[0], p[1]),
        )[:TFIDF_TOP_TERMS]
        gotrows = sorted(by_doc[i], key=lambda r: r["rank"])
        assert [(r["score"], r["term"]) for r in gotrows] == scored
        for r in gotrows:
            assert r["tf"] == tf[r["term"]] and r["df"] == df_[r["term"]]

    # --- boilerplate ---
    M, MULT = 1_000_003, 31

    def ph(s):
        h = 0
        for c in s:
            h = (h * MULT + ord(c)) % M
        return h

    def shingles(ts):
        hs = [ph(t) for t in ts]
        return {
            ((hs[j] * MULT + hs[j + 1]) % M * MULT + hs[j + 2]) % M
            for j in range(len(hs) - 2)
        }

    sh = {i: shingles(ts) for i, ts in enumerate(toks)}
    docfreq: dict[int, int] = {}
    for s in sh.values():
        for x in s:
            docfreq[x] = docfreq.get(x, 0) + 1
    bp = {r["doc_id"]: r for r in dedup.common_shingle_stats(d).collect()}
    for i in range(len(texts)):
        n_sh = len(sh[i])
        n_common = sum(1 for x in sh[i] if docfreq[x] >= dedup.BOILER_MIN_DOCS)
        assert bp[i]["n_shingles"] == n_sh
        assert bp[i]["n_common"] == n_common
        assert bp[i]["common_frac"] == (
            round(n_common / n_sh, 6) if n_sh else 0.0
        )


def test_kmeans_fit_recovers_planted_clusters_from_bad_seed(spark):
    """Iterative Lloyd's loop: a mislabeled seed point pulls its seed
    centroid off-cluster, but the assign/update loop converges and the
    final centroids separate the two planted clusters."""
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),
            (1, [0.95, 0.05], 0),
            (2, [0.9, 0.1], 1),     # mislabeled: belongs to the axis-0 cluster
            (3, [0.0, 1.0], 1),
            (4, [0.05, 0.95], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    cents, iters = ann.kmeans_fit(emb, max_iters=10, tol=1e-4)
    assert 1 <= iters <= 10
    cells = {
        r["vec_id"]: r["cell"] for r in ann.ivf_cells(emb, cents).collect()
    }
    assert cells[0] == cells[1] == cells[2]
    assert cells[3] == cells[4]
    assert cells[0] != cells[3]


def test_bpe_merges_hand_computed(spark):
    """Adjacent char-pair counts: 'aaab' yields aa,aa,ab; 'ab x' yields
    ab; single chars contribute nothing. Ties break lexicographically."""
    from wikitrender_spark.plans.pipeline_queries import q_bpe_merges  # noqa: F401
    from wikitrender_spark.plans import pipeline_queries as P
    from pyspark.sql import Window

    d = docs_df(spark, ["aaab ab", "x ab"])
    toks = d.select(F.explode(T.tokens(F.col("text"))).alias("tok"))
    pairs = toks.select(
        F.explode(
            F.when(F.length("tok") < 2, F.array().cast("array<string>"))
            .otherwise(
                F.transform(
                    F.sequence(F.lit(1), F.length("tok") - 1),
                    lambda i: F.substr(F.col("tok"), i, F.lit(2)),
                )
            )
        ).alias("pair")
    )
    got = {
        (r["pair"]): r["n"]
        for r in pairs.groupBy("pair").agg(F.count("*").alias("n")).collect()
    }
    # aaab -> aa, aa, ab ; ab -> ab ; x -> (none) ; ab -> ab
    assert got == {"aa": 2, "ab": 3}


def test_substring_run_stats_hand_computed(spark):
    # run_len=8. doc0/doc1 share exactly the 8-token run "a..h" (their
    # other runs diverge); doc2 is too short for any run; doc3 repeats a
    # run WITHIN itself only — within-doc repeats are not duplication.
    d = docs_df(
        spark,
        [
            "a b c d e f g h x y",
            "a b c d e f g h q r",
            "z z z",
            "p q r s t u v w p q r s t u v w",
        ],
    )
    rows = {r["doc_id"]: r for r in dedup.substring_run_stats(d).collect()}
    assert (rows[0]["n_runs"], rows[0]["n_dup_runs"]) == (3, 1)
    assert rows[0]["dup_run_ratio"] == round(1 / 3, 6)
    assert (rows[1]["n_runs"], rows[1]["n_dup_runs"]) == (3, 1)
    assert (rows[2]["n_runs"], rows[2]["n_dup_runs"]) == (0, 0)
    assert rows[2]["dup_run_ratio"] == 0.0
    # 16 tokens -> 9 positions; the repeated run occurs only in doc3
    assert (rows[3]["n_runs"], rows[3]["n_dup_runs"]) == (9, 0)


def test_containment_pairs_identical_docs(spark):
    base = "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 t12 t13 t14 t15 t16 t17 t18 t19"
    d = docs_df(spark, [base, base, "unrelated words entirely here now"])
    pairs = {
        (r["doc_a"], r["doc_b"]): r
        for r in dedup.containment_pairs(d).collect()
    }
    assert (0, 1) in pairs
    r = pairs[(0, 1)]
    # identical docs: 18 distinct trigram shingles, containment 1.0 both ways
    assert r["n_inter"] == 18
    assert r["containment_a"] == 1.0
    assert r["containment_b"] == 1.0
    for r in pairs.values():
        assert 0 < r["containment_a"] <= 1.0
        assert 0 < r["containment_b"] <= 1.0


def test_containment_asymmetry_subset_doc(spark):
    # doc1 = doc0 plus a suffix: every doc0 shingle is in doc1, so
    # containment_a (|inter|/|A|) = 1.0 while containment_b < 1.0 —
    # the subset signal Jaccard dilutes.
    base = ["w%d" % i for i in range(20)]
    d = docs_df(spark, [" ".join(base), " ".join(base + ["extra", "tail"])])
    pairs = {
        (r["doc_a"], r["doc_b"]): r
        for r in dedup.containment_pairs(d).collect()
    }
    # candidacy is deterministic for this fixture (the near-identical
    # pair shares a MinHash band); it dropping out would itself be an
    # LSH recall regression, so assert it
    assert (0, 1) in pairs
    r = pairs[(0, 1)]
    assert r["containment_a"] == 1.0
    assert r["containment_b"] == round(18 / 20, 6)
    assert r["n_inter"] == 18


def test_length_histogram_hand_computed(spark):
    from wikitrender_spark.plans import pipeline_queries as P

    texts = [
        " ".join(["w"] * 4),
        " ".join(["w"] * 9),
        " ".join(["w"] * 10),
        " ".join(["w"] * 25),
    ]
    d = docs_df(spark, texts)
    rows = {r["bucket_lo"]: r for r in P.length_histogram(d).collect()}
    assert (rows[0]["n_docs"], rows[0]["sum_tokens"]) == (2, 13)
    assert (rows[0]["min_tokens"], rows[0]["max_tokens"]) == (4, 9)
    assert (rows[10]["n_docs"], rows[10]["sum_tokens"]) == (1, 10)
    assert (rows[20]["n_docs"], rows[20]["sum_tokens"]) == (1, 25)


def _emb_df_64(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v], "l") for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label string",
    )


def test_sq_codes_hand_computed(spark):
    # dim0 constant (hi == lo -> code 0); dims 1..63 span [0, 1]
    v0 = [3.0] + [0.0] * 63
    v1 = [3.0] + [1.0] * 63
    v2 = [3.0] + [0.5] * 63
    codes = {
        r["vec_id"]: r["code"]
        for r in ann.sq_codes(_emb_df_64(spark, [v0, v1, v2])).collect()
    }
    assert codes[0] == [0] * 64
    assert codes[1] == [0] + [255] * 63
    # 0.5 -> 127.5 -> HALF_UP -> 128 on both engines
    assert codes[2] == [0] + [128] * 63


def test_sq_topk_ranks_by_integer_dot_and_rescores_exactly(spark):
    v0 = [3.0] + [0.0] * 63
    v1 = [3.0] + [1.0] * 63
    v2 = [3.0] + [0.5] * 63
    v3 = [3.0] + [1.0 if i % 2 else 0.0 for i in range(1, 64)]
    emb = _emb_df_64(spark, [v0, v1, v2, v3])
    out = ann.sq_topk(emb, [1], k=3).collect()
    by_rank = {r["rank"]: r for r in out}
    # integer code dots from query v1's code vector (255 on dims 1..63):
    # v2: 63*255*128, v3: 32*255*255, v0: 0
    d2, d3 = 63 * 255 * 128, 32 * 255 * 255
    assert d3 > d2
    assert by_rank[1]["neighbor_id"] == 3 and by_rank[1]["approx_score"] == d3
    assert by_rank[2]["neighbor_id"] == 2 and by_rank[2]["approx_score"] == d2
    assert by_rank[3]["neighbor_id"] == 0 and by_rank[3]["approx_score"] == 0
    # exact rescoring: v2 is parallel to v1 on the varying dims? no —
    # cosine includes the constant dim; verify against a direct compute
    import math

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return round(
            dot
            / (
                math.sqrt(sum(x * x for x in a))
                * math.sqrt(sum(x * x for x in b))
            ),
            6,
        )

    assert by_rank[2]["sim"] == pytest.approx(cos(v1, v2), abs=1e-6)
    assert by_rank[1]["sim"] == pytest.approx(cos(v1, v3), abs=1e-6)


def _emb_df_labeled(spark, vecs_labels):
    return spark.createDataFrame(
        [(i, [float(x) for x in v], lab) for i, (v, lab) in enumerate(vecs_labels)],
        "vec_id long, embedding array<float>, label int",
    )


def test_pq_codes_hand_computed(spark):
    # two pure clusters: every label-0 vector is 1.0^64, every label-1
    # vector is 3.0^64 -> centroids are exactly those constants and each
    # vector's code in every subspace is its own cell
    emb = _emb_df_labeled(
        spark,
        [([1.0] * 64, 0), ([1.0] * 64, 0), ([3.0] * 64, 1), ([3.0] * 64, 1)],
    )
    from wikitrender_spark.operators.ann import ivf_centroids, pq_codes

    cents = ivf_centroids(emb).localCheckpoint()
    codes = {r["vec_id"]: r["codes"] for r in pq_codes(emb, cents).collect()}
    assert codes[0] == [0] * 8
    assert codes[1] == [0] * 8
    assert codes[2] == [1] * 8
    assert codes[3] == [1] * 8


def test_pq_topk_adc_distances_hand_computed(spark):
    emb = _emb_df_labeled(
        spark,
        [([1.0] * 64, 0), ([1.0] * 64, 0), ([3.0] * 64, 1), ([3.0] * 64, 1)],
    )
    out = ann.pq_topk(emb, [0], k=3).collect()
    by_rank = {r["rank"]: r for r in out}
    # neighbor 1 shares query 0's cell in every subspace: ADC distance 0
    assert by_rank[1]["neighbor_id"] == 1
    assert by_rank[1]["approx_dist"] == 0.0
    # label-1 vectors: per-subspace dist = 8 * (3-1)^2 = 32 -> 8 * 32 = 256;
    # the tie breaks to the lower neighbor_id
    assert by_rank[2]["neighbor_id"] == 2
    assert by_rank[2]["approx_dist"] == 256.0
    assert by_rank[3]["neighbor_id"] == 3
    assert by_rank[3]["approx_dist"] == 256.0
    # all vectors are parallel -> exact rescoring gives cosine 1.0
    assert all(r["sim"] == 1.0 for r in out)


def test_ivf_pq_topk_probes_restrict_candidates(spark):
    # three directionally distinct clusters; query is in cluster 0,
    # cluster 2 is at cos ~0.707 from it, cluster 1 at cos 0 -> with
    # nprobe=2 cluster 1 is never probed and its members must be absent
    c0 = [1.0, 0.0] * 32
    c1 = [0.0, 1.0] * 32
    c2 = [1.0] * 64
    emb = _emb_df_labeled(
        spark, [(c0, 0), (c0, 0), (c1, 1), (c1, 1), (c2, 2), (c2, 2)]
    )
    out = ann.ivf_pq_topk(emb, [0], k=5, nprobe=2).collect()
    neighbors = {r["neighbor_id"] for r in out}
    assert neighbors == {1, 4, 5}  # cluster-1 members (2, 3) excluded
    by_rank = {r["rank"]: r for r in out}
    # same-cluster member: identical codes -> ADC 0, exact cosine 1
    assert by_rank[1]["neighbor_id"] == 1
    assert by_rank[1]["approx_dist"] == 0.0
    assert by_rank[1]["sim"] == 1.0
    # cluster-2 members: per-subspace dist([1,0]x4 vs [1]x8) = 4 -> 32
    assert by_rank[2]["approx_dist"] == 32.0
    assert by_rank[3]["approx_dist"] == 32.0
    # with nprobe = n_cells the candidate set equals pq_topk's
    full = ann.ivf_pq_topk(emb, [0], k=5, nprobe=3).collect()
    pq = ann.pq_topk(emb, [0], k=5).collect()
    assert sorted(map(tuple, full)) == sorted(map(tuple, pq))


def test_jaccard_histogram_buckets_candidates(spark):
    base = ["w%d" % i for i in range(20)]
    d = docs_df(
        spark,
        [
            " ".join(base),
            " ".join(base),  # identical pair -> jaccard 1.0 -> bucket 10
            "totally different words here now yes",
        ],
    )
    hist = {r["bucket"]: r["n_pairs"] for r in dedup.jaccard_histogram(d).collect()}
    assert hist.get(10, 0) >= 1
    # histogram total equals the unthresholded candidate_jaccard rows
    assert sum(hist.values()) == dedup.candidate_jaccard(d).count()


def test_substring_scrub_keeper_retains_copy(spark):
    # doc0 and doc1 share the run "a..h"; doc0 (smaller id) is keeper
    # and keeps everything; doc1 loses exactly the 8 covered tokens;
    # doc3's WITHIN-doc repeat is untouched
    d = docs_df(
        spark,
        [
            "a b c d e f g h x y",
            "a b c d e f g h q r",
            "z z z",
            "p q r s t u v w p q r s t u v w",
        ],
    )
    rows = {r["doc_id"]: r for r in dedup.substring_scrub(d).collect()}
    assert rows[0]["n_removed"] == 0
    assert rows[0]["text_scrubbed"] == "a b c d e f g h x y"
    assert rows[1]["n_removed"] == 8
    assert rows[1]["text_scrubbed"] == "q r"
    assert rows[2]["n_removed"] == 0
    assert rows[3]["n_removed"] == 0
    assert rows[3]["text_scrubbed"].startswith("p q r s t u v w")


def test_substring_scrub_full_removal_is_empty_string(spark):
    d = docs_df(
        spark,
        [
            "a b c d e f g h",
            "a b c d e f g h",  # fully covered, not keeper -> ""
        ],
    )
    rows = {r["doc_id"]: r for r in dedup.substring_scrub(d).collect()}
    assert rows[0]["text_scrubbed"] == "a b c d e f g h"
    assert (rows[1]["n_removed"], rows[1]["text_scrubbed"]) == (8, "")


def test_substring_scrub_interior_coverage_keeps_both_flanks(spark):
    # the duplicated run sits in the MIDDLE of doc1: the gap fold must
    # emit both the interior gap (before the removal) and the final gap
    # (after coverage ends), preserving flank order
    d = docs_df(
        spark,
        [
            "a b c d e f g h",
            "x1 x2 x3 x4 a b c d e f g h y1 y2 y3 y4",
        ],
    )
    rows = {r["doc_id"]: r for r in dedup.substring_scrub(d).collect()}
    assert rows[1]["n_removed"] == 8
    assert rows[1]["text_scrubbed"] == "x1 x2 x3 x4 y1 y2 y3 y4"


def test_substring_scrub_long_fully_duplicated_doc_is_linear(spark):
    # perf regression guard (round-4 shape was O(n_tokens x n_starts)
    # per row: an exists() over every removal start at every token
    # position — a 20k-token fully-duplicated doc ran ~4e8 interpreted
    # lambda steps). The gap-fold shape is O(n): this must finish fast.
    import time as _time

    n = 20_000
    text = " ".join(f"t{i}" for i in range(n))
    d = docs_df(spark, [text, text])
    t0 = _time.perf_counter()
    rows = {r["doc_id"]: r for r in dedup.substring_scrub(d).collect()}
    elapsed = _time.perf_counter() - t0
    assert rows[0]["n_removed"] == 0
    assert (rows[1]["n_removed"], rows[1]["text_scrubbed"]) == (n, "")
    # generous bound: linear shape runs this in a few seconds; the old
    # quadratic shape took minutes
    assert elapsed < 60, f"substring_scrub took {elapsed:.1f}s on a 20k-token doc"


def test_substring_runs_are_exact_not_hash_collisions(spark):
    # two docs share NO 8-token run, but under the old mod-1e6 poly fold
    # distinct runs could collide; with exact string keys, disjoint
    # token streams can never count as duplicated
    d = docs_df(
        spark,
        [
            " ".join("a%d" % i for i in range(30)),
            " ".join("b%d" % i for i in range(30)),
        ],
    )
    rows = {r["doc_id"]: r for r in dedup.substring_run_stats(d).collect()}
    assert rows[0]["n_dup_runs"] == 0
    assert rows[1]["n_dup_runs"] == 0
    scrub = {r["doc_id"]: r for r in dedup.substring_scrub(d).collect()}
    assert scrub[0]["n_removed"] == 0 and scrub[1]["n_removed"] == 0


def test_score_documents_matches_column_forms(spark):
    # the single-tokenization operator must be bit-identical to the
    # Column-library trio it replaces (quality_score / token_count /
    # predict_lang) — including empty docs, punctuation-heavy docs,
    # multi-language stopword mixes, and ties
    from wikitrender_spark.operators.scoring import score_documents

    texts = [
        "",
        "   ",
        "the of and a to in is the of and",            # en-heavy
        "der die das und ist nicht ein",               # de-heavy
        "the der",                                     # tie en/de -> 'de' (lexicographic)
        "!!! ??? ;;; ::: !!!",                         # punct-heavy, no stopwords
        "xyzzy plugh quux",                            # zero hits -> 'und'
        "the " * 100,                                  # long, high stopword ratio
    ]
    d = docs_df(spark, texts)
    t = F.col("text")
    old = {
        r["doc_id"]: r
        for r in d.select(
            "doc_id",
            F.round(T.quality_score(t), 6).alias("quality"),
            T.token_count(t).alias("n_tokens"),
            T.predict_lang(t).alias("pred_lang"),
        ).collect()
    }
    new = {
        r["doc_id"]: r
        for r in score_documents(d)
        .select("doc_id", "quality", "n_tokens", "pred_lang")
        .collect()
    }
    assert set(old) == set(new)
    for k in old:
        assert tuple(old[k]) == tuple(new[k]), (k, old[k], new[k])


def test_documents_as_pgm_rejects_non_latin1(spark):
    # any codepoint above 255 in the first-256-char window is
    # unmappable: Spark's ISO-8859-1 encode raises per row (fail-loud,
    # matching the sibling WAV/Y4M encoder contract) — no silent
    # replacement bytes, no shifted rasters
    from pyspark.errors import PySparkException

    ok = docs_df(spark, ["plain ascii text", "latin-1 café ÿ ok"])
    rows = multimodal.documents_as_pgm(ok).collect()
    assert all(len(r["payload"]) == len(b"P5\n16 16\n255\n") + 256 for r in rows)

    for bad_text in ["bmp codepoint: 中", "emoji \U0001f600 in window"]:
        with pytest.raises(PySparkException):
            multimodal.documents_as_pgm(docs_df(spark, [bad_text])).collect()

    # out-of-range codepoint AFTER the 256-char window never encodes
    late = docs_df(spark, ["x" * 256 + "\U0001f600"])
    assert len(multimodal.documents_as_pgm(late).collect()) == 1


def _py_poly(s):
    h = 0
    for ch in s:
        h = (h * 31 + ord(ch)) % 1_000_003
    return h


def test_cms_matches_pure_python_mirror(spark):
    # independent pure-python CMS over the same constants must agree
    # cell-for-cell and estimate-for-estimate with the Spark operator
    from wikitrender_spark.operators import sketches

    words = [f"w{i}" for i in range(12)]
    texts = [" ".join(words[: i + 1]) for i in range(12)]  # triangular counts
    d = docs_df(spark, texts)

    counts = {}
    for t in texts:
        for w in t.split():
            counts[w] = counts.get(w, 0) + 1
    cells = {}
    for w, c in counts.items():
        th = _py_poly(w)
        for j, (a, b) in enumerate(sketches.CMS_ROWS):
            cell = ((th * a + b) % 1_000_003) % sketches.CMS_W
            cells[(j, cell)] = cells.get((j, cell), 0) + c
    def est(w):
        th = _py_poly(w)
        return min(
            cells[(j, ((th * a + b) % 1_000_003) % sketches.CMS_W)]
            for j, (a, b) in enumerate(sketches.CMS_ROWS)
        )

    rows = {r["term"]: r for r in sketches.cms_top_terms(d, k=12).collect()}
    assert set(rows) == set(words)
    for w in words:
        assert rows[w]["exact_count"] == counts[w], w
        assert rows[w]["cms_est"] == est(w), w
        assert rows[w]["margin"] == est(w) - counts[w], w
        assert rows[w]["margin"] >= 0, w


def test_cms_never_underestimates(spark):
    from wikitrender_spark.operators import sketches

    import random

    rng = random.Random(3)
    vocab = [f"v{i}" for i in range(30)]
    texts = [" ".join(rng.choice(vocab) for _ in range(50)) for _ in range(40)]
    rows = sketches.cms_top_terms(docs_df(spark, texts), k=20).collect()
    assert len(rows) == 20
    assert all(r["margin"] >= 0 for r in rows)
    # with 30 terms in 16 cells, collisions must actually occur
    assert any(r["margin"] > 0 for r in rows)


def test_bloom_decontaminate_no_false_negatives(spark):
    # doc 0 is the eval slice (0 % 97 == 0); doc 97 would be too but we
    # keep ids small. A training doc identical to eval must bloom-hit
    # on every shingle (no false negatives); a disjoint doc's exact
    # hits are 0 and any bloom hits are measured false positives.
    eval_text = "alpha beta gamma delta epsilon zeta"
    d = spark.createDataFrame(
        [
            (0, eval_text, "en", "src", len(eval_text)),
            (1, eval_text, "en", "src", len(eval_text)),
            (2, "one two three four five six seven", "en", "src", 33),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {
        r["doc_id"]: r for r in dedup.bloom_decontamination_flags(d).collect()
    }
    assert set(rows) == {1, 2}  # doc 0 is eval, not scored
    assert rows[1]["n_exact_hits"] == rows[1]["n_shingles"] > 0
    assert rows[1]["n_bloom_hits"] == rows[1]["n_shingles"]
    assert rows[2]["n_exact_hits"] == 0
    for r in rows.values():
        assert r["n_bloom_hits"] >= r["n_exact_hits"]
        assert r["fp_shingles"] == r["n_bloom_hits"] - r["n_exact_hits"]
        assert r["fp_shingles"] >= 0


# --- round-7 additions: novelty / cross-source dup matrix --------------------


def test_novelty_stats_hand_computed(spark):
    """First-seen novelty under doc_id order: doc0 coins 'a b c' and
    'b c d'; doc1 repeats 'a b c' (seen) but coins 'b c e'; doc2 repeats
    both of doc0's shingles (novelty 0); a 2-token doc has no shingles."""
    d = docs_df(spark, ["a b c d", "a b c e", "a b c d", "x y"])
    rows = {r["doc_id"]: r for r in dedup.novelty_stats(d).collect()}
    assert len(rows) == 4
    assert (rows[0]["n_shingles"], rows[0]["n_novel"]) == (2, 2)
    assert rows[0]["novelty_frac"] == pytest.approx(1.0)
    assert (rows[1]["n_shingles"], rows[1]["n_novel"]) == (2, 1)
    assert rows[1]["novelty_frac"] == pytest.approx(0.5)
    assert (rows[2]["n_shingles"], rows[2]["n_novel"]) == (2, 0)
    assert rows[2]["novelty_frac"] == 0.0
    assert (rows[3]["n_shingles"], rows[3]["n_novel"]) == (0, 0)
    assert rows[3]["novelty_frac"] == 0.0


def test_cross_source_dup_matrix_hand_computed(spark):
    """Two near-identical doc pairs: one crossing sources (folded to the
    least/greatest-normalized pair regardless of doc order), one within a
    source; unrelated docs contribute nothing."""
    base = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15"
    rows_in = [
        (0, base, "en", "srcB", 1),
        (1, base + " tail", "en", "srcA", 1),       # cross: srcA-srcB
        (2, base + " zz", "en", "srcC", 1),          # near-dup of 0 and 1 too
        (3, "q r s t u v w x y z aa bb cc dd ee ff", "en", "srcD", 1),
    ]
    d = spark.createDataFrame(
        rows_in, "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    got = {
        (r["source_a"], r["source_b"]): r
        for r in dedup.cross_source_dup_matrix(d).collect()
    }
    nd = {(r["doc_a"], r["doc_b"]): r["jaccard"]
          for r in dedup.near_duplicates(d).collect()}
    # every verified pair lands in exactly one normalized source cell
    assert sum(r["n_pairs"] for r in got.values()) == len(nd)
    assert len(nd) >= 1 and ("srcA", "srcB") in got
    for (sa, sb), r in got.items():
        assert sa <= sb
        assert r["max_jaccard"] <= 1.0 and r["n_pairs"] >= 1


def test_rp_sign_matrix_properties():
    """The deterministic JL sign matrix must stay balanced and
    decorrelated: a regression to any linear-form hash collapses to a
    parity checkerboard whose columns are ±copies of each other (every
    projection carries the same information). Pins the measured bounds."""
    import numpy as np

    S = np.array([
        [ann._rp_sign(i, j) for j in range(1, ann.RP_DIM + 1)]
        for i in range(1, ann.EMB_DIM + 1)
    ])
    assert set(np.unique(S)) == {-1.0, 1.0}
    col_means = S.mean(axis=0)
    assert np.abs(col_means).max() <= 0.125
    corr = (S.T @ S) / ann.EMB_DIM - np.outer(col_means, col_means)
    off = np.abs(corr - np.diag(np.diag(corr))).max()
    assert off <= 0.35, off  # a checkerboard scores 1.0 here


def test_rp_topk_hand_computed(spark):
    """Projection and ranking verified against a NumPy mirror on a tiny
    deterministic corpus: proj = round(E @ S, 4); scores = round(proj
    q . proj n, 6); top-k by (score desc, id asc) with exact cosine
    rescoring on the winners."""
    import numpy as np

    rng = [[((v * 37 + d * 11 + 5) % 19) - 9.0 for d in range(ann.EMB_DIM)]
           for v in range(8)]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in row], 0) for i, row in enumerate(rng)],
        "vec_id long, embedding array<double>, label int",
    )
    S = np.array([
        [ann._rp_sign(i, j) for j in range(1, ann.RP_DIM + 1)]
        for i in range(1, ann.EMB_DIM + 1)
    ])
    E = np.array(rng)
    P = np.round(E @ S, 4)
    got = ann.rp_topk(emb, [0], k=3).collect()
    scores = {n: round(float(P[0] @ P[n]), 6) for n in range(1, 8)}
    exp_order = sorted(scores, key=lambda n: (-scores[n], n))[:3]
    assert [r["neighbor_id"] for r in sorted(got, key=lambda r: r["rank"])] \
        == exp_order
    for r in got:
        assert r["approx_score"] == scores[r["neighbor_id"]]
        ev, qv = E[r["neighbor_id"]], E[0]
        sim = round(float(qv @ ev / (np.linalg.norm(qv) * np.linalg.norm(ev))), 6)
        assert r["sim"] == pytest.approx(sim, abs=2e-6)


def test_lsh_tuning_report_hand_computed(spark):
    """The sweep's structural laws on a corpus with one planted near-dup
    pair: wider rows_per_band can only SHRINK the candidate set (an
    8-token band match implies both 4-token halves match, etc. is NOT
    true in general — but candidates are monotone in r for FIXED
    signatures since a (b, r) candidate shares r consecutive mins, and
    any 2r-consecutive match contains an r match for the aligned
    sub-band... asserted empirically, not derived), verified counts are
    bounded by candidates, precision in [0, 1], and the (4, 4) row
    equals the production config's candidate count."""
    texts = []
    base = " ".join(f"w{i}" for i in range(40))
    texts.append(base)                       # doc0
    texts.append(base + " extra")            # doc1: near-dup of doc0
    for i in range(6):                       # unrelated docs
        texts.append(" ".join(f"u{i}_{j}" for j in range(30)))
    d = docs_df(spark, texts)
    rows = {(r["bands"], r["rows_per_band"]): r
            for r in dedup.lsh_tuning_report(d).collect()}
    assert set(rows) == set(dedup.LSH_TUNING_CONFIGS)
    prod = dedup.lsh_candidate_pairs(d).count()
    assert rows[(4, 4)]["n_candidates"] == prod
    cand_by_r = [rows[(8, 2)]["n_candidates"], rows[(4, 4)]["n_candidates"],
                 rows[(2, 8)]["n_candidates"]]
    assert cand_by_r[0] >= cand_by_r[1] >= cand_by_r[2]
    for r in rows.values():
        assert 0 <= r["n_verified"] <= r["n_candidates"]
        assert 0.0 <= r["precision_frac"] <= 1.0
    # the planted pair is near-identical, so the LOOSEST banding (2-row
    # bands, S-curve threshold ~(1/8)^(1/2) ~ 0.35) must catch it; tight
    # configs may legitimately miss it (one changed token can perturb a
    # min inside every 8-wide band) — that selectivity difference is the
    # report's entire point
    assert rows[(8, 2)]["n_verified"] >= 1


def _py_winnow(text, w=4, maxn=1 << 43):
    """Independent pure-Python winnowing reference (same pinned
    arithmetic as functions/text.py + plans/pipeline_queries.py):
    returns (n_kgrams, selected-fingerprint hash MULTISET as a list —
    selection is positional, MOSS-style: the same hash selected at two
    positions is two fingerprints; the hash SET is set(fps))."""
    toks = [t for t in text.split() if t]
    ths = []
    for t in toks:
        h = 0
        for c in t:
            h = (h * 31 + ord(c)) % 1_000_003
        ths.append(h)
    sh = [
        ((ths[i] * 31 + ths[i + 1]) % 1_000_003 * 31 + ths[i + 2])
        % 1_000_003
        for i in range(len(ths) - 2)
    ] if len(ths) >= 3 else []
    m = len(sh)
    if m == 0:
        return 0, set()
    keys = [sh[i] * maxn + (maxn - 1 - (i + 1)) for i in range(m)]
    sel = {
        min(keys[s : s + w]) for s in range(max(m - w + 1, 1))
    }
    return m, [k >> 43 for k in sel]


def test_winnowing_matches_python_reference(spark):
    """Spark winnow_summary vs the independent reference, on inputs
    covering empty text, under-k tokens, heavy repetition (tie rule),
    and ordinary prose."""
    from wikitrender_spark.plans.pipeline_queries import winnow_summary

    texts = [
        "",
        "one two",
        "a a a a a a a a a a",
        "the quick brown fox jumps over the lazy dog again and again",
        "spark rows shuffle join filter scan spark rows shuffle join",
    ]
    got = {
        r["doc_id"]: r
        for r in winnow_summary(docs_df(spark, texts)).collect()
    }
    for i, t in enumerate(texts):
        m, fps = _py_winnow(t)
        r = got[i]
        assert r["n_kgrams"] == m, (i, t)
        if m == 0:
            assert (r["n_fps"], r["fp_sum"], r["fp_min"], r["fp_max"]) == (
                0, 0, -1, -1,
            )
        else:
            assert r["n_fps"] == len(fps), (i, t)
            assert r["fp_sum"] == sum(fps), (i, t)
            assert r["fp_min"] == min(fps) and r["fp_max"] == max(fps)
    # the repetition case is the positional-semantics pin: one hash
    # selected at five positions IS five fingerprints (MOSS keeps
    # positions for match localization)
    m, fps = _py_winnow(texts[2])
    assert len(fps) == 5 and len(set(fps)) == 1


def test_winnowing_shared_run_guarantee(spark):
    """The winnowing theorem (Schleimer et al. §3): any shared token run
    spanning at least w + k - 1 tokens (w=4 windows of k=3-token
    k-grams -> 6 tokens) contains a full shared window in both docs, so
    their fingerprint sets must intersect. Different prefixes/suffixes
    around an identical 8-token run."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    a = "one two three " + shared + " tail end"
    b = "completely different head words " + shared
    _, fa = _py_winnow(a)
    _, fb = _py_winnow(b)
    assert set(fa) & set(fb), "reference: shared run must share a fingerprint"
    from wikitrender_spark.plans.pipeline_queries import winnow_summary

    rows = {
        r["doc_id"]: r for r in winnow_summary(docs_df(spark, [a, b])).collect()
    }
    # Spark agrees with the reference per doc, so the intersection
    # property carries over to the Spark fingerprints
    for i, fps in ((0, fa), (1, fb)):
        assert rows[i]["n_fps"] == len(fps)
        assert rows[i]["fp_sum"] == sum(fps)


def _py_cdc(texts_by_doc, mod=16):
    """Independent pure-Python CDC reference: returns per-doc chunk
    lists [(chunk_len, chunk_hash)] under the hash%mod==0 boundary rule
    (boundary token ENDS its chunk; trailing tokens form a tail chunk)."""
    out = {}
    for doc_id, text in texts_by_doc.items():
        ths = []
        for t in [x for x in text.split() if x]:
            h = 0
            for c in t:
                h = (h * 31 + ord(c)) % 1_000_003
            ths.append(h)
        chunks, cur = [], []
        for h in ths:
            cur.append(h)
            if h % mod == 0:
                chunks.append(cur)
                cur = []
        if cur:
            chunks.append(cur)
        hashed = []
        for ch in chunks:
            h = 0
            for x in ch:
                h = (h * 31 + x) % 1_000_003
            hashed.append((len(ch), h))
        out[doc_id] = hashed
    return out


def test_cdc_chunks_matches_python_reference(spark):
    """Spark cdc_chunk_summary vs the independent reference, with a
    PLANTED shared block: docs 0 and 1 share a run that the content
    boundaries isolate into an identical chunk, so the per-source dup
    accounting must see it from both docs; doc 2 is empty, doc 3 has no
    boundary token (single tail chunk)."""
    from collections import Counter

    from wikitrender_spark.plans.pipeline_queries import cdc_chunk_summary

    # find words whose hash is a boundary (h % 16 == 0) so the planted
    # shared region is deterministically chunk-isolated
    def h(word):
        v = 0
        for c in word:
            v = (v * 31 + ord(c)) % 1_000_003
        return v

    import itertools
    import string

    boundary = next(
        "".join(w)
        for w in itertools.product(string.ascii_lowercase, repeat=3)
        if h("".join(w)) % 16 == 0
    )
    shared = f"alpha beta {boundary}"  # chunk ends at the boundary word
    texts = {
        0: f"{shared} tail one two",
        1: f"different head {boundary} {shared} other tail",
        2: "",
        3: "plainwords without anyboundary here",
    }
    # reference sanity: docs 0 and 1 share >= 1 identical (len, hash)
    ref = _py_cdc(texts)
    shared_chunks = set(ref[0]) & set(ref[1])
    assert shared_chunks, "fixture drifted: no shared chunk planted"
    assert ref[2] == [] and len(ref[3]) == 1

    rows = spark.createDataFrame(
        [(i, t, "en", f"src{i}", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {
        r["source"]: r for r in cdc_chunk_summary(rows).collect()
    }
    # corpus-wide dup detection: a (hash, len) seen in >1 doc
    counts = Counter()
    for doc_id, chunks in ref.items():
        for key in set(chunks):
            counts[key] += 1
    dup_keys = {k for k, c in counts.items() if c > 1}
    for doc_id, chunks in ref.items():
        r = got[f"src{doc_id}"]
        assert r["n_chunks"] == len(chunks), doc_id
        assert r["n_distinct_chunks"] == len(set(chunks)), doc_id
        assert r["n_dup_chunks"] == sum(
            1 for ch in chunks if ch in dup_keys
        ), doc_id
        assert r["dup_tokens"] == sum(
            ln for (ln, hh) in chunks if (ln, hh) in dup_keys
        ), doc_id
        assert r["total_tokens"] == sum(ln for (ln, _hh) in chunks), doc_id


# --- round 10: image dHash + PII scrub ---------------------------------------


def _ref_dhash_blocks(raster_bytes: bytes) -> list[int]:
    """Independent dHash reference, computed straight from the docstring
    formula (no resize_nearest / dhash64_blocks_py reuse): grid cell
    (r, c) = raster[((r*16)//8)*16 + (c*16)//9]; bit r*8+c set iff
    grid(r, c) > grid(r, c+1)."""
    assert len(raster_bytes) == 256
    blocks = [0, 0, 0, 0]
    for r in range(8):
        row = (r * 16) // 8
        for c in range(8):
            p1 = raster_bytes[row * 16 + (c * 16) // 9]
            p2 = raster_bytes[row * 16 + ((c + 1) * 16) // 9]
            if p1 > p2:
                i = r * 8 + c
                blocks[i // 16] |= 1 << (i % 16)
    return blocks


def test_dhash_kernel_matches_reference():
    import numpy as np

    rng = np.random.RandomState(7)
    for _ in range(20):
        raster = rng.randint(0, 256, size=256, dtype=np.uint8)
        img = raster.reshape(16, 16, 1)
        assert multimodal.dhash64_blocks_py(img) == _ref_dhash_blocks(
            raster.tobytes()
        )
    # flat image: every strict > comparison is False -> all-zero hash
    flat = np.full((16, 16, 1), 200, dtype=np.uint8)
    assert multimodal.dhash64_blocks_py(flat) == [0, 0, 0, 0]


def test_dhash_single_sampled_pixel_flip_is_local():
    """Perceptual locality: changing ONE sampled grid cell can flip at
    most the two comparisons that touch it — the property that makes
    Hamming distance a near-dup signal for lightly edited images."""
    import numpy as np

    rng = np.random.RandomState(11)
    base = rng.randint(0, 256, size=(16, 16, 1), dtype=np.uint8)
    h0 = multimodal.dhash64_blocks_py(base)
    mod = base.copy()
    mod[4, 7, 0] = 255 - mod[4, 7, 0]  # row 4, col 7 are sampled cells
    h1 = multimodal.dhash64_blocks_py(mod)
    flips = sum(bin(a ^ b).count("1") for a, b in zip(h0, h1))
    assert flips <= 2


def _ref_aenv_blocks(raw128: bytes) -> list[int]:
    """Independent reference for the audio envelope hash: straight from
    the padded text bytes, no numpy, no shared code with the kernel."""
    samples = [max(min((c - 80) * 256, 32767), -32768) for c in raw128]
    e = [abs(samples[2 * j]) + abs(samples[2 * j + 1]) for j in range(64)]
    blocks = []
    for b in range(4):
        blk = 0
        for k in range(16):
            kk = 16 * b + k
            if e[(kk + 1) % 64] > e[kk]:
                blk |= 1 << k
        blocks.append(blk)
    return blocks


def test_aenv_kernel_matches_reference_and_edge_cases():
    import numpy as np
    import pytest

    rng = np.random.RandomState(7)
    for _ in range(20):
        raw = bytes(rng.randint(0, 256, size=128, dtype=np.uint8))
        samples = np.array(
            [max(min((c - 80) * 256, 32767), -32768) for c in raw],
            dtype=np.int16,
        )
        assert multimodal.aenv64_blocks_py(samples) == _ref_aenv_blocks(raw)
    # constant envelope: every strict > is False -> all-zero hash (the
    # flat-input convention shared with dHash)
    flat = np.full(128, 1000, dtype=np.int16)
    assert multimodal.aenv64_blocks_py(flat) == [0, 0, 0, 0]
    # a truncated stream must fail loud, never hash silently
    with pytest.raises(ValueError):
        multimodal.aenv64_blocks_py(np.zeros(127, dtype=np.int16))
    # cyclic wraparound: bit 63 compares e[0] vs e[63] — a signal whose
    # ONLY energy step is across the wrap still sets exactly bit 63
    ramp = np.zeros(128, dtype=np.int16)
    ramp[0] = ramp[1] = 1000  # e[0]=2000, e[1..63]=0
    blocks = multimodal.aenv64_blocks_py(ramp)
    assert blocks[:3] == [0, 0, 0]
    assert blocks[3] == 1 << 15  # bit 63: e[(63+1)%64]=e[0] > e[63]


def test_audio_envelope_hash_spark_matches_kernel(spark):
    texts = ["spark row one " * 30, "spark row one " * 30, "different " * 40]
    media = multimodal.documents_as_wav(docs_df(spark, texts))
    rows = {
        r["media_id"]: r
        for r in multimodal.audio_envelope_hash(media).collect()
    }
    for i, t in enumerate(texts):
        raw = t[:128].ljust(128).encode("latin-1")
        expect = _ref_aenv_blocks(raw)
        assert list(rows[i]["fp"]) == expect, i
        signed = sum(b << (16 * j) for j, b in enumerate(expect))
        if signed >= 1 << 63:
            signed -= 1 << 64
        assert rows[i]["ahash"] == signed, i
    # identical payloads -> identical hash; the pair verifies at 0
    pairs = multimodal.dhash_hamming_pairs(
        multimodal.audio_envelope_hash(media)
    ).collect()
    assert {(p["media_a"], p["media_b"], p["hamming"]) for p in pairs} >= {
        (0, 1, 0)
    }


def test_audio_neardup_sql_text_stable():
    # the r13 signature widening (_aenv_block_sql gains an nbits param
    # for the video twin) must be TEXT-NEUTRAL for the attested audio
    # oracle: the default-arg form generates byte-identical SQL to the
    # explicit AENV_BITS form, and AUDIO_NEARDUP_SQL embeds exactly it
    from wikitrender_spark.plans import pipeline_queries as pq

    for b in range(4):
        explicit = pq._aenv_block_sql(b, multimodal.AENV_BITS)
        assert pq._aenv_block_sql(b) == explicit
        assert explicit in pq.AUDIO_NEARDUP_SQL


def _ref_vproj_blocks(raw128: bytes) -> list[int]:
    """Independent reference for the video projection hash: straight
    from the padded text bytes, no numpy, no shared code with the
    kernel. Frame f's byte (r, c) is raw128[f*16 + r*4 + c]; e is the
    frame-major row-sums-then-col-sums sequence."""
    e = []
    for f in range(8):
        fr = raw128[f * 16 : (f + 1) * 16]
        for r in range(4):
            e.append(sum(fr[r * 4 + c] for c in range(4)))
        for c in range(4):
            e.append(sum(fr[r * 4 + c] for r in range(4)))
    blocks = []
    for b in range(4):
        blk = 0
        for k in range(16):
            kk = 16 * b + k
            if e[(kk + 1) % 64] > e[kk]:
                blk |= 1 << k
        blocks.append(blk)
    return blocks


def test_vproj_kernel_matches_reference_and_edge_cases():
    import numpy as np
    import pytest

    def frames_of(raw: bytes):
        return [
            np.frombuffer(raw[f * 16 : (f + 1) * 16], dtype=np.uint8)
            .reshape(4, 4)
            for f in range(8)
        ]

    rng = np.random.RandomState(13)
    for _ in range(20):
        raw = bytes(rng.randint(0, 256, size=128, dtype=np.uint8))
        assert multimodal.vproj64_blocks_py(frames_of(raw)) \
            == _ref_vproj_blocks(raw)
    # constant video: every strict > is False -> all-zero hash (the
    # flat-input convention shared with dHash and the audio envelope)
    assert multimodal.vproj64_blocks_py(frames_of(b"\x20" * 128)) \
        == [0, 0, 0, 0]
    # a truncated stream must fail loud, never hash silently
    with pytest.raises(ValueError):
        multimodal.vproj64_blocks_py(frames_of(b"\x20" * 128)[:7])
    # and so must a wrong frame geometry
    with pytest.raises(ValueError):
        multimodal.vproj64_blocks_py(
            [np.zeros((4, 5), dtype=np.uint8)] * 8
        )
    # cyclic wraparound: bit 63 compares e[0] vs e[63] — a video whose
    # ONLY projection step is across the wrap sets exactly bit 63
    raw = bytearray(b"\x00" * 128)
    raw[0:4] = b"\x01\x01\x01\x01"  # frame 0 row 0 -> e[0]=4, e[4]=1
    # e = [4,0,0,0, 1,1,1,1, 0...0]: bits where next > cur are k=3
    # (e[4]=1 > e[3]=0) and k=63 (e[0]=4 > e[63]=0)
    blocks = multimodal.vproj64_blocks_py(frames_of(bytes(raw)))
    assert blocks[0] == 1 << 3
    assert blocks[1] == blocks[2] == 0
    assert blocks[3] == 1 << 15


def test_video_projection_hash_spark_matches_kernel(spark):
    texts = ["spark row one " * 30, "spark row one " * 30, "different " * 40]
    media = multimodal.documents_as_y4m(docs_df(spark, texts))
    rows = {
        r["media_id"]: r
        for r in multimodal.video_projection_hash(media).collect()
    }
    for i, t in enumerate(texts):
        raw = t[:128].ljust(128).encode("latin-1")
        expect = _ref_vproj_blocks(raw)
        assert list(rows[i]["fp"]) == expect, i
        signed = sum(b << (16 * j) for j, b in enumerate(expect))
        if signed >= 1 << 63:
            signed -= 1 << 64
        assert rows[i]["vhash"] == signed, i
    # identical payloads -> identical hash; the pair verifies at 0
    pairs = multimodal.dhash_hamming_pairs(
        multimodal.video_projection_hash(media)
    ).collect()
    assert {(p["media_a"], p["media_b"], p["hamming"]) for p in pairs} >= {
        (0, 1, 0)
    }


def test_video_neardup_candidates_complete_vs_bruteforce(spark):
    # candidate completeness on a corpus with near-miss payloads: every
    # pair the all-pairs scan finds at Hamming <= 3 must surface through
    # the block-key join (pigeonhole contract, checked end to end)
    texts = [f"doc {i} " + "filler words here " * 10 for i in range(12)]
    texts += [texts[0], texts[3] + "x"]
    hashes = multimodal.video_projection_hash(
        multimodal.documents_as_y4m(docs_df(spark, texts))
    ).localCheckpoint()
    got = {
        (r["media_a"], r["media_b"], r["hamming"])
        for r in multimodal.dhash_hamming_pairs(hashes).collect()
    }
    fps = {r["media_id"]: list(r["fp"]) for r in hashes.collect()}
    ids = sorted(fps)
    want = set()
    for i in ids:
        for j in ids:
            if i < j:
                d = sum(
                    bin(a ^ b).count("1") for a, b in zip(fps[i], fps[j])
                )
                if d <= multimodal.DHASH_HAM_MAX:
                    want.add((i, j, d))
    assert got == want and want  # non-degenerate: the dup pair is there


def test_image_dhash_spark_matches_kernel(spark):
    import numpy as np

    texts = ["spark row one " * 30, "spark row one " * 30, "different " * 40]
    media = multimodal.documents_as_pgm(docs_df(spark, texts))
    rows = {r["media_id"]: r for r in multimodal.image_dhash(media).collect()}
    for i, t in enumerate(texts):
        raster = t[:256].ljust(256).encode("latin-1")
        expect = _ref_dhash_blocks(raster)
        assert list(rows[i]["fp"]) == expect, i
        signed = sum(b << (16 * j) for j, b in enumerate(expect))
        if signed >= 1 << 63:
            signed -= 1 << 64
        assert rows[i]["dhash"] == signed, i
    # identical payloads -> identical hash; the pair verifies at 0
    pairs = multimodal.dhash_hamming_pairs(
        multimodal.image_dhash(media)
    ).collect()
    assert {(p["media_a"], p["media_b"], p["hamming"]) for p in pairs} >= {
        (0, 1, 0)
    }


def test_dhash_pairs_max_bucket_drops_hot_buckets(spark):
    # 30 flat docs all hash to [0,0,0,0]: uncapped finds all 435 pairs,
    # max_bucket below the bucket population drops candidate generation
    # for those buckets entirely (the documented completeness trade)
    texts = ["aaaa " * 60] * 30
    hashes = multimodal.image_dhash(
        multimodal.documents_as_pgm(docs_df(spark, texts))
    )
    full = multimodal.dhash_hamming_pairs(hashes).count()
    capped = multimodal.dhash_hamming_pairs(hashes, max_bucket=2).count()
    assert full == 30 * 29 // 2
    assert capped == 0


def test_dhash_tuning_report_accounting(spark):
    # 30 flat docs all hash to [0,0,0,0] (one 30-hot bucket per block):
    # uncapped -> C(30,2)=435 candidates, all verify at Hamming 0;
    # cap 32 keeps the buckets (pop 30 <= 32); cap 2 drops them all —
    # n_missed must equal exactly the baseline's 435 pairs
    texts = ["aaaa " * 60] * 30
    hashes = multimodal.image_dhash(
        multimodal.documents_as_pgm(docs_df(spark, texts))
    )
    rows = {
        r["max_bucket"]: r
        for r in multimodal.dhash_tuning_report(
            hashes, caps=(None, 32, 2)
        ).collect()
    }
    assert set(rows) == {-1, 2, 32}
    assert (rows[-1]["n_candidates"], rows[-1]["n_pairs"], rows[-1]["n_missed"]) \
        == (435, 435, 0)
    assert (rows[32]["n_candidates"], rows[32]["n_pairs"], rows[32]["n_missed"]) \
        == (435, 435, 0)
    assert (rows[2]["n_candidates"], rows[2]["n_pairs"], rows[2]["n_missed"]) \
        == (0, 0, 435)


def test_dhash_tuning_report_requires_uncapped_baseline(spark):
    with pytest.raises(ValueError, match="uncapped baseline"):
        multimodal.dhash_tuning_report(
            multimodal.image_dhash(
                multimodal.documents_as_pgm(docs_df(spark, ["a b"]))
            ),
            caps=(8, 2),
        )


def test_dhash_tuning_report_audio_modality(spark):
    # the report is generic over (media_id, fp): the audio envelope
    # hash shares the block geometry, so identical WAV payloads give
    # one C(4,2)=6 uncapped cluster through the SAME report
    texts = ["bbbb " * 40] * 4
    hashes = multimodal.audio_envelope_hash(
        multimodal.documents_as_wav(docs_df(spark, texts))
    )
    rows = {
        r["max_bucket"]: r
        for r in multimodal.dhash_tuning_report(hashes, caps=(None, 2)).collect()
    }
    assert (rows[-1]["n_candidates"], rows[-1]["n_pairs"], rows[-1]["n_missed"]) \
        == (6, 6, 0)
    assert (rows[2]["n_candidates"], rows[2]["n_pairs"], rows[2]["n_missed"]) \
        == (0, 0, 6)


def test_dhash_tuning_report_video_modality(spark):
    # the report stays generic over (media_id, fp): the video
    # projection hash shares the block geometry, so identical Y4M
    # payloads give one C(3,2)=3 uncapped cluster through the SAME
    # report the image/audio paths use
    texts = ["cccc dddd " * 20] * 3
    hashes = multimodal.video_projection_hash(
        multimodal.documents_as_y4m(docs_df(spark, texts))
    )
    rows = {
        r["max_bucket"]: r
        for r in multimodal.dhash_tuning_report(hashes, caps=(None, 2)).collect()
    }
    assert (rows[-1]["n_candidates"], rows[-1]["n_pairs"], rows[-1]["n_missed"]) \
        == (3, 3, 0)
    assert (rows[2]["n_candidates"], rows[2]["n_pairs"], rows[2]["n_missed"]) \
        == (0, 0, 3)


def _pgm(w, h, raster: bytes) -> bytes:
    assert len(raster) == w * h
    return f"P5\n{w} {h}\n255\n".encode() + raster


def test_content_crop_and_dhash_padding_invariance(spark):
    # the same 4x4 content block placed in an 8x8 and a 16x16
    # space-padded canvas must fingerprint identically after cropping
    import numpy as np

    content = bytes([10, 200, 30, 90, 220, 15, 180, 60,
                     70, 140, 250, 5, 35, 95, 155, 215])

    def canvas(edge):
        r = bytearray(b" " * edge * edge)
        for i in range(4):
            r[i * edge: i * edge + 4] = content[i * 4:(i + 1) * 4]
        return _pgm(edge, edge, bytes(r))

    rows = (
        spark.createDataFrame(
            [(0, canvas(8)), (1, canvas(16))],
            "media_id long, payload binary",
        )
        .transform(multimodal.image_dhash_content)
        .collect()
    )
    fps = {r["media_id"]: list(r["fp"]) for r in rows}
    assert fps[0] == fps[1]
    # and the crop genuinely changed the padded hash: the plain dHash
    # of the 16x16 canvas differs (its grid is 3/4 flat padding)
    plain = (
        spark.createDataFrame([(1, canvas(16))], "media_id long, payload binary")
        .transform(multimodal.image_dhash)
        .collect()[0]
    )
    assert list(plain["fp"]) != fps[1]
    # flat image: crop is a no-op and the hash is 0 on both paths
    flat = (
        spark.createDataFrame(
            [(2, _pgm(8, 8, b" " * 64))], "media_id long, payload binary"
        )
        .transform(multimodal.image_dhash_content)
        .collect()[0]
    )
    assert list(flat["fp"]) == [0, 0, 0, 0]
    # pure-python crop: interior pixels equal to the corner value must
    # not shrink the box
    img = np.full((6, 6, 1), 32, dtype=np.uint8)
    img[1, 1, 0] = 200
    img[3, 2, 0] = 7
    # the box spans rows 1..3 x cols 1..2; the corner-valued pixels
    # INSIDE that box (e.g. (2, 1)) must not shrink it
    cropped = multimodal.content_crop_py(img)
    assert cropped.shape == (3, 2, 1)


def test_content_crop4_generalizes_corners_and_channels(spark):
    """content_crop4_py (round 13, VERDICT r12 ask #4): the planted
    cases the single-corner rule documents as out of scope — top/left
    padding, and color padding whose integer MEAN luminance ties the
    content — plus equivalence with the attested rule on this corpus's
    bottom-right-padded mono rasters."""
    import numpy as np

    # (1) TOP/LEFT-only padding: the single-corner (bottom-right) rule
    # cannot crop it (BR is content); the four-corner vote does —
    # TL/TR/BL all carry the pad value
    img = np.full((8, 8, 1), 7, dtype=np.uint8)
    content = np.arange(16, dtype=np.uint8).reshape(4, 4) + 100
    img[4:8, 4:8, 0] = content
    got = multimodal.content_crop4_py(img)
    assert got.shape == (4, 4, 1) and (got[:, :, 0] == content).all()
    # the single-corner rule on the same raster: BR = 115 (content),
    # nearly everything differs -> effectively no crop
    assert multimodal.content_crop_py(img).shape == (8, 8, 1)

    # (2) color padding with a mean-luminance TIE: RGB pad (10, 20, 30)
    # (mean 20) around content whose border pixel is (20, 20, 20)
    # (mean 20) — per-channel comparison separates them
    rgb = np.zeros((6, 6, 3), dtype=np.uint8)
    rgb[:, :, :] = (10, 20, 30)
    rgb[2:4, 2:4, :] = (20, 20, 20)
    got = multimodal.content_crop4_py(rgb)
    assert got.shape == (2, 2, 3)
    # the luminance rule ties (20 == 20) and sees NO differing pixel:
    # returns the raster unchanged — the documented blind spot
    assert multimodal.content_crop_py(rgb).shape == (6, 6, 3)

    # (3) flat image: unchanged (hashes to 0 either way)
    flat = np.full((5, 5, 1), 9, dtype=np.uint8)
    assert multimodal.content_crop4_py(flat).shape == (5, 5, 1)

    # (4) four distinct corners (an ordinary photo): presumed content,
    # bottom-right fallback applies — identical to the attested rule
    # on mono rasters
    rng = np.random.RandomState(3)
    photo = rng.randint(0, 255, size=(8, 8, 1), dtype=np.uint8)
    photo[0, 0, 0], photo[0, 7, 0] = 1, 2
    photo[7, 0, 0], photo[7, 7, 0] = 3, 4
    a = multimodal.content_crop4_py(photo)
    b = multimodal.content_crop_py(photo)
    assert a.shape == b.shape and (a == b).all()

    # (5) this corpus's shape — mono raster, space-padded right+bottom
    # (TR = BR = 32): the generalized crop equals the attested rule
    canvas = np.full((8, 8, 1), 32, dtype=np.uint8)
    canvas[0:3, 0:5, 0] = rng.randint(33, 255, size=(3, 5))
    a = multimodal.content_crop4_py(canvas)
    b = multimodal.content_crop_py(canvas)
    assert a.shape == b.shape == (3, 5, 1) and (a == b).all()


def test_image_dhash_content4_crops_top_left_padding(spark):
    # the same 4x4 content block placed bottom-right in an 8x8 canvas
    # and bottom-right in a 16x16 canvas must fingerprint identically
    # through the generalized stage — padding the single-corner rule
    # cannot remove (content sits AT the bottom-right corner; padding
    # covers TL/TR/BL)
    content = bytes([10, 200, 30, 90, 220, 15, 180, 60,
                     70, 140, 250, 5, 35, 95, 155, 215])

    def canvas(edge):
        r = bytearray(b" " * edge * edge)
        for i in range(4):
            pos = (edge - 4 + i) * edge + (edge - 4)
            r[pos: pos + 4] = content[i * 4:(i + 1) * 4]
        return _pgm(edge, edge, bytes(r))

    rows = (
        spark.createDataFrame(
            [(0, canvas(8)), (1, canvas(16))],
            "media_id long, payload binary",
        )
        .transform(multimodal.image_dhash_content4)
        .collect()
    )
    fps = {r["media_id"]: list(r["fp"]) for r in rows}
    assert fps[0] == fps[1]
    # the single-corner stage does NOT collapse these (BR is content,
    # so its crop box keeps the padding extent difference)
    rows1 = (
        spark.createDataFrame(
            [(0, canvas(8)), (1, canvas(16))],
            "media_id long, payload binary",
        )
        .transform(multimodal.image_dhash_content)
        .collect()
    )
    fps1 = {r["media_id"]: list(r["fp"]) for r in rows1}
    assert fps1[0] != fps1[1]


def test_scrub_pii_counts_and_order(spark):
    redacted, counts = T.scrub_pii(F.col("text"))
    df = docs_df(
        spark,
        [
            "mail me at alice9@example.org or call 555-1234 from 10.2.0.9",
            "no pii here at all",
            "two mails a@b.org c1@d.net one ext 555-0000",
            # overlap pin: the email eats '1234x@host.org', so the raw
            # text's 555-1234 is half-consumed by the earlier
            # replacement — counts are DECLARED to be raw-text counts
            # (taken before any replacement), so phone still counts 1
            "edge user555-1234x@host.org",
        ],
    ).select(
        "doc_id",
        *(counts[k].alias(f"n_{k}") for k, _, _ in T.PII_PATTERNS),
        redacted.alias("red"),
    )
    rows = {r["doc_id"]: r for r in df.collect()}
    assert (rows[0]["n_email"], rows[0]["n_phone"], rows[0]["n_ip"]) == (1, 1, 1)
    assert rows[0]["red"] == "mail me at [EMAIL] or call [PHONE] from [IP]"
    assert (rows[1]["n_email"], rows[1]["n_phone"], rows[1]["n_ip"]) == (0, 0, 0)
    assert rows[1]["red"] == "no pii here at all"
    assert (rows[2]["n_email"], rows[2]["n_phone"]) == (2, 1)
    assert rows[2]["red"] == "two mails [EMAIL] [EMAIL] one ext [PHONE]"
    assert (rows[3]["n_email"], rows[3]["n_phone"]) == (1, 1)
    assert rows[3]["red"] == "edge user555-[EMAIL]"


PII_EXTENDED_TEXTS = [
    # full-form IPv6, long and short hex groups
    "peer at 2001:0db8:85a3:0000:0000:8a2e:0370:7334 responded",
    "hex aa:bb is not ipv6 but 2001:db8:1:2:3:4:5:6 is",
    # international phones: dash- and space-separated, 2-3 groups
    "call +44-20-7946-0958 or +1 555 0100 after hours",
    # ordering edge: the +CC form must win over the domestic pattern
    # (intl_phone is declared BEFORE phone) so ONE [PHONE] is emitted
    # with no dangling '+1-' prefix; the domestic 555-0134 substring
    # still counts 1 as a raw-text detection
    "+1-555-0134 home line",
    # the pinned three-pattern floor still redacts under the superset
    "mail alice9@example.org call 555-1234 from 10.2.0.9",
    "no pii here at all",
    # bounded absorption pins (self-review r11): a 2-group phone eats
    # ONE adjacent digit group (fail-safe over-redaction, documented);
    # a 3-group phone is at the repeat cap and absorbs nothing
    "+1 555 0100 4096 times",
    "call +44-20-7946-0958 9999 ok",
]


def test_scrub_pii_extended_patterns(spark):
    redacted, counts = T.scrub_pii(F.col("text"), T.PII_PATTERNS_EXTENDED)
    df = docs_df(spark, PII_EXTENDED_TEXTS).select(
        "doc_id",
        *(counts[k].alias(f"n_{k}") for k, _, _ in T.PII_PATTERNS_EXTENDED),
        redacted.alias("red"),
    )
    rows = {r["doc_id"]: r for r in df.collect()}
    assert rows[0]["n_ipv6"] == 1
    assert rows[0]["red"] == "peer at [IPV6] responded"
    assert rows[1]["n_ipv6"] == 1
    assert rows[1]["red"] == "hex aa:bb is not ipv6 but [IPV6] is"
    assert (rows[2]["n_intl_phone"], rows[2]["n_phone"]) == (2, 0)
    assert rows[2]["red"] == "call [PHONE] or [PHONE] after hours"
    assert (rows[3]["n_intl_phone"], rows[3]["n_phone"]) == (1, 1)
    assert rows[3]["red"] == "[PHONE] home line"
    assert (rows[4]["n_email"], rows[4]["n_phone"], rows[4]["n_ip"]) == (1, 1, 1)
    assert rows[4]["red"] == "mail [EMAIL] call [PHONE] from [IP]"
    assert all(rows[5][f"n_{k}"] == 0 for k, _, _ in T.PII_PATTERNS_EXTENDED)
    assert rows[5]["red"] == "no pii here at all"
    assert rows[6]["red"] == "[PHONE] times"        # absorbed one group
    assert rows[7]["red"] == "call [PHONE] 9999 ok"  # cap stops absorption


def test_scrub_pii_extended_duckdb_parity(spark):
    # The widened table claims the same Java-regex/RE2 portability as
    # the pinned one: per-pattern counts and the full ordered redaction
    # chain must agree with DuckDB on the planted strings.
    import duckdb

    redacted, counts = T.scrub_pii(F.col("text"), T.PII_PATTERNS_EXTENDED)
    spark_rows = (
        docs_df(spark, PII_EXTENDED_TEXTS)
        .select(
            "doc_id",
            *(counts[k].alias(f"n_{k}") for k, _, _ in T.PII_PATTERNS_EXTENDED),
            redacted.alias("red"),
        )
        .collect()
    )
    con = duckdb.connect()
    for row in spark_rows:
        s = PII_EXTENDED_TEXTS[row["doc_id"]]
        chained = "?"
        for _, pat, placeholder in T.PII_PATTERNS_EXTENDED:
            chained = f"regexp_replace({chained}, '{pat}', '{placeholder}', 'g')"
        duck_red = con.execute(f"SELECT {chained}", [s]).fetchone()[0]
        assert duck_red == row["red"], s
        for kind, pat, _ in T.PII_PATTERNS_EXTENDED:
            duck_n = con.execute(
                f"SELECT length(regexp_extract_all(?, '{pat}'))", [s]
            ).fetchone()[0]
            assert duck_n == row[f"n_{kind}"], (kind, s)
    con.close()


def _py_bpe_word(word: str, merges) -> list:
    symbols = list(word)
    for left, right in merges:
        out, i = [], 0
        while i < len(symbols):
            if (
                i + 1 < len(symbols)
                and symbols[i] == left
                and symbols[i + 1] == right
            ):
                out.append(left + right)
                i += 2
            else:
                out.append(symbols[i])
                i += 1
        symbols = out
    return symbols


def _py_bpe_encode(text: str, merges) -> list:
    # the Java \s class tokens() splits on (ASCII whitespace only)
    words = [w for w in re.split(r"[ \t\n\x0b\f\r]+", text) if w]
    return [s for w in words for s in _py_bpe_word(w, merges)]


_BPE_WORDS = ["", "a", "ab", "abc", "cab", "ababc", "aaa", "aaaa",
              "aaaaa", "abab", "xya", "the", "theme", "theory", "ththe",
              "athe", "thinking", "in", "x", "weather", "banana", "xyzzy"]


# (name, merge table, hand pins) cases of the mirror test
_BPE_APPLY_CASES = [
    # composed second-round merge, overlap rule, singleton
    ("composed",
     (("t", "h"), ("th", "e"), ("a", "a"), ("i", "n"), ("in", "g")),
     {"the": ["the"], "aaa": ["aa", "a"], "aaaa": ["aa", "aa"],
      "thinking": ["th", "in", "k", "ing"], "x": ["x"]}),
    # merged-symbol pairs ((aa, aa)) and suffix-sharing symbols
    ("merged_pairs",
     (("a", "a"), ("a", "b"), ("t", "h"), ("th", "e"),
      ("b", "a"), ("ba", "n"), ("e", "r"), ("aa", "aa")),
     {"aaaa": ["aaaa"], "banana": ["ban", "a", "n", "a"]}),
    # ill-formed: (ab, c) ranks before (a, b), so its pass ran before
    # any "ab" symbol existed; a min-rank-repeat encoder gives [abc]
    ("ill_formed", (("ab", "c"), ("a", "b")), {"abc": ["ab", "c"]}),
    # a duplicate pair is a distinct pass of its own
    ("duplicate", (("a", "a"), ("x", "y"), ("a", "a")),
     {"aaaaa": ["aa", "aa", "a"], "xya": ["xy", "a"]}),
    ("empty", (), {"ab": ["a", "b"]}),
]


def test_bpe_apply_matches_python_mirror(spark):
    rows = (
        spark.createDataFrame([(w,) for w in _BPE_WORDS], "w string")
        .select(
            "w",
            *[
                T.bpe_apply_word(F.col("w"), merges).alias(name)
                for name, merges, _ in _BPE_APPLY_CASES
            ],
        )
        .collect()
    )
    assert len(rows) == len(_BPE_WORDS)
    for name, merges, pins in _BPE_APPLY_CASES:
        for r in rows:
            want = _py_bpe_word(r["w"], merges)
            assert list(r[name]) == want, (name, r["w"])
            # symbols always rebuild the word
            assert "".join(r[name]) == r["w"], (name, r["w"])
        got = {r["w"]: list(r[name]) for r in rows}
        assert got[""] == [], name
        for w, want in pins.items():
            assert got[w] == want, (name, w)


@pytest.mark.parametrize("escaped", ["true", "false"])
def test_bpe_apply_ignores_escaped_string_literals(spark, escaped):
    """Merge strings with a backslash encode the same under either
    setting of spark.sql.parser.escapedStringLiterals: the table reaches
    Catalyst as literals, never through the SQL parser."""
    merges = (("a", "\\"), ("\\", "b"))
    key = "spark.sql.parser.escapedStringLiterals"
    prev = spark.conf.get(key)
    spark.conf.set(key, escaped)
    try:
        row = (
            spark.createDataFrame([("a\\b",)], "w string")
            .select(T.bpe_apply_word("w", merges).alias("sym"))
            .collect()[0]
        )
    finally:
        spark.conf.set(key, prev)
    assert list(row["sym"]) == ["a\\", "b"] == _py_bpe_word("a\\b", merges)


# (name, text, merge table, expected symbols) cases of the flatten test
_BPE_ENCODE_CASES = [
    # merges never cross word boundaries; flatten keeps word order
    ("words", "the cat then", (("t", "h"), ("th", "e")),
     ["the", "c", "a", "t", "the", "n"]),
    ("tab_newline", "one\ttab\nand newline",
     (("t", "h"), ("th", "e"), ("a", "b")),
     ["o", "n", "e", "t", "ab", "a", "n", "d", "n", "e", "w", "l",
      "i", "n", "e"]),
    ("empty", "", (("a", "b"),), []),
    ("blank", "   ", (("a", "b"),), []),
    ("ill_formed", "abc cab ababc", (("ab", "c"), ("a", "b")),
     ["ab", "c", "c", "ab", "ab", "ab", "c"]),
    ("duplicate", "aaa aaaaa xya", (("a", "a"), ("x", "y"), ("a", "a")),
     ["aa", "a", "aa", "aa", "a", "xy", "a"]),
    # NULL text propagates NULL (not a crash, not [])
    ("null", None, (("ab", "c"), ("a", "b")), None),
]


def test_bpe_encode_flattens_words(spark):
    for name, text, merges, want in _BPE_ENCODE_CASES:
        row = (
            spark.createDataFrame([(text,)], "text string")
            .select(T.bpe_encode(F.col("text"), merges).alias("sym"))
            .collect()[0]
        )
        got = None if row["sym"] is None else list(row["sym"])
        assert got == want, name
        if text is not None:
            assert got == _py_bpe_encode(text, merges), name


def _py_luhn(digits: str) -> bool:
    total = 0
    for i, ch in enumerate(reversed(digits), start=1):
        d = ord(ch) - 48
        if i % 2 == 0:
            d = d * 2 - 9 if d > 4 else d * 2
        total += d
    return bool(digits) and total % 10 == 0


def test_luhn_valid_matches_python_mirror(spark):
    cases = [
        "4111111111111111",      # classic valid Visa test number
        "4111111111111112",      # same with broken checksum
        "4532015112830366",
        "1234567812345678",
        "79927398713",           # the canonical Luhn example (11 digits)
        "0000000000000",
        "9999999999999999999",
    ]
    rows = (
        spark.createDataFrame([(c,) for c in cases], "digits string")
        .select("digits", T.luhn_valid(F.col("digits")).alias("ok"))
        .collect()
    )
    for r in rows:
        assert r["ok"] == _py_luhn(r["digits"]), r["digits"]


def test_scrub_cards_validate_and_splice(spark):
    red, n_cand, n_valid = T.scrub_cards(F.col("text"))
    texts = [
        # valid card embedded in prose -> replaced
        "pay with 4111111111111111 today",
        # 16-digit NON-Luhn run -> inspected but untouched
        "order id 4111111111111112 shipped",
        # two candidates, one valid
        "a 4532015112830366 b 1234567812345678 c",
        # run too short to be a candidate
        "pin 123456789012",
        # whole text is one valid candidate
        "4111111111111111",
        "no digits at all",
    ]
    rows = {
        r["doc_id"]: r
        for r in docs_df(spark, texts)
        .select(
            "doc_id",
            red.alias("red"),
            n_cand.alias("n_cand"),
            n_valid.alias("n_valid"),
        )
        .collect()
    }
    assert rows[0]["red"] == "pay with [CARD] today"
    assert (rows[0]["n_cand"], rows[0]["n_valid"]) == (1, 1)
    assert rows[1]["red"] == texts[1]
    assert (rows[1]["n_cand"], rows[1]["n_valid"]) == (1, 0)
    want2 = (
        "a [CARD] b 1234567812345678 c"
        if not _py_luhn("1234567812345678")
        else "a [CARD] b [CARD] c"
    )
    assert rows[2]["red"] == want2
    assert rows[2]["n_cand"] == 2
    assert rows[2]["n_valid"] == 1 + int(_py_luhn("1234567812345678"))
    assert rows[3]["red"] == texts[3]
    assert (rows[3]["n_cand"], rows[3]["n_valid"]) == (0, 0)
    assert rows[4]["red"] == "[CARD]"
    assert rows[5]["red"] == texts[5]
    # composes with scrub_pii when cards run FIRST: [CARD] is
    # digit-free, so the PII pass sees no card digits
    card_red, _, _ = T.scrub_cards(F.col("text"))
    pii_after, _ = T.scrub_pii(card_red)
    both = (
        docs_df(spark, ["mail a@b.org card 4111111111111111"])
        .select(pii_after.alias("red"))
        .collect()[0]["red"]
    )
    assert both == "mail [EMAIL] card [CARD]"


def test_scrub_cards_grouped_forms(spark):
    """Separator-spanning PANs (VERDICT r11 ask #5): grouped 4x4x4x4
    candidates validate through Luhn on the digit CONCATENATION and
    splice exactly like contiguous runs — including the adjacent-
    digit-group false-positive cases the docstring worries about."""
    assert _py_luhn("4111111111111111") and _py_luhn("5555555555554444")
    assert not _py_luhn("1234567890123456")
    red, n_cand, n_valid = T.scrub_cards(F.col("text"))
    texts = [
        "pay 4111 1111 1111 1111 now",          # space-grouped, valid
        "card 5555-5555-5555-4444 on file",     # dash-grouped, valid
        "mix 4111 1111-1111 1111 ok",           # mixed separators, valid
        "ref 1234 5678 9012 3456 thanks",       # grouped, Luhn-INVALID
        "meet at 1111 2222 hrs",                # two groups: no candidate
        "4111 1111 1111 1111 9999",             # five groups: 4 match
        "4111111111111111 and 5555 5555 5555 4444",  # both forms
    ]
    rows = {
        r["doc_id"]: r
        for r in docs_df(spark, texts)
        .select("doc_id", red.alias("red"), n_cand.alias("nc"),
                n_valid.alias("nv"))
        .collect()
    }
    assert rows[0]["red"] == "pay [CARD] now"
    assert (rows[0]["nc"], rows[0]["nv"]) == (1, 1)
    assert rows[1]["red"] == "card [CARD] on file"
    assert rows[2]["red"] == "mix [CARD] ok"
    # false positive rejected: candidate inspected, Luhn fails, text
    # byte-identical (no normalization of non-card digit groups)
    assert rows[3]["red"] == texts[3]
    assert (rows[3]["nc"], rows[3]["nv"]) == (1, 0)
    # two digit groups never form a candidate
    assert rows[4]["red"] == texts[4]
    assert (rows[4]["nc"], rows[4]["nv"]) == (0, 0)
    # documented fail-safe over-redaction: the run absorbs the
    # adjacent trailing group into [CARD] (a valid aligned window
    # exists, so the WHOLE run redacts — leaking is the alternative)
    assert rows[5]["red"] == "[CARD]"
    assert (rows[5]["nc"], rows[5]["nv"]) == (1, 1)
    assert rows[6]["red"] == "[CARD] and [CARD]"
    assert (rows[6]["nc"], rows[6]["nv"]) == (2, 2)


def test_card_grouped_precision_classes(spark):
    """ADVICE r12 low #2, pinned rather than hypothesized: the two
    documented precision trades of the unbounded grouped candidate.
    (1) A year run is a CANDIDATE and redacts iff its window passes
    Luhn — "2024 2025 2026 2027" happens to fail (survives untouched),
    while a planted Luhn-passing 'year-like' run redacts whole: the
    ~10%% false-positive class, accepted as fail-safe. (2) A trailing
    5-digit group splits mid-group, so a validated run's redaction
    boundary bisects the final (non-card) number. Both directions only
    ever OVER-redact; neither can leak card digits."""
    assert not _py_luhn("2024202520262027")  # this year run survives
    # construct a Luhn-PASSING 4-group run of year-like numbers:
    # 2024 2025 2026 202X with X chosen by checksum
    base = "202420252026202"
    digit = next(d for d in "0123456789" if _py_luhn(base + d))
    fp_run = f"2024 2025 2026 202{digit}"
    red, n_cand, n_valid = T.scrub_cards(F.col("text"))
    texts = [
        "meeting years 2024 2025 2026 2027 noted",   # candidate, invalid
        f"schedule {fp_run} noted",                   # candidate, VALID
        "sum 1111 1111 1111 11111 total",             # trailing 5-digit
    ]
    rows = {
        r["doc_id"]: r
        for r in docs_df(spark, texts)
        .select("doc_id", red.alias("red"), n_cand.alias("nc"),
                n_valid.alias("nv"))
        .collect()
    }
    # (1a) the real-world year run is inspected but NOT redacted
    assert rows[0]["red"] == texts[0]
    assert (rows[0]["nc"], rows[0]["nv"]) == (1, 0)
    # (1b) the Luhn-passing year-like run IS redacted whole — the
    # documented false-positive class, over-redaction direction only
    assert rows[1]["red"] == "schedule [CARD] noted"
    assert (rows[1]["nc"], rows[1]["nv"]) == (1, 1)
    # (2) the 16-digit window of all-ones fails Luhn, so the split
    # candidate survives; pin the SPLIT itself via the candidate count
    # and, with a validating variant, the mid-group boundary
    assert not _py_luhn("1111111111111111")
    assert rows[2]["red"] == texts[2]
    assert (rows[2]["nc"], rows[2]["nv"]) == (1, 0)
    # validating variant: 4111 1111 1111 1111 followed by a 5-digit
    # group — the regex captures through the group's first 4 digits,
    # so the whole run PLUS the bisected prefix redacts, leaving the
    # stray final digit: over-redaction bisects a non-card number,
    # never exposes a card digit
    bisect = "pay 4111 1111 1111 1111 99999 end"
    row = (
        docs_df(spark, [bisect])
        .select(red.alias("red"), n_cand.alias("nc"), n_valid.alias("nv"))
        .collect()[0]
    )
    assert row["red"] == "pay [CARD]9 end"
    assert (row["nc"], row["nv"]) == (1, 1)


def test_scrub_cards_grouped_composes_with_pii(spark):
    """Cards-first ordering holds for grouped forms too: the grouped
    card next to an intl phone redacts as [CARD] before the greedy
    phone pattern can absorb its leading group."""
    card_red, _, _ = T.scrub_cards(F.col("text"))
    pii_after, _ = T.scrub_pii(card_red, T.PII_PATTERNS_EXTENDED)
    got = (
        docs_df(spark, ["+1 555 0100 4111 1111 1111 1111 done"])
        .select(pii_after.alias("red"))
        .collect()[0]["red"]
    )
    assert "[CARD]" in got
    assert "4111" not in got and "1111" not in got


def test_scrub_cards_output_safe_under_multiple_references(spark):
    """Regression (self-review r11, empirically reproduced): the first
    scrub_cards guarded an index-fold behind when(n_candidates == 0) —
    whole-stage codegen CSE hoisted the shared fold out of that lazy
    guard when a projection referenced the returned column more than
    once, and sequence(1, 0) being the DESCENDING [1, 0] made the
    hoisted fold index an empty array: the job crashed on exactly the
    rows carrying cards. The splice is now total (folds over the match
    array itself), so the example's shape — redacted text AND pattern
    counts over it in ONE select — must work on card-bearing rows."""
    card_red, n_cand, n_valid = T.scrub_cards(F.col("text"))
    pii_red, counts = T.scrub_pii(card_red, T.PII_PATTERNS_EXTENDED)
    rows = {
        r["doc_id"]: r
        for r in docs_df(
            spark,
            [
                "pay 4111111111111111 now",       # Luhn-valid card
                "order 4111111111111112 shipped",  # candidate, invalid
                "no digits here",
            ],
        )
        .select(
            "doc_id",
            pii_red.alias("red"),
            n_cand.alias("nc"),
            n_valid.alias("nv"),
            *(counts[k].alias(f"n_{k}") for k, _, _ in T.PII_PATTERNS_EXTENDED),
        )
        .collect()
    }
    assert rows[0]["red"] == "pay [CARD] now"
    assert (rows[0]["nc"], rows[0]["nv"]) == (1, 1)
    assert rows[1]["red"] == "order 4111111111111112 shipped"
    assert (rows[1]["nc"], rows[1]["nv"]) == (1, 0)
    assert rows[2]["red"] == "no digits here"
    assert (rows[2]["nc"], rows[2]["nv"]) == (0, 0)


def test_bpe_apply_zero_merges_consistent_on_empty_word(spark):
    # both paths must agree that an empty word has NO symbols (the
    # zero-merge path used to return [''] from the raw split)
    row = (
        spark.createDataFrame([("",)], "w string")
        .select(
            T.bpe_apply_word(F.col("w"), ()).alias("zero"),
            T.bpe_apply_word(F.col("w"), (("a", "b"),)).alias("one"),
        )
        .collect()[0]
    )
    assert list(row["zero"]) == [] == list(row["one"])


def test_bpe_encode_oracle_separator_precondition():
    """BPE_ENCODE_SQL's string encoding reserves '|' (symbol flank) and
    '@' (word boundary); the oracle is only sound while the corpus text
    contains neither. Pin the precondition against the real testdata at
    every SF the driver or the local gate touches — if the generator
    ever emits these characters this fails loudly instead of the oracle
    silently mis-parsing. The SPARK path has no such restriction (it
    works on symbol arrays, not a string encoding)."""
    import duckdb

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        path = f"/root/testdata/{sf}/documents.parquet"
        if not os.path.exists(path):
            continue
        n = duckdb.sql(
            f"SELECT count(*) FROM '{path}' "
            "WHERE text LIKE '%|%' OR text LIKE '%@%'"
        ).fetchone()[0]
        assert n == 0, f"{sf}: {n} docs contain reserved separator chars"


def test_bpe_encode_query_matches_flat_hof(spark):
    """The gated query's (n_syms, encoded) projection is derived from
    ONE materialized encode — both output columns read the per-doc
    re-group AGGREGATION's materialized attribute, so nothing re-runs
    the HOF and no checkpoint is needed (q_bpe_encode's docstring; the
    aggregation boundary closes the r9/r13 CollapseProject re-inlining
    class here). Pin that the string round-trip loses nothing: n_syms
    equals the HOF symbol count and encoded splits back to the HOF
    symbols, which match the Python mirror on the trained table."""
    from wikitrender_spark.plans import pipeline_queries as P

    sf = "/root/testdata/sf0.001"
    ranked = (
        P.q_bpe_merges(spark, sf).orderBy("merge_rank").select("pair").collect()
    )
    merges = tuple((r.pair[0], r.pair[1]) for r in ranked)
    assert len(merges) == P.BPE_TOP_PAIRS
    got = {r["doc_id"]: r for r in P.q_bpe_encode(spark, sf).collect()}
    ref = (
        spark.read.parquet(os.path.join(sf, "documents.parquet"))
        .select(
            "doc_id", "text",
            T.bpe_encode(F.col("text"), merges).alias("sym"),
        )
        .collect()
    )
    assert len(got) == len(ref) == 500
    for r in ref:
        assert list(r["sym"]) == _py_bpe_encode(r["text"], merges), r["doc_id"]
        g = got[r["doc_id"]]
        assert g["n_syms"] == len(r["sym"])
        assert (g["encoded"].split(" ") if g["encoded"] else []) == list(
            r["sym"]
        )


def test_scrub_cards_must_run_before_scrub_pii(spark):
    """The ordering hazard the round-11 cost probe caught: a greedy
    intl_phone match absorbs a space-separated digit group adjacent to
    a real phone (bounded to one group by the {2,3} repeat), so
    PII-first splits a following card run and leaves its tail in clear
    text; cards-first redacts both fully. A 2-group phone keeps the
    absorption reachable under the tightened repeat."""
    text = "+1 555 0100 4111111111111111 done"
    df = docs_df(spark, [text])
    ext = T.PII_PATTERNS_EXTENDED
    # safe order: cards, then PII
    card_red, _, n_valid = T.scrub_cards(F.col("text"))
    safe = df.select(
        T.scrub_pii(card_red, ext)[0].alias("red"), n_valid.alias("nv")
    ).collect()[0]
    assert safe["red"] == "[PHONE] [CARD] done"
    assert safe["nv"] == 1
    # unsafe order: the phone match eats '...0958 4111', the remaining
    # 12-digit tail is below the candidate floor and survives in clear
    pii_red, _ = T.scrub_pii(F.col("text"), ext)
    unsafe = df.select(
        T.scrub_cards(pii_red)[0].alias("red")
    ).collect()[0]["red"]
    assert any(ch.isdigit() for ch in unsafe)
    assert "[CARD]" not in unsafe


def test_simhash_tuning_requires_uncapped_baseline(spark):
    # n_missed is defined against the uncapped config; without None in
    # caps the baseline cross-join would silently annihilate the report
    # (self-review r10) — the guard fails loud instead
    with pytest.raises(ValueError, match="uncapped baseline"):
        dedup.simhash_tuning_report(docs_df(spark, ["a b c"]), caps=(32, 2))


def test_dsir_weights_matches_python_mirror(spark):
    from collections import Counter

    from wikitrender_spark.plans.pipeline_queries import (
        DSIR_BUCKETS, DSIR_TARGET_LANG, dsir_weights,
    )

    texts_langs = [
        ("alpha beta alpha beta gamma", "en"),
        ("alpha beta delta", "en"),
        ("gamma delta gamma delta epsilon", "fr"),
        ("zeta", "fr"),          # 1 token -> no bigrams
        ("alpha beta gamma delta", "de"),
    ]
    d = spark.createDataFrame(
        [(i, t, lg, "src", len(t)) for i, (t, lg) in enumerate(texts_langs)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )

    # independent mirror: same pinned 31-poly token hash + bigram fold
    def feats(text):
        hs = [_py_poly(w) for w in text.split()]
        return [
            ((hs[i] * 31 + hs[i + 1]) % 1_000_003) % DSIR_BUCKETS
            for i in range(len(hs) - 1)
        ]

    per_doc = {i: feats(t) for i, (t, _lg) in enumerate(texts_langs)}
    cr, ct = Counter(), Counter()
    for i, (t, lg) in enumerate(texts_langs):
        for f in per_doc[i]:
            cr[f] += 1
            if lg == DSIR_TARGET_LANG:
                ct[f] += 1
    s_t = sum(cr[f] * (ct[f] + 1) for f in cr)
    s_r = sum(cr[f] * (cr[f] + 1) for f in cr)
    rows = {r["doc_id"]: r for r in dsir_weights(d).collect()}
    for i in per_doc:
        fs = per_doc[i]
        tm = sum(ct[f] + 1 for f in fs)
        rm = sum(cr[f] + 1 for f in fs)
        r = rows[i]
        assert r["n_bigrams"] == len(fs), i
        assert r["target_mass"] == (tm if fs else 0), i
        assert r["raw_mass"] == (rm if fs else 0), i
        if fs:
            assert r["weight"] == round((tm * s_r) / (rm * s_t), 6), i
            assert r["selected"] == (tm * s_r > rm * s_t), i
        else:
            assert r["weight"] == 0.0 and r["selected"] is False, i
    # the target-language docs must out-weigh the pure-fr doc: the
    # operator's purpose is that discrimination
    assert rows[0]["weight"] > rows[2]["weight"]


def test_portable_ln_bit_identical_across_engines(spark):
    """functions.portable.pln_sql must produce the SAME DOUBLE BITS in
    Python (pln_py), DuckDB, and Spark — that bit-identity is the whole
    contract (libm ln differs across engines in the last ulp; the
    portable polynomial replaces it). Also pins accuracy vs math.log
    and the documented domain errors."""
    import math
    import struct as st

    import duckdb
    import pytest

    from wikitrender_spark.functions.portable import pln_py, pln_sql

    ks = list(range(1, 2001)) + [4096, 999983, 10**9 + 7, (1 << 53) - 1]
    # accuracy: < 3e-12 relative vs true ln (documented: truncation
    # ~9e-12 absolute at the t -> 1/3 edge; measured worst RELATIVE
    # 1.68e-12 at k=127 — k = 2^n - 1 are the worst inputs, so probe
    # them explicitly, not just easy ks)
    for k in (2, 3, 7, 127, 255, (1 << 20) - 1, 4096, 999983, (1 << 53) - 1):
        assert abs(pln_py(k) - math.log(k)) <= 3e-12 * abs(math.log(k)), k
    assert pln_py(1) == 0.0
    # DuckDB evaluates the identical SQL text to the identical bits
    con = duckdb.connect()
    duck = con.sql(
        f"SELECT k, {pln_sql('k')} FROM (SELECT unnest({ks}) AS k)"
    ).fetchall()
    for k, v in duck:
        assert st.pack("<d", v) == st.pack("<d", pln_py(k)), k
    # Spark evaluates the identical SQL text to the identical bits
    sdf = spark.createDataFrame([(k,) for k in ks], "k long").selectExpr(
        "k", pln_sql("k") + " AS v"
    )
    for r in sdf.collect():
        assert st.pack("<d", r["v"]) == st.pack("<d", pln_py(r["k"])), r["k"]
    with pytest.raises(ValueError):
        pln_py(0)
    with pytest.raises(ValueError):
        pln_py(1 << 53)


def test_dsir_log_matches_python_mirror(spark):
    """dsir_log_weights against an independent pure-Python mirror:
    logweight BIT-EQUAL (the pinned pln polynomial + f-sorted left
    fold is the operator's declared semantics), selected equal to the
    self-normalized threshold, no-bigram docs at (0, 0.0, False), and
    the en docs must out-score the fr doc per bigram (discrimination
    is the operator's purpose)."""
    from collections import Counter

    from wikitrender_spark.functions.portable import pln_py
    from wikitrender_spark.plans.pipeline_queries import (
        DSIR_BUCKETS, DSIR_TARGET_LANG, dsir_log_weights,
    )

    texts_langs = [
        ("alpha beta alpha beta gamma", "en"),
        ("alpha beta delta", "en"),
        ("gamma delta gamma delta epsilon", "fr"),
        ("zeta", "fr"),          # 1 token -> no bigrams
        ("alpha beta gamma delta", "de"),
        ("nullish words here", None),  # NULL lang counts as non-target
    ]
    d = spark.createDataFrame(
        [(i, t, lg, "src", len(t)) for i, (t, lg) in enumerate(texts_langs)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )

    def feats(text):
        hs = [_py_poly(w) for w in text.split()]
        return [
            ((hs[i] * 31 + hs[i + 1]) % 1_000_003) % DSIR_BUCKETS
            for i in range(len(hs) - 1)
        ]

    per_doc = {i: feats(t) for i, (t, _lg) in enumerate(texts_langs)}
    cr, ct = Counter(), Counter()
    for i, (t, lg) in enumerate(texts_langs):
        for f in per_doc[i]:
            cr[f] += 1
            if lg == DSIR_TARGET_LANG:
                ct[f] += 1
    lr = {f: pln_py(ct[f] + 1) - pln_py(cr[f] + 1) for f in cr}
    ds = pln_py(sum(cr.values()) + DSIR_BUCKETS) - pln_py(
        sum(ct.values()) + DSIR_BUCKETS
    )
    # corpus-average per-occurrence score: f-sorted left fold from 0.0
    g = 0.0
    for f in sorted(cr):
        g = g + float(cr[f]) * lr[f]
    a = (g / float(sum(cr.values()))) + ds

    rows = {r["doc_id"]: r for r in dsir_log_weights(d).collect()}
    assert len(rows) == len(texts_langs)
    for i in per_doc:
        fs = per_doc[i]
        r = rows[i]
        assert r["n_bigrams"] == len(fs), i
        if not fs:
            assert r["logweight"] == 0.0 and r["selected"] is False, i
            continue
        xf = Counter(fs)
        s = 0.0
        for f in sorted(xf):
            s = s + float(xf[f]) * lr[f]
        lw = s + float(len(fs)) * ds
        assert r["logweight"] == lw, i  # bit-equal, no tolerance
        assert r["selected"] == (lw > float(len(fs)) * a), i
    # discrimination: per-bigram score of the en docs above the fr doc
    per_bigram = {
        i: rows[i]["logweight"] / rows[i]["n_bigrams"]
        for i in (0, 1, 2)
    }
    assert per_bigram[0] > per_bigram[2]
    assert per_bigram[1] > per_bigram[2]


def test_ngram_nll_matches_python_mirror(spark):
    """ngram_nll against an independent pure-Python mirror: nll
    BIT-EQUAL (pinned pln polynomial + (w1,w2)-sorted left fold is the
    declared semantics), selected equal to the cross-multiplied
    corpus-mean rule, no-bigram docs at (0, 0.0, selected=True), and
    the repetitive doc must under-score (lower per-bigram NLL) the
    one-off doc — discrimination is the filter's purpose."""
    from collections import Counter

    from wikitrender_spark.functions.portable import pln_py
    from wikitrender_spark.plans.pipeline_queries import ngram_nll

    texts = [
        "alpha beta alpha beta alpha beta",   # repetitive: common bigrams
        "alpha beta gamma delta epsilon",     # one-off transitions
        "alpha beta alpha beta",
        "zeta",                               # 1 token -> no bigrams
        "",                                   # empty -> no bigrams
    ]
    d = spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs_toks = {i: t.split() for i, t in enumerate(texts)}
    big = {i: list(zip(ws, ws[1:])) for i, ws in docs_toks.items()}
    B = Counter(bg for bgs in big.values() for bg in bgs)
    U = Counter()
    for (w1, _w2), c in B.items():
        U[w1] += c
    V = len({w for ws in docs_toks.values() for w in ws})
    nl = {bg: pln_py(U[bg[0]] + V) - pln_py(B[bg] + 1) for bg in B}

    want = {}
    for i, bgs in big.items():
        xf = Counter(bgs)
        s = 0.0
        for bg in sorted(xf):
            s = s + float(xf[bg]) * nl[bg]
        want[i] = (len(bgs), s)
    # corpus total folds B*nl over the MODEL relation by (w1, w2) —
    # the bounded form (review r12), not a per-doc array
    ts = 0.0
    for bg in sorted(B):
        ts = ts + float(B[bg]) * nl[bg]
    tn = sum(n for n, _ in want.values())

    rows = {r["doc_id"]: r for r in ngram_nll(d).collect()}
    assert len(rows) == len(texts)
    for i, (n, s) in want.items():
        r = rows[i]
        assert r["n_bigrams"] == n, i
        assert r["nll"] == s, i  # bit-equal, no tolerance
        assert r["selected"] == (s * float(tn) <= ts * float(n)), i
    # degenerate docs: n=0, nll=0.0, trivially selected
    assert rows[3]["selected"] is True and rows[3]["nll"] == 0.0
    assert rows[4]["selected"] is True
    # discrimination: the repetitive docs score lower per-bigram NLL
    # than the one-off-transition doc
    pb = {i: rows[i]["nll"] / rows[i]["n_bigrams"] for i in (0, 1, 2)}
    assert pb[0] < pb[1] and pb[2] < pb[1]


def test_ngram_nll_all_degenerate_corpus(spark):
    """A corpus with NO multi-token docs must yield (0, 0.0, True) for
    every row — the first cut returned selected=NULL (empty model ->
    SUM is NULL; reproduced in review r12), which the oracle could not
    catch because its twin had the same hole."""
    from wikitrender_spark.plans.pipeline_queries import ngram_nll

    d = spark.createDataFrame(
        [(0, "solo", "en", "src", 4), (1, "", "en", "src", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {r["doc_id"]: r for r in ngram_nll(d).collect()}
    for i in (0, 1):
        assert rows[i]["n_bigrams"] == 0
        assert rows[i]["nll"] == 0.0
        assert rows[i]["selected"] is True, rows[i]


def test_ngram_ppl_buckets_matches_python_mirror(spark):
    """tx_ngram_ppl_buckets against an independent pure-Python mirror
    (the oracle-twin methodology's shared-defect backstop, the r12
    lesson): terciles assigned by ntile over (nll/n, doc_id) with the
    SQL-standard remainder rule (earlier buckets take the extra rows),
    short docs in bucket 0, per-bucket aggregates bit-equal (the
    ratio min/max are IEEE divisions of bit-pinned numerators)."""
    from collections import Counter

    from wikitrender_spark.functions.portable import pln_py
    from wikitrender_spark.plans.pipeline_queries import (
        NLL_BUCKETS,
        ngram_ppl_buckets,
    )

    texts = [
        "alpha beta alpha beta alpha beta",
        "alpha beta gamma delta epsilon",
        "alpha beta alpha beta",
        "gamma delta epsilon alpha",
        "epsilon gamma beta alpha delta gamma",
        "beta beta beta",
        "zeta",                               # -> bucket 0
        "",                                   # -> bucket 0
    ]
    d = spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs_toks = {i: t.split() for i, t in enumerate(texts)}
    big = {i: list(zip(ws, ws[1:])) for i, ws in docs_toks.items()}
    B = Counter(bg for bgs in big.values() for bg in bgs)
    U = Counter()
    for (w1, _w2), c in B.items():
        U[w1] += c
    V = len({w for ws in docs_toks.values() for w in ws})
    nl = {bg: pln_py(U[bg[0]] + V) - pln_py(B[bg] + 1) for bg in B}
    per = {}
    for i, bgs in big.items():
        xf = Counter(bgs)
        s = 0.0
        for bg in sorted(xf):
            s = s + float(xf[bg]) * nl[bg]
        per[i] = (len(bgs), s)
    rated = sorted(
        ((s / float(n), i, n) for i, (n, s) in per.items() if n > 0)
    )
    n_rated = len(rated)
    # SQL-standard ntile: the first (n_rated % k) buckets get
    # ceil(n_rated / k) rows, the rest floor
    k = NLL_BUCKETS
    base, rem = divmod(n_rated, k)
    want_bucket = {}
    pos = 0
    for b in range(1, k + 1):
        size = base + (1 if b <= rem else 0)
        for _ in range(size):
            want_bucket[rated[pos][1]] = b
            pos += 1
    for i, (n, _s) in per.items():
        if n == 0:
            want_bucket[i] = 0
    want = {}
    for b in range(0, k + 1):
        members = [i for i, bb in want_bucket.items() if bb == b]
        if not members:
            continue
        ratios = [per[i][1] / float(per[i][0]) for i in members
                  if per[i][0] > 0]
        want[b] = (
            len(members),
            sum(per[i][0] for i in members),
            min(ratios) if ratios else None,
            max(ratios) if ratios else None,
            sum(i % 1000003 for i in members),
        )
    got = {
        r["bucket"]: (r["n_docs"], r["n_bigrams_total"],
                      r["min_unit_nll"], r["max_unit_nll"],
                      r["checksum"])
        for r in ngram_ppl_buckets(d).collect()
    }
    assert got == want
    # non-degenerate: all three terciles and the short bucket present
    assert set(got) == {0, 1, 2, 3}


def test_ngram_ppl_buckets_all_degenerate_corpus(spark):
    """A corpus of only no-bigram docs: ONE bucket-0 row, NULL ratio
    bounds, full checksum — the degenerate-input class the r12 review
    flagged as the oracle-twin blind spot, pinned at design time."""
    from wikitrender_spark.plans.pipeline_queries import ngram_ppl_buckets

    d = spark.createDataFrame(
        [(0, "solo", "en", "src", 4), (1, "", "en", "src", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = ngram_ppl_buckets(d).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["bucket"] == 0 and r["n_docs"] == 2
    assert r["n_bigrams_total"] == 0
    assert r["min_unit_nll"] is None and r["max_unit_nll"] is None
    assert r["checksum"] == 1


def test_ngram_ppl_buckets_approx_rank_error_contract(spark):
    """The 100 TB bucketer's error contract against the exact ntile
    form at sf0.1 (VERDICT r13 next-round #4 — the rel_percentiles /
    rel_approx_percentiles pairing): with relativeError eps, (a) each
    sketch threshold's exact RANK sits within eps * N of its tercile
    boundary, (b) a document's approx bucket differs from its exact
    ntile bucket only when its exact rank is within eps * N of a
    boundary, (c) per-bucket doc counts deviate from the exact report
    by at most 2 * eps * N, and (d) bucket 0 (no-evidence docs) and the
    whole-corpus integer totals are IDENTICAL."""
    from wikitrender_spark.plans import pipeline_queries as P

    sf = "/root/testdata/sf0.1"
    d = P._docs(spark, sf)
    eps = P.NLL_BUCKETS_APPROX_EPS

    rated = (
        P.ngram_nll(d)
        .select("doc_id", "n_bigrams", "nll")
        .filter(F.col("n_bigrams") > 0)
        .withColumn("_r", F.col("nll") / F.col("n_bigrams").cast("double"))
        .localCheckpoint()
    )
    rows = sorted(
        ((r["_r"], r["doc_id"]) for r in rated.collect()),
    )
    n = len(rows)
    assert n > 100  # the contract needs a non-degenerate corpus
    slack = int(eps * n) + 1

    # exact ntile assignment (SQL-standard: earlier buckets take the
    # remainder), keyed by doc_id
    base, rem = divmod(n, 3)
    sizes = [base + (1 if i < rem else 0) for i in range(3)]
    exact_bucket, pos = {}, 0
    for b, size in enumerate(sizes, start=1):
        for _r, doc in rows[pos: pos + size]:
            exact_bucket[doc] = b
        pos += size
    boundaries = [sizes[0], sizes[0] + sizes[1]]  # ranks (1-based cuts)

    # (a) threshold rank error
    thresholds = rated.stat.approxQuantile("_r", [1 / 3, 2 / 3], eps)
    assert len(thresholds) == 2
    vals = [r[0] for r in rows]
    import bisect

    for t, cut in zip(thresholds, boundaries):
        rank = bisect.bisect_right(vals, t)
        assert abs(rank - cut) <= slack, (t, rank, cut, slack)

    # (b) per-doc divergence only near a boundary, for THESE thresholds
    rank_of = {doc: i + 1 for i, (_r, doc) in enumerate(rows)}
    for _r, doc in rows:
        approx_b = 1 if _r <= thresholds[0] else (2 if _r <= thresholds[1] else 3)
        if approx_b != exact_bucket[doc]:
            near = min(abs(rank_of[doc] - c) for c in boundaries)
            assert near <= slack, (doc, approx_b, exact_bucket[doc], near)

    # (c)+(d) report-level: the function's own output vs the exact form
    exact = {r["bucket"]: r for r in P.ngram_ppl_buckets(d).collect()}
    approx = {r["bucket"]: r for r in P.ngram_ppl_buckets_approx(d).collect()}
    assert set(approx) == set(exact)
    if 0 in exact:
        assert approx[0] == exact[0]  # no-evidence class identical
    for b in (1, 2, 3):
        assert abs(approx[b]["n_docs"] - exact[b]["n_docs"]) <= 2 * slack
    for col in ("n_docs", "n_bigrams_total", "checksum"):
        assert sum(r[col] for r in approx.values()) == sum(
            r[col] for r in exact.values()
        ), col


def test_ngram_ppl_buckets_approx_all_degenerate_corpus(spark):
    """Empty sketch path: a corpus with no bigram evidence must yield
    the same single bucket-0 row as the exact form, not an IndexError
    from the missing thresholds."""
    from wikitrender_spark.plans.pipeline_queries import (
        ngram_ppl_buckets_approx,
    )

    d = spark.createDataFrame(
        [(0, "solo", "en", "src", 4), (1, "", "en", "src", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = ngram_ppl_buckets_approx(d).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["bucket"] == 0 and r["n_docs"] == 2
    assert r["n_bigrams_total"] == 0


def test_ngram_ppl_approx_classes_pins_shorts_class(spark):
    """tx_ngram_ppl_approx_classes' driver gate runs on testdata with
    ZERO no-bigram docs (verified: every real doc has >= 2 tokens), so
    the shorts class only appears here: on a mixed corpus the
    projection must emit BOTH class rows, agree with its DuckDB oracle
    twin, and equal the exact ntile form's own class projection
    (bucket 0 row verbatim + rated aggregates unioned across buckets —
    the determinism argument the gate rests on, checked end-to-end)."""
    import duckdb
    import pandas as pd

    from wikitrender_spark.plans import pipeline_queries as P

    rows = [
        (0, "alpha beta alpha beta gamma", "en", "src", 27),
        (1, "beta gamma beta", "en", "src", 15),
        (2, "solo", "en", "src", 4),  # one token: no bigrams -> shorts
        (3, "", "en", "src", 0),      # zero tokens -> shorts
        (4, "gamma alpha gamma alpha", "en", "src", 23),
    ]
    cols = "doc_id long, text string, lang string, source string, n_chars long"
    d = spark.createDataFrame(rows, cols)
    got = {r["cls"]: r for r in P.ngram_ppl_approx_classes(d).collect()}
    assert set(got) == {"shorts", "rated"}
    assert got["shorts"]["n_docs"] == 2
    assert got["shorts"]["n_bigrams_total"] == 0
    assert got["shorts"]["min_unit_nll"] is None
    assert got["rated"]["n_docs"] == 3

    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source",
                                    "n_chars"]),
    )
    want = {
        c: (int(nd), int(nb), mn, mx, int(ck))
        for c, nd, nb, mn, mx, ck in con.sql(
            P.NGRAM_PPL_APPROX_CLASSES_SQL
        ).fetchall()
    }
    for c, r in got.items():
        assert want[c] == (
            r["n_docs"], r["n_bigrams_total"], r["min_unit_nll"],
            r["max_unit_nll"], r["checksum"],
        ), c

    # the exact form's own class projection agrees (the determinism
    # argument: class membership and every aggregate below are
    # threshold-independent)
    exact = P.ngram_ppl_buckets(d).collect()
    shorts = [r for r in exact if r["bucket"] == 0]
    rated = [r for r in exact if r["bucket"] > 0]
    assert (
        got["shorts"]["n_docs"], got["shorts"]["n_bigrams_total"],
        got["shorts"]["checksum"],
    ) == (shorts[0]["n_docs"], shorts[0]["n_bigrams_total"],
          shorts[0]["checksum"])
    assert got["rated"]["n_docs"] == sum(r["n_docs"] for r in rated)
    assert got["rated"]["n_bigrams_total"] == sum(
        r["n_bigrams_total"] for r in rated
    )
    assert got["rated"]["checksum"] == sum(r["checksum"] for r in rated)
    assert got["rated"]["min_unit_nll"] == min(
        r["min_unit_nll"] for r in rated
    )
    assert got["rated"]["max_unit_nll"] == max(
        r["max_unit_nll"] for r in rated
    )


def test_ngram_oracles_share_the_cte_block(spark):
    """The r13 factoring pin: NGRAM_NLL_SQL (attested r12) and
    NGRAM_PPL_BUCKETS_SQL must both embed the SINGLE _ngram_cte_block
    text verbatim — the two oracles can never fork arithmetic, and the
    attested query's SQL cannot have drifted (verified byte-identical
    against the pre-factoring text when the factoring landed)."""
    from wikitrender_spark.plans import pipeline_queries as pq

    block = pq._ngram_cte_block()
    assert pq.NGRAM_NLL_SQL.startswith(block)
    assert pq.NGRAM_PPL_BUCKETS_SQL.startswith(block)


def test_ngram_nll_scorer_bit_matches_batch(spark):
    """The streaming scorer (trained-model deployment) must reproduce
    the batch operator BIT-FOR-BIT when scoring the training corpus
    itself — pln_py mirrors pln_sql's IEEE op sequence and the fold
    order is pinned on both sides — and must back off add-one-style on
    unseen bigrams and unseen left words."""
    import os

    from wikitrender_spark.functions.portable import pln_py
    from wikitrender_spark.plans.pipeline_queries import (
        ngram_model, ngram_nll,
    )

    d = spark.read.parquet(
        os.path.join("/root/testdata/sf0.001", "documents.parquet")
    )
    model = ngram_model(d)
    scorer = T.ngram_nll_scorer(*model)
    got = {
        r["doc_id"]: r
        for r in d.select("doc_id", scorer(F.col("text")).alias("s"))
        .select("doc_id", "s.n_bigrams", "s.nll")
        .collect()
    }
    want = {r["doc_id"]: r for r in ngram_nll(d).collect()}
    assert set(got) == set(want)
    for i, w in want.items():
        assert got[i]["n_bigrams"] == w["n_bigrams"], i
        assert got[i]["nll"] == w["nll"], i  # bit-equal, no tolerance
    # backoff on NEW documents: unseen bigram with seen left word
    # scores ln(U+V) - ln(1); fully unseen left scores ln(V) - ln(1)
    bigram_u_b, left_u, v = model
    seen_w1 = next(iter(left_u))
    nov = spark.createDataFrame(
        [(0, f"{seen_w1} zzzznever"), (1, "zzzznever zzzzagain")],
        "doc_id long, text string",
    ).select("doc_id", scorer(F.col("text")).alias("s"))
    rows = {r["doc_id"]: r["s"] for r in nov.collect()}
    assert rows[0]["nll"] == pln_py(left_u[seen_w1] + v)
    assert rows[1]["nll"] == pln_py(v)


def test_dsir_weights_null_lang_counts_as_nontarget(spark):
    # a bucket whose occurrences all come from NULL-lang docs must
    # count ct=0 (like the oracle's CASE arm), not poison the sum to
    # NULL and break the target_mass >= n_bigrams smoothing invariant
    from wikitrender_spark.plans.pipeline_queries import dsir_weights

    d = spark.createDataFrame(
        [
            (0, "nullish words here", None, "src", 18),
            (1, "alpha beta gamma", "en", "src", 16),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {r["doc_id"]: r for r in dsir_weights(d).collect()}
    for i in (0, 1):
        assert rows[i]["target_mass"] >= rows[i]["n_bigrams"] > 0, i
        assert rows[i]["raw_mass"] >= rows[i]["n_bigrams"], i
    assert rows[1]["weight"] > rows[0]["weight"]


def test_bpe_encode_oracle_handles_short_merge_table(spark, tmp_path):
    """Review r14: a corpus with FEWER than BPE_TOP_PAIRS distinct
    adjacent pairs makes the trainer's LIMIT return a short table; the
    oracle's recursion then stops at rank count(*) — it must select
    that frontier, not the hardcoded rank 20 (which silently returned
    ZERO rows while the Spark side still encoded every doc). Pin
    Spark == oracle on such a corpus end-to-end. The corpus also
    carries a ZERO-TOKEN document (ADVICE r14): DuckDB
    array_to_string([], '@') is NULL, so without the base CTE's
    COALESCE the oracle returned (NULL, NULL) where the Spark contract
    says (0, '')."""
    import duckdb
    import pandas as pd

    from wikitrender_spark.plans import pipeline_queries as P

    rows = [
        (0, "ab ab ab", "en", "src", 8),
        (1, "abc a b", "en", "src", 7),
        (2, "bc bc", "en", "src", 5),
        (3, "   ", "en", "src", 3),  # whitespace-only: zero tokens
    ]  # distinct adjacent pairs: ab, bc — far fewer than 20
    cols = "doc_id long, text string, lang string, source string, n_chars long"
    sf_dir = str(tmp_path / "sf")
    spark.createDataFrame(rows, cols).coalesce(1).write.parquet(
        str(tmp_path / "sf" / "documents.parquet")
    )
    merges = P.q_bpe_merges(spark, sf_dir).collect()
    assert 0 < len(merges) < P.BPE_TOP_PAIRS  # genuinely short table
    got = sorted(
        (r["doc_id"], r["n_syms"], r["encoded"])
        for r in P.q_bpe_encode(spark, sf_dir).collect()
    )
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source",
                                    "n_chars"]),
    )
    want = sorted(
        (int(d), int(n), e)
        for d, n, e in con.sql(P.BPE_ENCODE_SQL).fetchall()
    )
    assert got == want
    assert len(got) == 4  # every doc encoded, none silently dropped
    # spot semantics: merge table is [ab, bc] by count; "abc" applies
    # ab first (rank 1), so bc never fires inside it
    by_id = {d: e for d, _n, e in got}
    assert by_id[0] == "ab ab ab"
    assert by_id[1] == "ab c a b"
    assert by_id[2] == "bc bc"
    # the degenerate class both engines must agree on: (0, '')
    assert [(n, e) for d, n, e in got if d == 3] == [(0, "")]
