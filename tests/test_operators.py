"""Extension-operator behavior on controlled inputs (the oracle gate
covers cross-engine parity; these pin semantics)."""

from pyspark.sql import functions as F

from securities_data_pipeline_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingles_col,
    simhash_col,
)
from securities_data_pipeline_spark.operators.multimodal import (
    decode_stub,
    documents_as_media,
    extract_features,
)
from securities_data_pipeline_spark.operators.textops import (
    fingerprint,
    lang_id,
    token_count,
)

import pytest

DOCS = "doc_id long, text string, source string"


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOCS)


def test_token_count_and_fingerprint_normalization(spark):
    df = _docs(spark, [(1, "  Hello   World ", "s"), (2, "hello world", "s")])
    out = {r.doc_id: r for r in df.select("doc_id", token_count().alias("n"), fingerprint().alias("fp")).collect()}
    assert out[1].n == 2
    # case + whitespace normalization → identical fingerprints
    assert out[1].fp == out[2].fp


def test_shingles(spark):
    df = _docs(spark, [(1, "a b c d", "s"), (2, "a b", "s")])
    out = {r.doc_id: r.sh for r in df.select("doc_id", shingles_col().alias("sh")).collect()}
    assert sorted(out[1]) == ["a b c", "b c d"]
    assert out[2] == ["a b"]  # shorter than k → single short shingle


def test_minhash_identical_docs_identical_signatures(spark):
    df = _docs(spark, [(1, "the quick brown fox jumps", "s"),
                       (2, "the quick brown fox jumps", "s"),
                       (3, "completely different words here now", "s")])
    sig = {r.doc_id: tuple(r)[1:] for r in minhash_signatures(df).collect()}
    assert sig[1] == sig[2]
    assert sig[1] != sig[3]


def test_lsh_pairs_find_exact_dups_and_skip_distinct(spark):
    df = _docs(spark, [(1, "the quick brown fox jumps over the lazy dog", "s"),
                       (2, "the quick brown fox jumps over the lazy dog", "s"),
                       (3, "entirely unrelated text with other tokens present", "s")])
    pairs = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(df).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_simhash_identical_for_same_word_set(spark):
    # distinct-word based: word order / duplication must not matter
    from pyspark.sql import functions as F

    from securities_data_pipeline_spark.functions.hashing import seeded_hash64
    from securities_data_pipeline_spark.operators.textops import words_col

    df = _docs(spark, [(1, "alpha beta gamma", "s"), (2, "gamma alpha beta alpha", "s")])
    hashed = df.select(
        "doc_id",
        F.transform(F.array_distinct(words_col()), lambda w: seeded_hash64(w, 0)).alias("_swh"),
    )
    out = {r.doc_id: r.sh for r in hashed.select("doc_id", simhash_col().alias("sh")).collect()}
    assert out[1] == out[2]
    assert 0 <= out[1] < 2**16


def test_ngram_jaccard_pairs_blocked_and_thresholded(spark):
    df = _docs(spark, [
        (1, "w1 w2 w3 w4 w5 w6", "blockA"),
        (2, "w1 w2 w3 w4 w5 zz", "blockA"),   # high overlap, same block
        (3, "w1 w2 w3 w4 w5 w6", "blockB"),   # identical text, different block
        (4, "q1 q2 q3 q4 q5 q6", "blockA"),   # no overlap
    ])
    out = {(r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard_pairs(df).collect()}
    assert (1, 2) in out and 0 < out[(1, 2)] < 1
    assert (1, 3) not in out  # blocking: cross-block pairs never compared
    assert all(4 not in k for k in out)


def test_decode_stub_modes():
    feat = decode_stub(b"some payload bytes", "text/plain")
    assert len(feat) == 8 and all(isinstance(x, float) for x in feat)
    assert feat == decode_stub(b"some payload bytes", "text/plain")  # deterministic
    with pytest.raises(NotImplementedError):
        decode_stub(b"x", "image/png", strict=True)


def test_extract_features_plumbing(spark):
    media = documents_as_media(spark, "/root/testdata/sf0.001")
    out = extract_features(media.limit(20))
    rows = out.collect()
    assert len(rows) == 20
    assert out.columns == ["doc_id", "media_type", "n_bytes", "feature"]
    r = rows[0]
    assert r.n_bytes > 0 and len(r.feature) == 8


def test_lang_id_deterministic_priority(spark):
    df = _docs(spark, [(1, "the value fast a", "s"), (2, "xyz pqr", "s")])
    out = {r.doc_id: r.lang for r in df.select("doc_id", lang_id().alias("lang")).collect()}
    assert out[1] == "en"
    assert out[2] == "und"


def test_embedding_cosine_pairs_finds_planted_dup(spark):
    from securities_data_pipeline_spark.operators.similarity import (
        EMB_DIM,
        embedding_cosine_pairs,
    )

    base = [1.0] + [0.0] * (EMB_DIM - 1)
    near = [1.0, 0.05] + [0.0] * (EMB_DIM - 2)   # cosine ≈ 0.999
    anti = [-1.0] + [0.0] * (EMB_DIM - 1)        # cosine = -1, opposite bits
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, anti)], "vec_id long, embedding array<float>"
    )
    out = {(r.vec_a, r.vec_b): r.sim for r in embedding_cosine_pairs(df).collect()}
    assert (1, 2) in out and out[(1, 2)] > 0.99
    assert all(3 not in k for k in out)


def test_resize_stub_edge_cases():
    from securities_data_pipeline_spark.operators.multimodal import resize_stub

    assert resize_stub(b"", "image/png", 16) == b"\x00" * 16
    assert resize_stub(b"abc", "image/png", 8) == b"abcabcab"  # cycle up
    assert resize_stub(b"0123456789", "image/png", 4) == b"0123"  # truncate
    assert len(resize_stub(b"x" * 500, "image/png")) == 128


def test_frame_sample_short_doc_one_frame(spark):
    from securities_data_pipeline_spark.operators.multimodal import (
        documents_as_media,
        frame_sample,
    )

    docs = _docs(spark, [(1, "short text", "s")]).withColumn("lang", F.lit("en")).withColumn(
        "n_chars", F.length("text")
    )
    media = docs.select(
        "doc_id",
        F.lit("text/plain").alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("n_frames"),
        ).alias("meta"),
    )
    rows = frame_sample(media).collect()
    # 10 bytes -> 1 frame (idx 0); digest of the whole payload
    assert len(rows) == 1 and rows[0].frame_idx == 0


def test_resize_media_preserves_rows_updates_meta(spark):
    from securities_data_pipeline_spark.operators.multimodal import (
        RESIZE_BYTES,
        resize_media,
    )

    media = documents_as_media(spark, "/root/testdata/sf0.001").limit(7)
    out = resize_media(media).collect()
    assert len(out) == 7
    assert all(len(r.payload) == RESIZE_BYTES and r.meta.width == RESIZE_BYTES for r in out)


def test_ivf_multiprobe_recall_vs_bruteforce(spark):
    from securities_data_pipeline_spark.operators.similarity import (
        sim_bruteforce_topk,
        sim_ivf_topk,
    )

    sf = "/root/testdata/sf0.001"
    bf = {(r.query_id, r.vec_id) for r in sim_bruteforce_topk(spark, sf).collect()}
    ivf = {(r.query_id, r.vec_id) for r in sim_ivf_topk(spark, sf).collect()}
    recall = len(bf & ivf) / len(bf)
    # deterministic corpus + deterministic centroids -> stable value
    # (0.96 at sf0.001); the floor guards against silent probe loss
    assert recall >= 0.9, f"IVF multiprobe recall@10 degraded: {recall}"


def test_ivf_probe_curve_monotone_and_consistent_with_topk(spark):
    """The tuning curve must be cumulative (hits, scanned rows, and
    both ratios non-decreasing in p), priced against the real corpus
    (scanned_share in (0, 1], hits ≤ truth size), and CONSISTENT with
    the serving tier: at p = N_PROBES, the bucket-reachable hit count
    equals |sim_ivf_topk ∩ exact top-k| — a probed true neighbor
    always outranks every non-true candidate, so reachability and
    retrieval coincide (deterministic corpus, 6-dp tie-break on
    vec_id)."""
    from securities_data_pipeline_spark.operators.similarity import (
        N_PROBES,
        sim_bruteforce_topk,
        sim_ivf_probe_curve,
        sim_ivf_topk,
    )

    sf = "/root/testdata/sf0.001"
    curve = sorted(
        (r.n_probes, r.n_hits, r.mean_recall, r.scanned_rows, r.scanned_share)
        for r in sim_ivf_probe_curve(spark, sf).collect()
    )
    assert [c[0] for c in curve] == list(range(1, 9))
    for prev, cur in zip(curve, curve[1:]):
        assert cur[1] >= prev[1] and cur[3] >= prev[3]
        assert cur[2] >= prev[2] and cur[4] >= prev[4]
    bf = {(r.query_id, r.vec_id) for r in sim_bruteforce_topk(spark, sf).collect()}
    assert all(0 < c[4] <= 1 and c[1] <= len(bf) for c in curve)
    ivf = {(r.query_id, r.vec_id) for r in sim_ivf_topk(spark, sf).collect()}
    at_serving = next(c for c in curve if c[0] == N_PROBES)
    assert at_serving[1] == len(bf & ivf)


def test_connected_components_path_and_singleton(spark):
    from securities_data_pipeline_spark.operators.dedup import connected_components

    edges = spark.createDataFrame([(2, 3), (3, 4), (8, 9)], "doc_a long, doc_b long")
    nodes = spark.createDataFrame([(2,), (3,), (4,), (7,), (8,), (9,)], "doc_id long")
    got = {r.doc_id: r.component for r in connected_components(edges, nodes).collect()}
    # path 2-3-4 collapses to min=2 (needs >1 propagation round),
    # 8-9 to 8, isolated 7 stays itself
    assert got == {2: 2, 3: 2, 4: 2, 7: 7, 8: 8, 9: 8}


def test_star_contraction_matches_propagation_and_handles_long_chain(spark):
    from securities_data_pipeline_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    # same shape as the propagation test: two components + singleton
    edges = spark.createDataFrame([(2, 3), (3, 4), (8, 9)], "doc_a long, doc_b long")
    nodes = spark.createDataFrame([(2,), (3,), (4,), (7,), (8,), (9,)], "doc_id long")
    got = {r.doc_id: r.component for r in connected_components_star(edges, nodes).collect()}
    assert got == {2: 2, 3: 2, 4: 2, 7: 7, 8: 8, 9: 8}

    # worst case for propagation: a 60-node path has diameter 59, so
    # min-label propagation needs 59 rounds (max_iter=8 must raise);
    # star contraction halves chain length per round and finishes in
    # O(log n) — 8 rounds are ample. Also checks duplicate/reversed
    # input edges and string ids (lexicographic min).
    chain = [(f"d{i:03d}", f"d{i + 1:03d}") for i in range(59)]
    chain += [(b, a) for a, b in chain[:5]]  # reversed duplicates
    edges = spark.createDataFrame(chain, "doc_a string, doc_b string")
    nodes = spark.createDataFrame(
        [(f"d{i:03d}",) for i in range(60)], "doc_id string"
    )
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(edges, nodes, max_iter=8)
    got = {
        r.doc_id: r.component
        for r in connected_components_star(edges, nodes, max_iter=8).collect()
    }
    assert got == {f"d{i:03d}": "d000" for i in range(60)}


def test_asof_join_rejects_payload_name_collision(spark):
    from securities_data_pipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10)], "k long, ts long")
    right = spark.createDataFrame([(1, 5)], "k long, ts long")
    with pytest.raises(ValueError, match="collide"):
        asof_join(left, right, on="k", left_time="ts", right_time="ts",
                  payload_cols=["ts"])


def test_connected_components_raises_on_non_convergence(spark):
    from securities_data_pipeline_spark.operators.dedup import connected_components

    # a 6-node chain needs 5 propagation hops; max_iter=3 must raise,
    # never silently return split components
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "doc_a long, doc_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(edges, nodes, max_iter=3)


def test_lsh_pairs_rejects_indivisible_bands(spark):
    from securities_data_pipeline_spark.operators.dedup import lsh_candidate_pairs

    docs = _docs(spark, [(1, "a b c", "s")])
    with pytest.raises(ValueError, match="divide"):
        lsh_candidate_pairs(docs, bands=3, n_hashes=8)


def test_lsh_topk_recall_and_candidate_reduction(spark):
    from securities_data_pipeline_spark.operators.similarity import (
        ANN_BANDS,
        ANN_BITS,
        hyperplane_band_keys,
        sim_bruteforce_topk,
        sim_lsh_topk,
    )
    from securities_data_pipeline_spark.sources.tables import table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    bf = {(r.query_id, r.vec_id) for r in sim_bruteforce_topk(spark, sf).collect()}
    lsh = {(r.query_id, r.vec_id) for r in sim_lsh_topk(spark, sf).collect()}
    recall = len(bf & lsh) / len(bf)
    # deterministic hyperplanes -> stable value (0.76 at sf0.001); the
    # floor guards against band-packing regressions
    assert recall >= 0.7, f"LSH recall@10 degraded: {recall}"

    # candidate fraction: sharing >=1 of the 12 four-bit bands must
    # prune, not degenerate to the full cross product
    emb = table(spark, sf, "embeddings")
    n = emb.count()
    banded = hyperplane_band_keys(emb, bits=ANN_BITS, bands=ANN_BANDS)
    qb = banded.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "band", "key"
    )
    n_cand = (
        qb.join(banded, ["band", "key"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
        .count()
    )
    assert n_cand < 0.7 * 5 * n, f"LSH candidates {n_cand} ~ cross product"


def test_idf_monotone_and_bounded(spark):
    import math

    from securities_data_pipeline_spark.operators.textops import t_idf_top_terms

    rows = t_idf_top_terms(spark, "/root/testdata/sf0.001").collect()
    assert 0 < len(rows) <= 20
    # df desc ordering, idf = ln(N/df) non-negative and increasing as df falls
    dfs = [r.df for r in rows]
    assert dfs == sorted(dfs, reverse=True)
    assert all(r.idf >= 0 for r in rows)
    idfs = [r.idf for r in rows]
    assert idfs == sorted(idfs)


def test_resolve_duplicates_keeps_min_representative(spark):
    from securities_data_pipeline_spark.operators.dedup import resolve_duplicates

    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (9, 9), (10, 9)],
        "doc_id long, component long",
    )
    got = {r.doc_id: (r.cluster_size, r.n_removed) for r in resolve_duplicates(labels).collect()}
    assert got == {1: (3, 2), 7: (1, 0), 9: (2, 1)}


def test_vocab_ranks_by_frequency(spark, tmp_path):
    from securities_data_pipeline_spark.operators.textops import t_vocab

    docs = spark.createDataFrame(
        [(1, "aa bb aa cc aa bb", "en", "s", 17), (2, "bb dd", "en", "s", 5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    out = {r.token: (r.n_occurrences, r.token_id) for r in t_vocab(spark, str(tmp_path)).collect()}
    assert out == {"aa": (3, 1), "bb": (3, 2), "cc": (1, 3), "dd": (1, 4)}


def test_quantize_bounds_and_saturation(spark):
    """sim_quantize reads through the embedding_ok admission gate
    (EMB_DIM components, finite, non-zero — the fuzz-derived contract),
    so the fixture uses gate-conformant 64-dim vectors and asserts the
    zero vector is quarantined rather than quantized."""
    from securities_data_pipeline_spark.operators.similarity import (
        EMB_DIM,
        SIMILARITY_QUERIES,
    )
    import tempfile, os

    v0 = [1.0, -0.5, 0.25] + [0.0] * (EMB_DIM - 3)
    with tempfile.TemporaryDirectory() as d:
        emb = spark.createDataFrame(
            [(0, v0, "a"), (1, [0.0] * EMB_DIM, "b")],
            "vec_id long, embedding array<float>, label string",
        )
        emb.write.parquet(os.path.join(d, "embeddings.parquet"))
        rows = {r.vec_id: r for r in SIMILARITY_QUERIES["sim_quantize"](spark, d).collect()}
    # vec 0: scale = 1.0, exactly one saturated element (the max), small error
    assert rows[0].scale == 1.0 and rows[0].n_saturated == 1
    assert 0 <= rows[0].recon_err < 1 / 127
    # the all-zero vector fails the admission gate: filtered, not emitted
    assert set(rows) == {0}


def test_simhash_pairs_find_identical_docs(spark, tmp_path):
    from securities_data_pipeline_spark.operators.dedup import (
        HAMMING_MAX,
        dedup_simhash_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon", "en", "s", 30),
            (2, "alpha beta gamma delta epsilon", "en", "s", 30),
            (3, "zq xv wk jm pn qr st uv", "en", "s", 23),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    rows = dedup_simhash_pairs(spark, str(tmp_path)).collect()
    got = {(r.doc_a, r.doc_b): r.hamming for r in rows}
    assert got[(1, 2)] == 0
    assert all(a < b for a, b in got)
    assert all(h <= HAMMING_MAX for h in got.values())


def test_minhash_estimate_calibration(spark):
    from securities_data_pipeline_spark.operators.dedup import dedup_minhash_estimate

    out = dedup_minhash_estimate(spark, "/root/testdata/sf0.001").collect()
    assert out  # the synthetic corpus contains near-dup pairs
    for r in out:
        assert 0.0 <= r.est_jaccard <= 1.0
        assert 0.0 <= r.exact_jaccard <= 1.0
    # identical documents must estimate exactly 1.0: all slots agree
    ident = [r for r in out if r.exact_jaccard == 1.0]
    assert all(r.est_jaccard == 1.0 for r in ident)


def test_weighted_mean_udaf_matches_jvm_aggregate(spark):
    from securities_data_pipeline_spark.operators.grouped import g_weighted_mean_udaf
    from securities_data_pipeline_spark.sources.tables import table

    SF = "/root/testdata/sf0.001"
    got = {r.user_id: (r.n_events, r.wmean_value) for r in g_weighted_mean_udaf(spark, SF).collect()}
    ev = table(spark, SF, "events").select(
        "user_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("vm"),
        ((F.col("event_id") % 10) + 1).cast("long").alias("w"),
    )
    exp = {
        r.user_id: (r.n, r.m)
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (
                F.sum(F.col("vm") * F.col("w")).cast("double")
                / F.sum("w").cast("double")
                / F.lit(100.0)
            ).alias("m"),
        )
        .collect()
    }
    assert got == exp  # bit-identical: integer sums, same division order


def test_udtf_token_positions_matches_posexplode(spark):
    from securities_data_pipeline_spark.operators.grouped import udtf_token_positions
    from securities_data_pipeline_spark.operators.textops import words_col
    from securities_data_pipeline_spark.sources.tables import table

    SF = "/root/testdata/sf0.001"
    got = sorted(tuple(r) for r in udtf_token_positions(spark, SF).collect())
    exp = sorted(
        tuple(r)
        for r in table(spark, SF, "documents")
        .select("doc_id", F.posexplode(words_col()).alias("pos", "token"))
        .collect()
    )
    assert got == exp


def test_bucket_cap_drops_pathological_buckets(spark):
    from securities_data_pipeline_spark.operators.dedup import (
        MAX_BUCKET,
        banded_signatures,
        bucket_pairs,
        minhash_signatures,
    )

    # 20 identical docs (> MAX_BUCKET) + 2 identical docs: the cap must
    # drop the boilerplate bucket's 190 pairs but keep the small dup pair
    rows = [(i, "the same boilerplate header text repeated everywhere", "s") for i in range(20)]
    rows += [(100, "a genuinely rare near duplicate pair of documents", "s"),
             (101, "a genuinely rare near duplicate pair of documents", "s")]
    docs = _docs(spark, rows)
    banded = banded_signatures(minhash_signatures(docs), 4)
    uncapped = {(r.doc_a, r.doc_b) for r in bucket_pairs(banded).collect()}
    capped = {(r.doc_a, r.doc_b) for r in bucket_pairs(banded, max_bucket=MAX_BUCKET).collect()}
    assert (100, 101) in uncapped and (100, 101) in capped
    assert (0, 1) in uncapped and (0, 1) not in capped
    assert len(capped) < len(uncapped)


def test_ngram_jaccard_cap_drops_hot_shingle_pairs(spark):
    """The capped exact-Jaccard tier: a shingle appearing in > MAX_BUCKET
    docs (boilerplate) must not generate pairs by itself, while pairs
    sharing rare shingles survive with their (conservative) capped
    score."""
    from securities_data_pipeline_spark.operators.dedup import MAX_BUCKET

    # MAX_BUCKET+4 docs that share ONLY one hot boilerplate shingle
    # (3-word prefix) + distinct tails, plus one genuine near-dup pair
    hot = [
        (i, f"common header shingle unique{i}a unique{i}b unique{i}c", "s")
        for i in range(MAX_BUCKET + 4)
    ]
    dup = [
        (100, "rare document body that matches almost entirely here", "s"),
        (101, "rare document body that matches almost entirely there", "s"),
    ]
    docs = _docs(spark, hot + dup)
    uncapped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.01).collect()
    }
    capped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.01, max_bucket=MAX_BUCKET).collect()
    }
    assert (0, 1) in uncapped and (0, 1) not in capped  # hot-only pair gone
    assert (100, 101) in capped  # rare-shingle pair survives
    assert capped[(100, 101)] <= uncapped[(100, 101)]  # conservative


def test_pii_scan_detects_and_masks(spark):
    from securities_data_pipeline_spark.operators.boilerplate import pii_scan

    df = spark.createDataFrame(
        [
            (1, "call 555123 or mail bob.smith@example.com today"),
            (2, "ids 1234 and 99, short 12 stays"),
            (3, "clean text only"),
        ],
        "id long, body string",
    )
    out = {r.id: r for r in pii_scan(df, "body", ["id"]).collect()}
    assert (out[1].n_num_id, out[1].n_email) == (1, 1)
    assert out[1].masked == "call <NUM> or mail <EMAIL> today"
    assert (out[2].n_num_id, out[2].n_email) == (1, 0)
    assert out[2].masked == "ids <NUM> and 99, short 12 stays"
    assert out[3].masked == "clean text only"


def test_pii_scan_masks_email_before_digits(spark):
    """Pattern order: an email whose local-part contains a digit run
    must mask as ONE <EMAIL>, not leak 'john<NUM>@domain' fragments."""
    from securities_data_pipeline_spark.operators.boilerplate import pii_scan

    df = spark.createDataFrame([(1, "reach john1234@example.com now")], "id long, body string")
    r = pii_scan(df, "body", ["id"]).first()
    assert r.masked == "reach <EMAIL> now"
    assert r.n_email == 1


def test_heavy_hitters_candidates_bounded_and_exact(spark):
    """The MG SKETCH stage itself stays ≤ capacity per partition even
    under adversarial load, its candidate union covers the true head,
    and the final top-N equals the exact vocabulary head."""
    from securities_data_pipeline_spark.operators.textops import (
        HH_TOPN,
        mg_candidates,
        t_heavy_hitters,
        t_vocab,
        token_stream,
    )

    SF = "/root/testdata/sf0.001"
    hh = t_heavy_hitters(spark, SF).collect()
    assert len(hh) == HH_TOPN
    got = [(r.token, r.n_occurrences) for r in sorted(hh, key=lambda r: r.rank)]
    vocab = {r.token_id: (r.token, r.n_occurrences) for r in t_vocab(spark, SF).collect()}
    exact = [vocab[i] for i in range(1, HH_TOPN + 1)]
    assert got == exact
    # bound the ACTUAL sketch output, not the top-N tail: stream 500
    # distinct tokens per partition through capacity-8 summaries — the
    # union must stay ≤ capacity × partitions, and the planted heavy
    # hitter (freq > n/capacity everywhere) must survive
    n_parts = 4
    rows = [(f"t{i % 500}",) for i in range(4000)] + [("HOT",)] * 4000
    toks = spark.createDataFrame(rows, "token string").repartition(n_parts)
    cand = [r.token for r in mg_candidates(toks, capacity=8).collect()]
    assert len(cand) <= 8 * n_parts
    assert "HOT" in cand


def test_heavy_hitters_guard_raises_when_condition_violated(spark, tmp_path):
    """The exactness conditions (full candidate coverage OR rank-N
    frequency > total/(C+1)) are asserted at runtime: a flat
    distribution over a vocabulary ≫ capacity satisfies neither, and
    the guard must trip loudly rather than return a
    partitioning-dependent top-N. (The small-vocab sf corpora take the
    full-coverage escape and never raise — pinned by
    test_heavy_hitters_candidates_bounded_and_exact.)"""
    import pytest as _pytest

    from securities_data_pipeline_spark.operators import textops

    # 400 docs × 5 words, uniform 1000-token vocabulary → every
    # frequency ≈ 2 ≤ total/(64+1) ≈ 30, and MG(64) evicts constantly
    # so candidates cover only a fraction of occurrences
    rows = [
        (i, " ".join(f"tok{(i * 5 + j) % 1000}" for j in range(5)))
        for i in range(400)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    with _pytest.raises(RuntimeError, match="exactness condition"):
        textops.t_heavy_hitters(spark, str(tmp_path))


def test_bigram_logprob_sees_word_order(spark):
    """The point of the bigram tier: two docs with the SAME token
    multiset but different order must score differently (a unigram LM
    cannot distinguish them), and the one made of the corpus-dominant
    pair must score higher."""
    from securities_data_pipeline_spark.operators.textops import bigram_logprob

    # corpus dominated by the pair (a b); doc 2 is doc 1 scrambled
    rows = [(i, "a b a b a b a b", "s") for i in range(10)]
    rows += [(100, "a b a b a b", "s"), (101, "b b b a a a", "s")]
    docs = _docs(spark, rows)
    out = {r.doc_id: r for r in bigram_logprob(docs).collect()}
    assert out[100].n_bigrams == out[101].n_bigrams == 5
    assert out[100].avg_logprob > out[101].avg_logprob


def test_pq_rerank_recall_and_code_compression(spark):
    """PQ pipeline contract: the ADC shortlist + exact re-rank must
    hold ≥0.4 of the exact top-10 (measured ~0.5-0.6 on this
    near-random corpus — its worst case, like LSH), and raw-ADC top-k
    must rank by the quantized distance deterministically (two runs
    identical)."""
    from securities_data_pipeline_spark.operators.similarity import (
        sim_bruteforce_topk,
        sim_pq_rerank_topk,
        sim_pq_topk,
    )

    sf = "/root/testdata/sf0.001"
    bf = {}
    for r in sim_bruteforce_topk(spark, sf).collect():
        bf.setdefault(r.query_id, set()).add(r.vec_id)
    rr = {}
    for r in sim_pq_rerank_topk(spark, sf).collect():
        rr.setdefault(r.query_id, set()).add(r.vec_id)
    recall = sum(len(bf[q] & rr[q]) for q in bf) / sum(len(bf[q]) for q in bf)
    assert recall >= 0.4, f"PQ rerank recall@10 degraded: {recall}"

    a = sorted(tuple(r) for r in sim_pq_topk(spark, sf).collect())
    b = sorted(tuple(r) for r in sim_pq_topk(spark, sf).collect())
    assert a == b and len(a) == 50  # 5 queries x top-10, run-stable


def test_recall_contracts_hold_at_test_scale(spark):
    """VERDICT r4 #5: every ANN tier carries a driver-checkable recall
    contract. At sf0.001 all per-query recall_ok booleans must be TRUE
    (floors sit below the measured minima: LSH 0.6, PQ 0.2, IVF ~0.9
    at this SF)."""
    from securities_data_pipeline_spark.operators.similarity import (
        sim_ivf_recall,
        sim_lsh_recall,
        sim_pq_recall,
    )

    sf = "/root/testdata/sf0.001"
    for fn in (sim_ivf_recall, sim_lsh_recall, sim_pq_recall):
        rows = fn(spark, sf).collect()
        assert len(rows) == 5
        assert all(r.recall_ok for r in rows), (fn.__name__, rows)
        assert all(r.k == 10 for r in rows)


def test_soft_weights_sum_to_component_count(spark):
    """SoftDeDup invariant: per-cluster weights sum to ~1 (each cluster
    contributes one document's worth of training mass), so the total
    weight equals the number of components."""
    from securities_data_pipeline_spark.operators.dedup import dedup_soft_weights

    rows = dedup_soft_weights(spark, "/root/testdata/sf0.001").collect()
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r.component, []).append(r)
    for comp, members in by_comp.items():
        size = members[0].cluster_size
        assert len(members) == size
        assert all(abs(m.weight - 1.0 / size) < 2e-6 for m in members)
    total = sum(r.weight for r in rows)
    assert abs(total - len(by_comp)) < 1e-3 * len(by_comp)


def test_mmr_rerank_properties(spark):
    """MMR invariants: rank-1 equals the plain top-1 (no diversity
    penalty on the first pick), exactly MMR_K distinct picks per query
    from inside the pool, deterministic across runs, and the selection
    is relevance-bounded: every pick's relevance is within the pool."""
    from securities_data_pipeline_spark.operators.similarity import (
        MMR_K,
        sim_bruteforce_topk,
        sim_mmr_rerank,
    )

    sf = "/root/testdata/sf0.001"
    mmr = sim_mmr_rerank(spark, sf).collect()
    by_q = {}
    for r in mmr:
        by_q.setdefault(r.query_id, []).append(r)
    bf_top1 = {
        r.query_id: r.vec_id
        for r in sim_bruteforce_topk(spark, sf).collect()
        if r.rank == 1
    }
    assert set(by_q) == set(bf_top1)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.mmr_rank)
        assert [r.mmr_rank for r in rows] == list(range(1, MMR_K + 1))
        assert len({r.vec_id for r in rows}) == MMR_K
        assert rows[0].vec_id == bf_top1[q]  # first pick = plain top-1
    again = {(r.query_id, r.mmr_rank, r.vec_id) for r in sim_mmr_rerank(spark, sf).collect()}
    assert again == {(r.query_id, r.mmr_rank, r.vec_id) for r in mmr}


def test_ivfpq_composite_recall_and_determinism(spark):
    """Composite IVF-PQ contract: coarse probe + residual-PQ ADC +
    exact re-rank holds ≥0.4 of the exact top-10 overall (measured
    0.64 at this SF — per-query 3-10/10 on this near-uniform corpus,
    PQ's documented worst case), returns exactly top-k per query with
    the query itself excluded, and is run-stable (fixed roster/codebook
    + deterministic tie-breaks)."""
    from securities_data_pipeline_spark.operators.similarity import sim_bruteforce_topk
    from securities_data_pipeline_spark.operators.similarity_ivfpq import (
        _ivfpq_state,
        sim_ivfpq_rerank_topk,
    )

    sf = "/root/testdata/sf0.001"
    bf = {}
    for r in sim_bruteforce_topk(spark, sf).collect():
        bf.setdefault(r.query_id, set()).add(r.vec_id)
    a = sorted(tuple(r) for r in sim_ivfpq_rerank_topk(spark, sf).collect())
    b = sorted(tuple(r) for r in sim_ivfpq_rerank_topk(spark, sf).collect())
    assert a == b and len(a) == 50  # 5 queries x top-10, run-stable
    got = {}
    for q, rank, v, label, sim in a:
        assert v != q
        got.setdefault(q, set()).add(v)
    assert all(len(vs) == 10 for vs in got.values())
    recall = sum(len(bf[q] & got[q]) for q in bf) / sum(len(bf[q]) for q in bf)
    assert recall >= 0.4, f"IVF-PQ recall@10 degraded: {recall}"

    # residual invariant: a donor that IS a coarse centroid (vec 0 is
    # both donor 0 and centroid 0) has the zero residual as its
    # codebook entry — the "no residual" code
    roster, rcb, probes = _ivfpq_state(spark, sf)
    assert all(x == 0.0 for x in rcb[0])
    assert len(probes) == 5 * min(8, len(roster))


def test_cms_one_sided_guarantee_and_width_collisions(spark):
    """CMS contract: estimates never undercount (min over D rows of
    colliding cell mass), the probe set is exactly the top-N, and at
    the deliberately narrow width the sketch really does collide on
    this corpus at sf0.01+ (an always-exact sketch would mean the
    width swallowed the vocabulary and the demo proves nothing)."""
    from securities_data_pipeline_spark.operators.textops import (
        HH_TOPN,
        t_cms_heavy_hitters,
    )

    rows = t_cms_heavy_hitters(spark, "/root/testdata/sf0.01").collect()
    assert len(rows) == HH_TOPN
    assert all(r.cms_n >= r.exact_n for r in rows)
    assert all(r.overestimate_ok for r in rows)
    assert any(r.cms_n > r.exact_n for r in rows)  # collisions observed


def test_wide_simhash_banding_is_exact_for_radius_3(spark):
    """Pigeonhole completeness for the production geometry (r7): with
    4 bands over the 60-bit sketch, EVERY pair at Hamming distance <= 3
    must collide on at least one intact band and appear in the output;
    pairs beyond the radius must be excluded by the verify filter even
    when a band collides. Exercised directly on synthetic sketches so
    the property is tested at exact distances, not corpus luck."""
    import random

    from securities_data_pipeline_spark.operators.dedup import (
        HAMMING_WIDE_MAX,
        SIMHASH_WIDE_BANDS,
        SIMHASH_WIDE_BITS,
        simhash_hamming_pairs,
    )

    rng = random.Random(13)
    base = rng.getrandbits(SIMHASH_WIDE_BITS - 1)  # keep bit 59 clear -> positive
    rows = [(0, base)]
    expected = set()
    nid = 1
    # flip exactly d bits for d = 1..6: d <= 3 must pair with doc 0
    for d in range(1, 7):
        for _ in range(8):
            bits = rng.sample(range(SIMHASH_WIDE_BITS - 1), d)
            v = base
            for b in bits:
                v ^= 1 << b
            rows.append((nid, v))
            if d <= HAMMING_WIDE_MAX:
                expected.add((0, nid))
            nid += 1
    sig = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r.doc_a, r.doc_b)
        for r in simhash_hamming_pairs(
            sig,
            bits=SIMHASH_WIDE_BITS,
            bands=SIMHASH_WIDE_BANDS,
            hamming_max=HAMMING_WIDE_MAX,
        ).collect()
    }
    # completeness: every within-radius pair against doc 0 is present
    assert expected <= got
    # soundness: nothing beyond the radius survives the verify filter
    far = {nid for nid, v in rows if bin(v ^ base).count("1") > HAMMING_WIDE_MAX}
    assert not any(a == 0 and b in far for a, b in got)


def test_kmeans_train_matches_pure_python_lloyd(spark):
    """sim_kmeans_train must equal a from-scratch Python Lloyd trainer
    over the same gated corpus, replicating the operator's documented
    semantics exactly: cosine rounded to 6 dp, first-strictly-greater
    argmax over the id-ascending roster (= sim DESC, id ASC row 1),
    DECIMAL(27,10) per-dimension sums with HALF_UP quantization, and
    the empty-cluster keep-previous fallback."""
    from decimal import ROUND_HALF_UP, Decimal

    from securities_data_pipeline_spark.operators.similarity import (
        CENTROID_STRIDE,
        KMEANS_ROUNDS,
        N_CENTROIDS_CAP,
        emb_table,
        kmeans_train_roster,
        sim_kmeans_train,
    )

    sf = "/root/testdata/sf0.001"
    rows = [
        (r.vec_id, [float(x) for x in r.embedding])
        for r in emb_table(spark, sf).select("vec_id", "embedding").collect()
    ]

    def r6(v):
        return float(Decimal(v).quantize(Decimal("1e-6"), ROUND_HALF_UP))

    def d10(v):
        return Decimal(v).quantize(Decimal("1e-10"), ROUND_HALF_UP)

    def cos(a, b):
        dot = 0.0
        for x, y in zip(a, b):
            dot += x * y
        na = 0.0
        for x in a:
            na += x * x
        nb = 0.0
        for y in b:
            nb += y * y
        import math

        return r6(dot / (math.sqrt(na) * math.sqrt(nb)))

    cents = {
        vid: list(vec)
        for vid, vec in rows
        if vid % CENTROID_STRIDE == 0
        and vid < CENTROID_STRIDE * N_CENTROIDS_CAP
    }

    def assign(roster):
        out = {}
        for vid, vec in rows:
            best_sim, best_id = -2.0, -1
            for cid in sorted(roster):
                s = cos(roster[cid], vec)
                if s > best_sim:
                    best_sim, best_id = s, cid
            out[vid] = (best_id, best_sim)
        return out

    for _ in range(KMEANS_ROUNDS):
        a = assign(cents)
        members = {}
        for vid, vec in rows:
            members.setdefault(a[vid][0], []).append(vec)
        new = {}
        for cid, prev in cents.items():
            vecs = members.get(cid)
            if not vecs:
                new[cid] = prev  # empty cluster keeps its centroid
                continue
            dim = len(vecs[0])
            new[cid] = [
                r6(
                    float(sum(d10(v[p]) for v in vecs))
                    / len(vecs)
                )
                for p in range(dim)
            ]
        cents = new
    fin = assign(cents)
    stats = {}
    for vid in fin:
        cid, s = fin[vid]
        stats.setdefault(cid, []).append(s)
    expected = [
        (
            cid,
            len(sims),
            r6(float(sum(d10(s) for s in sims)) / len(sims)),
            cents[cid],
        )
        for cid, sims in sorted(stats.items())
    ]

    got = [
        (r.centroid_id, r.n_members, r.mean_sim, [float(x) for x in r.cvec])
        for r in kmeans_train_roster(spark, sf).collect()
    ]
    assert got == expected

    # the REGISTERED query is the scalar-only flattening of the same
    # roster (driver-canonicalizer contract, VERDICT r9 item 1)
    flat = [
        (r.centroid_id, r.n_members, r.mean_sim, r.pos, r.val)
        for r in sim_kmeans_train(spark, sf).collect()
    ]
    expected_flat = [
        (cid, n, ms, pos, v)
        for cid, n, ms, cvec in expected
        for pos, v in enumerate(cvec)
    ]
    assert flat == expected_flat


def test_lloyd_keeps_emptied_cluster_at_previous_vector(spark):
    """The shared Lloyd loop on tiny frames where one seed loses every
    member in round 1: that cluster keeps its previous vector through
    every round while the others move to their DECIMAL means, and the
    state keeps its key order — for both key shapes the trainers use
    (``centroid_id``; ``(m, c)``)."""
    from securities_data_pipeline_spark.operators.similarity import (
        PQ_M,
        _assign_literal,
        _lloyd,
        _pq_assign_literal,
    )

    emb = spark.createDataFrame(
        [(1, [1.0, 0.1]), (2, [0.9, 0.0]), (3, [0.0, 1.0]), (4, [0.1, 0.8])],
        "vec_id long, embedding array<double>",
    )
    # seed 2 points away from every vector: no cosine argmax picks it
    seeds = {0: [1.0, 0.0], 1: [0.0, 1.0], 2: [-1.0, -1.0]}
    got = _lloyd(
        seeds,
        lambda roster: _assign_literal(emb, list(roster.items())),
        ["centroid_id"],
        "embedding",
        2,
    )
    assert list(got.items()) == [
        (0, [0.95, 0.05]),
        (1, [0.05, 0.9]),
        (2, [-1.0, -1.0]),
    ]

    # subvectors in subspaces 0 and 1 only: codeword 2 is far from all
    # of them, and every codeword of subspaces 2.. has no rows at all
    sub = spark.createDataFrame(
        [
            (v, m, [x])
            for m in (0, 1)
            for v, x in enumerate([0.0, 1.0, 10.0, 11.0])
        ],
        "vec_id long, m int, sv array<double>",
    )
    cb = {(m, c): [w] for m in range(PQ_M) for c, w in enumerate([0.0, 10.0, 100.0])}
    got = _lloyd(
        cb,
        lambda state: _pq_assign_literal(sub, state),
        ["m", "c"],
        "sv",
        2,
    )
    expected = dict(cb)
    for m in (0, 1):
        expected[(m, 0)], expected[(m, 1)] = [0.5], [10.5]
    assert list(got.items()) == list(expected.items())


def test_kmeans_train_covers_gated_corpus(spark):
    """Every admitted vector is assigned exactly once under the final
    roster: membership sums to the gated corpus size, and cohesion is
    a valid cosine in [-1, 1]."""
    from securities_data_pipeline_spark.operators.similarity import (
        emb_table,
        kmeans_train_roster,
    )

    sf = "/root/testdata/sf0.001"
    out = kmeans_train_roster(spark, sf).collect()
    assert sum(r.n_members for r in out) == emb_table(spark, sf).count()
    assert all(-1.0 <= r.mean_sim <= 1.0 for r in out)


def test_pq_train_matches_pure_python_subspace_lloyd(spark):
    """sim_pq_train must equal a from-scratch Python product-quantizer
    trainer over the same gated corpus: L2-normalized vectors, donor
    init (pq_donor_pref order, code = vec_id rank), per-subspace
    first-strictly-smaller argmin (= dist ASC, c ASC), DECIMAL(27,10)
    HALF_UP per-dimension means, keep-previous empty-code fallback,
    and the DECIMAL(18,9) distortion aggregation."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from securities_data_pipeline_spark.operators.similarity import (
        PQ_DSUB,
        PQ_K,
        PQ_M,
        PQ_TRAIN_ROUNDS,
        _l2_normalize,
        emb_table,
        pq_donor_pref,
        pq_train_codebook,
        sim_pq_train,
    )
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    emb = emb_table(spark, sf)
    rows = [
        (int(r.vec_id), _l2_normalize([float(x) for x in r.embedding]))
        for r in emb.select("vec_id", "embedding").collect()
    ]
    donor_ids = [
        int(r.vec_id)
        for r in emb.orderBy(pq_donor_pref().asc(), F.col("vec_id").asc())
        .limit(PQ_K)
        .select("vec_id")
        .collect()
    ]
    nv = dict(rows)

    def r6(v):
        return float(Decimal(v).quantize(Decimal("1e-6"), ROUND_HALF_UP))

    def dq(v, q):
        return Decimal(v).quantize(Decimal(q), ROUND_HALF_UP)

    def sqdist(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    # init: donor subvectors, c = rank of donor vec_id
    cb = {}
    for c, vid in enumerate(sorted(donor_ids)):
        for m in range(PQ_M):
            cb[(m, c)] = nv[vid][m * PQ_DSUB : (m + 1) * PQ_DSUB]

    def assign(codebook):
        out = {}
        for vid, vec in rows:
            for m in range(PQ_M):
                sv = vec[m * PQ_DSUB : (m + 1) * PQ_DSUB]
                best_d, best_c = math.inf, -1
                for c in range(PQ_K):
                    d = sqdist(sv, codebook[(m, c)])
                    if d < best_d:
                        best_d, best_c = d, c
                out[(vid, m)] = (best_c, best_d)
        return out

    for _ in range(PQ_TRAIN_ROUNDS):
        a = assign(cb)
        members = {}
        for vid, vec in rows:
            for m in range(PQ_M):
                c = a[(vid, m)][0]
                members.setdefault((m, c), []).append(
                    vec[m * PQ_DSUB : (m + 1) * PQ_DSUB]
                )
        new = {}
        for key, prev in cb.items():
            svs = members.get(key)
            if not svs:
                new[key] = prev
                continue
            new[key] = [
                r6(
                    float(sum(dq(s[p], "1e-10") for s in svs)) / len(svs)
                )
                for p in range(PQ_DSUB)
            ]
        cb = new
    fin = assign(cb)
    stats = {}
    for (vid, m), (c, d) in fin.items():
        stats.setdefault((m, c), []).append(d)
    # distortion: quantize each dist to 1e-9, exact sum, double
    # divide, round 6 — the operator's DECIMAL(18,9) aggregation
    expected = [
        (
            m,
            c,
            len(ds),
            r6(float(sum(dq(d, "1e-9") for d in ds)) / len(ds)),
            cb[(m, c)],
        )
        for (m, c), ds in sorted(stats.items())
    ]

    got = [
        (r.m, r.c, r.n_members, r.mean_sqdist, [float(x) for x in r.cw])
        for r in pq_train_codebook(spark, sf).collect()
    ]
    assert got == expected

    # registered query = scalar-only flattening (driver contract)
    flat = [
        (r.m, r.c, r.n_members, r.mean_sqdist, r.pos, r.val)
        for r in sim_pq_train(spark, sf).collect()
    ]
    expected_flat = [
        (m, c, n, msd, pos, v)
        for m, c, n, msd, cw in expected
        for pos, v in enumerate(cw)
    ]
    assert flat == expected_flat


def test_semdedup_capped_is_anchor_restriction_of_exact(spark):
    """The capped tier's semantics are a pure RESTRICTION of the exact
    tier: every capped-pruned vector is also exact-pruned (no false
    prunes — anchors are a subset of the exact tier's left sides),
    clusters are identical, and any vector whose cluster rank is
    within the anchor budget agrees exactly (its lower-id comparison
    set is identical in both tiers). At this SF clusters (~60 of 500
    vectors at K=8) fit inside the T=128 budget, so capped == exact
    everywhere here; the sacrifice engages at sf0.1+ (SCALE.md)."""
    from securities_data_pipeline_spark.operators.curation import (
        SEMDEDUP_ANCHORS,
        dedup_semdedup,
        dedup_semdedup_capped,
    )

    sf = "/root/testdata/sf0.001"
    exact = {r.vec_id: (r.cluster, r.pruned)
             for r in dedup_semdedup(spark, sf).collect()}
    capped = {r.vec_id: (r.cluster, r.pruned)
              for r in dedup_semdedup_capped(spark, sf).collect()}
    assert set(exact) == set(capped)  # same corpus coverage
    assert all(exact[v][0] == capped[v][0] for v in exact)  # same clusters
    # no false prunes: capped-pruned ⊆ exact-pruned
    assert all(exact[v][1] for v, (_, p) in capped.items() if p)
    # the anchors themselves can only be pruned by EARLIER anchors,
    # and anything pruned by an anchor is caught: vectors whose
    # cluster rank is within the anchor budget must agree exactly
    from collections import defaultdict

    by_cluster = defaultdict(list)
    for v, (c, _) in exact.items():
        by_cluster[c].append(v)
    for c, vs in by_cluster.items():
        for v in sorted(vs)[:SEMDEDUP_ANCHORS]:
            assert capped[v][1] == exact[v][1], (c, v)


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_kmeans_train_plan_has_no_window_and_one_scan(spark):
    """The training ops' scale contract, asserted on the physical
    plan: the E-step is an in-row argmax (ZERO Window nodes — the
    assign_buckets window shape would shuffle n×K rows per round),
    per-round localCheckpoints truncate lineage to ONE parquet scan,
    and the only nested-loop join is the 1-row roster crossJoin."""
    from securities_data_pipeline_spark.operators.similarity import (
        sim_kmeans_train,
    )

    plan = _physical_plan(sim_kmeans_train(spark, "/root/testdata/sf0.001"))
    assert plan.count("Window") == 0, plan
    assert plan.count("Scan parquet") <= 1, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_pq_train_plan_has_no_window_or_bnlj(spark):
    """sim_pq_train joins its per-subspace rosters BY KEY (m) — a
    broadcast hash join, never a nested-loop — and the argmin is the
    same in-row fold (zero Window nodes in the training loop)."""
    from securities_data_pipeline_spark.operators.similarity import (
        sim_pq_train,
    )

    plan = _physical_plan(sim_pq_train(spark, "/root/testdata/sf0.001"))
    assert plan.count("BroadcastNestedLoopJoin") == 0, plan
    assert plan.count("Window") <= 1, plan  # only the donor-rank window


def test_ivf_retrain_report_consistent_with_component_ops(spark):
    """The retrain report's numbers must be re-derivable from the
    operators it composes: the static row's hits are exactly the
    overlap of sim_ivf_topk with the brute-force ground truth, both
    rows' bucket stats equal the assignment each roster induces
    (assign_buckets for static, kmeans_train_roster membership for
    trained), and ratios are the exact int/int divisions."""
    from collections import Counter

    from securities_data_pipeline_spark.operators.similarity import (
        assign_buckets,
        emb_table,
        kmeans_train_roster,
        sim_bruteforce_topk,
        sim_ivf_retrain_recall,
        sim_ivf_topk,
    )

    sf = "/root/testdata/sf0.001"
    rep = {r.roster: r for r in sim_ivf_retrain_recall(spark, sf).collect()}
    assert set(rep) == {"static", "trained"}

    exact = {(r.query_id, r.vec_id)
             for r in sim_bruteforce_topk(spark, sf).collect()}
    ivf = {(r.query_id, r.vec_id) for r in sim_ivf_topk(spark, sf).collect()}
    assert rep["static"].n_hits == len(exact & ivf)
    assert rep["static"].recall == round(len(exact & ivf) / len(exact), 6)

    sizes = Counter(
        r.centroid_id for r in assign_buckets(emb_table(spark, sf)).collect()
    )
    assert rep["static"].n_buckets == len(sizes)
    assert rep["static"].peak_ratio == round(
        max(sizes.values()) * len(sizes) / sum(sizes.values()), 6
    )

    # trained bucket stats == the training roster's final membership
    # (kmeans_train_roster drops empty clusters; so does the report's
    # n_buckets, which counts non-empty assignment buckets)
    members = {r.centroid_id: r.n_members
               for r in kmeans_train_roster(spark, sf).collect()}
    assert rep["trained"].n_buckets == len(members)
    assert rep["trained"].peak_ratio == round(
        max(members.values()) * len(members) / sum(members.values()), 6
    )
    assert 0.0 < rep["trained"].recall <= 1.0
    assert rep["trained"].n_hits <= len(exact)


def test_pq_retrain_report_consistent_with_component_ops(spark):
    """The PQ retrain report's donor row must be re-derivable from the
    serving tier it certifies: donor n_hits == |sim_pq_topk ∩ exact|
    (raw ADC top-k, same codebook, same tie rules), the trained row's
    distortion must equal the corpus-weighted mean of
    pq_train_codebook's per-code distortions (within the 6-dp
    rounding of the per-code means), and two Lloyd rounds from the
    donor init must strictly improve distortion."""
    from securities_data_pipeline_spark.operators.similarity import (
        pq_train_codebook,
        sim_bruteforce_topk,
        sim_pq_retrain_recall,
        sim_pq_topk,
    )

    sf = "/root/testdata/sf0.001"
    rep = {r.codebook: r for r in sim_pq_retrain_recall(spark, sf).collect()}
    assert set(rep) == {"donor", "trained"}

    exact = {(r.query_id, r.vec_id)
             for r in sim_bruteforce_topk(spark, sf).collect()}
    pq = {(r.query_id, r.vec_id) for r in sim_pq_topk(spark, sf).collect()}
    assert rep["donor"].n_hits == len(exact & pq)
    assert rep["donor"].recall == round(len(exact & pq) / len(exact), 6)

    cw = [(r.n_members, r.mean_sqdist)
          for r in pq_train_codebook(spark, sf).collect()]
    weighted = sum(n * d for n, d in cw) / sum(n for n, _ in cw)
    # per-code means are rounded to 6 dp before weighting — allow that
    assert abs(rep["trained"].mean_sqdist - weighted) < 2e-6

    # Lloyd from the donor init must not worsen quantization; on this
    # corpus the improvement is large (≈23% at sf0.01)
    assert rep["trained"].mean_sqdist < rep["donor"].mean_sqdist
    assert 0.0 <= rep["trained"].recall <= 1.0


def test_mm_dataset_card_hand_math(spark, tmp_path):
    """Hand-computed card on a planted corpus: 5 docs (UTF-8 payload
    sizes 1,2,2,3,10 bytes → odd-count median = 2.0), one exact
    duplicate pair → 4 distinct digests, dup_ratio 0.2. A second run
    with an even count (drop the 10-byte doc: sizes 1,2,2,3 → the two
    middle rows average to 2.0) pins the two-middle-rows branch, and a
    third with a NULL text pins the NULL-payload-as-empty policy (the
    adversarial-media fuzz catch: NULL byte-lengths sort first in
    Spark but last in DuckDB, shifting the median ranks)."""
    from securities_data_pipeline_spark.operators.multimodal import (
        mm_dataset_card,
    )

    rows = [
        (1, "a", "s"),          # 1 byte
        (2, "bb", "s"),         # 2 bytes
        (3, "bb", "s"),         # 2 bytes — exact duplicate of doc 2
        (4, "ccc", "s"),        # 3 bytes
        (5, "0123456789", "s"), # 10 bytes
    ]
    spark.createDataFrame(rows, DOCS).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    (card,) = mm_dataset_card(spark, str(tmp_path)).collect()
    assert card.media_type == "text/plain"
    assert card.n_docs == 5
    assert card.n_distinct_payloads == 4
    assert card.dup_ratio == 0.2
    assert card.total_bytes == 18
    assert (card.min_bytes, card.max_bytes) == (1, 10)
    assert card.median_bytes == 2.0

    spark.createDataFrame(rows[:4], DOCS).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    (card,) = mm_dataset_card(spark, str(tmp_path)).collect()
    assert card.n_docs == 4
    # even count: middle ranks 2 and 3 hold sizes 2 and 2
    assert card.median_bytes == 2.0
    assert card.total_bytes == 8 and card.dup_ratio == 0.25

    # NULL text counts as an EMPTY payload: sizes 0,1,2,2,3 → median 2,
    # and the NULL digest (sha of b"") is its own distinct payload
    spark.createDataFrame(rows[:4] + [(6, None, "s")], DOCS).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    (card,) = mm_dataset_card(spark, str(tmp_path)).collect()
    assert card.n_docs == 5
    assert card.min_bytes == 0 and card.median_bytes == 2.0
    assert card.n_distinct_payloads == 4  # a,bb,ccc,""
